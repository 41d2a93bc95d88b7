"""Output checks: Spark results against the repo's DuckDB oracles.

Two order-independent fingerprints, both bag-preserving:

* ``digest`` -- (rows, sum of md5 bits 0-31, sum of md5 bits 32-63) over
  the tab-joined columns. Spark and DuckDB compute the same md5 of the
  same UTF-8 bytes, so equal digests mean equal multisets (up to a
  64-bit collision).
* ``crc_sum`` -- (rows, sum of crc32 over subj\\x01pred\\x01obj), the
  checksum ``operators.graph`` commits per partition into lineage, so a
  committed graph is checked without another scan.
"""

from __future__ import annotations

import zlib

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spark_digest(df: DataFrame, cols: list[str]) -> tuple[int, int, int]:
    h = F.md5(F.concat_ws("\t", *cols))
    part = [F.conv(F.substring(h, start, 8), 16, 10).cast("long")
            for start in (1, 9)]
    row = df.agg(F.count(F.lit(1)), F.sum(part[0]), F.sum(part[1])).first()
    return tuple(int(v or 0) for v in row)


class Oracle:
    """DuckDB connection confined to ``work_dir`` for its spill files."""

    def __init__(self, work_dir: str, threads: int):
        self.con = duckdb.connect(config={
            "temp_directory": work_dir, "threads": threads,
            "memory_limit": "2GB"})

    def close(self) -> None:
        self.con.close()

    def digest(self, sql: str, cols: list[str]) -> tuple[int, int, int]:
        joined = ", ".join(cols)
        row = self.con.execute(f"""
            SELECT count(*),
                   sum(('0x' || substr(h, 1, 8))::BIGINT),
                   sum(('0x' || substr(h, 9, 8))::BIGINT)
            FROM (SELECT md5(concat_ws(chr(9), {joined})) AS h
                  FROM ({sql}) q) d""").fetchone()
        return tuple(int(v or 0) for v in row)

    def crc_sum(self, sql: str) -> tuple[int, int]:
        rows = self.con.execute(
            f"SELECT subj, pred, obj FROM ({sql}) q").fetchall()
        return len(rows), sum(
            zlib.crc32(f"{s}\x01{p}\x01{o}".encode("utf-8"))
            for s, p, o in rows)

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()


def normalize(rows) -> list[tuple]:
    """Sorted rows with numbers as ints, so Spark and DuckDB rows compare."""
    def cell(v):
        if isinstance(v, bool) or v is None:
            return v
        if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
            return int(v)
        return str(v)
    return sorted((tuple(cell(v) for v in r) for r in rows),
                  key=lambda r: tuple(str(v) for v in r))

"""Graph materialization with per-partition lineage, metrics, and
idempotent resume (BASELINE.json north_rule: "resumable from checkpoint
with per-partition lineage + metrics").

Storage layout (parquet stand-in for Iceberg — this container has no
Iceberg jars; on a cluster the same API maps onto Iceberg's snapshot
commit, with the manifest dir replaced by table snapshots):

  <root>/data/part_id=K/*.parquet     -- bucketed by hash(conv_id)
  <root>/_lineage/part-K.json         -- one atomic commit record per
                                         partition: row count, content
                                         checksum, stamp

Commit protocol (one write path, ``_write_partitions`` + ``_commit``,
shared by ``materialize`` and ``incremental_update``):
1. a single distributed write job covers only the partitions being
   (re)written; rows are clustered by ``part_id`` first, so each
   partition lands as one file rather than input splits × partitions,
   and the per-write dynamic partition overwrite replaces exactly the
   partitions present — rerunning a failed job rewrites exactly the
   partitions that never committed (idempotent) and no session conf
   is touched;
2. ``materialize`` FUSES its per-partition metrics into the write job via
   observe() (conditional aggregates per pending partition) — the input
   is scanned exactly once; only 2 × n_partitions scalars reach the
   driver;
3. each lineage record lands via write-temp + atomic rename, after the
   data write succeeded.

Resume = ``materialize(...)`` again: committed partitions are pruned from
the plan with a partition filter (no data re-read thanks to partition
pruning on part_id).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Dict, List, Optional, Sequence, Set, Tuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

N_GRAPH_PARTITIONS = 32


def with_partition_id(triples: DataFrame,
                      n_partitions: int = N_GRAPH_PARTITIONS) -> DataFrame:
    """Bucket by conv_id hash — conversations stay co-located, hot subjects
    spread across buckets (subject-level skew cannot concentrate a bucket
    because bucketing is by conversation, SURVEY.md §4)."""
    return triples.withColumn(
        "part_id", F.pmod(F.hash("conv_id"), F.lit(n_partitions)).cast("int"))


def _lineage_dir(root: str) -> str:
    return os.path.join(root, "_lineage")


def _lineage_file(root: str, part_id: int) -> str:
    return os.path.join(_lineage_dir(root), f"part-{part_id}.json")


def _lineage_names(root: str) -> List[str]:
    d = _lineage_dir(root)
    if not os.path.isdir(d):
        return []
    return sorted(n for n in os.listdir(d)
                  if n.startswith("part-") and n.endswith(".json"))


def committed_partitions(root: str) -> Set[int]:
    return {int(name[5:-5]) for name in _lineage_names(root)}


def lineage_records(root: str) -> List[dict]:
    recs = []
    for name in _lineage_names(root):
        with open(os.path.join(_lineage_dir(root), name)) as f:
            recs.append(json.load(f))
    return recs


def _checksum() -> Column:
    """Per-row content checksum; a partition's checksum is the sum over
    its rows, so it is independent of row order and file layout."""
    return F.crc32(F.concat_ws("\x01", "subj", "pred", "obj"))


def _write_partitions(df: DataFrame, root: str, n_partitions: int,
                      metrics: Sequence[Column] = ()) -> Dict:
    """Overwrite exactly the part_id partitions present in ``df``; return
    the values of ``metrics``, aggregates observed in the write tasks.

    Clustering on part_id first (one exchange) puts each partition in one
    write task, so it lands as one file instead of one per input split
    (the r6 bucketed-write lesson). Observing after the exchange spreads
    the metric aggregates over the write tasks rather than the input
    splits: for the 10k-conversation benchmark batch in one split on 4
    cores, build medians were 5.6 s observing before the exchange and
    4.4 s after. The overwrite mode is a per-write option: the session's
    partitionOverwriteMode is never changed."""
    df = df.repartition(n_partitions, "part_id")
    obs = Observation()
    if metrics:
        df = df.observe(obs, *metrics)
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("part_id")
     .parquet(os.path.join(root, "data")))
    return obs.get if metrics else {}


def _commit(root: str, part_id: int, n_rows: int, checksum: int,
            stamp: float) -> None:
    """Atomically publish one partition's lineage record."""
    rec = {"part_id": part_id, "n_rows": int(n_rows),
           "content_checksum": int(checksum), "committed_at": stamp}
    tmp = os.path.join(_lineage_dir(root), f".part-{part_id}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, _lineage_file(root, part_id))


def materialize(triples: DataFrame, root: str,
                n_partitions: int = N_GRAPH_PARTITIONS,
                fail_after_partitions: Optional[int] = None) -> Dict:
    """Write the graph table, committing lineage per partition.

    ``fail_after_partitions`` is a test hook: commit only that many
    lineage records, simulating a crash between data write and commit.
    Returns a summary dict {written: [...], skipped: [...], total_rows}.
    """
    os.makedirs(_lineage_dir(root), exist_ok=True)
    done = committed_partitions(root)
    df = with_partition_id(triples, n_partitions)
    if done:
        df = df.filter(~F.col("part_id").isin(sorted(done)))
    pending = [k for k in range(n_partitions) if k not in done]
    if not pending:
        return {"written": [], "skipped": sorted(done), "total_rows": 0}

    # per-partition metrics FUSED into the write pass via observe():
    # conditional aggregates per pending part_id ride along with the one
    # write — the input is scanned exactly once (asserted in tests).
    crc = _checksum()
    exprs = []
    for k in pending:
        is_k = F.col("part_id") == k
        exprs += [
            F.sum(F.when(is_k, 1).otherwise(0)).alias(f"n_rows_{k}"),
            F.sum(F.when(is_k, crc).otherwise(0)).alias(f"checksum_{k}"),
        ]
    vals = _write_partitions(df, root, n_partitions, exprs)
    filled = [k for k in pending if vals[f"n_rows_{k}"]]
    commit = filled[:fail_after_partitions]  # None keeps all
    stamp = time.time()
    for k in commit:
        _commit(root, k, vals[f"n_rows_{k}"], vals[f"checksum_{k}"], stamp)
    return {"written": commit, "skipped": sorted(done),
            "total_rows": int(sum(vals[f"n_rows_{k}"] for k in filled))}


def incremental_update(triples: DataFrame, root: str,
                       n_partitions: int = N_GRAPH_PARTITIONS) -> Dict:
    """Incremental graph MAINTENANCE (the Iceberg-MERGE analogue to
    ``materialize``'s append-only resume): after the source corpus
    changes — new conversations arrive, old ones are edited or deleted —
    bring the committed graph table up to date by rewriting ONLY the
    partitions whose content actually changed.

    Protocol (two jobs, both bounded):
    1. a metrics pass ``groupBy(part_id)`` reduces the fresh extraction
       to ≤ n_partitions rows (count and the same order-independent
       crc32-sum checksum ``materialize`` commits to lineage) — the ONLY
       driver-side data is that tiny table;
    2. partitions whose checksum differs from (or is absent in) the
       committed lineage are rewritten through the shared write path and
       re-committed atomically; unchanged partitions cost ZERO write
       IO; partitions that vanished from the source are deleted along
       with their lineage record.

    At 100 TB the scan in step 1 is the floor for any change detection,
    and the rewrite in step 2 is proportional to the CHANGED data, not
    the corpus — the same asymmetry Iceberg's snapshot diffing buys.
    Rerunning after success is a no-op (idempotent, like materialize)."""
    os.makedirs(_lineage_dir(root), exist_ok=True)
    df = with_partition_id(triples, n_partitions)
    stats = {
        r["part_id"]: r
        for r in (df.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_checksum()).alias("checksum")).collect())
    }
    prev = {r["part_id"]: r for r in lineage_records(root)}
    changed = sorted(
        k for k, r in stats.items()
        if k not in prev or prev[k]["content_checksum"] != r["checksum"])
    unchanged = sorted(k for k in stats if k not in changed)
    removed = sorted(k for k in prev if k not in stats)

    if changed:
        _write_partitions(df.filter(F.col("part_id").isin(changed)),
                          root, n_partitions)
    stamp = time.time()
    for k in changed:
        _commit(root, k, stats[k]["n_rows"], stats[k]["checksum"], stamp)
    for k in removed:
        shutil.rmtree(os.path.join(root, "data", f"part_id={k}"),
                      ignore_errors=True)
        try:
            os.remove(_lineage_file(root, k))
        except FileNotFoundError:
            pass
    return {"written": changed, "unchanged": unchanged,
            "removed": removed,
            "total_rows": int(sum(stats[k]["n_rows"] for k in changed))}


def _drop_managed_table(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS plus stale-location cleanup: the in-memory
    catalog forgets managed tables between sessions while their warehouse
    directories persist, and saveAsTable then fails with
    LOCATION_ALREADY_EXISTS on the next session's first write."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    loc = os.path.join(wh, table.lower())
    if wh and os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def _bucket_write_partitions(spark: SparkSession, n_buckets: int) -> int:
    """Pre-write partition count for bucketed tables: a multiple of
    n_buckets near the cluster's parallelism. Repartitioning on the
    bucket column before a bucketed write makes every task hold exactly
    one bucket's rows (hash(col) % (m*n_buckets) fixes hash(col) %
    n_buckets), so the table lands as `parts` files instead of
    (upstream-partitions × n_buckets): the r5 layout wrote 2048 ~140 KB
    files at sf1 (256 union-branch partitions × 8 buckets) — guide §6
    small-files, paid on every write AND every subsequent scan. Derived
    from defaultParallelism, never a constant, so cluster runs scale."""
    par = spark.sparkContext.defaultParallelism
    return n_buckets * max(1, par // n_buckets)


def materialize_bucketed(triples: DataFrame, table_name: str,
                         n_buckets: int = 32,
                         bucket_col: str = "subj") -> None:
    """Bucketed graph table for co-located joins (SURVEY.md §4): two tables
    bucketed on the same key join with ZERO exchanges — the
    100 TB answer to repeated subject-keyed joins (entity resolution,
    graph traversal steps). Verified in tests: a self-join plan on the
    bucket column contains no Exchange.

    The write clusters rows by the bucket column first (one deliberate
    exchange) so file count is O(parallelism), not O(input partitions ×
    buckets) — see _bucket_write_partitions. No sortBy (r6, measured
    interleaved): with one bucket per write task the writer then skips
    its per-task sort entirely (~3 s/build at sf1), while consumers
    that want order pay a query-time Sort only where a sort is actually
    required — which costs less than sorting every write."""
    spark = triples.sparkSession
    _drop_managed_table(spark, table_name)
    (triples.repartition(_bucket_write_partitions(spark, n_buckets),
                         F.col(bucket_col))
     .write.mode("overwrite")
     .bucketBy(n_buckets, bucket_col)
     .format("parquet")
     .saveAsTable(table_name))


def materialize_adjacency(triples: DataFrame, prefix: str,
                          n_buckets: int = 32) -> Tuple[str, str]:
    """Dual adjacency layout for traversal at scale: the edge set stored
    twice — ``{prefix}_by_subj`` bucketed on subj (out-edges) and
    ``{prefix}_by_obj`` bucketed on obj (in-edges). A hop join
    ``e1.obj = e2.subj`` then reads the in-edge table on its bucket column
    and the out-edge table on its bucket column: ZERO exchanges, the
    property-graph answer to multi-hop traversal over 100 TB (each hop is
    a co-located sort-merge join; 2× storage buys shuffle-free hops).
    Returns the two table names."""
    spark = triples.sparkSession
    by_subj, by_obj = f"{prefix}_by_subj", f"{prefix}_by_obj"
    parts = _bucket_write_partitions(spark, n_buckets)
    # (r6: running both writes from concurrent driver threads — guide
    # §2.6 — was measured WORSE here: the upstream extraction is
    # CPU-bound and saturates the cluster, so there is no idle tail to
    # back-fill and each thread re-pays the extraction. Sequential
    # write-then-read-back stays.)
    for table, col in ((by_subj, "subj"), (by_obj, "obj")):
        _drop_managed_table(spark, table)
        (triples.repartition(parts, F.col(col))
         .write.mode("overwrite")
         .bucketBy(n_buckets, col)
         .format("parquet")
         .saveAsTable(table))
        # the second copy reads the first table back (a plain columnar
        # scan) instead of re-running the upstream pipeline
        triples = spark.table(by_subj)
    return by_subj, by_obj


def two_hop_edges(spark: SparkSession, by_subj: str, by_obj: str) -> DataFrame:
    """subject→object→subject traversal over the dual adjacency tables.

    e1 comes from the in-edge table (bucketed on obj = the join key),
    e2 from the out-edge table (bucketed on subj = the join key), so the
    join plans with no Exchange (asserted in tests). Literal objects
    cannot be hop-through nodes and are filtered before the join —
    the filter preserves bucketing info."""
    e1 = spark.table(by_obj).filter(~F.col("obj_is_literal")).alias("e1")
    e2 = spark.table(by_subj).alias("e2")
    return (e1.join(e2, F.col("e1.obj") == F.col("e2.subj"))
            .select(F.col("e1.subj").alias("src"),
                    F.col("e1.pred").alias("pred1"),
                    F.col("e1.obj").alias("mid"),
                    F.col("e2.pred").alias("pred2"),
                    F.col("e2.obj").alias("dst"),
                    F.col("e2.obj_is_literal").alias("dst_is_literal")))


def two_hop_census(spark: SparkSession, by_subj: str, by_obj: str) -> DataFrame:
    """Per-(pred1, pred2) two-hop path census WITHOUT materializing the
    paths: ``n_paths = Σ_mid in_deg(mid, pred1) × out_deg(mid, pred2)``.

    The naive hop join is quadratic on hot mid nodes (a popular entity
    with d in-edges and d out-edges contributes d² rows before the
    count); at 100 TB that materialization is the bottleneck. Degrees
    aggregate on the bucket columns first (partitioned-by-obj satisfies
    the (obj, pred) clustering — no exchange), the degree join runs
    bucket-co-located, and only the tiny (pred1, pred2) rollup shuffles.
    ``n_src`` distinct-counts sources through a distinct-first semi-join,
    again linear in |E|. Semantics identical to counting two_hop_edges
    (the DuckDB oracle states it as the join)."""
    e1 = spark.table(by_obj).filter(~F.col("obj_is_literal"))
    e2 = spark.table(by_subj)
    in_deg = (e1.groupBy(F.col("obj").alias("mid"),
                         F.col("pred").alias("pred1"))
              .agg(F.count("*").alias("n_in")))
    out_deg = (e2.groupBy(F.col("subj").alias("mid"),
                          F.col("pred").alias("pred2"))
               .agg(F.count("*").alias("n_out")))
    pair = in_deg.join(out_deg, "mid")
    paths = (pair.groupBy("pred1", "pred2")
             .agg(F.sum(F.col("n_in") * F.col("n_out")).alias("n_paths"),
                  F.count_distinct("mid").alias("n_mid")))
    # distinct sources per (pred1, pred2): dedupe BEFORE the join so hot
    # mids cannot multiply rows. This branch ends in a GLOBAL shuffle
    # (the (pred1, pred2, src) distinct) regardless of bucketing, so
    # re-spreading its inputs over the full shuffle parallelism costs
    # two narrow exchanges and lifts the n_buckets-task cap off the
    # heaviest aggregate (r6: the bench graph has 8 buckets on a
    # 32-core session; width derives from shuffle.partitions, never a
    # constant). The degree/paths half above keeps its zero-exchange
    # bucket co-location.
    nparts = int(e1.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    src1 = (e1.select(F.col("subj").alias("src"),
                      F.col("pred").alias("pred1"),
                      F.col("obj").alias("mid"))
            .repartition(nparts, "mid").distinct())
    mid_p2 = (e2.select(F.col("subj").alias("mid"),
                        F.col("pred").alias("pred2"))
              .repartition(nparts, "mid").distinct())
    n_src = (src1.join(mid_p2, "mid")
             .select("pred1", "pred2", "src").distinct()
             .groupBy("pred1", "pred2")
             .agg(F.count("*").alias("n_src")))
    return paths.join(n_src, ["pred1", "pred2"])


def read_graph(spark: SparkSession, root: str,
               only_committed: bool = True) -> DataFrame:
    df = spark.read.parquet(os.path.join(root, "data"))
    if only_committed:
        done = sorted(committed_partitions(root))
        df = df.filter(F.col("part_id").isin(done))
    return df


def metrics_table(spark: SparkSession, root: str) -> DataFrame:
    recs = lineage_records(root)
    if not recs:
        return spark.createDataFrame(
            [], "part_id int, n_rows long, content_checksum long, "
                "committed_at double")
    return spark.createDataFrame(recs)

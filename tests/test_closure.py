"""Path-doubling transitive closure (operators/components.py) against its
DuckDB recursive-CTE twin, including chains on either side of the
max-hop certificate's 2^k boundary, plus the round count that the
certificate buys."""

from __future__ import annotations

import random

import duckdb
import pytest

from rdf_go_spark.operators.components import (
    transitive_closure, transitive_closure_oracle, transitive_closure_pairs,
)


def _chain(n_edges):
    return [(i, i + 1) for i in range(n_edges)]


def _random_graph(seed, n_nodes=10, n_edges=16):
    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)]


GRAPHS = {
    "empty": [],
    "self_loop": [(1, 1)],
    "two_cycle": [(1, 2), (2, 1)],
    "cycle_and_branch": [(1, 2), (2, 3), (3, 1), (2, 4), (5, 6), (6, 7)],
    "duplicate_edges": [(1, 2), (1, 2), (2, 3)],
    **{f"chain_{n}": _chain(n)
       for k in range(1, 5) for n in (2 ** k, 2 ** k + 1)},
    **{f"random_{s}": _random_graph(s) for s in range(3)},
}


def _edges_sql(edges):
    if not edges:
        return ("SELECT * FROM (VALUES (0::BIGINT, 0::BIGINT)) "
                "t(src, dst) WHERE false")
    rows = ", ".join(f"({a}::BIGINT, {b}::BIGINT)" for a, b in edges)
    return f"SELECT * FROM (VALUES {rows}) t(src, dst)"


def _closure(spark, edges, fn=transitive_closure):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = fn(df)
    rows = sorted(tuple(r) for r in out.collect())
    out.unpersist()
    return rows


@pytest.mark.parametrize("name", list(GRAPHS))
def test_closure_matches_oracle(spark, name):
    edges = GRAPHS[name]
    oracle = sorted(tuple(r) for r in duckdb.sql(
        transitive_closure_oracle(_edges_sql(edges))).fetchall())
    assert _closure(spark, edges) == oracle


@pytest.mark.parametrize("name", ["empty", "two_cycle", "chain_9",
                                  "random_0"])
def test_pairs_are_the_closure_without_distance(spark, name):
    edges = GRAPHS[name]
    oracle = sorted((s, d) for s, d, _ in duckdb.sql(
        transitive_closure_oracle(_edges_sql(edges))).fetchall())
    assert _closure(spark, edges, transitive_closure_pairs) == oracle


@pytest.mark.parametrize("n_edges, rounds", [(7, 3), (8, 4)])
def test_rounds_stop_on_max_hop_certificate(spark, monkeypatch, n_edges,
                                            rounds):
    """Round k covers paths of up to 2^k hops, so a 7-hop chain is
    certified complete after round 3 (max 7 < 8); an 8-hop chain needs
    round 4 to show max 8 < 16. Each round persists one cache, on top
    of the edge set's."""
    df = spark.createDataFrame(_chain(n_edges), "src long, dst long")
    cls = type(df)
    persist = cls.persist
    calls = []

    def counting_persist(self, *args, **kwargs):
        calls.append(1)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", counting_persist)
    out = transitive_closure(df)
    assert len(calls) - 1 == rounds
    assert out.agg({"dist": "max"}).first()[0] == n_edges
    out.unpersist()

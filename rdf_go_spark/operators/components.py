"""Iterative connected components — the dedup-clustering step that turns
near-duplicate PAIRS into groups (keep one doc per component at corpus
scale), and the canonical "iterative algorithm" shape (driver loop over
distributed joins, convergence check, lineage truncation).

Algorithm: parallel label propagation to the minimum reachable id.
Each round: component[n] ← min(component[n], min over neighbors
component[neighbor]); converged when no label changes. Rounds are
O(diameter); every round is one shuffle join + aggregate. localCheckpoint
truncates the lineage so plans don't grow with iterations (the classic
iterative-Spark footgun).

Oracle: DuckDB WITH RECURSIVE reachability (min reachable node id) over
the same edges — a fully independent formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# One representative iteration's physical plan per iterative operator,
# captured on round 0 of the most recent run. localCheckpoint truncates
# lineage, so the FINAL DataFrame's plan is a bare scan — without this
# hook the plan audit (scripts/plan_audit.py) could not see the join
# shape actually executed every round.
LAST_ITERATION_PLANS: dict[str, str] = {}


def _capture_iteration_plan(name: str, iteration: int, df: DataFrame) -> None:
    if iteration != 0:
        return
    try:
        LAST_ITERATION_PLANS[name] = (
            df._jdf.queryExecution().executedPlan().toString())
    except Exception:  # audit hook must never break the operator
        pass


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25) -> DataFrame:
    """(node, component) for the undirected graph given by edge pairs;
    component = min node id in the component.

    The convergence check is FUSED into the update pass: the update join
    already sees old and new label side by side, so a changed flag rides
    through an ``observe()`` aggregate and the eager localCheckpoint that
    materializes the round doubles as the action that collects it — one
    job per round, not update + compare (the round-3 finding)."""
    from pyspark.sql import Observation

    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .distinct())
    sym = sym.localCheckpoint()
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("component", F.col("node")))
    labels = labels.localCheckpoint()

    for i in range(max_iter):
        neighbor_min = (sym.join(labels, sym["b"] == labels["node"])
                        .groupBy(F.col("a").alias("node"))
                        .agg(F.min("component").alias("nmin")))
        new_comp = F.least(F.col("component"),
                           F.coalesce(F.col("nmin"), F.col("component")))
        updated = (labels.join(neighbor_min, "node", "left")
                   .select("node", new_comp.alias("component"),
                           # labels only ever decrease, so < is "changed"
                           (new_comp < F.col("component"))
                           .cast("long").alias("_changed")))
        obs = Observation()
        updated = (updated.observe(obs, F.sum("_changed").alias("changed"))
                   .drop("_changed"))
        _capture_iteration_plan("connected_components", i, updated)
        updated = updated.localCheckpoint()
        labels = updated
        if not obs.get["changed"]:
            break
    return labels


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs → clusters: (doc_id, cluster_id, cluster_size,
    keep) where keep marks the representative (min doc id)."""
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (comp.join(sizes, "component")
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id"),
                    "cluster_size",
                    (F.col("node") == F.col("component")).alias("keep")))


def transitive_closure_pairs(edges: DataFrame, src: str = "src",
                             dst: str = "dst",
                             max_iter: int = 32) -> DataFrame:
    """Set-semantics closure — (src, dst) only: the ``pred+`` lowering
    for path queries (paths.py), which discard distance anyway. The
    rounds still carry dist: the stopping certificate needs it."""
    return transitive_closure(edges, src=src, dst=dst,
                              max_iter=max_iter).select("src", "dst")


def transitive_closure(edges: DataFrame, src: str = "src",
                       dst: str = "dst", max_iter: int = 32) -> DataFrame:
    """Directed transitive closure with shortest hop distance — the
    relational property-path ``pred+`` operator: (src, dst, dist) for
    every reachable pair, duplicate-free.

    Path doubling: P0 is the distinct edge set (dist 1) and round k
    merges P(k-1) with P(k-1) ∘ P(k-1) under min(dist). By induction
    P(k) holds exactly the pairs whose shortest path has at most
    L = 2^k hops, each with its shortest distance (split a shortest
    path into halves of at most 2^(k-1) hops; both halves are shortest
    paths, so both are in P(k-1) with their true distances). Cycles
    are safe: every pair in P(k) has its true distance.

    Max-hop certificate: stop after round k when max(dist) < L. If any
    pair's shortest path were longer than L, its first L hops would
    form a pair whose shortest distance is exactly L (subpaths of
    shortest paths are shortest), and that pair is in P(k) — so
    max(dist) = L. A 7-hop chain therefore stops after 3 rounds
    (L = 8) and an 8-hop chain after 4. The max is read by the one
    action that materializes each round's cache, so a round costs one
    job and there is neither an up-front count nor a confirming round.
    ``max_iter`` bounds the rounds (32 rounds cover 2^32 hops).

    Round partitions: ``sparkContext.defaultParallelism`` (the cluster's
    cores, the derivation _bucket_write_partitions uses), not
    ``spark.sql.shuffle.partitions``: the rounds move little data, so
    on a small cluster a 32-way shuffle pays for tasks, not rows. The
    count stays explicit so each cached round keeps its hash
    partitioning on src: an InMemoryRelation preserves its output
    partitioning through Catalyst (a checkpoint's LogicalRDD does not),
    so the next round's b-side join input (keyed on src) and the
    merge's groupBy clustering (src ⊆ {src, dst}) need no exchange.

    Round caches are built once and dropped next round, so columnar
    cache COMPRESSION is pure overhead for them — it is disabled for
    the duration of the loop and restored after (r6, measured ~1 s at
    sf1; representation-only, no semantic effect).

    The returned frame is the last round's cache: the caller owns it
    and may ``unpersist()`` it once done."""
    spark = edges.sparkSession
    nparts = spark.sparkContext.defaultParallelism
    _COMPRESS = "spark.sql.inMemoryColumnarStorage.compressed"
    prev_compress = spark.conf.get(_COMPRESS, "true")

    # truncate the upstream lineage ONCE (the input may be a heavy
    # extraction pipeline — without this, every round's cached plan
    # embeds it and driver-side planning swamps the saved exchange).
    # eager=False (r6): the checkpoint materializes inside round 1's
    # job instead of as its own full pass over the edges.
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .localCheckpoint(eager=False))
    spark.conf.set(_COMPRESS, "false")  # round caches: see docstring
    try:
        # P0 is materialized by round 1's job, as part of its self-join
        paths = (e.repartition(nparts, "src").dropDuplicates(["src", "dst"])
                 .withColumn("dist", F.lit(1)).persist())
        for i in range(max_iter):
            comp = (paths.alias("a")
                    .join(paths.alias("b"), F.col("a.dst") == F.col("b.src"))
                    .select(F.col("a.src").alias("src"),
                            F.col("b.dst").alias("dst"),
                            (F.col("a.dist") + F.col("b.dist"))
                            .alias("dist")))
            merged = (paths.unionByName(comp)
                      .repartition(nparts, "src")
                      .groupBy("src", "dst")
                      .agg(F.min("dist").alias("dist")))
            _capture_iteration_plan("transitive_closure", i, merged)
            merged = merged.persist()
            longest = merged.agg(F.max("dist")).first()[0]
            paths.unpersist(False)
            paths = merged
            if longest is None or longest < 2 ** (i + 1):
                break
    finally:
        spark.conf.set(_COMPRESS, prev_compress)
    return paths


def transitive_closure_oracle(edges_sql: str) -> str:
    """Recursive-CTE twin with min-distance group at the end.

    The recursive arm is bounded by ``dist < count(edges)``: shortest
    paths are simple, so every true min distance is ≤ |E| and the bound
    never cuts a result row — but it guarantees termination on CYCLIC
    edge sets, where the unbounded UNION (which dedupes on
    (src,dst,dist)) would loop forever producing ever-larger dists."""
    return f"""
WITH RECURSIVE e AS ({edges_sql}),
reach(src, dst, dist) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT r.src, e.dst, r.dist + 1
  FROM reach r JOIN e ON e.src = r.dst
  WHERE r.dist < (SELECT count(*) FROM e)
)
SELECT src, dst, min(dist)::INT AS dist FROM reach GROUP BY 1, 2
""".strip()


def dedup_keep_list(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The dedup pipeline's end artifact: one keep/drop row for EVERY
    document — clustered docs keep only their representative, singletons
    (never in any pair) keep themselves. A left join of the corpus
    against the (tiny) cluster table; at 100 TB the cluster side stays
    proportional to the duplicate population, not the corpus."""
    clusters = dedup_clusters(pairs)
    return (docs.select("doc_id")
            .join(clusters, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
                F.coalesce("cluster_size", F.lit(1).cast("long"))
                .alias("cluster_size"),
                F.coalesce("keep", F.lit(True)).alias("keep")))


def dedup_keep_list_oracle(pairs_sql: str, table: str = "documents") -> str:
    inner = dedup_clusters_oracle(pairs_sql)
    return f"""
WITH clusters AS ({inner})
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       coalesce(c.cluster_size, 1)::BIGINT AS cluster_size,
       coalesce(c.keep, TRUE) AS keep
FROM {table} d LEFT JOIN clusters c USING (doc_id)
""".strip()


def dedup_clusters_oracle(pairs_sql: str) -> str:
    """Recursive-CTE oracle over the SAME pair set."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
),
comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n),
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT c.n AS doc_id, c.component AS cluster_id,
       s.cluster_size::BIGINT AS cluster_size,
       c.n = c.component AS keep
FROM comp c JOIN sizes s USING (component)
""".strip()

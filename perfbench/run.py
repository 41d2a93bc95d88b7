#!/usr/bin/env python3
"""KG-construction benchmark: transcripts -> triples -> committed graph ->
queries, through the program's public operators, with every output
checked against the repo's DuckDB oracles.

Run from the repository root:

    python3 perfbench/run.py --workload ingest|graph --seed N \\
        --seconds S --trace 0|1

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` launches Spark with its event log on and prints the
per-layer metrics instead (perfbench/README.md lists them, with the
end-to-end metric each one should move). The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}.

One single-threaded closed-loop client drives Spark in local mode with
one thread per available core. Everything the run writes lives under
``.perfbench_work/`` in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from rdf_go_spark.operators import graph  # noqa: E402
from rdf_go_spark.operators.extraction import extract_triples  # noqa: E402
from rdf_go_spark.operators.paths import path_pairs, path_sql  # noqa: E402
from rdf_go_spark.operators.sparql import (  # noqa: E402
    sparql_select, sparql_sql, sparql_update, update_sql,
)
from rdf_go_spark.plans.pipeline import (  # noqa: E402
    _PATH_EXPR, _SPARQL_SELECT, kg_triples_oracle_sql,
)
from rdf_go_spark.session import get_spark  # noqa: E402
from rdf_go_spark.sources.transcripts import (  # noqa: E402
    synth_entities, synth_transcripts,
)

import eventlog  # noqa: E402
from checks import Oracle, normalize, spark_digest  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
BASELINE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "baseline.json")

N_INGEST = 50_000           # 225,000 turns -> 1,401,250 triples
N_GRAPH = 10_000            # 45,000 turns -> 280,250 triples
N_WARM = 50                 # conversations per graph warm-up op
GRAPH_INPUT_PARTITIONS = 1  # the graph batch arrives as one input split
MIN_INGEST_PASSES = 3
LAYER_REPS = 2              # traced run: repetitions per extraction variant
DRIVER_MEM = "3g"

GRAPH_OPS = ("build", "select", "path", "update")
OPS = ("extract",) + GRAPH_OPS
OP_FIELDS = ("wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
             "gc_s", "shuffle_write_bytes", "spill_bytes", "driver_s")
E2E_UNITS = {"setup_s": "s", "triples_per_s": "triples/s"}
LAYER_UNITS = {
    "jvm.peak_rss_mb": "MB",
    "transcripts.s": "s", "extraction.structural_s": "s",
    "extraction.prev_turn_s": "s", "linking.s": "s",
    "extraction.payload_s": "s", "extraction.python_bytes_sent": "bytes",
    "extraction.python_rows_returned": "count",
    "graph.materialize_s": "s", "graph.files_written": "count",
    "graph.bytes_written": "bytes", "graph.lineage_records": "count",
    "graph.scan_s": "s", "sparql.plan_s": "s", "sparql.exec_s": "s",
    "paths.plan_s": "s", "paths.exec_s": "s", "closure.s": "s",
    "closure.jobs": "count", "closure.shuffle_bytes": "bytes",
    "sparql.update_s": "s", "graph.incremental_s": "s",
    "graph.partitions_rewritten": "count", "graph.rows_rewritten": "count",
}
TRIPLE_COLS = ["subj", "pred", "obj"]


def _launch_env(trace: bool) -> None:
    """Launch configuration only: no program code is changed."""
    for d in ("local", "tmp", "warehouse", "events", "duckdb"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        conf += ["spark.eventLog.enabled=true",
                 "spark.eventLog.dir=file://" + os.path.join(WORK, "events"),
                 "spark.eventLog.compress=false"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {c}" for c in conf) + " pyspark-shell",
    })


def update_text(conv: int, entity: int) -> str:
    """Replace every entity that conversation ``conv`` mentions."""
    return ("PREFIX v: <http://example.org/v/>\n"
            "DELETE { ?t v:mentions ?e }\n"
            f"INSERT {{ ?t v:mentions <http://example.org/e/{entity}> }}\n"
            f"WHERE {{ <http://example.org/conv/conv-{conv:06d}> "
            "v:hasTurn ?t . ?t v:mentions ?e }")


class Bench:
    """One client: runs labelled ops, records their timings, hygiene and
    check outcomes, and clears caches between ops."""

    def __init__(self, spark, workload: str):
        self.spark, self.sc, self.workload = spark, spark.sparkContext, workload
        self.attempted = 0
        self.failures: set[tuple[str, int | None]] = set()
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.phases: dict[str, list[float]] = defaultdict(list)
        self.hygiene: dict[str, list[int]] = {}

    def label(self, op: str, phase: str | None = None) -> None:
        self.sc.setJobDescription(
            f"{self.workload}:{op}" + (f":{phase}" if phase else ""))

    def timed(self, key: str, fn):
        """Time ``fn`` as sub-phase ``key`` of the current op."""
        t0 = time.perf_counter()
        out = fn()
        self.phases[key].append(time.perf_counter() - t0)
        return out

    def run_op(self, op: str, fn):
        """Run one timed op; then record what it left behind (persisted
        RDDs, changed session conf) and clear caches."""
        conf0 = self._conf()
        self.attempted += 1
        self.label(op)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.walls[op].append(time.perf_counter() - t0)
            self.sc.setJobDescription(None)
            conf1 = self._conf()
            leaked = self.sc._jsc.getPersistentRDDs().size()
            changed = sum(conf0.get(k) != conf1.get(k)
                          for k in set(conf0) | set(conf1))
            prev = self.hygiene.get(op, [0, 0])
            self.hygiene[op] = [max(prev[0], leaked), max(prev[1], changed)]
            self.clear()

    def check(self, op: str, i: int | None, ok: bool, detail: str = "") -> None:
        """Record a check of execution ``i`` of ``op`` (None: all of them)."""
        if not ok:
            self.failures.add((op, i))
            print(f"CHECK FAILED {op}[{i}] {detail}", file=sys.stderr)

    def failed(self) -> int:
        return sum((op, i) in self.failures or (op, None) in self.failures
                   for op, walls in self.walls.items()
                   for i in range(len(walls)))

    def clear(self) -> None:
        self.spark.catalog.clearCache()
        rdds = self.sc._jsc.getPersistentRDDs()
        for rid in list(rdds.keySet()):
            rdds.get(rid).unpersist(True)

    def _conf(self) -> dict:
        conf = self.spark.conf.getAll
        return dict(conf() if callable(conf) else conf)


def noop_count(df) -> int:
    """Compute every column (noop sink) and count rows in the same job."""
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.format("noop").mode("overwrite").save())
    return int(obs.get["n"])


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def triples(spark, n_conv: int, partitions: int | None = None):
    return extract_triples(synth_transcripts(spark, n_conv, partitions),
                           synth_entities(spark))


# ------------------------------------------------------------------ ingest

def ingest_setup(b: Bench) -> tuple[int, int, int]:
    """Two full-size passes: the first is the cold one; the second,
    nearly warm, computes the output digest the run checks."""
    b.label("warmup")
    noop_count(triples(b.spark, N_INGEST))
    b.label("check", "extract")
    return spark_digest(triples(b.spark, N_INGEST), TRIPLE_COLS)


def ingest_run(b: Bench, seconds: float, oracle: Oracle, got: tuple) -> dict:
    spark = b.spark
    counts, t0 = [], time.perf_counter()
    while (time.perf_counter() - t0 < seconds
           or len(counts) < MIN_INGEST_PASSES):
        counts.append(b.run_op(
            "extract", lambda: noop_count(triples(spark, N_INGEST))))
    rss = peak_rss_mb(spark)

    want = oracle.digest(kg_triples_oracle_sql(N_INGEST), TRIPLE_COLS)
    for i, n in enumerate(counts):
        b.check("extract", i, n == want[0], f"rows {n} != {want[0]}")
    b.check("extract", None, got == want, f"digest {got} != {want}")

    cycle = statistics.median(b.walls["extract"])
    return {"triples_per_s": want[0] / cycle, "cycle_s": cycle,
            "peak_rss_mb": rss}


# ------------------------------------------------------------------- graph
# Each op takes the Bench for its labels and sub-phase timers only, so
# the warm-up runs the same code outside the timed client.

def op_build(b: Bench, root: str, n_conv: int):
    return graph.materialize(
        triples(b.spark, n_conv, GRAPH_INPUT_PARTITIONS), root)


def op_select(b: Bench, root: str):
    q = b.timed("sparql.plan_s", lambda: sparql_select(
        graph.read_graph(b.spark, root), _SPARQL_SELECT))
    return b.timed("sparql.exec_s", q.collect)


def op_path(b: Bench, root: str):
    """The closure runs eagerly inside path_pairs(): its jobs carry the
    ``plan`` phase label."""
    b.label("path", "plan")
    pairs = b.timed("paths.plan_s", lambda: path_pairs(
        graph.read_graph(b.spark, root), _PATH_EXPR))
    b.label("path", "exec")
    return b.timed("paths.exec_s", lambda: spark_digest(pairs, ["src", "dst"]))


def op_update(b: Bench, root: str, update: str):
    new = b.timed("sparql.update_s", lambda: sparql_update(
        graph.read_graph(b.spark, root), update))
    return b.timed("graph.incremental_s",
                   lambda: graph.incremental_update(new, root))


def _lineage(root: str) -> tuple[int, int, int]:
    recs = graph.lineage_records(root)
    return (len(recs), sum(r["n_rows"] for r in recs),
            sum(r["content_checksum"] for r in recs))


def graph_cycle(b: Bench, root: str, update: str) -> dict:
    """build -> select -> path -> update over a fresh graph root."""
    out = {"build": b.run_op("build", lambda: op_build(b, root, N_GRAPH))}
    out["build_lineage"] = _lineage(root)
    files = [os.path.join(d, f)
             for d, _s, fs in os.walk(os.path.join(root, "data"))
             for f in fs if f.endswith(".parquet")]
    out["files"] = (len(files), sum(os.path.getsize(f) for f in files))
    out["select"] = b.run_op("select", lambda: op_select(b, root))
    out["path"] = b.run_op("path", lambda: op_path(b, root))
    out["update"] = b.run_op("update", lambda: op_update(b, root, update))
    out["update_lineage"] = _lineage(root)
    return out


def graph_setup(b: Bench) -> None:
    """Each op once on N_WARM conversations in a separate root. The three
    ops after the build run side by side (the update on its own copy of
    the graph): at this size they are all fixed cost, which overlaps."""
    w = Bench(b.spark, "warmup")
    root = os.path.join(WORK, "warmup_graph")
    w.label("build")
    op_build(w, root, N_WARM)
    shutil.copytree(root, root + "_update")

    def labelled(fn):
        w.label("ops")
        return fn()

    with ThreadPoolExecutor(3) as pool:
        futs = [pool.submit(labelled, fn) for fn in (
            lambda: op_select(w, root),
            lambda: op_path(w, root),
            lambda: op_update(w, root + "_update", update_text(1, 1)))]
        for f in futs:
            f.result()
    b.sc.setJobDescription(None)
    for d in (root, root + "_update"):
        shutil.rmtree(d, ignore_errors=True)


def graph_oracle(oracle: Oracle, update: str) -> tuple:
    """DuckDB answers for every graph op at N_GRAPH."""
    kg = kg_triples_oracle_sql(N_GRAPH)
    upd_sql = update_sql(update, kg)
    return (oracle.crc_sum(kg), oracle.crc_sum(upd_sql),
            normalize(oracle.rows(sparql_sql(_SPARQL_SELECT, kg))),
            oracle.digest(path_sql(_PATH_EXPR, kg), ["src", "dst"]),
            oracle.digest(upd_sql, TRIPLE_COLS))


def graph_run(b: Bench, seconds: float, oracle: Oracle, seed: int) -> dict:
    rng = random.Random(seed)
    conv, entity = rng.randrange(N_GRAPH), rng.randrange(100)
    update = update_text(conv, entity)
    print(f"graph: update targets conv-{conv:06d}, entity {entity}",
          file=sys.stderr)

    cycles, t0, root = [], time.perf_counter(), None
    while not cycles or time.perf_counter() - t0 < seconds:
        if root:
            shutil.rmtree(root, ignore_errors=True)
        root = os.path.join(WORK, f"graph-{len(cycles)}")
        cycles.append(graph_cycle(b, root, update))
    rss = peak_rss_mb(b.spark)

    with ThreadPoolExecutor(1) as pool:
        want_f = pool.submit(graph_oracle, oracle, update)
        b.label("check", "update")
        final = spark_digest(graph.read_graph(b.spark, root), TRIPLE_COLS)
        touched = graph.with_partition_id(b.spark.createDataFrame(
            [(f"conv-{conv:06d}",), (None,)], "conv_id string"))
        want_parts = sorted({r.part_id for r in touched.collect()})
        b.sc.setJobDescription(None)
        want_build, want_upd, want_select, want_path, want_final = \
            want_f.result()

    for i, c in enumerate(cycles):
        _n, n_rows, crc = c["build_lineage"]
        b.check("build", i, (n_rows, crc) == want_build
                and c["build"]["total_rows"] == want_build[0],
                f"lineage {(n_rows, crc)} != {want_build}")
        b.check("select", i, normalize(c["select"]) == want_select)
        b.check("path", i, c["path"] == want_path,
                f"digest {c['path']} != {want_path}")
        b.check("update", i, sorted(c["update"]["written"]) == want_parts
                and not c["update"]["removed"],
                f"rewrote {c['update']} != {want_parts}")
        _n, n_rows, crc = c["update_lineage"]
        b.check("update", i, (n_rows, crc) == want_upd,
                f"lineage {(n_rows, crc)} != {want_upd}")
    b.check("update", len(cycles) - 1, final == want_final,
            f"digest {final} != {want_final}")

    w = b.walls
    cycle = statistics.median(sum(w[op][i] for op in GRAPH_OPS)
                              for i in range(len(cycles)))
    return {"triples_per_s": want_build[0] / cycle, "cycle_s": cycle,
            "peak_rss_mb": rss,
            "build_triples_per_s": statistics.median(
                want_build[0] / s for s in w["build"]),
            "select_s": statistics.median(w["select"]),
            "path_s": statistics.median(w["path"]),
            "update_s": statistics.median(w["update"]),
            "_root": root, "_cycle": cycles[-1], "_rows": want_build[0]}


# ------------------------------------------------------------- trace only

def layer_probes(b: Bench, n_conv: int, partitions: int | None) -> dict:
    """Extraction layers as deltas between public extract_triples flag
    settings, each variant computed in full through the noop sink."""
    spark = b.spark
    ents = synth_entities(spark)
    variants = {
        "transcripts": lambda t: t,
        "structural": lambda t: extract_triples(
            t, None, include_payload=False, include_prev_turn=False),
        "prev_turn": lambda t: extract_triples(
            t, None, include_payload=False, include_prev_turn=True),
        "linking": lambda t: extract_triples(
            t, ents, include_payload=False, include_prev_turn=False),
        "payload": lambda t: extract_triples(
            t, None, include_payload=True, include_prev_turn=False),
    }
    med = {}
    for name, variant in variants.items():
        b.label("layer", name)
        for _ in range(LAYER_REPS):
            b.timed(f"layer.{name}", lambda: noop_count(variant(
                synth_transcripts(spark, n_conv, partitions))))
        med[name] = statistics.median(b.phases[f"layer.{name}"])
    b.sc.setJobDescription(None)
    s = med["structural"]
    return {"transcripts.s": med["transcripts"],
            "extraction.structural_s": s - med["transcripts"],
            "extraction.prev_turn_s": med["prev_turn"] - s,
            "linking.s": med["linking"] - s,
            "extraction.payload_s": med["payload"] - s}


def graph_layers(b: Bench, res: dict) -> dict:
    """Graph-side layer numbers from the last cycle, plus a scan and a
    same-size extraction that splits the build into its two parts."""
    spark, root, cyc = b.spark, res["_root"], res["_cycle"]
    n = b.run_op("extract", lambda: noop_count(
        triples(spark, N_GRAPH, GRAPH_INPUT_PARTITIONS)))
    b.check("extract", 0, n == res["_rows"], f"rows {n} != {res['_rows']}")
    b.label("scan")
    b.timed("graph.scan_s", lambda: noop_count(graph.read_graph(spark, root)))
    b.sc.setJobDescription(None)
    ph = b.phases
    return {
        "graph.materialize_s": b.walls["build"][-1] - b.walls["extract"][-1],
        "graph.files_written": cyc["files"][0],
        "graph.bytes_written": cyc["files"][1],
        "graph.lineage_records": cyc["build_lineage"][0],
        "graph.partitions_rewritten": len(cyc["update"]["written"]),
        "graph.rows_rewritten": cyc["update"]["total_rows"],
        **{k: ph[k][-1] for k in ("graph.scan_s", "sparql.plan_s",
                                  "sparql.exec_s", "paths.plan_s",
                                  "paths.exec_s", "sparql.update_s",
                                  "graph.incremental_s")},
    }


def per_layer(b: Bench, layers: dict, res: dict, e2e: dict,
              rows: dict) -> dict:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    def op_row(op):
        return eventlog.merge([r for d, r in rows.items()
                               if d.split(":")[:2] == [b.workload, op]])

    ext = op_row("extract")
    n_ext = max(1, len(b.walls.get("extract", ())))
    plan = rows.get(f"{b.workload}:path:plan", eventlog.new_row())
    layers = {**layers, "jvm.peak_rss_mb": res["peak_rss_mb"],
              "extraction.python_bytes_sent": ext["python_bytes_sent"] / n_ext,
              "extraction.python_rows_returned":
                  ext["python_rows_returned"] / n_ext,
              "closure.s": eventlog.covered_s(plan["job_intervals"]),
              "closure.jobs": plan["jobs"],
              "closure.shuffle_bytes": plan["shuffle_write_bytes"]}
    out = {k: (layers.get(k, 0), u) for k, u in LAYER_UNITS.items()}

    for op in OPS:
        walls = b.walls.get(op, [])
        r = op_row(op)
        vals = {"wall_s": sum(walls),
                "driver_s": sum(walls) - eventlog.covered_s(r["job_intervals"]),
                **{k: r[k] for k in OP_FIELDS[1:-1]}}
        for k in OP_FIELDS:
            unit = ("s" if k.endswith("_s") else
                    "bytes" if k.endswith("_bytes") else "count")
            out[f"op.{op}.{k}"] = (vals[k] / len(walls) if walls else 0, unit)
        leaked, changed = b.hygiene.get(op, [0, 0])
        out[f"leaked_rdds.{op}"] = (leaked, "count")
        out[f"conf_changed.{op}"] = (changed, "count")

    try:
        with open(BASELINE) as f:
            base = json.load(f)[b.workload]
    except (OSError, KeyError, ValueError):
        base = {}
    for k, unit in E2E_UNITS.items():
        out[f"trace.{k}"] = (e2e[k], unit)
        out[f"trace_overhead.{k}"] = (e2e[k] - base.get(k, e2e[k]), unit)
    return out


# -------------------------------------------------------------------- main

def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _run(args) -> dict:
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        b = Bench(spark, args.workload)
        warm = (ingest_setup if args.workload == "ingest" else graph_setup)(b)
        b.clear()
        setup_s = time.perf_counter() - t0
        print(f"setup {setup_s:.2f} s", file=sys.stderr)

        oracle = Oracle(os.path.join(WORK, "duckdb"),
                        threads=len(os.sched_getaffinity(0)))
        try:
            if args.workload == "ingest":
                res = ingest_run(b, args.seconds, oracle, warm)
                layers = (layer_probes(b, N_INGEST, None) if args.trace
                          else {})
            else:
                res = graph_run(b, args.seconds, oracle, args.seed)
                layers = ({**graph_layers(b, res),
                           **layer_probes(b, N_GRAPH, GRAPH_INPUT_PARTITIONS)}
                          if args.trace else {})
        finally:
            oracle.close()
    finally:
        _stop(spark)

    print("op walls:", {op: [round(t, 3) for t in ts]
                        for op, ts in b.walls.items()}, file=sys.stderr)
    e2e = {"setup_s": setup_s,
           **{k: res[k] for k in E2E_UNITS if k != "setup_s"}}
    named = {k: v for k, v in res.items() if not k.startswith("_")}
    named["failed_frac"] = b.failed() / b.attempted
    for k, v in sorted(named.items()):
        unit = ("triples/s" if k.endswith("per_s") else "s" if
                k.endswith("_s") else "MB" if k.endswith("_mb") else "fraction")
        print(f"{k:24s} {v:16.4f} {unit}")
    if args.trace:
        rows = eventlog.summarize(os.path.join(WORK, "events"))
        metrics = per_layer(b, layers, res, e2e, rows)
    else:
        metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    return {"correct": not b.failures, "attempted": b.attempted,
            "failed": b.failed(),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "graph"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    shutil.rmtree(WORK, ignore_errors=True)
    _launch_env(bool(args.trace))
    try:
        result = _run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)

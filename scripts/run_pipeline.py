#!/usr/bin/env python
"""spark-submit entry point for the full KG-construction pipeline
(BASELINE.json north_rule: "run via spark-submit --py-files on
multi-executor clusters").

Usage (local sandbox):
    python scripts/make_pyfiles.py                     # build dist/rdf_go_spark.zip
    spark-submit --master local[8] \
        --py-files dist/rdf_go_spark.zip \
        scripts/run_pipeline.py \
        --input synth:2000 --output /tmp/graph --partitions 16

On a cluster, --master yarn/k8s and --input <iceberg-or-parquet-path>
are the only changes; the job is resumable — rerunning after a failure
writes only uncommitted partitions (see operators/graph.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="parquet dir of transcripts, or synth:<n_conv> "
                         "(not needed with --update)")
    ap.add_argument("--output", required=True, help="graph table root")
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--no-payload", action="store_true")
    ap.add_argument("--query", default=None,
                    help="SPARQL SELECT/CONSTRUCT/ASK/DESCRIBE string to "
                         "run over the materialized graph after the write")
    ap.add_argument("--update", default=None,
                    help="SPARQL UPDATE string (INSERT/DELETE DATA, "
                         "DELETE WHERE, DELETE{}INSERT{}WHERE{}) applied "
                         "to the EXISTING graph at --output; only the "
                         "partitions the delta touches are rewritten "
                         "(--input is ignored in this mode)")
    ap.add_argument("--incremental", action="store_true",
                    help="checksum-diff maintenance of an existing graph: "
                         "rewrite only partitions whose content changed "
                         "(graph.incremental_update)")
    args = ap.parse_args()
    if not args.update and not args.input:
        ap.error("--input is required unless --update is given")

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("rdf_go_spark_pipeline").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from rdf_go_spark.operators import graph

    t0 = time.perf_counter()
    if args.update:
        # graph-maintenance mode: apply the SPARQL UPDATE to the committed
        # store, then checksum-diff-rewrite only changed partitions
        from rdf_go_spark.operators.sparql import sparql_update
        triples = sparql_update(
            graph.read_graph(spark, args.output).drop("part_id"), args.update)
    else:
        from rdf_go_spark.operators.extraction import extract_triples
        from rdf_go_spark.sources.transcripts import (
            synth_entities, synth_transcripts,
        )
        if args.input.startswith("synth:"):
            transcripts = synth_transcripts(spark, int(args.input[6:]))
        else:
            transcripts = spark.read.parquet(args.input)
        triples = extract_triples(transcripts, synth_entities(spark),
                                  include_payload=not args.no_payload)
    if args.update or args.incremental:
        summary = graph.incremental_update(triples, args.output,
                                           n_partitions=args.partitions)
        summary["n_unchanged_partitions"] = len(summary.pop("unchanged"))
        summary["n_removed_partitions"] = len(summary.pop("removed"))
        summary["n_skipped_partitions"] = 0
    else:
        summary = graph.materialize(triples, args.output,
                                    n_partitions=args.partitions)
        summary["n_skipped_partitions"] = len(summary.pop("skipped"))
    summary["seconds"] = round(time.perf_counter() - t0, 2)
    summary["n_written_partitions"] = len(summary.pop("written"))

    if args.query:
        # query the WRITTEN table (partition-pruned columnar scan), not
        # the live extraction plan — the deployment read path
        from rdf_go_spark.operators.sparql import sparql_select
        g = spark.read.parquet(f"{args.output}/data")
        t0 = time.perf_counter()
        res = sparql_select(g.select("subj", "pred", "obj"), args.query)
        summary["query_rows"] = res.count()
        summary["query_seconds"] = round(time.perf_counter() - t0, 2)

    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""spark-submit entry point: build the segmented index, then serve a
query set — the north-rule deployment shape
(``spark-submit --py-files lucene_solr_spark.zip scripts/index_job.py``).

Gets its SparkSession from spark-submit (no master hardcoded here —
``--master local[8]`` / YARN / k8s is the submitter's choice), imports
the engine from the shipped ``--py-files`` zip, and emits one JSON line
of counters so a driver/scheduler can scrape throughput.

Usage:
    spark-submit --py-files /tmp/lucene_solr_spark.zip scripts/index_job.py \
        --input  /path/to/transcripts_parquet \
        --index  /path/to/index_out \
        [--segments 64] [--seg-group-size 8] [--buckets 32] \
        [--positions] [--query term1,term2 --mode disjunctive --k 10]

See scripts/submit_demo.sh for an end-to-end local run.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcript parquet dir")
    ap.add_argument("--index", required=True, help="index output dir")
    ap.add_argument("--segments", type=int, default=64)
    ap.add_argument("--seg-group-size", type=int, default=8)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--positions", action="store_true")
    ap.add_argument("--analyzer", default="standard", choices=("standard", "simple"))
    ap.add_argument("--query", default=None, help="comma-separated terms")
    ap.add_argument("--mode", default="disjunctive",
                    choices=["disjunctive", "conjunctive", "dismax"])
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # session comes from spark-submit's conf (master/executors/memory)
    spark = SparkSession.builder.appName("lss_index_job").getOrCreate()

    from lucene_solr_spark.index.segments import build_segmented_index

    corpus = spark.read.parquet(args.input)
    t0 = time.time()
    index = build_segmented_index(
        corpus,
        args.index,
        num_segments=args.segments,
        seg_group_size=args.seg_group_size,
        n_buckets=args.buckets,
        analyzer=args.analyzer,
        index_positions=args.positions,
    )
    build_sec = time.time() - t0

    out = {
        "job": "index_build",
        "doc_count": index.doc_count,
        "sum_ttf": index.sum_total_term_freq,
        "build_sec": round(build_sec, 3),
        "turns_per_sec": round(index.max_doc / build_sec, 1),
        "parallelism": spark.sparkContext.defaultParallelism,
    }

    if args.query:
        from lucene_solr_spark.search.wand import search_wand

        terms = [t for t in args.query.split(",") if t]
        t0 = time.time()
        hits = search_wand(index, terms, args.mode, k=args.k).collect()
        out["query"] = {
            "terms": terms,
            "mode": args.mode,
            "k": args.k,
            "hits": [[r["doc_id"], float(r["score"])] for r in hits],
            "latency_sec": round(time.time() - t0, 3),
        }

    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

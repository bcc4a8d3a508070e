#!/usr/bin/env python
"""Crossover sweep for ``wand.IN_PROCESS_MAX_POSTINGS``.

Times top-10 ``search_wand`` queries of growing postings count (Σ df over
their terms) on both executions: in-process on the driver, and as Spark
leaves (the threshold patched to 0). The threshold belongs between the
last postings count where the in-process path wins and the first where
it loses.

Usage:
    python scripts/wand_crossover.py <index_dir> <n_turns> [--cores 4] [--reps 5]

Builds a segmented index of ``n_turns`` ``synth_transcripts`` turns into
``index_dir`` (8 segments, ``seg_group_size=1``, 8 term buckets) unless
``index_dir`` already holds a committed one, which is then reopened.
Each query runs once untimed per path, then ``--reps`` timed runs per
path, alternating; the p50s are printed as one row per query, and the
sweep stops with an error if the two paths' top-k differ. Set
``SPARK_DRIVER_MEM`` (default here 4g) to size the driver.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (mode, Zipf ranks of the query terms), roughly in order of postings
QUERIES = [
    ("disjunctive", [3000]),
    ("disjunctive", [1000, 2000, 4000]),
    ("disjunctive", [300]),
    ("disjunctive", [30, 40]),
    ("disjunctive", [20]),
    ("disjunctive", [5]),
    ("disjunctive", [1]),
    ("conjunctive", [1, 2]),
    ("disjunctive", [1, 2]),
    ("disjunctive", [1, 2, 3, 4]),
    ("disjunctive", list(range(1, 7))),
    ("disjunctive", list(range(1, 11))),
    ("disjunctive", list(range(1, 13))),
    ("disjunctive", list(range(1, 15))),
    ("disjunctive", list(range(1, 17))),
    ("disjunctive", list(range(1, 25))),
    ("disjunctive", list(range(1, 33))),
]

# each path with the threshold that forces it
LEGS = (("spark", 0), ("in-process", 1 << 62))


def open_or_build(spark, index_dir: str, n_turns: int):
    from lucene_solr_spark.index.segments import (
        build_segmented_index,
        read_segmented_index,
    )
    from lucene_solr_spark.sources.synth import synth_transcripts

    if os.path.isdir(os.path.join(index_dir, "snapshots")):
        return read_segmented_index(spark, index_dir)
    corpus = synth_transcripts(spark, n_turns, seed=7)
    build_segmented_index(
        corpus, index_dir, num_segments=8, seg_group_size=1, n_buckets=8
    )
    return read_segmented_index(spark, index_dir)


def sweep(index, reps: int) -> None:
    import numpy as np

    from lucene_solr_spark.search import wand
    from lucene_solr_spark.sources.synth import synth_term

    threshold = wand.IN_PROCESS_MAX_POSTINGS
    for mode, ranks in QUERIES:
        terms = [synth_term(r) for r in ranks]
        postings = sum(index.lookup_df(terms).values())

        def run(limit):
            wand.IN_PROCESS_MAX_POSTINGS = limit
            t0 = time.perf_counter()
            hits = [tuple(r) for r in wand.search_wand(index, terms, mode, 10).collect()]
            return (time.perf_counter() - t0) * 1e3, hits

        times = {leg: [] for leg, _ in LEGS}
        try:
            answers = {leg: run(limit)[1] for leg, limit in LEGS}
            if answers["spark"] != answers["in-process"]:
                raise SystemExit(f"top-k differ on {mode} {ranks}")
            for _ in range(reps):
                for leg, limit in LEGS:
                    times[leg].append(run(limit)[0])
        finally:
            wand.IN_PROCESS_MAX_POSTINGS = threshold
        spark_ms = float(np.median(times["spark"]))
        local_ms = float(np.median(times["in-process"]))
        print(
            f"{postings:>10,d}  {mode:<11} {len(terms):>2} terms  "
            f"spark {spark_ms:8.1f} ms  in-process {local_ms:8.1f} ms  "
            f"ratio {spark_ms / local_ms:5.2f}",
            flush=True,
        )


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("index_dir")
    ap.add_argument("n_turns", type=int)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args(argv)

    from lucene_solr_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    spark = get_spark(
        "lss_wand_crossover", cores=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    index = open_or_build(spark, args.index_dir, args.n_turns)
    print(f"index {args.index_dir}: {index.doc_count:,d} docs, local[{args.cores}]")
    sweep(index, args.reps)
    spark.stop()


if __name__ == "__main__":
    main()

"""Brute-force (exhaustive) BM25 search as a pure DataFrame plan.

The CheckHits-style COMPLETE path (no pruning): score every matching
posting, aggregate per doc, global top-k. This is both a production path
(for high-recall scoring jobs) and the oracle the pruned WAND path is
verified against (reference pattern:
test-framework/.../search/CheckHits.java:576-591).

Scoring is 100% JVM-native (whole-stage codegen) over
``scoring.scored_postings``: the float32 cast points of BM25Similarity
are reproduced with Spark `cast("float")` and float arithmetic; the only
Python is driver-side computation of per-term weights and the 256-entry
norm cache (numpy float32, exact), shipped as tiny broadcast-join
tables.

Order-independence of the score sum: per-term float32 scores are summed
as doubles. Each float32 is exact in float64, term scores of one doc stay
within a ~2^29 magnitude ratio, and queries have few clauses, so the
float64 sum is exact → independent of aggregation order → bit-identical
to the sequential double accumulation in DisjunctionSumScorer.java:37 /
ConjunctionScorer.java:57-61.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bm25
from .scoring import empty_scores, scored_postings, term_weights

__all__ = ["search_bruteforce"]


def search_bruteforce(
    tables,
    terms: Sequence[str],
    mode: str = "disjunctive",
    k: int | None = 10,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "float32",
    min_should_match: int | None = None,
    after: tuple | None = None,
    tie: float = 0.0,
) -> DataFrame:
    """→ DataFrame(doc_id long, score float|double) ordered by (score
    desc, doc_id asc), limited to k (k=None: all matches, unordered).
    Empty for unmatchable queries. precision="double" runs the SQL-
    reproducible double pipeline (see scoring.norm_cache).

    mode: "disjunctive" (SHOULD/sum), "conjunctive" (MUST/sum),
    "dismax" (per-doc max over clause scores plus ``tie`` times the
    remainder: max + tie * (sum - max), DisjunctionMaxScorer's
    tieBreakerMultiplier — reference search/DisjunctionMaxQuery.java,
    DisjunctionMaxScorer.java:84-95). min_should_match: keep docs
    matching >= m clauses (BooleanQuery minimumNumberShouldMatch,
    search/BooleanQuery.java:138-167)."""
    weights = term_weights(
        tables.lookup_df(terms), tables.doc_count, terms, boost, k1, b, precision
    )
    n_present = len(weights)
    if n_present == 0 or (mode == "conjunctive" and n_present < len(terms)):
        return empty_scores(tables.dictionary.sparkSession, precision)
    scored = scored_postings(tables, weights, k1, b, precision)
    if mode == "dismax":
        score_agg = F.max("term_score")
        if tie:
            score_agg = score_agg + F.lit(float(tie)) * (
                F.sum(F.col("term_score").cast("double")) - F.max("term_score")
            )
            if precision != "double":
                score_agg = score_agg.cast("float")
    else:
        score_agg = F.sum(F.col("term_score").cast("double"))
        if precision != "double":
            score_agg = score_agg.cast("float")
    agg = scored.groupBy("doc_id").agg(
        score_agg.alias("score"), F.count("*").alias("n_matched")
    )
    if mode == "conjunctive":
        agg = agg.filter(F.col("n_matched") == n_present)
    elif min_should_match:
        agg = agg.filter(F.col("n_matched") >= min_should_match)
    out = agg.select("doc_id", "score")
    if after is not None:
        # searchAfter / CursorMark: strictly after (score desc, doc asc)
        a_s = float(np.float32(after[0])) if precision != "double" else float(after[0])
        out = out.filter(
            (F.col("score") < F.lit(a_s))
            | ((F.col("score") == F.lit(a_s)) & (F.col("doc_id") > int(after[1])))
        )
    if k is None:
        return out
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

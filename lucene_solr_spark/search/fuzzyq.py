"""Scored fuzzy query — FuzzyQuery's TopTermsBlendedFreqScoringRewrite.

The constant-score multi-term path (gate fts_fuzzy_dl_expand / the
parser's ``term~N``) answers WHICH docs match; Lucene's default
FuzzyQuery rewrite additionally SCORES them: each expanded term gets a
similarity boost ``1 - edits / min(|query|, |term|)``
(FuzzyTermsEnum.java:270-283), the top ``maxExpansions`` terms by
(boost, docFreq) are kept (TopTermsRewrite.java priority queue), their
document frequencies are BLENDED to the maximum df so closer spellings
don't out-idf rarer exact forms (BlendedTermQuery.java:268-287,
TopTermsBlendedFreqScoringRewrite in MultiTermQuery.java:180-196), and
the final query is a SHOULD-sum of the boosted term queries.

Pinned contract: score(doc) = Σ_t boost_t · idf(df_blend) · tf_t/(tf_t
+ norm), BM25 k1/b defaults, zero-boost expansions dropped.

Plan shape: one tiny dictionary scan for the expansion (driver gets
≤ maxExpansions (term, df, ed) rows — the dictionary is partitioned and
pruned the same way every multi-term query prunes it), then the
standard scorer relation (scoring.scored_postings) over the expanded
terms' postings with the blended weights; cost scales with those
postings, never the corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bm25
from ..functions.editdist import damerau_levenshtein
from .scoring import empty_scores, scored_postings

__all__ = ["fuzzy_scored"]


def fuzzy_scored(
    tables,
    query: str,
    max_edits: int = 2,
    prefix_length: int = 0,
    max_expansions: int = 50,
    k: int | None = 10,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "double",
) -> DataFrame:
    """Top-k BM25 over the blended fuzzy expansion of ``query``.

    → DataFrame(doc_id long, score double|float) ordered by
    (score desc, doc_id asc). precision="double" is the ANSI-SQL-
    reproducible path; "float32" replicates Lucene's cast points.
    """
    cand = tables.dictionary
    if prefix_length > 0:
        cand = cand.filter(F.col("term").startswith(query[:prefix_length]))
    rows = (
        cand.withColumn("ed", damerau_levenshtein(F.col("term"), query))
        .filter(F.col("ed") <= max_edits)
        .select("term", "df", "ed")
        .collect()
    )
    qlen = len(query)
    expanded = []
    for r in rows:
        boost = 1.0 - float(r["ed"]) / float(min(qlen, len(r["term"])))
        if boost > 0.0:
            expanded.append((r["term"], int(r["df"]), boost))
    if not expanded:
        return empty_scores(tables.dictionary.sparkSession, precision)
    # TopTermsRewrite queue order: boost desc, boost ties broken by
    # term bytes ONLY — the lexicographically smaller term wins, never
    # by docFreq (TopTermsRewrite.java:116-118)
    expanded.sort(key=lambda t: (-t[2], t[0]))
    expanded = expanded[:max_expansions]
    df_blend = max(df for _, df, _ in expanded)

    n = max(tables.doc_count, 1)
    if precision == "double":
        idf = float(
            np.log(1.0 + (np.float64(n) - df_blend + 0.5) / (df_blend + 0.5))
        )
        weights = [(t, bst * idf) for t, _, bst in expanded]
    else:
        idf32 = bm25.idf(df_blend, n)
        weights = [
            (t, float(np.float32(np.float32(bst) * idf32)))
            for t, _, bst in expanded
        ]
    agg = F.sum(F.col("term_score").cast("double"))
    if precision != "double":
        agg = agg.cast("float")
    out = (
        scored_postings(tables, weights, k1, b, precision)
        .groupBy("doc_id").agg(agg.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return out.limit(k) if k is not None else out

"""ClassicSimilarity (TF-IDF) — the pluggable-Similarity demonstration.

BM25Similarity is this engine's default contract; the reference also
ships the legacy vector-space scoring as ClassicSimilarity, and the
Similarity is pluggable per field/search (reference lucene/core/src/
java/org/apache/lucene/search/similarities/ClassicSimilarity.java,
TFIDFSimilarity.java:380-430). Since Lucene 8 unified index-time norms,
TFIDFSimilarity reads the SAME one-byte SmallFloat.intToByte4 length
norm BM25 does (TFIDFSimilarity.java lengthNorm = 1/sqrt(dl) over the
decoded byte), so a classic scorer drops into this engine's tables
without re-indexing — exactly the reference's pluggability story.

Pinned formula (Lucene 8+ — coord() and queryNorm() removed):

    score(doc) = Σ_t  idf(t)^2 · sqrt(freq_t) / sqrt(qdl)
    idf(t)     = 1 + ln((docCount + 1) / (df + 1))

computed in double (the SQL-oracle path); the float32 cast-point
replica is out of scope for the legacy similarity — BM25 is the parity
contract, Classic is the extension-point proof.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import smallfloat
from .scoring import empty_scores

__all__ = ["search_classic"]


def search_classic(
    tables,
    terms,
    k: int | None = 10,
    boost: float = 1.0,
) -> DataFrame:
    """Top-k TF-IDF disjunction over the standard index tables.

    → DataFrame(doc_id long, score double) ordered by
    (score desc, doc_id asc)."""
    spark = tables.dictionary.sparkSession
    df_by_term = tables.lookup_df(terms)
    if not df_by_term:
        return empty_scores(spark, "double")
    n = max(tables.doc_count, 1)
    weights = [
        (t, float(boost) * float(np.log((n + 1.0) / (df + 1.0)) + 1.0) ** 2)
        for t, df in df_by_term.items()
    ]
    # inverse-sqrt length norm over the decoded one-byte quantized dl
    qdl = smallfloat.byte4_to_int(np.arange(256)).astype(np.float64)
    inv_sqrt = np.where(qdl > 0, 1.0 / np.sqrt(np.maximum(qdl, 1)), 0.0)
    weights_df = spark.createDataFrame(weights, "term string, w double")
    cache_df = spark.createDataFrame(
        [(i, float(inv_sqrt[i])) for i in range(256)],
        "norm_byte int, inv_sqrt_dl double",
    )
    scored = (
        tables.postings_of(df_by_term).join(F.broadcast(weights_df), "term")
    )
    scored = scored.join(F.broadcast(cache_df), "norm_byte")
    out = (
        scored.withColumn(
            "term_score",
            F.col("w")
            * F.sqrt(F.col("freq").cast("double"))
            * F.col("inv_sqrt_dl"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return out.limit(k) if k is not None else out


def search_boolean_sim(
    tables,
    terms,
    k: int | None = 10,
    boost: float = 1.0,
) -> DataFrame:
    """BooleanSimilarity: score = Σ boost over matching clauses —
    frequency- and length-independent (reference lucene/core/.../
    similarities/BooleanSimilarity.java: "simple similarity that gives
    terms a score equal to their query boost"). The third pluggable
    Similarity over the unchanged tables: one distinct-count agg per
    doc, no norms read at all.

    → DataFrame(doc_id long, score double) ordered by
    (score desc, doc_id asc)."""
    uniq = list(dict.fromkeys(terms))
    out = (
        tables.postings.filter(F.col("term").isin(uniq))
        .select("doc_id", "term")
        .distinct()
        .groupBy("doc_id")
        .agg(
            (F.count("*") * F.lit(float(boost))).cast("double").alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return out.limit(k) if k is not None else out

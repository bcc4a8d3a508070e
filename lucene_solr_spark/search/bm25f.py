"""BM25FQuery — combined-field BM25 ("BM25F simple formula"):
multiple fields scored as if their token streams were one pseudo-field.

Reference: lucene/sandbox/src/java/org/apache/lucene/search/
BM25FQuery.java and MultiNormsLeafSimScorer.java.

Semantics replicated exactly:

- ALL (field, term) pairs merge into ONE pseudo-term
  (BM25FQuery.BM25FWeight ctor, :264-279):
  ``docFreq = max over (field, term) of df``;
  ``totalTermFreq = Σ weight * ttf`` (unused by BM25 scoring).
- Pseudo collection statistics (mergeCollectionStatistics, :286-299):
  ``docCount = max over fields``; ``sumTotalTermFreq = Σ_f weight_f *
  sumTTF_f`` (Java accumulates into a long per field — exact for the
  integral weights used here, so the truncation order, which the
  reference itself leaves unspecified via its HashSet term order, is
  moot).
- Per-doc pseudo-freq (BM25FScorer.freq / WeightedDisiWrapper.freq,
  :389-416): ``freq = Σ over matching (field, term) of weight * tf``.
- Per-doc pseudo-norm (MultiNormsLeafSimScorer.MultiFieldNormValues.
  advanceExact, :124-133): ``normValue = Σ_f weight_f *
  LENGTH_TABLE[normByte_f]`` then RE-QUANTIZED through
  ``SmallFloat.intToByte4(Math.round(normValue))`` — the scorer decodes
  that byte back to the quantized doc length. Math.round(x) =
  floor(x + 0.5), written as FLOOR(x + 0.5) on both engines.
- score = BM25(k1, b) of (pseudo-freq, quantized pseudo-dl) under the
  pseudo stats — Lucene 9 BM25 (no (k1+1) numerator), per-field
  similarity ignored by design (BM25FQuery.java:50-53).

Field weights must be >= 1 (Builder.addField, :96-98); integral
weights additionally make every float accumulation in the reference
exact, which this rebuild's double arithmetic then matches bit-for-bit
(declared contract, same double-precision/round(4) regime as the
SimilarityBase family gates).

Plan shape at scale: per-field postings filters are term-pushed scans;
the pseudo-freq is one hash aggregation over their union; the two
norm joins are doc_id-keyed (co-partitioned at rest); the norm
re-quantization is a broadcast 256-row range join; the score is a
single whole-stage-codegen expression — no UDFs, no driver data
collect (the pseudo-stats are |fields| scalar aggregates, exactly the
TermStates the reference builds driver-side too).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import smallfloat
from .scoring import empty_scores

__all__ = ["bm25f"]


def _decode_col(byte_col) -> "F.Column":
    """LENGTH_TABLE[norm_byte] as a literal-array lookup (the decoded
    quantized doc length, SmallFloat.byte4ToInt)."""
    table = smallfloat.byte4_to_int(np.arange(256)).astype(np.int64)
    arr = F.array([F.lit(int(v)) for v in table])
    return F.element_at(arr, byte_col.cast("int") + F.lit(1))


def bm25f(
    fields: dict,
    terms,
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
    k: int | None = 10,
) -> DataFrame:
    """``fields`` maps field name -> (IndexTables, weight). Returns
    (doc_id long, score double) top-k under BM25F combined-field
    scoring, ordered (score desc, doc_id asc)."""
    items = list(fields.items())
    spark = items[0][1][0].dictionary.sparkSession
    uniq = list(dict.fromkeys(terms))

    # Pseudo-term + pseudo-collection statistics (driver scalars, one
    # dictionary lookup per field).
    df_max = 0
    doc_count = 0
    sum_ttf = 0
    for _name, (tables, w) in items:
        df_max = max([df_max, *tables.lookup_df(uniq).values()])
        doc_count = max(doc_count, int(tables.doc_count))
        sum_ttf += int(w * tables.sum_total_term_freq)
    if df_max == 0:
        return empty_scores(spark, "double")

    # Per-doc pseudo-freq: weighted union of the per-field postings.
    parts = [
        tables.postings_of(uniq).select(
            "doc_id",
            (F.lit(float(w)) * F.col("freq").cast("double")).alias("wf"),
        )
        for _name, (tables, w) in items
    ]
    freqs = parts[0]
    for p in parts[1:]:
        freqs = freqs.unionByName(p)
    freqs = freqs.groupBy("doc_id").agg(F.sum("wf").alias("freq"))

    # Combined norm: weighted sum of decoded per-field lengths,
    # re-quantized through the SmallFloat byte (MultiFieldNormValues).
    nv = F.lit(0.0)
    for i, (_name, (tables, w)) in enumerate(items):
        nd = tables.norms.select(
            "doc_id", _decode_col(F.col("norm_byte")).alias(f"dec_{i}")
        )
        freqs = freqs.join(nd, "doc_id")
        nv = nv + F.lit(float(w)) * F.col(f"dec_{i}").cast("double")
    freqs = freqs.withColumn(
        "nv", F.floor(nv + F.lit(0.5)).cast("bigint")
    )
    dec = smallfloat.byte4_to_int(np.arange(256)).astype(np.int64)
    rows = []
    for byte in range(256):
        lo = int(dec[byte])
        hi = int(dec[byte + 1]) - 1 if byte < 255 else 2**62
        rows.append((lo, hi, lo))
    interval = spark.createDataFrame(rows, "lo long, hi long, qdl long")
    scored = freqs.join(
        F.broadcast(interval),
        (F.col("nv") >= F.col("lo")) & (F.col("nv") <= F.col("hi")),
    )

    idf = (
        f"ln(1 + ({doc_count} - {df_max} + 0.5) / ({df_max} + 0.5))"
    )
    avgdl = f"(CAST({sum_ttf} AS DOUBLE) / {doc_count})"
    expr = (
        f"{boost!r} * {idf} * (freq / (freq + {k1!r} * "
        f"(1 - {b!r} + {b!r} * qdl / {avgdl})))"
    )
    out = (
        scored.select("doc_id", F.expr(expr).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return out.limit(k) if k is not None else out

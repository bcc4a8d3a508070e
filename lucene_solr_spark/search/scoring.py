"""One relational BM25 scorer: per-term weights, one norm cache, and
the scored-postings relation.

Mirrors Lucene's one term scorer, BM25Similarity's
``weight * (float)(freq / (freq + cache[normByte]))`` with the weight
(boost * idf) and the 256-entry norm cache captured once per query
(reference: search/similarities/BM25Similarity.java:219-226,
search/TermQuery.java:73). The weights and ``norm_cache`` are computed
driver-side in numpy, with Lucene's float32 cast points
(functions/bm25.py) or in full double math (ANSI-SQL-reproducible).

``scored_postings`` is the one relation every relational scorer reads
(brute force, the Boolean executor, eDisMax, explain, XML, surround,
the fuzzy queries): the query terms' postings (``postings_of``, which
on a SegmentedIndex reads and decodes only those terms' blocks)
broadcast-joined to the weights and to the 256-row norm cache. Callers
aggregate, project or cast its columns. The WAND and positional leaves
index the same ``norm_cache`` array in numpy.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions import bm25, smallfloat

__all__ = [
    "term_weights", "norm_cache", "with_tf", "scored_postings", "empty_frame",
    "empty_scores",
]


def _num_type(precision: str) -> str:
    return "double" if precision == "double" else "float"


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """An empty DataFrame of the DDL ``schema`` as a local relation:
    building and collecting it run no Spark job."""
    struct = T.DataType.fromDDL(schema)
    return spark.createDataFrame(to_arrow_schema(struct).empty_table(), struct)


def empty_scores(spark: SparkSession, precision: str = "float32") -> DataFrame:
    """The empty scorer result, (doc_id long, score float|double), as a
    local relation."""
    return empty_frame(spark, f"doc_id long, score {_num_type(precision)}")


def term_weights(
    df_by_term: dict,
    doc_count: int,
    terms: Sequence[str],
    boost: float,
    k1,
    b,
    precision: str = "float32",
) -> list:
    """[(term, weight)] for terms present in the dictionary, in query
    order (duplicate clauses keep duplicate weights — BooleanQuery sums
    duplicate SHOULD clauses twice). precision="double" keeps the full
    double idf (SQL-oracle-reproducible); "float32" applies Lucene's
    float cast points. ``boost`` may be a single float or a per-term
    dict (BoostQuery per clause — reference search/BoostQuery.java)."""
    out = []
    for t in terms:
        df = df_by_term.get(t)
        if df:
            bst = boost.get(t, 1.0) if isinstance(boost, dict) else boost
            if precision == "double":
                w = float(bst) * float(
                    np.log(1.0 + (np.float64(doc_count) - df + 0.5) / (df + 0.5))
                )
                out.append((t, w))
            else:
                w = np.float32(bst) * bm25.idf(df, doc_count)
                out.append((t, float(np.float32(w))))
    return out


def norm_cache(sum_ttf: int, doc_count: int, k1, b, precision: str = "float32") -> np.ndarray:
    """The 256-entry BM25 norm cache ``k1*(1-b+b*qdl/avgdl)`` over
    SmallFloat-quantized lengths, indexed by norm byte. "float32":
    Lucene-exact (bm25.norm_cache over the float32 avgdl). "double": the
    same quantized lengths in full double math, ``avgdl = sum_ttf /
    doc_count`` in double — reproducible in ANSI SQL."""
    if precision == "double":
        qdl = smallfloat.byte4_to_int(np.arange(256)).astype(np.float64)
        avgdl = np.float64(sum_ttf) / np.float64(max(doc_count, 1))
        return float(k1) * (1.0 - float(b) + float(b) * qdl / avgdl)
    avgdl = bm25.avgdl(sum_ttf, max(doc_count, 1))
    return bm25.norm_cache(avgdl, np.float32(k1), np.float32(b))


def with_tf(df: DataFrame, index, k1, b, precision: str = "float32") -> DataFrame:
    """``df`` (…, freq, norm_byte) broadcast-joined to ``index``'s
    256-row norm cache, with ``norm_val`` and ``tf_score = freq / (freq
    + norm_val)`` added: computed in double, then cast to float in
    float32 precision (BM25Similarity's cast point)."""
    cache = norm_cache(index.sum_total_term_freq, index.doc_count, k1, b, precision)
    cache_df = df.sparkSession.createDataFrame(
        [(i, float(cache[i])) for i in range(256)],
        f"norm_byte int, norm_val {_num_type(precision)}",
    )
    freq = F.col("freq").cast("double")
    tf = freq / (freq + F.col("norm_val").cast("double"))
    if precision != "double":
        tf = tf.cast("float")
    return df.join(F.broadcast(cache_df), "norm_byte").withColumn("tf_score", tf)


def scored_postings(index, weights: list, k1, b, precision: str = "float32") -> DataFrame:
    """(term, doc_id, freq, norm_byte, weight, norm_val, tf_score,
    term_score) for the postings of the terms in ``weights``, the
    [(term, weight)] list of ``term_weights`` (a duplicate clause keeps
    duplicate rows). ``term_score = weight * tf_score``, float32 or
    double by ``precision``. Only the query terms' postings are read
    (``index.postings_of``); both joins are broadcast."""
    weights_df = index.dictionary.sparkSession.createDataFrame(
        weights, f"term string, weight {_num_type(precision)}"
    )
    scored = index.postings_of([t for t, _ in weights]).join(
        F.broadcast(weights_df), "term"
    )
    return with_tf(scored, index, k1, b, precision).select(
        "term", "doc_id", "freq", "norm_byte", "weight", "norm_val", "tf_score",
        (F.col("weight") * F.col("tf_score")).alias("term_score"),
    )

"""Score explanation: the IndexSearcher.explain / debugQuery analog.

The reference renders, per (query, doc), a tree of the BM25 factors —
``Explanation`` objects from ``BM25Similarity.explain``
(search/similarities/BM25Similarity.java:245-297: boost, idf with its
(docCount, docFreq) inputs, tf with its (freq, dl, avgdl) inputs) and
Solr surfaces it under debug=true (solr/core/.../util/SolrPluginUtils
doc-debug). A DataFrame engine's natural shape for the same information
is one ROW per (doc, term) with the factors as COLUMNS — joinable,
filterable, aggregable like everything else.

Columns: doc_id, term, freq, df, weight (boost*idf), dl (raw stored
token length; norm_val is computed from its one-byte quantization),
norm_val (k1*(1-b+b*qdl/avgdl)), tf_score (freq/(freq+norm_val)),
contribution (weight*tf_score). Sum of contribution over terms == the
engine's score for the doc (double pipeline; the float32 path is the
serving path, see gate.py docstring).

Scale shape: one brute-force scoring pass (scoring.scored_postings —
the query terms' postings, broadcast weights and norm cache) with norms
joined per surviving doc for ``dl``; df comes from the dictionary
lookup the weights already made.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bm25
from .scoring import empty_frame, scored_postings, term_weights


def explain_scores(
    tables,
    terms,
    k1=bm25.K1,
    b=bm25.B,
    boost: float = 1.0,
    precision: str = "double",
) -> DataFrame:
    """Per-(doc, term) BM25 factor breakdown for every matching doc."""
    df_by_term = tables.lookup_df(terms)
    weights = term_weights(
        df_by_term, tables.doc_count, terms, boost, k1, b, precision
    )
    num_type = "double" if precision == "double" else "float"
    if not weights:
        return empty_frame(
            tables.dictionary.sparkSession,
            f"doc_id long, term string, freq long, df long, weight {num_type},"
            f" dl int, norm_val {num_type}, tf_score {num_type},"
            f" contribution {num_type}",
        )
    df_of = F.create_map(*(F.lit(x) for kv in df_by_term.items() for x in kv))
    return (
        scored_postings(tables, weights, k1, b, precision)
        .join(tables.norms.select("doc_id", "dl"), "doc_id")
        .select(
            "doc_id",
            "term",
            F.col("freq").cast("long").alias("freq"),
            df_of[F.col("term")].cast("long").alias("df"),
            "weight",
            F.col("dl").cast("int").alias("dl"),
            "norm_val",
            "tf_score",
            F.col("term_score").alias("contribution"),
        )
    )

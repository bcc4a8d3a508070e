"""ExtendedDisMax multi-field scoring (qf + tie).

The Solr edismax/dismax query parsers score each query term as a
DisjunctionMaxQuery over per-field TermQueries weighted by the ``qf``
field boosts, combined with the tieBreakerMultiplier, then sum the
per-term maxima across the query (reference solr/core/src/java/org/
apache/solr/search/ExtendedDismaxQParser.java:1262-1304 — per-word
DisMax over the qf fields; solr/core/.../search/DisMaxQParser.java:
158-186; lucene/core/.../search/DisjunctionMaxQuery.java).

score(doc) = Σ_term [ max_f(qf_f · bm25_f(term, doc))
                      + tie · (Σ_f − max_f) ]

Every field is its own index (its own df/avgdl/norms — exactly the
reference's per-field statistics). Plan shape: one scored posting
frame per field (scoring.scored_postings, the brute-force scorer's
relation), a union, and two hash-aggs (per-(doc, term) dismax, then per-doc sum)
— co-partitioned on doc_id, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bm25
from .scoring import empty_scores, scored_postings, term_weights

__all__ = ["edismax"]


def edismax(
    field_tables: dict,
    terms,
    qf: dict,
    tie: float = 0.0,
    k: int | None = 10,
    min_should_match: int | None = None,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "double",
) -> DataFrame:
    """Multi-field BM25 dismax. field_tables: {field: IndexTables};
    qf: {field: boost} (missing fields default 1.0).

    → DataFrame(doc_id long, score double|float) ordered by
    (score desc, doc_id asc); k=None returns every match unordered by
    rank but sorted stably for export."""
    frames = []
    for fname, tbl in field_tables.items():
        boost = float(qf.get(fname, 1.0))
        weights = term_weights(
            tbl.lookup_df(terms), tbl.doc_count, terms, boost, k1, b, precision
        )
        if weights:
            frames.append(scored_postings(tbl, weights, k1, b, precision).select(
                "doc_id", "term", F.col("term_score").cast("double").alias("s"),
            ))
    num_type = "double" if precision == "double" else "float"
    if not frames:
        return empty_scores(
            next(iter(field_tables.values())).dictionary.sparkSession, precision
        )
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    comb = u.groupBy("doc_id", "term").agg(
        (
            F.max("s")
            + F.lit(float(tie)) * (F.sum("s") - F.max("s"))
        ).alias("ts")
    )
    agg = comb.groupBy("doc_id").agg(
        F.sum("ts").alias("score"),
        F.count("*").alias("n_matched"),
    )
    if min_should_match:
        agg = agg.filter(F.col("n_matched") >= min_should_match)
    out = agg.select("doc_id", F.col("score").cast(num_type).alias("score"))
    out = out.orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(k) if k is not None else out

"""CommonTermsQuery — the lucene/queries module's stopword-free
high-frequency handling.

Reference: lucene/queries/src/java/org/apache/lucene/queries/
CommonTermsQuery.java: query terms are split at a document-frequency
cutoff (``maxTermFrequency`` × docCount). Low-frequency ("rare")
terms drive MATCHING (a disjunction); high-frequency ("common") terms
do not gate the match — they only add score to docs that happen to
contain them. This keeps 'the'-like terms from exploding the match
set without a stopword list.

Spark shape: the split is a driver-side dictionary lookup (≤|terms|
rows, partition-pruned — the same pattern WAND planning uses); the
match set is the rare-term disjunction; the common contribution is a
left join of per-doc common-term scores. Nothing scans postings
beyond the query's terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bruteforce import search_bruteforce

__all__ = ["split_by_frequency", "common_terms_query"]


def split_by_frequency(
    tables, terms: list, max_term_frequency: float = 0.4
) -> tuple:
    """(rare, common) by df <= max_term_frequency * doc_count."""
    dfs = tables.lookup_df(terms)
    cutoff = max_term_frequency * tables.doc_count
    rare = [t for t in terms if dfs.get(t, 0) <= cutoff]
    common = [t for t in terms if t in dfs and t not in rare]
    return rare, common


def common_terms_query(
    tables,
    terms: list,
    max_term_frequency: float = 0.4,
    k: int = 10,
) -> DataFrame:
    """Rare-term disjunction match + common-term score boost, top-k
    (score desc, doc_id asc). Falls back to a plain disjunction over
    all terms when every term is common (CommonTermsQuery's
    all-high-frequency fallback)."""
    rare, common = split_by_frequency(tables, terms, max_term_frequency)
    if not rare:
        rare, common = common, []
    res = search_bruteforce(
        tables, rare, mode="disjunctive", k=None, precision="double"
    ).select("doc_id", F.round("score", 4).alias("rare_score"))
    if common:
        cs = search_bruteforce(
            tables, common, mode="disjunctive", k=None, precision="double"
        ).select("doc_id", F.round("score", 4).alias("common_score"))
        res = res.join(cs, "doc_id", "left")
    else:
        res = res.withColumn("common_score", F.lit(0.0))
    return (
        res.select(
            "doc_id",
            F.round(
                F.col("rare_score")
                + F.coalesce("common_score", F.lit(0.0)),
                4,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )

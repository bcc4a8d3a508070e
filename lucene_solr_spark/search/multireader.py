"""MultiReader — N per-shard indexes searched as ONE logical index.

Lucene composes leaf readers into a MultiReader with per-leaf docBase
offsets; every search statistic (docFreq, docCount, sumTotalTermFreq)
is the SUM over leaves, so scores over the composite are identical to
scores over a single index of the union (reference lucene/core/src/
java/org/apache/lucene/index/MultiReader.java, BaseCompositeReader
.java:31-58 — "starts" docBase array; IndexSearcher computes
collection statistics from the composite). This is also Solr's
distributed-search contract when global IDF is enabled
(ExactStatsCache: stats aggregated across shards before scoring).

Spark-first: each shard's tables are plain DataFrames, so the
composite is a UNION with a docBase offset column — the dictionary
re-aggregates (sum df/cf per term) and the scalar stats add. The
result is an IndexTables (index/splitter.py) with the relations of a
single index: every relational searcher works on it unchanged, and the
parity invariant (shard-composite == single-index-of-the-union) is
gate-checked.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..index.splitter import IndexTables

__all__ = ["multi_reader"]


def multi_reader(shards) -> IndexTables:
    """Compose per-shard indexes into one logical index.

    Doc ids are offset by each shard's docBase = Σ max_doc of prior
    shards (BaseCompositeReader starts[]). A shard's declared max_doc
    (row count for dense 0-based builds) is only a safe increment when
    every doc_id actually fits below it, so each shard is validated
    against its true id range (min >= 0, max < increment) and the
    increment is max(declared, max(doc_id)+1) — sparse or non-dense ids
    can never silently collide two source docs into one composite id."""
    if not shards:
        raise ValueError("multi_reader needs at least one shard")
    bases = []
    base = 0
    for i, sh in enumerate(shards):
        bases.append(base)
        row = sh.norms.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
        lo = int(row["lo"]) if row["lo"] is not None else 0
        actual = int(row["hi"]) + 1 if row["hi"] is not None else 0
        if lo < 0:
            raise ValueError(
                f"multi_reader shard {i}: negative doc_id {lo} would "
                "collide with the previous shard's id range"
            )
        if actual > sh.max_doc:
            raise ValueError(
                f"multi_reader shard {i}: max(doc_id)+1={actual} exceeds "
                f"declared max_doc={sh.max_doc}; doc ids are not dense "
                "0-based, refusing to compose overlapping id ranges"
            )
        base += max(sh.max_doc, actual)

    def offset(df, b):
        return df.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(int(b))).cast("long")
        )

    postings = None
    norms = None
    stored = None
    for sh, b in zip(shards, bases):
        p = offset(sh.postings, b)
        n = offset(sh.norms, b)
        s = offset(sh.stored, b)
        postings = p if postings is None else postings.unionByName(p)
        norms = n if norms is None else norms.unionByName(n)
        stored = s if stored is None else stored.unionByName(s)

    dictionary = None
    for sh in shards:
        d = sh.dictionary.select("term", "df", "cf")
        dictionary = d if dictionary is None else dictionary.unionByName(d)
    dictionary = dictionary.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )

    return IndexTables(
        postings=postings,
        dictionary=dictionary,
        norms=norms,
        stored=stored,
        doc_count=sum(sh.doc_count for sh in shards),
        sum_total_term_freq=sum(sh.sum_total_term_freq for sh in shards),
        max_doc=base,
    )

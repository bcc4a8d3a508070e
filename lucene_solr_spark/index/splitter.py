"""Index-splitting tools — the lucene/misc maintenance utilities that
carve an EXISTING index into parts without re-analyzing any text.

Reference: lucene/misc/src/java/org/apache/lucene/index/
{PKIndexSplitter,MultiPassIndexSplitter}.java.

- PKIndexSplitter (:49-120): two outputs — documents matching a query
  (or a primary-key mid-term range) land in the first index, everything
  else in the second; realized there as delete-the-complement +
  addIndexes.
- MultiPassIndexSplitter (:53-108): N equal parts; ``seq=True`` gives
  sequential docID ranges [i·maxDoc/N, (i+1)·maxDoc/N) with the LAST
  part absorbing the integer-rounding remainder (:78-90), otherwise
  deterministic round-robin — doc j lands in part i iff
  ``(j + numParts - i) % numParts == 0``, i.e. ``j % N == i % N``
  (:93-96).

Spark-first realization: a split never touches text — it filters the
index's postings relation and its norms/stored tables by a doc
predicate and recomputes the derived statistics (dictionary df/cf via
one hash aggregation over the filtered postings; doc_count/sumTTF via
one aggregate over the filtered norms), which is exactly the state the
reference's deletes-then-merge produces. Per-doc data (freq, norm
bytes, stored fields) is carried over untouched.

Scale shape: each part is one filtered scan + one partial/final
aggregation — no re-tokenization, no driver data. The doc predicate
pushes into the parquet scans of norms and stored. A part's postings
stay a doc filter over the parent's decoded postings: the parent's
blocks hold every doc id, so a doc predicate prunes no block and a
query over the part decodes all of its terms' blocks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "IndexTables", "filter_index", "pk_index_splitter",
    "multi_pass_index_splitter", "merge_indexes",
]


@dataclass
class IndexTables:
    """A derived index — a split part, a materialized merge, or a
    multi-reader composite (search/multireader.py) — as the relations a
    query reads; a SegmentedIndex exposes the same attributes, so every
    relational searcher takes either.

    postings  : (term, doc_id, norm_byte, freq) — norm_byte rides on
                every posting (the impact-postings layout), so scoring
                never joins norms
    dictionary: (term, df, cf)
    norms     : (doc_id, dl, norm_byte)
    stored    : source rows + doc_id
    doc_count : docs with the field (>= 1 token)
    sum_total_term_freq : total token count
    max_doc   : doc id space size

    ``postings_of`` and ``lookup_df`` answer a query's reads the way a
    SegmentedIndex's do, over these relations.
    """

    postings: DataFrame
    dictionary: DataFrame
    norms: DataFrame
    stored: DataFrame
    doc_count: int
    sum_total_term_freq: int
    max_doc: int

    def postings_of(self, terms) -> DataFrame:
        """``postings`` of ``terms``."""
        return self.postings.filter(F.col("term").isin(list(terms)))

    def lookup_df(self, terms) -> dict:
        """term -> df for those of ``terms`` in the dictionary (one
        collect)."""
        rows = self.dictionary.filter(
            F.col("term").isin(list(dict.fromkeys(terms)))
        ).select("term", "df").collect()
        return {r["term"]: int(r["df"]) for r in rows}


def filter_index(tables, keep: Column) -> IndexTables:
    """A child index containing exactly the parent docs where
    ``keep`` (a predicate over doc_id) holds, with statistics
    recomputed to match an index that only ever held those docs."""
    postings = tables.postings.filter(keep)
    norms = tables.norms.filter(keep)
    dictionary = postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("freq").alias("cf")
    )
    stats = norms.select(
        F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("doc_count"),
        F.sum("dl").alias("sum_ttf"),
        F.count("*").alias("max_doc"),
    ).collect()[0]
    return IndexTables(
        postings=postings,
        dictionary=dictionary,
        norms=norms,
        stored=tables.stored.filter(keep),
        doc_count=int(stats["doc_count"] or 0),
        sum_total_term_freq=int(stats["sum_ttf"] or 0),
        max_doc=int(stats["max_doc"] or 0),
    )


def pk_index_splitter(tables, docs_in_first: Column):
    """PKIndexSplitter: (matching, complement) child indexes."""
    return (
        filter_index(tables, docs_in_first),
        filter_index(tables, ~docs_in_first),
    )


def multi_pass_index_splitter(tables, num_parts: int, seq: bool = False):
    """MultiPassIndexSplitter: ``num_parts`` child indexes by
    sequential docID range (last part takes the rounding remainder) or
    round-robin on docID."""
    if num_parts < 2:
        raise ValueError("num_parts must be >= 2")
    parts = []
    if seq:
        part_len = tables.max_doc // num_parts
        for i in range(num_parts):
            lo = part_len * i
            hi = lo + part_len
            pred = F.col("doc_id") >= lo
            if i < num_parts - 1:
                pred = pred & (F.col("doc_id") < hi)
            parts.append(filter_index(tables, pred))
    else:
        for i in range(num_parts):
            parts.append(
                filter_index(
                    tables, F.col("doc_id") % num_parts == i % num_parts
                )
            )
    return parts


def merge_indexes(shards) -> IndexTables:
    """IndexMergeTool (misc/.../misc/IndexMergeTool.java: addIndexes
    then forceMerge): materialize N shard indexes into ONE index whose
    stats equal a fresh build of the union.  Doc ids are re-based by
    the running max_doc exactly like MultiReader's docBase starts
    (multireader.py), but here the union is MATERIALIZED — postings /
    norms / stored are unioned frames and the dictionary is re-agged,
    so the result needs no composite-reader dispatch at query time.
    Shard id-density is validated the same way multireader validates
    (a shard whose max(doc_id)+1 exceeds its declared max_doc would
    silently collide after re-basing)."""
    if not shards:
        raise ValueError("merge_indexes needs at least one shard")

    def rebase(df, base):
        return df.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(base)).cast("long")
        )

    base = 0
    postings = norms = stored = None
    for sh in shards:
        top = sh.norms.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
        declared = sh.max_doc
        if top is not None and int(top) >= declared:
            raise ValueError(
                f"shard declares max_doc={declared} but has doc_id={top}; "
                "doc ids are not dense 0-based — rebasing would collide"
            )
        p, n = rebase(sh.postings, base), rebase(sh.norms, base)
        s = rebase(sh.stored, base)
        postings = p if postings is None else postings.unionByName(p)
        norms = n if norms is None else norms.unionByName(n)
        stored = s if stored is None else stored.unionByName(s)
        base += declared
    dictionary = postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("freq").alias("cf")
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

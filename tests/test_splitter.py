"""Index splitters (lucene/misc PKIndexSplitter /
MultiPassIndexSplitter): a split part must be indistinguishable from
an index built from scratch over the same doc subset, and the parts
must partition the parent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.splitter import (
    filter_index,
    multi_pass_index_splitter,
    pk_index_splitter,
)
from lucene_solr_spark.search.multireader import multi_reader

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def parent(make_index, spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    return docs, make_index(docs, analyzer="simple", id_col="doc_id")


def _dict_rows(tables):
    return sorted(
        (r["term"], r["df"], r["cf"])
        for r in tables.dictionary.collect()
    )


def test_pk_split_matches_fresh_build(make_index, spark, parent):
    docs, tables = parent
    pred = F.col("doc_id") % 3 == 0
    first, rest = pk_index_splitter(tables, pred)
    fresh_first = make_index(
        docs.filter(pred), analyzer="simple", id_col="doc_id"
    )
    assert _dict_rows(first) == _dict_rows(fresh_first)
    assert first.doc_count == fresh_first.doc_count
    assert first.sum_total_term_freq == fresh_first.sum_total_term_freq
    assert sorted(
        (r["doc_id"], r["dl"], r["norm_byte"]) for r in first.norms.collect()
    ) == sorted(
        (r["doc_id"], r["dl"], r["norm_byte"])
        for r in fresh_first.norms.collect()
    )
    # parts partition the parent
    ids_first = {r["doc_id"] for r in first.norms.collect()}
    ids_rest = {r["doc_id"] for r in rest.norms.collect()}
    ids_all = {r["doc_id"] for r in tables.norms.collect()}
    assert ids_first | ids_rest == ids_all
    assert not (ids_first & ids_rest)
    assert (
        first.doc_count + rest.doc_count == tables.doc_count
    )
    assert (
        first.sum_total_term_freq + rest.sum_total_term_freq
        == tables.sum_total_term_freq
    )


def test_pk_split_search_parity(make_index, spark, parent):
    docs, tables = parent
    pred = F.col("doc_id") % 3 == 0
    first, _ = pk_index_splitter(tables, pred)
    fresh = make_index(docs.filter(pred), analyzer="simple",
                        id_col="doc_id")
    from lucene_solr_spark.search.bruteforce import search_bruteforce

    a = search_bruteforce(first, ["spark", "merge"], mode="disjunctive",
                          k=10)
    b = search_bruteforce(fresh, ["spark", "merge"], mode="disjunctive",
                          k=10)
    assert [(r["doc_id"], round(r["score"], 6)) for r in a.collect()] == [
        (r["doc_id"], round(r["score"], 6)) for r in b.collect()
    ]


def test_multipass_round_robin_and_seq(spark, parent):
    _docs, tables = parent
    ids_all = sorted(r["doc_id"] for r in tables.norms.collect())
    rr = multi_pass_index_splitter(tables, 3, seq=False)
    got = [sorted(r["doc_id"] for r in p.norms.collect()) for p in rr]
    for i, ids in enumerate(got):
        assert all(j % 3 == i for j in ids)
    assert sorted(sum(got, [])) == ids_all

    sq = multi_pass_index_splitter(tables, 3, seq=True)
    part_len = tables.max_doc // 3
    got = [sorted(r["doc_id"] for r in p.norms.collect()) for p in sq]
    assert all(j < part_len for j in got[0])
    assert all(part_len <= j < 2 * part_len for j in got[1])
    # last part absorbs the rounding remainder
    assert all(j >= 2 * part_len for j in got[2])
    assert sorted(sum(got, [])) == ids_all


def test_merge_indexes_equals_fresh_build(make_index, spark):
    """IndexMergeTool analog: merging shard indexes must equal a fresh
    build of the union — identical stats and identical double-precision
    scores, including a term present in only one shard."""
    from lucene_solr_spark.index.splitter import merge_indexes
    from lucene_solr_spark.search.bruteforce import search_bruteforce

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["alpha beta", "alpha alpha rare", "beta gap",
             "alpha beta gap", "gap gap", "beta beta alpha"])],
        "doc_id long, text string",
    )
    single = make_index(docs, analyzer="simple", id_col="doc_id")
    s1 = make_index(docs.filter("doc_id < 3"), analyzer="simple",
                     id_col="doc_id")
    s2 = make_index(
        docs.filter("doc_id >= 3").withColumn("doc_id", docs.doc_id - 3),
        analyzer="simple", id_col="doc_id",
    )
    merged = merge_indexes([s1, s2])
    assert merged.doc_count == single.doc_count
    assert merged.sum_total_term_freq == single.sum_total_term_freq
    assert merged.max_doc == single.max_doc
    d_single = {r["term"]: (r["df"], r["cf"])
                for r in single.dictionary.collect()}
    d_merged = {r["term"]: (r["df"], r["cf"])
                for r in merged.dictionary.collect()}
    assert d_single == d_merged
    for terms in (["alpha", "beta"], ["rare"], ["gap", "rare"]):
        a = {(r["doc_id"], r["score"]) for r in search_bruteforce(
            single, terms, "disjunctive", k=None, precision="double"
        ).collect()}
        b = {(r["doc_id"], r["score"]) for r in search_bruteforce(
            merged, terms, "disjunctive", k=None, precision="double"
        ).collect()}
        assert a == b and a


def test_merge_indexes_rejects_sparse_shard(make_index, spark):
    import pytest

    from lucene_solr_spark.index.splitter import merge_indexes

    docs = spark.createDataFrame(
        [(5, "alpha beta")], "doc_id long, text string"
    )
    sparse = make_index(docs, analyzer="simple", id_col="doc_id")
    with pytest.raises(ValueError, match="not dense"):
        merge_indexes([sparse, sparse])
    with pytest.raises(ValueError):
        merge_indexes([])


def test_postings_of_and_lookup_df_match_the_relations(spark, parent):
    """Every index kind answers a query's reads like its relations:
    ``postings_of(terms)`` is ``postings`` filtered to the terms (as a
    multiset) and ``lookup_df(terms)`` is their dictionary rows — on the
    SegmentedIndex (pruned block decode, driver-side lookup), a split
    part and a two-shard multi-reader."""
    from collections import Counter

    _, tables = parent
    head = [r["term"] for r in tables.dictionary.orderBy(F.desc("df")).limit(2).collect()]
    indexes = {
        "segmented": tables,
        "split": filter_index(tables, F.col("doc_id") % 3 == 1),
        "multi_reader": multi_reader([tables, tables]),
    }
    for name, ix in indexes.items():
        for terms in ([head[0], head[1], head[0], "zzznotaterm"], []):
            want = ix.postings.filter(F.col("term").isin(terms)).collect()
            got = ix.postings_of(terms).collect()
            assert Counter(map(tuple, got)) == Counter(map(tuple, want)), name
            assert bool(got) == bool(terms), name
            rows = ix.dictionary.filter(F.col("term").isin(terms)).collect()
            assert ix.lookup_df(terms) == {r["term"]: r["df"] for r in rows}, name

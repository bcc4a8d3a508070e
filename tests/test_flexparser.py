"""Flexible StandardQueryParser: multi-field expansion semantics.

Pins MultiFieldQueryNodeProcessor behavior: unfielded clauses expand
across fields with scores SUMMED (BooleanQuery SHOULD), AND-operator
requires every term matched in at least one field.
"""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.search.flexparser import (
    parse_standard,
    standard_multifield_search,
)


@pytest.fixture(scope="module")
def two_fields(make_index, spark):
    rows = [
        (0, "spark merge engine", "spark tuning"),
        (1, "merge policy deep dive", "merge basics"),
        (2, "spark only here", "unrelated title"),
        (3, "nothing relevant", "spark merge title"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, body: string, title: string")
    return {
        "body": make_index(df.select("doc_id", F.col("body").alias("text")),
                            analyzer="simple", id_col="doc_id"),
        "title": make_index(df.select("doc_id", F.col("title").alias("text")),
                             analyzer="simple", id_col="doc_id"),
    }


def test_grammar_is_classic():
    p = parse_standard("+spark merge -vector")
    assert [t for t, _ in p.must] == ["spark"]
    assert p.must_not == ["vector"]
    # open ranges parse (OpenRangeQueryNodeProcessor analog)
    p2 = parse_standard("n:[5 TO *]")
    assert p2.filters == [("range", "n", 5.0, None, True, True)]


def test_and_requires_each_term_any_field(two_fields):
    out = standard_multifield_search(
        two_fields, "spark merge", default_operator="and", k=None
    ).collect()
    got = {r.doc_id for r in out}
    # doc 0: both in body; doc 3: both in title; doc 1/2: one term only
    assert got == {0, 3}


def test_or_matches_any_term(two_fields):
    out = standard_multifield_search(
        two_fields, "spark merge", default_operator="or", k=None
    ).collect()
    assert {r.doc_id for r in out} == {0, 1, 2, 3}


def test_scores_sum_across_fields(two_fields):
    """A term matching in BOTH fields outscores the same single-field
    tf — the SHOULD-sum combiner, not dismax max."""
    both = standard_multifield_search(two_fields, "spark", k=None).collect()
    scores = {r.doc_id: r.score for r in both}
    # doc 0 has 'spark' in body AND title; doc 2 only in body
    assert scores[0] > scores[2]

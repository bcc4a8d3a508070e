"""explain_scores: per-(doc, term) BM25 factor breakdown.

Invariant (mirrors Explanation.getValue() == scorer score,
reference search/similarities/BM25Similarity.java:245-297 and
CheckHits.verifyExplanation): summing contribution per doc reproduces
the brute-force disjunctive score exactly (double pipeline).
"""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.search.bruteforce import search_bruteforce
from lucene_solr_spark.search.explain import explain_scores

DOCS = [
    (0, "spark merge window spark"),
    (1, "merge merge merge table scan"),
    (2, "window window spark filter"),
    (3, "nothing to see"),
]


@pytest.fixture(scope="module")
def idx(make_index, spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return make_index(df, analyzer="simple", id_col="doc_id")


def test_explain_matches_bruteforce_scores(idx):
    terms = ["spark", "merge", "window"]
    expl = explain_scores(idx, terms, precision="double")
    summed = {
        r.doc_id: r.s
        for r in expl.groupBy("doc_id")
        .agg(F.sum("contribution").alias("s"))
        .collect()
    }
    brute = {
        r.doc_id: r.score
        for r in search_bruteforce(
            idx, terms, mode="disjunctive", k=None, precision="double"
        ).collect()
    }
    assert set(summed) == set(brute) == {0, 1, 2}
    for d in brute:
        assert summed[d] == pytest.approx(brute[d], abs=1e-12)


def test_explain_factor_columns(idx):
    rows = {
        (r.doc_id, r.term): r
        for r in explain_scores(idx, ["spark"], precision="double").collect()
    }
    r = rows[(0, "spark")]
    assert r.freq == 2 and r.df == 2 and r.dl == 4
    assert 0 < r.tf_score < 1
    assert r.contribution == pytest.approx(r.weight * r.tf_score)


def test_explain_empty_for_absent_terms(idx):
    assert explain_scores(idx, ["zzz"], precision="double").count() == 0

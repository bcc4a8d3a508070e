"""Naive Bayes classifier + monitor/percolator unit tests.

Reference shapes: lucene/classification/src/test/.../
SimpleNaiveBayesClassifierTest.java (tiny labeled corpus, assert
predicted class), lucene/monitor/src/test/.../TestMonitor.java
(register queries, percolate documents, assert match sets).
"""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.operators.classify import (
    classify_naive_bayes,
    train_naive_bayes,
)
from lucene_solr_spark.operators.monitor import percolate, register_queries

DOCS = [
    (0, "goal match striker penalty football", "sports"),
    (1, "match win league striker goal", "sports"),
    (2, "election vote senate policy law", "politics"),
    (3, "vote law policy election campaign", "politics"),
    (4, "striker scores goal in big match", "sports"),
    (5, "senate passes law after vote", "politics"),
]


@pytest.fixture(scope="module")
def idx_labels(make_index, spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, label string")
    idx = make_index(df.select("doc_id", "text"), analyzer="simple", id_col="doc_id")
    return idx, df.select("doc_id", "label")


def test_naive_bayes_classifies_training_set(idx_labels):
    idx, labels = idx_labels
    model = train_naive_bayes(idx, labels)
    preds = {
        r.doc_id: r.label for r in classify_naive_bayes(idx, model).collect()
    }
    truth = {d: y for d, _, y in DOCS}
    assert preds == truth


def test_naive_bayes_scores_are_log_probs(idx_labels):
    idx, labels = idx_labels
    model = train_naive_bayes(idx, labels)
    rows = classify_naive_bayes(idx, model).collect()
    assert all(r.score < 0 for r in rows)  # log-domain


def test_percolate_conjunctive_and_msm(spark, idx_labels):
    idx, _ = idx_labels
    qt, qr = register_queries(
        spark,
        [
            ("q_goal_match", ["goal", "match"], None),  # both required
            ("q_2of3", ["vote", "law", "campaign"], 2),
            ("q_absent", ["quantum"], None),
        ],
    )
    got = {
        (r.query_id, r.doc_id) for r in percolate(idx, qt, qr).collect()
    }
    assert ("q_goal_match", 0) in got and ("q_goal_match", 4) in got
    assert ("q_goal_match", 2) not in got
    # doc 2 has vote+law, doc 3 has vote+law+campaign, doc 5 vote+law
    assert {d for q, d in got if q == "q_2of3"} == {2, 3, 5}
    assert not any(q == "q_absent" for q, _ in got)


def test_percolate_duplicate_terms_dedup(spark, idx_labels):
    idx, _ = idx_labels
    qt, qr = register_queries(spark, [("q", ["goal", "goal"], None)])
    # duplicate terms collapse: required == 1 distinct term
    assert qr.collect()[0].required == 1
    docs = {r.doc_id for r in percolate(idx, qt, qr).collect()}
    assert docs == {0, 1, 4}


def test_percolate_must_not_veto(spark):
    """A registered MUST_NOT term vetoes the (query, doc) pair even when
    the required terms match (ReqExclScorer in reverse)."""
    from lucene_solr_spark.operators.monitor import (
        percolate, register_queries,
    )

    docs = spark.createDataFrame(
        [(0, "join"), (0, "hash"), (1, "join"), (2, "hash")],
        "doc_id long, term string",
    )
    qt, qr = register_queries(
        spark, [("q", ["join"], None, ["hash"])]
    )
    got = {
        (r["query_id"], r["doc_id"]) for r in percolate(docs, qt, qr).collect()
    }
    assert got == {("q", 1)}  # doc0 vetoed by 'hash', doc2 lacks 'join'
    with pytest.raises(ValueError, match="requires and prohibits"):
        register_queries(spark, [("bad", ["a"], None, ["a"])])


def test_ltr_linear_rerank(make_index, spark):
    """LinearModel rerank flips the first-pass order when a shorter doc
    with more matched terms beats a higher-BM25 one on the model."""
    from lucene_solr_spark.operators.ltr import ltr_rerank

    docs = spark.createDataFrame(
        [
            (0, "spark spark spark spark merge filler " + "pad " * 40),
            (1, "spark merge window"),
            (2, "window only here"),
            (3, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    tables = make_index(docs, analyzer="simple", id_col="doc_id")
    cand = spark.createDataFrame(
        [(0, 3.0), (1, 2.0), (2, 0.5)], "doc_id long, score double"
    )
    weights = {"f_bm25": 1.0, "n_matched": 5.0, "dl": -0.5, "max_tf": 0.0}
    got = ltr_rerank(
        tables, ["spark", "merge", "window"], cand, weights, k=3
    ).collect()
    # doc1: 2 + 15 - 1.5 = 15.5 ; doc0: 3 + 10 - 23 = -10 ; doc2: .5+5-1.5=4
    assert [r["doc_id"] for r in got] == [1, 2, 0]
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[1]["ltr_score"] == 15.5
    assert by_id[1]["n_matched"] == 3 and by_id[1]["dl"] == 3
    assert by_id[0]["n_matched"] == 2 and by_id[0]["max_tf"] == 4


def test_seeded_result_clustering(make_index, spark):
    """Carrot2-analog assignment: docs go to the seed whose term vector
    they share most (cosine over integer tf), labels are the top terms
    per cluster."""
    from lucene_solr_spark.operators.clustering import (
        cluster_labels, seeded_cluster_assign,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark shuffle merge spark"),
            (1, "spark shuffle partition"),
            (2, "vector index cosine"),
            (3, "vector cosine probe probe"),
            (4, "spark vector"),
        ],
        "doc_id long, text string",
    )
    tables = make_index(docs, analyzer="simple", id_col="doc_id")
    cand = docs.select("doc_id", F.lit(1.0).alias("score"))
    assign = seeded_cluster_assign(tables, cand, [0, 2])
    got = {r["doc_id"]: r["seed"] for r in assign.collect()}
    assert got[0] == 0 and got[1] == 0
    assert got[2] == 2 and got[3] == 2
    assert got[4] in (0, 2)  # shares one term with each seed
    labels = cluster_labels(tables, assign, top_terms=2).collect()
    top = {(r["seed"], r["pos"]): r["term"] for r in labels}
    assert top[(0, 1)] == "spark"  # dominant term of the spark cluster
    assert top[(2, 1)] in ("cosine", "vector", "probe")

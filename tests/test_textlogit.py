"""TextLogitStream / FeaturesSelectionStream analog tests.

Reference test shape: solr/solrj/src/test/.../stream/StreamExpressionTest
trains over a tiny labeled corpus and checks separation.
"""

import pytest

from lucene_solr_spark.operators.textlogit import (
    classify,
    select_features,
    train_text_logit,
)

DOCS = [
    (0, "good great fine nice lovely day", 1),
    (1, "good great excellent shiny result", 1),
    (2, "great nice good outcome today", 1),
    (3, "good fine nice win", 1),
    (4, "bad awful poor broken mess", 0),
    (5, "bad awful terrible fail mess", 0),
    (6, "awful poor bad crash failure", 0),
    (7, "bad poor awful lost case", 0),
]


@pytest.fixture(scope="module")
def idx_labels(make_index, spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, label int")
    idx = make_index(df.select("doc_id", "text"), analyzer="simple", id_col="doc_id")
    return idx, df.select("doc_id", "label")


def test_select_features_bounds(idx_labels):
    idx, _ = idx_labels
    feats = select_features(idx, max_features=10, min_df=2, max_df_frac=0.6)
    terms = {r.term for r in feats.collect()}
    # df-2+ class words kept; one-off words ("day", "win") dropped
    assert "good" in terms and "awful" in terms
    assert "day" not in terms and "win" not in terms


def test_train_and_classify_separates(idx_labels):
    idx, labels = idx_labels
    model = train_text_logit(
        idx, labels, max_features=10, iterations=30, learning_rate=0.5
    )
    assert model["weights"]["good"] > 0 > model["weights"]["bad"]
    preds = {r.doc_id: r.prediction for r in classify(idx, model).collect()}
    truth = {d: y for d, _, y in DOCS}
    assert preds == truth


def test_classify_covers_all_docs(idx_labels):
    idx, labels = idx_labels
    model = train_text_logit(
        idx, labels, max_features=10, iterations=2, learning_rate=0.1
    )
    out = classify(idx, model)
    assert out.count() == len(DOCS)
    assert set(out.columns) == {"doc_id", "prob", "prediction"}

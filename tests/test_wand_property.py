"""Randomized CheckHits property test for the WAND leaf kernel.

The reference's dominant test style is randomized corpora through the
full scorer stack (test-framework LuceneTestCase randomization;
CheckHits.checkTopScores runs the SAME query with pruning on and off and
asserts identical top-k — CheckHits.java:576-591, TestWANDScorer.java).

Here hypothesis drives `_leaf_topk` (the per-partition kernel that
`search_wand` ships to executors) directly on encoded posting blocks —
no Spark session, so hundreds of random corpora run in seconds:

1. pruned (block-max WAND / BMC) == COMPLETE (pruning disabled) —
   bit-identical doc ids AND float32 scores;
2. both == an independent exhaustive numpy oracle built from the raw
   token lists via the pure BM25 spec functions.
"""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.functions import bm25
from lucene_solr_spark.functions.smallfloat import int_to_byte4
from lucene_solr_spark.index.segments import _encode_segment_arrow
from lucene_solr_spark.search.scoring import term_weights
from lucene_solr_spark.search.wand import _leaf_topk

VOCAB = [f"t{i}" for i in range(8)]

doc_strategy = st.lists(
    st.integers(min_value=0, max_value=len(VOCAB) - 1), min_size=0, max_size=30
)
corpus_strategy = st.lists(doc_strategy, min_size=1, max_size=50)
query_strategy = st.lists(
    st.sampled_from(VOCAB), min_size=1, max_size=4, unique=True
)


def _build(corpus):
    """corpus (list of token-index lists) → (doc rows, postings pdf,
    counters), the postings encoded by the segment build's encoder."""
    tbl = pa.table(
        {
            # non-contiguous absolute doc ids: the kernel must not
            # assume density
            "doc_id": pa.array(np.arange(len(corpus), dtype=np.int64) * 3 + 1),
            "tokens": pa.array(
                [[VOCAB[i] for i in doc] for doc in corpus], pa.list_(pa.string())
            ),
        }
    )
    postings, norms, counters = _encode_segment_arrow(tbl, seg_id=0)
    return tbl.to_pylist(), postings.to_pandas(), counters


def _oracle(docs, query_terms, weights, cache, mode, min_should_match):
    """Exhaustive scorer from raw token lists via the pure float32 spec
    (bm25.score_term), accumulation mirroring the kernel: float32
    contributions summed in sorted-term order into float64."""
    rows = []
    n_present = len(weights)
    for doc in docs:
        doc_id, toks = doc["doc_id"], doc["tokens"]
        dl = len(toks)
        nb = int(int_to_byte4(np.array([dl]))[0])
        acc, mx, matched = 0.0, 0.0, 0
        for t in sorted(weights):
            f = toks.count(t)
            if f == 0:
                continue
            sc = float(
                bm25.score_term(
                    np.array([f], dtype=np.int64),
                    np.array([nb], dtype=np.int64),
                    weights[t],
                    cache,
                )[0]
            )
            acc += sc
            mx = max(mx, sc)
            matched += 1
        if mode == "conjunctive":
            ok = matched == n_present
        elif min_should_match:
            ok = matched >= min_should_match
        else:
            ok = matched > 0
        if ok:
            rows.append((doc_id, np.float32(mx if mode == "dismax" else acc)))
    rows.sort(key=lambda r: (-np.float64(r[1]), r[0]))
    return rows


@settings(max_examples=60, deadline=None)
@given(
    corpus=corpus_strategy,
    query=query_strategy,
    mode=st.sampled_from(["disjunctive", "conjunctive", "dismax"]),
    k=st.integers(min_value=1, max_value=12),
    msm=st.sampled_from([None, 2]),
)
def test_pruned_equals_complete_equals_oracle(corpus, query, mode, k, msm):
    if mode != "disjunctive":
        msm = None
    docs, postings, counters = _build(corpus)
    if counters["n_postings"] == 0:
        return
    dfs = postings.groupby("term")["n_docs"].sum()
    df_by_term = {t: int(dfs.get(t, 0)) for t in query}
    weights = dict(
        term_weights(df_by_term, counters["doc_count"], query, 1.0, bm25.K1, bm25.B)
    )
    n_present = len(weights)
    blocks = postings[postings["term"].isin(list(weights))]
    cache = bm25.norm_cache(
        bm25.avgdl(counters["sum_ttf"], max(counters["doc_count"], 1))
    )
    if n_present == 0 or (mode == "conjunctive" and n_present < len(query)):
        return  # engine returns empty before reaching the kernel

    pruned = _leaf_topk(blocks, weights, cache, mode, k, n_present, msm)
    complete = _leaf_topk(
        blocks, weights, cache, mode, k, n_present, msm, complete=True
    )
    # CheckHits: identical ids and bit-identical float32 scores
    assert pruned["doc_id"].tolist() == complete["doc_id"].tolist()
    assert pruned["score"].tolist() == complete["score"].tolist()

    expect = _oracle(docs, query, weights, cache, mode, msm)[:k]
    assert pruned["doc_id"].tolist() == [d for d, _ in expect]
    assert pruned["score"].tolist() == [float(s) for _, s in expect]


@settings(max_examples=25, deadline=None)
@given(corpus=corpus_strategy, query=query_strategy, k=st.integers(1, 5))
def test_search_after_cursor_is_lossless(corpus, query, k):
    """Keyset pagination: page2(after=page1[-1]) under pruning equals
    positions k..2k of the COMPLETE ranking."""
    docs, postings, counters = _build(corpus)
    if counters["n_postings"] == 0:
        return
    dfs = postings.groupby("term")["n_docs"].sum()
    df_by_term = {t: int(dfs.get(t, 0)) for t in query}
    weights = dict(
        term_weights(df_by_term, counters["doc_count"], query, 1.0, bm25.K1, bm25.B)
    )
    if not weights:
        return
    blocks = postings[postings["term"].isin(list(weights))]
    cache = bm25.norm_cache(
        bm25.avgdl(counters["sum_ttf"], max(counters["doc_count"], 1))
    )
    full = _leaf_topk(
        blocks, weights, cache, "disjunctive", 2 * k, len(weights), None,
        complete=True,
    )
    if len(full) <= k:
        return
    cursor = (float(full["score"].iloc[k - 1]), int(full["doc_id"].iloc[k - 1]))
    page2 = _leaf_topk(
        blocks, weights, cache, "disjunctive", k, len(weights), None,
        after=cursor,
    )
    want = full.iloc[k : 2 * k]
    assert page2["doc_id"].tolist() == want["doc_id"].tolist()
    assert page2["score"].tolist() == want["score"].tolist()

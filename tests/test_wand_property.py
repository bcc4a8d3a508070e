"""Randomized CheckHits property test for the WAND leaf kernel.

The reference's dominant test style is randomized corpora through the
full scorer stack (test-framework LuceneTestCase randomization;
CheckHits.checkTopScores runs the SAME query with pruning on and off and
asserts identical top-k — CheckHits.java:576-591, TestWANDScorer.java).

Here hypothesis drives `_leaf_topk` (the kernel `search_wand` runs
in-process and in its Spark leaves) directly on Arrow tables of encoded
posting blocks — no Spark session, so hundreds of random corpora run in
seconds:

1. pruned (block-max WAND / BMC) == COMPLETE (pruning disabled) —
   bit-identical doc ids AND float32 scores;
2. both == an independent exhaustive numpy oracle built from the raw
   token lists via the pure BM25 spec functions.
"""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.functions import bm25
from lucene_solr_spark.functions.smallfloat import int_to_byte4
from lucene_solr_spark.index.segments import _encode_segment_arrow
from lucene_solr_spark.search.scoring import term_weights
from lucene_solr_spark.search.wand import _Blocks, _leaf_topk

VOCAB = [f"t{i}" for i in range(8)]

doc_strategy = st.lists(
    st.integers(min_value=0, max_value=len(VOCAB) - 1), min_size=0, max_size=30
)
corpus_strategy = st.lists(doc_strategy, min_size=1, max_size=50)
query_strategy = st.lists(
    st.sampled_from(VOCAB), min_size=1, max_size=4, unique=True
)
_DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("tokens", pa.list_(pa.string()))])


def _encode(docs, seg_group=0):
    """doc rows (doc_id, tokens) → (posting blocks, counters), encoded by
    the segment build's encoder, with the leaves' seg_group column."""
    tbl = pa.Table.from_pylist(docs, _DOC_SCHEMA)
    blocks, _, counters = _encode_segment_arrow(tbl, seg_id=0)
    group = pa.array(np.full(blocks.num_rows, seg_group, np.int32))
    return blocks.append_column("seg_group", group), counters


def _build(corpus):
    """corpus (list of token-index lists) → (doc rows, posting blocks,
    counters)."""
    # non-contiguous absolute doc ids: the kernel must not assume density
    docs = [
        {"doc_id": i * 3 + 1, "tokens": [VOCAB[t] for t in doc]}
        for i, doc in enumerate(corpus)
    ]
    blocks, counters = _encode(docs)
    return docs, blocks, counters


def _query(blocks, counters, query):
    """→ (weights, the query terms' blocks, norm cache), as search_wand
    derives them from the dictionary and the index stats."""
    dfs = blocks.group_by("term").aggregate([("n_docs", "sum")]).to_pydict()
    df_by_term = dict(zip(dfs["term"], dfs["n_docs_sum"]))
    df_by_term = {t: int(df_by_term.get(t, 0)) for t in query}
    weights = dict(
        term_weights(df_by_term, counters["doc_count"], query, 1.0, bm25.K1, bm25.B)
    )
    wanted = pa.array(list(weights), pa.string())
    mine = blocks.filter(pc.is_in(blocks["term"], value_set=wanted))
    cache = bm25.norm_cache(
        bm25.avgdl(counters["sum_ttf"], max(counters["doc_count"], 1))
    )
    return weights, mine, cache


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


def _check(docs, blocks, counters, query, mode, k, msm):
    """pruned == COMPLETE == oracle, ids and float32 scores → the
    query's (weights, blocks, norm cache)."""
    weights, mine, cache = _query(blocks, counters, query)
    n_present = len(weights)
    if n_present == 0 or (mode == "conjunctive" and n_present < len(query)):
        return weights, mine, cache  # engine returns empty before the kernel

    pruned = _leaf_topk(mine, weights, cache, mode, k, n_present, msm)
    complete = _leaf_topk(mine, weights, cache, mode, k, n_present, msm, complete=True)
    # CheckHits: identical ids and bit-identical float32 scores
    assert pruned[0].tolist() == complete[0].tolist()
    assert pruned[1].tolist() == complete[1].tolist()

    expect = _oracle(docs, query, weights, cache, mode, msm)[:k]
    assert pruned[0].tolist() == [d for d, _ in expect]
    assert pruned[1].tolist() == [float(s) for _, s in expect]
    return weights, mine, cache


@settings(max_examples=60, deadline=None)
@given(
    corpus=corpus_strategy,
    query=query_strategy,
    mode=st.sampled_from(["disjunctive", "conjunctive", "dismax"]),
    k=st.integers(min_value=1, max_value=12),
    msm=st.sampled_from([None, 2]),
)
def test_pruned_equals_complete_equals_oracle(corpus, query, mode, k, msm):
    docs, blocks, counters = _build(corpus)
    if counters["n_postings"] == 0:
        return
    _check(docs, blocks, counters, query, mode, k, msm if mode == "disjunctive" else None)


def _large_corpus(seed: int, layout: str):
    """A seeded corpus of 700-1500 docs with Zipf term frequencies, so
    every term has several 128-posting blocks and a query's postings
    pass the kernel's small-leaf shortcut, split into seg_groups of
    contiguous doc ranges ("ranges"), or into two where group 0 holds
    the docs on both sides of group 1's range ("surround", the layout a
    resumed build leaves) → (doc rows, posting blocks, counters)."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(700, 1500))
    lengths = rng.integers(1, 61, n)
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    toks = rng.choice(len(VOCAB), size=int(lengths.sum()), p=p / p.sum())
    docs = [
        {"doc_id": i * 3 + 1, "tokens": [VOCAB[t] for t in doc]}
        for i, doc in enumerate(np.split(toks, np.cumsum(lengths)[:-1]))
    ]
    if layout == "surround":
        a, b = sorted(rng.choice(np.arange(1, n), 2, replace=False))
        group = np.zeros(n, np.int64)
        group[a:b] = 1
    else:
        cuts = np.sort(rng.choice(np.arange(1, n), int(rng.integers(1, 4)), replace=False))
        group = np.searchsorted(cuts, np.arange(n), "right")
    parts = [
        _encode([d for d, g in zip(docs, group) if g == sg], sg) for sg in np.unique(group)
    ]
    counters = {c: sum(cnt[c] for _, cnt in parts) for c in ("doc_count", "sum_ttf")}
    return docs, pa.concat_tables([b for b, _ in parts]), counters


@pytest.mark.parametrize("layout", ["ranges", "surround"])
@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    query=query_strategy,
    mode=st.sampled_from(["disjunctive", "conjunctive", "dismax"]),
    k=st.integers(min_value=1, max_value=12),
    msm=st.sampled_from([None, 2]),
)
def test_pruned_equals_complete_on_seg_groups(layout, seed, query, mode, k, msm):
    """Block-max bounds on multi-block terms, across seg_groups: bounds
    are searched per (seg_group, term), and in the "surround" layout one
    group's blocks span the other group's whole doc range."""
    docs, blocks, counters = _large_corpus(seed, layout)
    groups = blocks.group_by("seg_group").aggregate(
        [("first_doc", "min"), ("last_doc", "max")]
    ).sort_by("seg_group").to_pydict()
    assert len(groups["seg_group"]) >= 2
    if layout == "surround":
        lo, hi = groups["first_doc_min"], groups["last_doc_max"]
        assert lo[0] < lo[1] <= hi[1] < hi[0]
    weights, mine, cache = _check(
        docs, blocks, counters, query, mode, k, msm if mode == "disjunctive" else None
    )
    # the lossless invariant itself: every block's bound is at least the
    # score of every doc it holds
    if not weights:
        return
    scoring = "dismax" if mode == "dismax" else "disjunctive"
    every = _leaf_topk(
        mine, weights, cache, scoring, len(docs), len(weights), None, complete=True
    )
    score_of = dict(zip(every[0].tolist(), every[1].tolist()))
    held = _Blocks(mine, weights, cache)
    bound = held.bounds(scoring)
    held.decode(np.ones(len(bound), dtype=bool))
    doc_scores = np.array([score_of[d] for d in held.docs.tolist()])
    assert (bound[held.block] >= doc_scores).all()


@settings(max_examples=25, deadline=None)
@given(corpus=corpus_strategy, query=query_strategy, k=st.integers(1, 5))
def test_search_after_cursor_is_lossless(corpus, query, k):
    """Keyset pagination: page2(after=page1[-1]) under pruning equals
    positions k..2k of the COMPLETE ranking."""
    docs, blocks, counters = _build(corpus)
    if counters["n_postings"] == 0:
        return
    weights, mine, cache = _query(blocks, counters, query)
    if not weights:
        return
    full_docs, full_scores = _leaf_topk(
        mine, weights, cache, "disjunctive", 2 * k, len(weights), None,
        complete=True,
    )
    if len(full_docs) <= k:
        return
    cursor = (float(full_scores[k - 1]), int(full_docs[k - 1]))
    page_docs, page_scores = _leaf_topk(
        mine, weights, cache, "disjunctive", k, len(weights), None,
        after=cursor,
    )
    assert page_docs.tolist() == full_docs[k : 2 * k].tolist()
    assert page_scores.tolist() == full_scores[k : 2 * k].tolist()

"""CheckHits-style parity: Spark brute-force BM25 vs frozen golden top-k.

Golden fixtures come from the pure-Python exhaustive oracle
(tests/golden/golden_topk.json, scripts/make_golden.py). The Spark
DataFrame scorer must reproduce docIDs AND float32 scores bit-for-bit
for every reference query (k ∈ {1,10}, conjunctive + disjunctive).
"""

import json
import os

import numpy as np
import pytest

from lucene_solr_spark.search.bruteforce import search_bruteforce

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "golden_topk.json")


def load_golden():
    with open(GOLDEN) as f:
        return json.load(f)["queries"]


@pytest.fixture(scope="module")
def golden():
    return load_golden()


def test_index_stats_match_oracle(tiny_index, tiny_oracle):
    assert tiny_index.doc_count == tiny_oracle.doc_count
    assert tiny_index.sum_total_term_freq == tiny_oracle.sum_total_term_freq
    d = {r["term"]: (r["df"], r["cf"]) for r in tiny_index.dictionary.collect()}
    assert len(d) == len(tiny_oracle.postings)
    for t, pl in tiny_oracle.postings.items():
        assert d[t] == (len(pl), int(pl[:, 1].sum())), t


def test_view_postings_match_oracle(tiny_index, tiny_oracle):
    """The postings relation decoded from the index blocks holds exactly
    the pure-Python oracle's (term, doc_id, freq) postings, and each
    posting's norm_byte is SmallFloat.intToByte4 of its doc's length.
    The brute-force and WAND paths read the same blocks, so this is the
    check against an index built independently of them."""
    from lucene_solr_spark.functions.smallfloat import int_to_byte4

    assert tiny_index.postings.schema.simpleString() == (
        "struct<term:string,doc_id:bigint,norm_byte:int,freq:int>"
    )
    rows = tiny_index.postings.toPandas()
    got = set(zip(rows["term"], rows["doc_id"], rows["freq"]))
    want = {
        (t, int(d), int(f))
        for t, pl in tiny_oracle.postings.items()
        for d, f in pl
    }
    assert len(rows) == len(got) == len(want) and got == want
    dl = np.zeros(len(tiny_oracle.norm_bytes), np.int64)
    for pl in tiny_oracle.postings.values():
        np.add.at(dl, pl[:, 0], pl[:, 1])
    want_norm = int_to_byte4(dl)[rows["doc_id"].to_numpy()]
    assert (rows["norm_byte"].to_numpy() == want_norm).all()


def test_bruteforce_matches_golden(tiny_index, golden):
    for qid, q in golden.items():
        got = search_bruteforce(tiny_index, q["terms"], q["mode"], q["k"]).collect()
        exp = q["hits"]
        assert len(got) == len(exp), f"{qid}: row count"
        for i, (g, e) in enumerate(zip(got, exp)):
            assert g["doc_id"] == e["doc_id"], f"{qid} rank {i} docid"
            assert np.float32(g["score"]) == np.float32(e["score"]), (
                f"{qid} rank {i} score {g['score']} != {e['score']}"
            )


def test_per_turn_text_equality(tiny_index, tiny_corpus):
    """Per-row invariant (BASELINE.json input_hint): the stored fields
    read back under (conv_id, turn_idx) order reproduce the input text,
    with doc ids dense in that order."""
    back = (
        tiny_index.stored.select("conv_id", "turn_idx", "text", "doc_id")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert back["text"].tolist() == tiny_corpus["text"].tolist()
    assert back["doc_id"].tolist() == list(range(len(tiny_corpus)))

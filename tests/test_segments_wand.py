"""Segmented index: CheckIndex-style invariants, WAND parity, resume.

- invariants mirror reference index/CheckIndex.java:1239-1284,1647-1657
  (recomputed df/cf vs dictionary, postings sorted/unique, impacts
  dominate their blocks, norms vs recomputed lengths).
- WAND parity mirrors CheckHits.checkTopScores (pruned TOP_SCORES vs
  COMPLETE must agree exactly — CheckHits.java:576-591).
- resume mirrors the per-partition checkpoint requirement: crash
  mid-build, rerun, completed segments are kept and their doc ranges
  skipped, result identical.
"""

import json
import os

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.index.builder import transcripts_from_pandas
from lucene_solr_spark.index.codec import decode_blocks
from lucene_solr_spark.index.segments import build_segmented_index, read_segmented_index
from lucene_solr_spark.search.bruteforce import search_bruteforce
from lucene_solr_spark.search.wand import search_wand

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "golden_topk.json")


@pytest.fixture(scope="module")
def seg_index(spark, tiny_corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("segidx"))
    df = transcripts_from_pandas(spark, tiny_corpus)
    return build_segmented_index(
        df, index_dir, num_segments=6, seg_group_size=2, n_buckets=8
    )


def _decode_row(r, positions=False):
    """One block row → decode_blocks' (docs, freqs, norms, positions)."""
    return decode_blocks(
        [r["n_docs"]], [bytes(r["docs"])], [bytes(r["freqs"])],
        [bytes(r["norms"])], [bytes(r["positions"])] if positions else None,
    )


def _decode_all(seg_index) -> pd.DataFrame:
    rows = []
    for r in seg_index.blocks.collect():
        d, f, n, _ = _decode_row(r)
        for dd, ff, nn in zip(d, f, n):
            rows.append((r["term"], int(dd), int(ff), int(nn)))
    return pd.DataFrame(rows, columns=["term", "doc_id", "freq", "norm"])


def test_invariants_vs_oracle(seg_index, tiny_oracle):
    assert seg_index.doc_count == tiny_oracle.doc_count
    assert seg_index.sum_total_term_freq == tiny_oracle.sum_total_term_freq

    flat = _decode_all(seg_index)
    # postings strictly increasing & unique per term; equal to oracle
    assert len(flat) == sum(len(p) for p in tiny_oracle.postings.values())
    for term, grp in flat.groupby("term"):
        pl = tiny_oracle.postings[term]
        got = grp.sort_values("doc_id")
        assert got["doc_id"].is_unique
        np.testing.assert_array_equal(got["doc_id"].to_numpy(), pl[:, 0])
        np.testing.assert_array_equal(got["freq"].to_numpy(), pl[:, 1])
        # inline norm bytes match the oracle norms
        np.testing.assert_array_equal(
            got["norm"].to_numpy(), tiny_oracle.norm_bytes[pl[:, 0]]
        )

    # dictionary df/cf == recomputed
    d = {r["term"]: (r["df"], r["cf"]) for r in seg_index.dictionary.collect()}
    for term, pl in tiny_oracle.postings.items():
        assert d[term] == (len(pl), int(pl[:, 1].sum()))

    # impacts dominate every posting in their block
    for r in seg_index.blocks.collect():
        _, f, n, _ = _decode_row(r)
        impf = np.array(r["impact_freqs"])
        impn = np.array(r["impact_norms"])
        for fi, ni in zip(f, n):
            assert np.any((impf >= fi) & (impn <= ni))
        assert len(f) == r["n_docs"] and f.sum() == r["sum_freq"]
        assert r["n_docs"] <= 128


def test_norms_match(seg_index, tiny_oracle):
    norms = {
        r["doc_id"]: (r["dl"], r["norm_byte"]) for r in seg_index.norms.collect()
    }
    assert len(norms) == len(tiny_oracle.norm_bytes)
    for doc_id, nb in enumerate(tiny_oracle.norm_bytes):
        assert norms[doc_id][1] == nb


def _assert_golden(index):
    with open(GOLDEN) as f:
        golden = json.load(f)["queries"]
    for qid, q in golden.items():
        got = search_wand(index, q["terms"], q["mode"], q["k"]).collect()
        exp = q["hits"]
        assert len(got) == len(exp), f"{qid}: {len(got)} != {len(exp)}"
        for i, (g, e) in enumerate(zip(got, exp)):
            assert g["doc_id"] == e["doc_id"], f"{qid} rank {i}"
            assert np.float32(g["score"]) == np.float32(e["score"]), f"{qid} rank {i}"


def test_wand_matches_golden(seg_index, wand_legs):
    for _ in wand_legs():
        _assert_golden(seg_index)


def test_wand_msm_dismax_vs_bruteforce(seg_index, tiny_index, wand_legs):
    from lucene_solr_spark import fixtures

    vocab = fixtures.make_vocab()
    terms = [vocab[0], vocab[3], vocab[11], vocab[40]]
    for leg in wand_legs():
        for kwargs in (
            {"mode": "disjunctive", "min_should_match": 2},
            {"mode": "dismax"},
        ):
            w = search_wand(seg_index, terms, k=10, **kwargs).collect()
            bf = search_bruteforce(tiny_index, terms, k=10, **kwargs).collect()
            assert [(r["doc_id"], np.float32(r["score"])) for r in w] == [
                (r["doc_id"], np.float32(r["score"])) for r in bf
            ], (leg, kwargs)


def test_resume_from_checkpoint(spark, tiny_corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("resumeidx"))
    df = transcripts_from_pandas(spark, tiny_corpus)
    # crash in segment 3 → partial build
    with pytest.raises(Exception):
        build_segmented_index(
            df, index_dir, num_segments=6, seg_group_size=2, n_buckets=8,
            fail_on_seg=3,
        )
    seg_dirs = sorted(os.listdir(f"{index_dir}/segments"))
    done = [
        s for s in seg_dirs
        if os.path.exists(f"{index_dir}/segments/{s}/manifest.json")
    ]
    assert 0 < len(done) < 6, done
    mtimes = {
        s: os.path.getmtime(f"{index_dir}/segments/{s}/manifest.json") for s in done
    }
    # rerun without the crash: completes, skips finished segments
    idx = build_segmented_index(
        df, index_dir, num_segments=6, seg_group_size=2, n_buckets=8
    )
    for s in done:
        assert os.path.getmtime(f"{index_dir}/segments/{s}/manifest.json") == mtimes[s]
    with open(f"{index_dir}/segments/{done[0]}/manifest.json") as f:
        assert json.load(f)["resumed"] is False  # manifest itself untouched

    # resumed index answers identically to a fresh one
    fresh_dir = str(tmp_path_factory.mktemp("freshidx"))
    fresh = build_segmented_index(
        df, fresh_dir, num_segments=6, seg_group_size=2, n_buckets=8
    )
    from lucene_solr_spark import fixtures

    head = fixtures.make_vocab()[0]
    a = search_wand(idx, [head, "repeatterm"], "disjunctive", 10).collect()
    b = search_wand(fresh, [head, "repeatterm"], "disjunctive", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
    assert idx.doc_count == fresh.doc_count


def test_resume_after_boundaries_move(spark, tmp_path):
    """A rerun's range sampling puts partition boundaries elsewhere than
    the crashed build's; the resumed index must still hold every doc
    exactly once. At 20k turns the sampled boundaries move between two
    builds in one session, so reusing a committed segment by partition
    id (instead of by its doc range) loses or duplicates docs."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.index.builder import standard_tokens
    from lucene_solr_spark.sources.synth import synth_transcripts

    n = 20_000
    synth_transcripts(spark, n, seed=7).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    index_dir = str(tmp_path / "idx")
    kw = dict(num_segments=4, seg_group_size=1, n_buckets=8)
    with pytest.raises(Exception):
        build_segmented_index(corpus, index_dir, fail_on_seg=0, **kw)
    # a rerun after a crash starts without the crashed run's cached
    # range-sorted corpus (with_doc_ids persists it): drop that cache, so
    # the rerun samples its own range boundaries as a new process would
    corpus.repartitionByRange(4, "conv_id", "turn_idx").sortWithinPartitions(
        "conv_id", "turn_idx"
    ).unpersist()
    done = [
        s for s in os.listdir(f"{index_dir}/segments")
        if os.path.exists(f"{index_dir}/segments/{s}/manifest.json")
    ]
    assert 0 < len(done) < 4, done
    idx = build_segmented_index(corpus, index_dir, **kw)

    ids = idx.norms.agg(
        F.count("*"), F.countDistinct("doc_id"), F.min("doc_id"), F.max("doc_id")
    ).first()
    assert tuple(ids) == (n, n, 0, n - 1)
    lens = corpus.select(F.size(standard_tokens("text")).alias("dl"))
    want = lens.agg(F.sum((F.col("dl") > 0).cast("long")), F.sum("dl")).first()
    assert (idx.doc_count, idx.sum_total_term_freq) == tuple(want)
    assert idx.max_doc == n


def _checked_postings(index) -> dict:
    """(term, doc) → (freq, norm, positions) over every merged block,
    asserting each term's postings in a seg_group are sorted, in disjoint
    blocks bounded by first_doc/last_doc (two seg_groups' doc ranges may
    interleave after a resume)."""
    out, prev = {}, {}
    rows = index.blocks.collect()
    for r in sorted(rows, key=lambda r: (r["term"], r["seg_group"], r["first_doc"])):
        t, run = r["term"], (r["term"], r["seg_group"])
        d, f, n, pos = _decode_row(r, positions=True)
        assert (np.diff(d) > 0).all(), t
        assert (d[0], d[-1]) == (r["first_doc"], r["last_doc"]), t
        assert prev.get(run, -1) < d[0], t
        prev[run] = d[-1]
        off = np.concatenate(([0], np.cumsum(f)))
        for i, doc in enumerate(d):
            assert (t, int(doc)) not in out, (t, doc)
            out[t, int(doc)] = (int(f[i]), int(n[i]), pos[off[i]:off[i + 1]].tolist())
    return out


@pytest.mark.parametrize("seg_group_size", [None, 1], ids=["default", "1"])
def test_resume_around_committed_segment(
    spark, tiny_corpus, tmp_path, wand_legs, seg_group_size
):
    """A resumed segment can hold docs on both sides of a committed one.
    Here seg-00000 and seg-00002 lose their commit and are rebuilt as one
    segment around committed seg-00001. The default seg_group_size merges
    all of them in one seg_group; with 1, the rebuilt segment's seg_group
    surrounds the committed one's doc range. The merged postings must
    equal the full build's, sorted per term in each seg_group, and the
    pruned top-k must equal the golden answers on both executions of
    search_wand."""
    df = transcripts_from_pandas(spark, tiny_corpus)
    index_dir = str(tmp_path)
    kw = dict(n_buckets=8, index_positions=True)
    if seg_group_size:
        kw["seg_group_size"] = seg_group_size
    want = _checked_postings(build_segmented_index(df, index_dir, num_segments=4, **kw))
    for seg in ("seg-00000", "seg-00002"):
        os.remove(f"{index_dir}/segments/{seg}/manifest.json")
    idx = build_segmented_index(df, index_dir, num_segments=1, **kw)

    with open(f"{index_dir}/segments/seg-00004/manifest.json") as f:
        rebuilt = json.load(f)
    with open(f"{index_dir}/segments/seg-00001/manifest.json") as f:
        kept = json.load(f)
    assert rebuilt["min_doc"] < kept["min_doc"] < kept["max_doc"] < rebuilt["max_doc"]
    assert _checked_postings(idx) == want
    for _ in wand_legs():
        _assert_golden(idx)


def test_resume_refuses_segment_of_other_codec(spark, tiny_corpus, tmp_path):
    """A committed segment written by another block codec is never mixed
    into a resumed build: the driver refuses it before any job runs."""
    seg = tmp_path / "segments" / "seg-00000"
    seg.mkdir(parents=True)
    (seg / "manifest.json").write_text(
        json.dumps({"seg_id": 0, "min_doc": 0, "max_doc": 9, "codec": "varint-v0"})
    )
    with pytest.raises(ValueError, match="uses codec 'varint-v0'"):
        build_segmented_index(
            transcripts_from_pandas(spark, tiny_corpus), str(tmp_path),
            num_segments=2,
        )


def test_search_after_pagination(seg_index, tiny_index, wand_legs):
    """searchAfter cursor: page 2 = hits strictly after page 1's bottom;
    pages concatenate to the unpaged top-k (IndexSearcher.searchAfter /
    CursorMark semantics), identical in pruned and brute-force paths."""
    from lucene_solr_spark import fixtures

    vocab = fixtures.make_vocab()
    terms = [vocab[0], vocab[3], vocab[11]]
    bf2 = None
    for leg in wand_legs():
        page1 = search_wand(seg_index, terms, "disjunctive", 5).collect()
        anchor = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
        page2 = search_wand(seg_index, terms, "disjunctive", 5, after=anchor).collect()
        bf2 = bf2 or search_bruteforce(
            tiny_index, terms, "disjunctive", 5, after=anchor
        ).collect()
        assert [(r["doc_id"], np.float32(r["score"])) for r in page2] == [
            (r["doc_id"], np.float32(r["score"])) for r in bf2
        ], leg
        full = search_wand(seg_index, terms, "disjunctive", 10).collect()
        assert [r["doc_id"] for r in page1] + [r["doc_id"] for r in page2] == [
            r["doc_id"] for r in full
        ], leg


def test_per_term_boosts(seg_index, tiny_index):
    """BoostQuery per clause: dict boosts change weights identically in
    pruned and brute-force paths."""
    from lucene_solr_spark import fixtures

    vocab = fixtures.make_vocab()
    terms = [vocab[0], vocab[3], vocab[11]]
    boosts = {terms[0]: 2.0, terms[1]: 0.5, terms[2]: 1.0}
    w = search_wand(seg_index, terms, "disjunctive", 10, boost=boosts).collect()
    bf = search_bruteforce(tiny_index, terms, "disjunctive", 10, boost=boosts).collect()
    assert [(r["doc_id"], np.float32(r["score"])) for r in w] == [
        (r["doc_id"], np.float32(r["score"])) for r in bf
    ]
    plain = search_wand(seg_index, terms, "disjunctive", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in w] != [
        (r["doc_id"], r["score"]) for r in plain
    ]


def test_dictionary_cache_warm_query_no_lookup_job(spark, seg_index):
    """Resident-searcher df cache: the second query for the same terms
    must read its dfs from the handle's cache (absent terms negatively
    cached), and results must be identical to the cold query."""
    from lucene_solr_spark import fixtures
    from lucene_solr_spark.search.wand import search_wand

    terms = [fixtures.make_vocab()[0], "zzznotaterm"]
    cold = search_wand(seg_index, terms, "disjunctive", k=5).collect()
    assert seg_index.df_cache[terms[0]] is not None
    assert seg_index.df_cache["zzznotaterm"] is None  # negative entry
    warm = search_wand(seg_index, terms, "disjunctive", k=5).collect()
    assert [tuple(r) for r in warm] == [tuple(r) for r in cold]

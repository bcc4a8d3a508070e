"""CheckHits.checkTopScores at scale: pruned TOP_SCORES vs COMPLETE.

The tiny-corpus golden fixtures verify exact scores; this suite runs the
same-query comparison on a 60k-doc synthetic corpus where the pruning
machinery (block-max WAND seeds, block-max conjunction chunks, multiple
128-posting blocks per term, multi-segment leaves) actually engages —
mirroring test-framework/.../search/CheckHits.java:576-591 which runs
every query with totalHitsThreshold=MAX (COMPLETE) and =1 (pruned) and
asserts identical top-k. Every comparison runs on both executions of
search_wand: in-process on the driver and as Spark leaves.
"""

import numpy as np
import pytest

from lucene_solr_spark.index.segments import build_segmented_index
from lucene_solr_spark.search.wand import search_wand
from lucene_solr_spark.sources.synth import synth_transcripts, synth_term


@pytest.fixture(scope="module")
def scale_index(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("chkidx"))
    corpus = synth_transcripts(spark, 60000)
    idx = build_segmented_index(
        corpus, index_dir, num_segments=8, seg_group_size=2, n_buckets=16
    )
    idx.blocks = idx.blocks.persist()
    return idx


QUERIES = [
    ("disjunctive", [1], None),
    ("disjunctive", [1, 2, 50], None),
    ("disjunctive", [200, 900, 2500], None),
    ("disjunctive", [2, 5, 10, 17, 26, 37], None),
    ("conjunctive", [1, 2], None),
    ("conjunctive", [1, 300], None),
    ("conjunctive", [3, 6, 12], None),
    ("dismax", [1, 40, 700], None),
    ("disjunctive", [2, 9, 110, 1300], 2),
]


def _hits(df):
    return [(r["doc_id"], np.float32(r["score"])) for r in df.collect()]


@pytest.mark.parametrize("mode,ranks,msm", QUERIES)
def test_pruned_equals_complete(scale_index, mode, ranks, msm, wand_legs):
    terms = [synth_term(r) for r in ranks]
    answers = {}
    for leg in wand_legs():
        for k in (1, 10):
            pruned = _hits(search_wand(
                scale_index, terms, mode, k, min_should_match=msm
            ))
            full = _hits(search_wand(
                scale_index, terms, mode, k, min_should_match=msm, complete=True
            ))
            assert pruned == full, (leg, mode, ranks, k)
            answers[leg, k] = pruned
    for k in (1, 10):
        assert answers["in-process", k] == answers["spark", k]


def test_search_after_pruned_equals_complete(scale_index, wand_legs):
    terms = [synth_term(1), synth_term(2), synth_term(50)]
    conj = [synth_term(1), synth_term(2)]
    for leg in wand_legs():
        page1 = search_wand(scale_index, terms, "disjunctive", 10).collect()
        anchor = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
        pruned = _hits(search_wand(
            scale_index, terms, "disjunctive", 10, after=anchor
        ))
        full = _hits(search_wand(
            scale_index, terms, "disjunctive", 10, after=anchor, complete=True
        ))
        assert pruned == full, leg
        # conjunctive cursor too (exercises _conjunction_topk's after path)
        c1 = search_wand(scale_index, conj, "conjunctive", 10).collect()
        a2 = (float(c1[-1]["score"]), int(c1[-1]["doc_id"]))
        cp = _hits(search_wand(scale_index, conj, "conjunctive", 10, after=a2))
        cf = _hits(search_wand(
            scale_index, conj, "conjunctive", 10, after=a2, complete=True
        ))
        assert cp == cf, leg


def test_pruning_decodes_fewer_blocks(scale_index, monkeypatch):
    """The pruned run of a one-term disjunction decodes fewer blocks than
    its COMPLETE run, and no run decodes a block twice. Blocks are
    counted as they pass through codec.decode_blocks, in-process (Spark
    leaves decode in worker processes)."""
    from lucene_solr_spark.index import codec

    decode, seen = codec.decode_blocks, []

    def counting(counts, docs, *rest):
        seen.extend(docs)
        return decode(counts, docs, *rest)

    monkeypatch.setattr(codec, "decode_blocks", counting)
    decoded = {}
    for complete in (False, True):
        seen.clear()
        search_wand(
            scale_index, [synth_term(1)], "disjunctive", 10, complete=complete
        ).collect()
        # one term's blocks hold disjoint docs, and a block's doc payload
        # starts with its absolute first doc, so no two payloads are equal
        assert len(set(seen)) == len(seen), complete
        decoded[complete] = len(seen)
    assert 0 < decoded[False] < decoded[True], decoded

"""Positional index + index-backed phrase matching.

Oracle: Spark-side positional self-join over posexplode(tokens) — the
same token stream the index was built from, so any disagreement is a
positions-codec or matcher bug, not an analyzer difference.

Reference semantics: search/PhraseQuery.java (exact),
SloppyPhraseMatcher.java (pinned ordered-slop contract: successive gaps
in [1, slop+1]), MultiPhraseQuery.java (alternatives per slot).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import transcripts_from_pandas
from lucene_solr_spark.index.segments import build_segmented_index
from lucene_solr_spark.search.phrase import search_phrase


@pytest.fixture(scope="module")
def pos_index(spark, tiny_corpus, tmp_path_factory):
    df = transcripts_from_pandas(spark, tiny_corpus)
    return build_segmented_index(
        df,
        str(tmp_path_factory.mktemp("pos_idx")),
        num_segments=4,
        seg_group_size=2,
        n_buckets=8,
        index_positions=True,
    )


@pytest.fixture(scope="module")
def token_stream(pos_index):
    """(doc_id, pos, term) from the index's own stored+tokenized docs."""
    from lucene_solr_spark.index.builder import standard_tokens

    return pos_index.stored.select(
        "doc_id", F.posexplode(standard_tokens("text")).alias("pos", "term")
    ).cache()


def _oracle_bigram(token_stream, t1, t2, lo, hi):
    a = token_stream.filter(F.col("term") == t1).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = token_stream.filter(F.col("term") == t2).select(
        "doc_id", F.col("pos").alias("pb")
    )
    return (
        a.join(b, "doc_id")
        .filter((F.col("pb") - F.col("pa")).between(lo, hi))
        .groupBy("doc_id")
        .agg(F.count_distinct("pb").alias("phrase_freq"))
        .orderBy("doc_id")
    )


def _pick_bigram(token_stream):
    """A (t1, t2) adjacent pair that occurs in several docs."""
    pairs = (
        token_stream.alias("a")
        .join(
            token_stream.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.term").alias("t1"), F.col("b.term").alias("t2"))
        .agg(F.count_distinct("a.doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .orderBy(F.desc("nd"), "t1", "t2")
        .first()
    )
    assert pairs is not None
    return pairs["t1"], pairs["t2"]


def test_exact_phrase_matches_positional_join(pos_index, token_stream):
    t1, t2 = _pick_bigram(token_stream)
    exp = [
        (r["doc_id"], r["phrase_freq"])
        for r in _oracle_bigram(token_stream, t1, t2, 1, 1).collect()
    ]
    got = [
        (r["doc_id"], r["phrase_freq"])
        for r in search_phrase(pos_index, [t1, t2], slop=0)
        .orderBy("doc_id")
        .collect()
    ]
    assert got == exp and len(exp) >= 3


def test_sloppy_phrase_matches_windowed_join(pos_index, token_stream):
    t1, t2 = _pick_bigram(token_stream)
    exp = sorted(
        r["doc_id"]
        for r in _oracle_bigram(token_stream, t1, t2, 1, 3).collect()
    )
    got = sorted(
        r["doc_id"]
        for r in search_phrase(pos_index, [t1, t2], slop=2).collect()
    )
    assert got == exp
    # sloppy is a superset of exact
    exact = {
        r["doc_id"] for r in search_phrase(pos_index, [t1, t2]).collect()
    }
    assert exact <= set(got)


def test_three_term_phrase(pos_index, token_stream):
    tri = (
        token_stream.alias("a")
        .join(
            token_stream.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .join(
            token_stream.alias("c"),
            (F.col("a.doc_id") == F.col("c.doc_id"))
            & (F.col("c.pos") == F.col("a.pos") + 2),
        )
        .groupBy(
            F.col("a.term").alias("t1"),
            F.col("b.term").alias("t2"),
            F.col("c.term").alias("t3"),
        )
        .agg(F.count_distinct("a.doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .orderBy(F.desc("nd"), "t1", "t2", "t3")
        .first()
    )
    assert tri is not None
    t1, t2, t3 = tri["t1"], tri["t2"], tri["t3"]
    exp = sorted(
        r["doc_id"]
        for r in token_stream.alias("a")
        .join(
            token_stream.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .join(
            token_stream.alias("c"),
            (F.col("a.doc_id") == F.col("c.doc_id"))
            & (F.col("c.pos") == F.col("a.pos") + 2),
        )
        .filter(
            (F.col("a.term") == t1)
            & (F.col("b.term") == t2)
            & (F.col("c.term") == t3)
        )
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
        .collect()
    )
    got = sorted(
        r["doc_id"]
        for r in search_phrase(pos_index, [t1, t2, t3], slop=0).collect()
    )
    assert got == exp and len(exp) >= 2


def test_multiphrase_alternatives_union(pos_index, token_stream):
    t1, t2 = _pick_bigram(token_stream)
    # second slot: {t2, t2b} — union of two exact-phrase results
    t2b = _pick_bigram(token_stream.filter(F.col("term") != t2))[1]
    got = sorted(
        r["doc_id"]
        for r in search_phrase(pos_index, [t1, [t2, t2b]], slop=0).collect()
    )
    exp = sorted(
        {r["doc_id"] for r in search_phrase(pos_index, [t1, t2]).collect()}
        | {r["doc_id"] for r in search_phrase(pos_index, [t1, t2b]).collect()}
    )
    assert got == exp


def test_missing_term_and_scores(pos_index, token_stream):
    t1, t2 = _pick_bigram(token_stream)
    assert (
        search_phrase(pos_index, [t1, "zzz_not_a_term"], slop=0).count() == 0
    )
    # scores: positive, float32, ordered desc then doc asc
    rows = search_phrase(pos_index, [t1, t2], slop=0, k=5).collect()
    scores = [r["score"] for r in rows]
    assert all(s > 0 for s in scores)
    key = [(-s, r["doc_id"]) for s, r in zip(scores, rows)]
    assert key == sorted(key)


def test_non_positional_index_rejects(spark, tiny_corpus, tmp_path):
    df = transcripts_from_pandas(spark, tiny_corpus)
    idx = build_segmented_index(
        df, str(tmp_path / "nopos"), num_segments=2, seg_group_size=2,
        n_buckets=4,
    )
    assert not idx.has_positions
    with pytest.raises(ValueError):
        search_phrase(idx, ["a", "b"])


def test_positions_survive_merge(pos_index):
    """The merged blocks' positions decode to ascending in-doc offsets
    consistent with freqs (CheckIndex posting-consistency analog,
    reference index/CheckIndex.java:1239-1284)."""
    from lucene_solr_spark.index.codec import decode_blocks

    rows = pos_index.blocks.limit(200).collect()
    assert rows
    for r in rows:
        d, f, _, flat = decode_blocks(
            [r["n_docs"]], [bytes(r["docs"])], [bytes(r["freqs"])],
            [bytes(r["norms"])], [bytes(r["positions"])],
        )
        offs = np.concatenate(([0], np.cumsum(f)))
        assert len(flat) == f.sum()
        for j in range(len(d)):
            p = flat[offs[j]: offs[j + 1]]
            assert len(p) == f[j]
            assert np.all(np.diff(p) >= 1)  # strictly ascending
            assert p[0] >= 0


def test_span_near_unordered_matches_both_directions(spark, tmp_path_factory):
    """SpanNearQuery inOrder=false: 'b a' matches the unordered query
    (a, b) within slop, while the ordered sloppy phrase does not."""
    import pandas as pd

    from lucene_solr_spark.index.builder import transcripts_from_pandas
    from lucene_solr_spark.index.segments import build_segmented_index

    rows = [
        ("c0", 0, "u", "alpha beta gap gap gap", None),   # ordered adj
        ("c1", 0, "u", "beta alpha gap gap gap", None),   # reversed adj
        ("c2", 0, "u", "alpha gap gap gap beta", None),   # too far (4)
        ("c3", 0, "u", "alpha gap beta gap gap", None),   # gap 2 <= 3
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.Timestamp("2026-01-01", tz="UTC")
    df = transcripts_from_pandas(spark, pdf)
    idx = build_segmented_index(
        df, str(tmp_path_factory.mktemp("spanidx")), num_segments=2,
        seg_group_size=2, n_buckets=4, analyzer="simple",
        index_positions=True,
    )
    unordered = {
        r["doc_id"]
        for r in search_phrase(
            idx, ["alpha", "beta"], slop=2, ordered=False, k=None
        ).collect()
    }
    ordered = {
        r["doc_id"]
        for r in search_phrase(
            idx, ["alpha", "beta"], slop=2, ordered=True, k=None
        ).collect()
    }
    stored = {
        r["conv_id"]: r["doc_id"] for r in idx.stored.select(
            "conv_id", "doc_id"
        ).collect()
    }
    assert unordered == {stored["c0"], stored["c1"], stored["c3"]}
    assert ordered == {stored["c0"], stored["c3"]}  # reversed NOT ordered


def test_span_first(spark, tmp_path):
    """SpanFirstQuery: only occurrences with 0-based position < end
    qualify; span_freq counts qualifying occurrences only."""
    import tempfile

    from lucene_solr_spark.index.segments import build_segmented_index
    from lucene_solr_spark.search.phrase import span_first

    docs = spark.createDataFrame(
        [
            ("c0", 0, "spark first here"),
            ("c0", 1, "then spark again spark"),
            ("c0", 2, "way down the line comes spark"),
            ("c0", 3, "no match at all"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    idx = build_segmented_index(
        docs, str(tmp_path / "sfidx"), analyzer="simple",
        index_positions=True,
    )
    got = {
        e: sorted(
            (r["doc_id"], r["span_freq"])
            for r in span_first(idx, "spark", e).collect()
        )
        for e in (1, 2, 4, 6)
    }
    assert got[1] == [(0, 1)]
    assert got[2] == [(0, 1), (1, 1)]
    assert got[4] == [(0, 1), (1, 2)]   # second 'spark' at pos 3
    assert got[6] == [(0, 1), (1, 2), (2, 1)]
    assert span_first(idx, "absentterm", 5).count() == 0


def test_span_not(spark, tmp_path):
    """SpanNotQuery: include occurrences with an exclude term inside
    [p-pre, p+post] are vetoed; others survive, per occurrence."""
    from lucene_solr_spark.index.segments import build_segmented_index
    from lucene_solr_spark.search.phrase import span_not

    docs = spark.createDataFrame(
        [
            ("c0", 0, "spark merge now"),          # merge adjacent -> veto
            ("c0", 1, "spark alone here"),          # survives
            ("c0", 2, "merge x spark far spark"),   # pos2 veto@pre2? no:
                                                    # merge at 0, sparks at 2,4
            ("c0", 3, "no relevant terms"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    idx = build_segmented_index(
        docs, str(tmp_path / "snidx"), analyzer="simple",
        index_positions=True,
    )
    # post=1: veto if merge within [p-0, p+1] -> doc0 spark@0 merge@1 veto
    got = {
        r["doc_id"]: r["span_freq"]
        for r in span_not(idx, "spark", "merge", pre=0, post=1).collect()
    }
    assert got == {1: 1, 2: 2}
    # pre=2: doc2 spark@2 sees merge@0 within [0,2] -> vetoed, spark@4 ok
    got2 = {
        r["doc_id"]: r["span_freq"]
        for r in span_not(idx, "spark", "merge", pre=2, post=1).collect()
    }
    assert got2 == {1: 1, 2: 1}
    # no exclusions anywhere: behaves like plain term occurrences
    got3 = {
        r["doc_id"]: r["span_freq"]
        for r in span_not(idx, "spark", "absent", pre=9, post=9).collect()
    }
    assert got3 == {0: 1, 1: 1, 2: 2}


def test_span_or_union_counts(spark, tmp_path):
    """SpanOrQuery: union of the clause terms' spans; span_freq is the
    total occurrence count of any clause term per doc."""
    from lucene_solr_spark.index.segments import build_segmented_index
    from lucene_solr_spark.search.phrase import span_or

    docs = spark.createDataFrame(
        [
            ("c0", 0, "alpha beta cat gap"),
            ("c0", 1, "cat alpha beta alpha beta cat"),
            ("c0", 2, "beta gap gap"),
            ("c0", 3, "nothing here"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    idx = build_segmented_index(
        docs, str(tmp_path / "soidx"), analyzer="simple",
        index_positions=True,
    )
    got = {
        r["doc_id"]: r["span_freq"]
        for r in span_or(idx, ["alpha", "cat"]).collect()
    }
    assert got == {0: 2, 1: 4}
    # a clause absent from the dictionary is just dropped (SpanOr is a
    # disjunction), and an all-absent query matches nothing
    got2 = {
        r["doc_id"]: r["span_freq"]
        for r in span_or(idx, ["alpha", "zzz"]).collect()
    }
    assert got2 == {0: 1, 1: 2}
    assert span_or(idx, ["zzz", "yyy"]).count() == 0


def test_span_within_and_containing(spark, tmp_path):
    """SpanWithin/SpanContaining over big = ordered near(alpha, beta,
    slop=2), little = cat: within counts little occurrences inside a
    window, containing counts windows holding a little occurrence."""
    from lucene_solr_spark.index.segments import build_segmented_index
    from lucene_solr_spark.search.phrase import span_containing, span_within

    docs = spark.createDataFrame(
        [
            ("c0", 0, "alpha cat beta"),                     # 1 inside
            ("c0", 1, "alpha beta cat"),                     # cat outside
            ("c0", 2, "alpha cat cat beta"),                 # 2 inside, 1 win
            ("c0", 3, "alpha cat beta alpha cat beta"),      # 2 wins, 2 in
            ("c0", 4, "cat alpha beta"),                     # cat before win
            ("c0", 5, "alpha gap gap gap cat beta"),         # window too wide
        ],
        "conv_id string, turn_idx int, text string",
    )
    idx = build_segmented_index(
        docs, str(tmp_path / "swidx"), analyzer="simple",
        index_positions=True,
    )
    w = {
        r["doc_id"]: r["span_freq"]
        for r in span_within(idx, "cat", ("alpha", "beta"), slop=2).collect()
    }
    assert w == {0: 1, 2: 2, 3: 2}
    c = {
        r["doc_id"]: r["span_freq"]
        for r in span_containing(
            idx, ("alpha", "beta"), "cat", slop=2
        ).collect()
    }
    assert c == {0: 1, 2: 1, 3: 2}
    # any required term missing from the index -> empty
    assert span_within(idx, "zzz", ("alpha", "beta"), slop=2).count() == 0
    assert span_containing(idx, ("alpha", "zzz"), "cat", slop=2).count() == 0


def test_interval_ordered_minimal(spark, tmp_path):
    """Minimal ordered intervals (Intervals.maxwidth(ordered(a, b))):
    pa = last a before pb, no other b inside, width <= max_width."""
    from lucene_solr_spark.index.segments import build_segmented_index
    from lucene_solr_spark.search.phrase import interval_ordered

    docs = spark.createDataFrame(
        [
            ("c0", 0, "alpha alpha beta beta"),    # minimal (1,2) only
            ("c0", 1, "alpha gap beta"),           # width 3
            ("c0", 2, "beta alpha"),               # unordered -> none
            ("c0", 3, "alpha beta alpha beta"),    # two minimal pairs
        ],
        "conv_id string, turn_idx int, text string",
    )
    idx = build_segmented_index(
        docs, str(tmp_path / "ividx"), analyzer="simple",
        index_positions=True,
    )
    w2 = {
        r["doc_id"]: r["span_freq"]
        for r in interval_ordered(idx, "alpha", "beta", max_width=2).collect()
    }
    assert w2 == {0: 1, 3: 2}
    w3 = {
        r["doc_id"]: r["span_freq"]
        for r in interval_ordered(idx, "alpha", "beta", max_width=3).collect()
    }
    assert w3 == {0: 1, 1: 1, 3: 2}


def test_span_family_randomized_vs_brute(spark, tmp_path_factory):
    """Randomized corpus: every positional entry point (phrases ordered,
    unordered and multi-slot, span_first / span_position_range /
    span_not / span_or / span_within / span_containing /
    interval_ordered) agrees with a pure-Python brute-force oracle over
    the same token lists, across slop/width settings."""
    import random

    from lucene_solr_spark.index.builder import transcripts_from_pandas
    from lucene_solr_spark.index.segments import build_segmented_index
    from lucene_solr_spark.search.phrase import (
        interval_ordered, span_containing, span_or, span_within,
    )

    rng = random.Random(421)
    vocab = ["aa", "bb", "cc", "gap"]
    docs = [
        [rng.choice(vocab) for _ in range(rng.randint(5, 30))]
        for _ in range(40)
    ]
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:03d}" for i in range(len(docs))],
            "turn_idx": [0] * len(docs),
            "role": "u",
            "text": [" ".join(d) for d in docs],
            "tool": None,
        }
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.Timestamp("2026-01-01", tz="UTC")
    idx = build_segmented_index(
        transcripts_from_pandas(spark, pdf),
        str(tmp_path_factory.mktemp("span_prop")),
        num_segments=4, seg_group_size=2, n_buckets=8,
        analyzer="simple", index_positions=True,
    )
    by_doc = {
        r["conv_id"]: r["doc_id"]
        for r in idx.stored.select("conv_id", "doc_id").collect()
    }
    toks = {by_doc[f"c{i:03d}"]: d for i, d in enumerate(docs)}

    def occs(d, t):
        return [p for p, w in enumerate(toks[d]) if w == t]

    def pairs(d, slop):
        # NearSpansOrdered shortest-match: per aa occurrence, only the
        # nearest following bb; match iff that window fits in slop+1.
        bs = occs(d, "bb")
        out = []
        for pa in occs(d, "aa"):
            nxt = [pb for pb in bs if pb > pa]
            if nxt and min(nxt) - pa <= slop + 1:
                out.append((pa, min(nxt)))
        return out

    got_or = {
        r["doc_id"]: r["span_freq"]
        for r in span_or(idx, ["aa", "cc"]).collect()
    }
    want_or = {
        d: len(occs(d, "aa")) + len(occs(d, "cc"))
        for d in toks
        if occs(d, "aa") or occs(d, "cc")
    }
    assert got_or == want_or

    for slop in (0, 1, 3):
        got_w = {
            r["doc_id"]: r["span_freq"]
            for r in span_within(idx, "cc", ("aa", "bb"), slop).collect()
        }
        want_w = {}
        for d in toks:
            n = sum(
                1
                for p in occs(d, "cc")
                if any(pa <= p <= pb for pa, pb in pairs(d, slop))
            )
            if n:
                want_w[d] = n
        assert got_w == want_w, f"within slop={slop}"

        got_c = {
            r["doc_id"]: r["span_freq"]
            for r in span_containing(idx, ("aa", "bb"), "cc", slop).collect()
        }
        want_c = {}
        for d in toks:
            n = sum(
                1
                for pa, pb in pairs(d, slop)
                if any(pa <= p <= pb for p in occs(d, "cc"))
            )
            if n:
                want_c[d] = n
        assert got_c == want_c, f"containing slop={slop}"

    for width in (2, 4, 6):
        got_i = {
            r["doc_id"]: r["span_freq"]
            for r in interval_ordered(idx, "aa", "bb", width).collect()
        }
        want_i = {}
        for d in toks:
            a, b = occs(d, "aa"), occs(d, "bb")
            n = 0
            for pb in b:
                prev_a = [p for p in a if p < pb]
                if not prev_a:
                    continue
                pa = max(prev_a)
                if pb - pa + 1 > width:
                    continue
                if any(pa < p < pb for p in b):
                    continue  # not minimal
                n += 1
            if n:
                want_i[d] = n
        assert got_i == want_i, f"interval width={width}"

    # the phrase, span-first and span-not entry points, in both
    # precisions: matching docs and freqs against brute force, and each
    # score against the pinned formula — BM25 with idf = Σ idf over the
    # query terms (duplicates kept) and the doc's norm byte
    from lucene_solr_spark.functions import bm25
    from lucene_solr_spark.search.phrase import (
        span_first, span_not, span_position_range,
    )
    from lucene_solr_spark.search.scoring import norm_cache, term_weights

    n_docs, n_tokens = len(toks), sum(len(d) for d in toks.values())
    assert (idx.doc_count, idx.sum_total_term_freq) == (n_docs, n_tokens)
    df = {t: sum(t in d for d in toks.values()) for t in vocab}
    norm_byte = {r["doc_id"]: r["norm_byte"] for r in idx.norms.collect()}

    def chain_ends(d, slots, slop):
        """Distinct end positions of ordered chains, one occurrence per
        slot (any alternative), successive gaps in [1, slop+1]."""
        ends = {p for t in slots[0] for p in occs(d, t)}
        for alts in slots[1:]:
            ends = {
                p for t in alts for p in occs(d, t)
                if any(1 <= p - q <= slop + 1 for q in ends)
            }
        return len(ends)

    def unordered_ends(d, slop):
        a = occs(d, "aa")
        return sum(
            any(q != p and abs(q - p) <= slop + 1 for q in a)
            for p in occs(d, "bb")
        )

    def in_range(d, t, start, end):
        return sum(start <= p < end for p in occs(d, t))

    def not_near(d, pre, post):
        bs = occs(d, "bb")
        return sum(
            not any(p - pre <= q <= p + post for q in bs) for p in occs(d, "aa")
        )

    cases = [
        ("phrase_freq", ["aa", "bb"], lambda pr: search_phrase(
            idx, ["aa", "bb"], 0, precision=pr),
         lambda d: chain_ends(d, [("aa",), ("bb",)], 0)),
        ("phrase_freq", ["aa", "bb"], lambda pr: search_phrase(
            idx, ["aa", "bb"], 2, precision=pr),
         lambda d: chain_ends(d, [("aa",), ("bb",)], 2)),
        ("phrase_freq", ["aa", "bb"], lambda pr: search_phrase(
            idx, ["aa", "bb"], 1, precision=pr, ordered=False),
         lambda d: unordered_ends(d, 1)),
        ("phrase_freq", ["aa", "cc", "bb"], lambda pr: search_phrase(
            idx, [("aa", "cc"), "bb"], 1, precision=pr),
         lambda d: chain_ends(d, [("aa", "cc"), ("bb",)], 1)),
        ("phrase_freq", ["aa", "gap", "aa"], lambda pr: search_phrase(
            idx, ["aa", "gap", "aa"], 0, precision=pr),
         lambda d: chain_ends(d, [("aa",), ("gap",), ("aa",)], 0)),
        ("span_freq", ["cc"], lambda pr: span_first(
            idx, "cc", 6, precision=pr),
         lambda d: in_range(d, "cc", 0, 6)),
        ("span_freq", ["bb"], lambda pr: span_position_range(
            idx, "bb", 3, 12, precision=pr),
         lambda d: in_range(d, "bb", 3, 12)),
        ("span_freq", ["aa"], lambda pr: span_not(
            idx, "aa", "bb", pre=2, post=1, precision=pr),
         lambda d: not_near(d, 2, 1)),
    ]
    for precision in ("double", "float32"):
        cache = norm_cache(n_tokens, n_docs, bm25.K1, bm25.B, precision)
        for freq_col, idf_terms, run, brute in cases:
            rows = run(precision).collect()
            want = {d: n for d in toks if (n := brute(d))}
            got = {r["doc_id"]: r[freq_col] for r in rows}
            assert got == want, (precision, idf_terms)
            w = sum(
                w for _, w in term_weights(
                    df, n_docs, idf_terms, 1.0, bm25.K1, bm25.B, precision
                )
            )
            for r in rows:
                f, nb = np.int64(r[freq_col]), norm_byte[r["doc_id"]]
                if precision == "double":
                    assert r["score"] == w * (f / (f + cache[nb]))
                else:
                    want_score = bm25.score_term([f], [nb], np.float32(w), cache)
                    assert np.float32(r["score"]) == want_score[0]


def test_complex_phrase_execution(spark, tmp_path):
    """ComplexPhraseQueryParser end-to-end: group + prefix slots expand
    against the dictionary and match as a slop'd MultiPhraseQuery; a
    slot with zero expansions matches nothing."""
    from lucene_solr_spark.index.segments import build_segmented_index
    from lucene_solr_spark.search.complexphrase import complex_phrase

    docs = spark.createDataFrame(
        [
            ("c0", 0, "slow query runs"),       # slot1=slow, quer* adj
            ("c0", 1, "slowest queue runs"),    # no slot1 alternative
            ("c0", 2, "fast gap query runs"),   # gap: needs slop>=1
            ("c0", 3, "query slow runs"),       # wrong order
        ],
        "conv_id string, turn_idx int, text string",
    )
    idx = build_segmented_index(
        docs, str(tmp_path / "cpidx"), analyzer="simple",
        index_positions=True,
    )
    got0 = {r["doc_id"] for r in
            complex_phrase(idx, '"(slow fast) que*"').collect()}
    assert got0 == {0}
    got1 = {r["doc_id"] for r in
            complex_phrase(idx, '"(slow fast) que*"~1').collect()}
    assert got1 == {0, 2}
    assert complex_phrase(idx, '"(zzz yyy) que*"').count() == 0
    # max_expansions cut is deterministic (term asc): with cap 1 the
    # que* slot keeps only 'query' (< 'queue')
    got_cap = {r["doc_id"] for r in
               complex_phrase(idx, '"slo* que*"', max_expansions=1).collect()}
    assert got_cap == {0}

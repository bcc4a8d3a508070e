"""Minimal-interval algebra vs a brute-force oracle.

The brute force enumerates ALL position tuples per combinator and
minimalizes by definition (no interval contains another) — the direct
statement of minimal-interval semantics the lazy evaluator
(search/intervals.py) must reproduce. Reference:
lucene/queries/.../intervals/Intervals.java, IntervalIterator.gaps().
"""

import itertools
import random

import pytest

from lucene_solr_spark.search.intervals import (
    after, any_of, at_least, before, contained_by, containing,
    eval_intervals, interval_query, maxgaps, maxwidth, non_overlapping,
    not_contained_by, not_containing, not_within, ordered, overlapping,
    phrase, required_terms, scoring_terms, unordered, within,
)


def _minimal(ivs):
    s = set(ivs)
    return sorted(
        iv for iv in s
        if not any(j != iv and j[0] >= iv[0] and j[1] <= iv[1] for j in s)
    )


def brute(expr, pos):
    k = expr[0]
    if k == "term":
        return [(p, p, 1) for p in pos.get(expr[1], ())]
    if k == "ordered":
        subs = [brute(s, pos) for s in expr[1]]
        return _minimal(
            (t[0][0], t[-1][1], sum(x[2] for x in t))
            for t in itertools.product(*subs)
            if all(t[i][1] < t[i + 1][0] for i in range(len(t) - 1))
        )
    if k == "unordered":
        subs = [brute(s, pos) for s in expr[1]]
        return _minimal(
            (min(x[0] for x in t), max(x[1] for x in t),
             sum(x[2] for x in t))
            for t in itertools.product(*subs)
        )
    if k == "or":
        return _minimal(iv for s in expr[1] for iv in brute(s, pos))
    if k == "maxgaps":
        return [iv for iv in brute(expr[2], pos)
                if iv[1] - iv[0] + 1 - iv[2] <= expr[1]]
    if k == "maxwidth":
        return [iv for iv in brute(expr[2], pos)
                if iv[1] - iv[0] + 1 <= expr[1]]
    if k == "block":
        subs = [brute(s, pos) for s in expr[1]]
        return _minimal(
            (t[0][0], t[-1][1], sum(x[2] for x in t))
            for t in itertools.product(*subs)
            if all(t[i][1] + 1 == t[i + 1][0] for i in range(len(t) - 1))
        )
    if k == "at_least":
        n, srcs = expr[1], expr[2]
        subs = [brute(s, pos) for s in srcs]
        raw = []
        for combo in itertools.combinations(range(len(subs)), n):
            raw.extend(
                (min(x[0] for x in t), max(x[1] for x in t),
                 sum(x[2] for x in t))
                for t in itertools.product(*(subs[i] for i in combo))
            )
        return _minimal(raw)
    if k in ("within", "not_within"):
        src, n, ref = brute(expr[1], pos), expr[2], brute(expr[3], pos)
        inside = lambda s: any(
            r[0] - n <= s[0] and s[1] <= r[1] + n for r in ref
        )
        overlap = lambda s: any(
            s[0] <= r[1] + n and s[1] >= r[0] - n for r in ref
        )
        if k == "within":
            return [s_ for s_ in src if inside(s_)]
        return [s_ for s_ in src if not overlap(s_)]
    if k in ("contained_by", "not_contained_by", "overlapping",
             "non_overlapping", "before", "after"):
        src, ref = brute(expr[1], pos), brute(expr[2], pos)
        preds = {
            "contained_by": (
                lambda s, r: r[0] <= s[0] and s[1] <= r[1], True),
            "not_contained_by": (
                lambda s, r: r[0] <= s[0] and s[1] <= r[1], False),
            "overlapping": (
                lambda s, r: s[0] <= r[1] and s[1] >= r[0], True),
            "non_overlapping": (
                lambda s, r: s[0] <= r[1] and s[1] >= r[0], False),
            # reference clamp: offset(ref,start) = max(0, start-1)
            "before": (lambda s, r: s[1] <= max(0, r[0] - 1), True),
            "after": (lambda s, r: s[0] >= r[1] + 1, True),
        }
        pred, want = preds[k]
        return [s_ for s_ in src if any(pred(s_, r) for r in ref) == want]
    big, small = brute(expr[1], pos), brute(expr[2], pos)
    want = k == "containing"
    return [
        b for b in big
        if any(s0 >= b[0] and s1 <= b[1] for s0, s1, _ in small) == want
    ]


EXPRS = [
    ordered("a", "b"),
    ordered("a", "b", "c"),
    unordered("a", "b"),
    unordered("a", "b", "c"),
    any_of(ordered("a", "b"), "c"),
    any_of(unordered("a", "c"), ordered("b", "c")),
    maxgaps(1, ordered("a", "b")),
    maxgaps(0, unordered("a", "b")),
    maxwidth(4, unordered("a", "b", "c")),
    containing(maxwidth(6, ordered("a", "b")), "c"),
    not_containing(ordered("a", "b"), "c"),
    containing(unordered("a", "b"), ordered("c", "b")),
    phrase("a", "b"),
    phrase("a", "b", "c"),
    phrase(any_of("a", "g"), "b"),
    at_least(2, "a", "b", "c"),
    at_least(2, ordered("a", "b"), "c", "g"),
    contained_by("c", maxwidth(6, unordered("a", "b"))),
    not_contained_by("c", unordered("a", "b")),
    overlapping(ordered("a", "b"), unordered("b", "c")),
    non_overlapping(ordered("a", "b"), "c"),
    before("a", ordered("b", "c")),
    after("c", unordered("a", "b")),
    within("c", 2, ordered("a", "b")),
    not_within("c", 1, "a"),
]


def test_eval_matches_brute_force_randomized():
    rng = random.Random(421)
    for _ in range(800):
        toks = [rng.choice("abcg") for _ in range(rng.randint(3, 18))]
        pos = {}
        for i, t in enumerate(toks):
            pos.setdefault(t, []).append(i)
        for e in EXPRS:
            assert sorted(eval_intervals(e, pos)) == brute(e, pos), (
                e, toks
            )


def test_eval_handcases():
    # minimality: a@{0,1}, b@2 -> ordered keeps only (1,2)
    assert eval_intervals(ordered("a", "b"), {"a": [0, 1], "b": [2]}) == [
        (1, 2, 2)
    ]
    # unordered is direction-free; both windows survive (neither nests)
    assert eval_intervals(
        unordered("a", "b"), {"a": [5], "b": [2, 9]}
    ) == [(2, 5, 2), (5, 9, 2)]
    # but a nested window wins: b@4 inside (2,5)? no — (4,5) nests in (2,5)
    assert eval_intervals(
        unordered("a", "b"), {"a": [5], "b": [2, 4]}
    ) == [(4, 5, 2)]
    # or-minimalization: a term inside an ordered interval supersedes it
    got = eval_intervals(
        any_of(ordered("a", "b"), "c"), {"a": [0], "b": [4], "c": [2]}
    )
    assert got == [(2, 2, 1)]
    # gaps: width 4, inner 2 -> gaps 2
    assert eval_intervals(
        maxgaps(1, ordered("a", "b")), {"a": [0], "b": [3]}
    ) == []
    assert eval_intervals(
        maxgaps(2, ordered("a", "b")), {"a": [0], "b": [3]}
    ) == [(0, 3, 2)]


def test_required_and_scoring_terms():
    e = any_of(ordered("a", "b"), "c")
    assert required_terms(e) == set()
    assert required_terms(ordered("a", "b")) == {"a", "b"}
    nc = not_containing(ordered("a", "b"), "c")
    assert required_terms(nc) == {"a", "b"}
    assert sorted(scoring_terms(nc)) == ["a", "b"]  # excluded: no idf
    assert sorted(
        scoring_terms(containing(ordered("a", "b"), "c"))
    ) == ["a", "b", "c"]


def test_interval_query_end_to_end(spark, tmp_path):
    from lucene_solr_spark.index.segments import build_segmented_index

    docs = spark.createDataFrame(
        [
            ("c0", 0, "alpha beta gap cat"),      # ordered (0,1)
            ("c0", 1, "beta alpha"),              # unordered only
            ("c0", 2, "alpha gap cat beta"),      # cat inside window
            ("c0", 3, "cat gap gap"),             # 'or' via cat alone
            ("c0", 4, "gap gap gap"),             # nothing
        ],
        "conv_id string, turn_idx int, text string",
    )
    idx = build_segmented_index(
        docs, str(tmp_path / "ividx"), analyzer="simple",
        index_positions=True,
    )

    def docs_of(expr):
        return {
            r["doc_id"]: r["span_freq"]
            for r in interval_query(idx, expr).collect()
        }

    assert docs_of(ordered("alpha", "beta")) == {0: 1, 2: 1}
    assert docs_of(unordered("alpha", "beta")) == {0: 1, 1: 1, 2: 1}
    assert docs_of(maxwidth(2, unordered("alpha", "beta"))) == {0: 1, 1: 1}
    assert docs_of(containing(ordered("alpha", "beta"), "cat")) == {2: 1}
    assert docs_of(not_containing(ordered("alpha", "beta"), "cat")) == {0: 1}
    # doc 2's cat lies INSIDE its alpha..beta window, so the wide
    # interval is non-minimal and only the cat survives (freq 1)
    assert docs_of(any_of(ordered("alpha", "beta"), "cat")) == {
        0: 2, 2: 1, 3: 1
    }
    # absent required term -> empty; absent or-branch still matches
    assert docs_of(ordered("alpha", "zzz")) == {}
    assert docs_of(any_of(ordered("alpha", "zzz"), "cat")) == {0: 1, 2: 1, 3: 1}


def test_multiterm_expansion():
    from lucene_solr_spark.search.intervals import (
        expand_multiterm, ordered, prefix, wildcard,
    )

    d = ["scan", "slow", "small", "sort", "spark", "stream", "table"]
    e = expand_multiterm(ordered(prefix("s"), "table"), d)
    assert e == ("ordered", [
        ("or", [("term", t) for t in d if t != "table"]),
        ("term", "table"),
    ])
    w = expand_multiterm(wildcard("s?an"), d)
    assert w == ("or", [("term", "scan")])
    # no match -> empty disjunction (never matches, like an absent term)
    assert expand_multiterm(prefix("zz"), d) == ("or", [])


def test_multiterm_expansion_runs_no_job(spark, make_index):
    """Prefix and wildcard leaves expand against the dictionary on the
    driver: building the query launches no Spark job, and the hits equal
    those of an expansion over the whole collected dictionary."""
    from lucene_solr_spark.search.intervals import (
        any_of, expand_multiterm, ordered, prefix, wildcard,
    )

    docs = spark.createDataFrame(
        [
            (0, "scan table now"),
            (1, "slow table"),
            (2, "spark sql table"),
            (3, "table scan"),
            (4, "span the stream"),
        ],
        "doc_id long, text string",
    )
    idx = make_index(docs, analyzer="simple", id_col="doc_id", index_positions=True)
    all_terms = sorted(r["term"] for r in idx.dictionary.collect())
    store = spark.sparkContext._jsc.sc().statusStore()
    for expr in (
        ordered(prefix("s"), "table"),
        any_of(wildcard("s?an"), prefix("str")),
        ordered(wildcard("*an"), "table"),
        prefix("zz"),
    ):
        before = store.jobsList(None).size()
        got = interval_query(idx, expr)
        assert store.jobsList(None).size() == before, expr
        want = interval_query(idx, expand_multiterm(expr, all_terms))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), expr

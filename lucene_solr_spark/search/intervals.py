"""Minimal-interval algebra — the lucene/queries intervals module.

Reference: lucene/queries/.../intervals/Intervals.java:53-83+ (term /
ordered / unordered / or / maxgaps / maxwidth / containing /
notContaining factory methods), OrderedIntervalsSource.java,
UnorderedIntervalsSource.java, DisjunctionIntervalsSource.java,
FilteredIntervalsSource.java (MAXGAPS / MAXWIDTH),
ContainingIntervalsSource.java / NotContainingIntervalsSource.java.

Semantics: every combinator yields the MINIMAL interval set — no
returned interval contains another from the same set (the
Clarke/Cormack/Burkowski minimal-interval semantics Lucene's lazy
iterators implement). Intervals are (start, end, inner) where ``inner``
is the total width of the contributing leaf intervals, so
``gaps = (end - start + 1) - inner`` (IntervalIterator.gaps()).

Expression tree (plain tuples, built with the factory helpers below):

    ('term', t)
    ('ordered',   [sub, ...])     end_i < start_{i+1}
    ('unordered', [sub, ...])     one interval per sub, any arrangement
    ('or',        [sub, ...])     union, minimalized
    ('maxgaps',  n, sub)          filter gaps  <= n
    ('maxwidth', n, sub)          filter width <= n
    ('containing',     big, small)   big intervals holding a small one
    ('not_containing', big, small)   big intervals holding none
    ('block',     [sub, ...])        phrase: ordered with zero gaps
                                     (BlockIntervalsSource)
    ('at_least',  n, [sub, ...])     minimal windows covering >= n of
                                     the sources
                                     (MinimumShouldMatchIntervalsSource)
    ('contained_by',     small, big) small intervals inside a big one
    ('not_contained_by', small, big) small intervals inside none
    ('overlapping',     src, ref)    src intervals overlapping a ref
    ('non_overlapping', src, ref)    src intervals overlapping none
    ('before', src, ref)             src entirely before a ref start
    ('after',  src, ref)             src entirely after a ref end
    ('within', src, n, ref)          src within n positions of a ref
    ('not_within', src, n, ref)      src farther than n from every ref

Execution (interval_query): the shared span leaf runner — dictionary
df lookup bucket-pruned, per-seg_group Arrow leaf over ONLY the leaf
terms' positional blocks, per-candidate-doc evaluation of the algebra
over in-memory position lists (docs are transcript turns: tiny), global
top-k merge. Candidates are the docs containing every REQUIRED term
(intersection across conjunctive nodes; a disjunction requires only
what all branches share), so leaf cost follows the rarest required
term's postings, never the corpus. Scoring follows this engine's
pinned span contract: BM25 with freq = minimal-interval count and
idf = Σ idf over the leaf terms — a declared divergence from
IntervalQuery's saturation function (the match SET is the module's).
"""

from __future__ import annotations

import re
from bisect import bisect_left
from typing import Sequence

import numpy as np

from ..functions import bm25

__all__ = [
    "term", "ordered", "unordered", "any_of", "maxgaps", "maxwidth",
    "containing", "not_containing", "phrase", "at_least",
    "contained_by", "not_contained_by", "overlapping",
    "non_overlapping", "before", "after", "within", "not_within",
    "prefix", "wildcard", "expand_multiterm",
    "interval_query", "eval_intervals", "leaf_terms", "required_terms",
]


# ------------------------------------------------------------ constructors

def term(t: str):
    return ("term", t)


def _wrap(subs):
    out = []
    for s in subs:
        out.append(term(s) if isinstance(s, str) else s)
    if len(out) < 2:
        raise ValueError("interval combinators need >= 2 sub-sources")
    return out


def ordered(*subs):
    return ("ordered", _wrap(subs))


def unordered(*subs):
    return ("unordered", _wrap(subs))


def any_of(*subs):
    """Intervals.or(...) — 'or' is a Python keyword."""
    out = [term(s) if isinstance(s, str) else s for s in subs]
    if not out:
        raise ValueError("any_of needs >= 1 sub-source")
    return ("or", out)


def maxgaps(n: int, sub):
    return ("maxgaps", int(n), term(sub) if isinstance(sub, str) else sub)


def maxwidth(n: int, sub):
    if n < 1:
        raise ValueError("maxwidth must be >= 1")
    return ("maxwidth", int(n), term(sub) if isinstance(sub, str) else sub)


def containing(big, small):
    return ("containing",
            term(big) if isinstance(big, str) else big,
            term(small) if isinstance(small, str) else small)


def not_containing(big, small):
    return ("not_containing",
            term(big) if isinstance(big, str) else big,
            term(small) if isinstance(small, str) else small)


def _one(x):
    return term(x) if isinstance(x, str) else x


def phrase(*subs):
    """Intervals.phrase(...) — BlockIntervalsSource: sub-sources in
    order with NO gaps (Intervals.java:83-102)."""
    return ("block", _wrap(subs))


def at_least(n: int, *subs):
    """Intervals.atLeast(n, ...) — MinimumShouldMatchIntervalsSource:
    minimal windows spanning intervals from >= n of the sources
    (Intervals.java:357-359)."""
    out = [_one(s) for s in subs]
    if not 1 <= n <= len(out):
        raise ValueError("atLeast needs 1 <= n <= len(sources)")
    return ("at_least", int(n), out)


def contained_by(small, big):
    """Intervals.containedBy (Intervals.java:350-352)."""
    return ("contained_by", _one(small), _one(big))


def not_contained_by(small, big):
    """Intervals.notContainedBy (Intervals.java:338-340)."""
    return ("not_contained_by", _one(small), _one(big))


def overlapping(src, ref):
    """Intervals.overlapping (Intervals.java:273-276)."""
    return ("overlapping", _one(src), _one(ref))


def non_overlapping(src, ref):
    """Intervals.nonOverlapping (Intervals.java:264-266)."""
    return ("non_overlapping", _one(src), _one(ref))


def before(src, ref):
    """Intervals.before: src intervals ending before a ref interval
    starts — containedBy(src, extend(offset(ref, start), MAX, 0))
    (Intervals.java:364-368)."""
    return ("before", _one(src), _one(ref))


def after(src, ref):
    """Intervals.after (Intervals.java:372-376)."""
    return ("after", _one(src), _one(ref))


def within(src, n: int, ref):
    """Intervals.within: containedBy(src, extend(ref, n, n))
    (Intervals.java:300-303)."""
    return ("within", _one(src), int(n), _one(ref))


def not_within(src, n: int, ref):
    """Intervals.notWithin: nonOverlapping(src, extend(ref, n, n))
    (Intervals.java:288-291)."""
    return ("not_within", _one(src), int(n), _one(ref))


def prefix(p: str):
    """Intervals.prefix: expands over the term dictionary to a
    disjunction at query build (Intervals.java:155-160,
    MultiTermIntervalsSource.java); resolved by interval_query against
    the index dictionary before evaluation."""
    return ("prefix", p)


def wildcard(w: str):
    """Intervals.wildcard — `?` one char, `*` any run
    (Intervals.java:167-172)."""
    return ("wildcard", w)


# ------------------------------------------------------- tree introspection

def leaf_terms(expr) -> list:
    k = expr[0]
    if k == "term":
        return [expr[1]]
    if k in ("ordered", "unordered", "or", "block"):
        return [t for s in expr[1] for t in leaf_terms(s)]
    if k in ("maxgaps", "maxwidth"):
        return leaf_terms(expr[2])
    if k == "at_least":
        return [t for s in expr[2] for t in leaf_terms(s)]
    if k in ("within", "not_within"):
        return leaf_terms(expr[1]) + leaf_terms(expr[3])
    return leaf_terms(expr[1]) + leaf_terms(expr[2])


def required_terms(expr) -> set:
    """Terms a doc MUST contain to possibly match: conjunctive nodes
    union their children, a disjunction keeps only what every branch
    requires, not_containing requires only its big side."""
    k = expr[0]
    if k == "term":
        return {expr[1]}
    if k in ("ordered", "unordered", "block"):
        return set().union(*(required_terms(s) for s in expr[1]))
    if k == "or":
        reqs = [required_terms(s) for s in expr[1]]
        return set.intersection(*reqs) if reqs else set()
    if k in ("maxgaps", "maxwidth"):
        return required_terms(expr[2])
    if k == "at_least":
        # any n-subset may match; only terms EVERY subset needs (none
        # when n < len) are required
        reqs = [required_terms(s) for s in expr[2]]
        if expr[1] == len(reqs):
            return set().union(*reqs)
        return set()
    if k in ("containing", "contained_by", "overlapping",
             "before", "after"):
        return required_terms(expr[1]) | required_terms(expr[2])
    if k == "within":
        return required_terms(expr[1]) | required_terms(expr[3])
    if k == "not_within":
        return required_terms(expr[1])
    # not_containing / not_contained_by / non_overlapping:
    # the filtering side is optional
    return required_terms(expr[1])


def scoring_terms(expr) -> list:
    """Terms contributing to the idf sum: every leaf EXCEPT the small
    side of a not_containing — an excluded term never adds weight (the
    SpanNotQuery rule: buildSimWeight collects include-side stats only,
    lucene/core/.../search/spans/SpanNotQuery.java)."""
    k = expr[0]
    if k == "term":
        return [expr[1]]
    if k in ("ordered", "unordered", "or", "block"):
        return [t for s in expr[1] for t in scoring_terms(s)]
    if k in ("maxgaps", "maxwidth"):
        return scoring_terms(expr[2])
    if k == "at_least":
        return [t for s in expr[2] for t in scoring_terms(s)]
    if k in ("containing", "contained_by", "overlapping",
             "before", "after"):
        return scoring_terms(expr[1]) + scoring_terms(expr[2])
    if k == "within":
        return scoring_terms(expr[1]) + scoring_terms(expr[3])
    if k == "not_within":
        return scoring_terms(expr[1])
    # negative filters score the positive side only (SpanNot rule)
    return scoring_terms(expr[1])


# ------------------------------------------------------------- evaluation

def _minimalize(ivs: list) -> list:
    """Drop every interval that (non-strictly) contains another distinct
    interval, and duplicates — the surviving set is an antichain sorted
    by start (equivalently by end)."""
    keep, best_end = [], None
    for s, e, inner in sorted(ivs, key=lambda x: (-x[0], x[1])):
        if best_end is not None and best_end <= e:
            continue  # a kept interval with start >= s ends within (s, e)
        keep.append((s, e, inner))
        best_end = e
    keep.reverse()
    return keep


def _ordered_chains(subs: list) -> list:
    """For each interval of the LAST source, the tightest ordered chain
    ending there: greedily pick, right to left, the latest interval of
    the previous source that ends before the chosen one starts
    (sub-results are antichains, so latest start == latest end)."""
    out = []
    ends = [[iv[1] for iv in src] for src in subs[:-1]]
    for last in subs[-1]:
        nxt_start = last[0]
        inner = last[2]
        first = last
        ok = True
        for src, es in zip(reversed(subs[:-1]), reversed(ends)):
            i = bisect_left(es, nxt_start) - 1
            if i < 0:
                ok = False
                break
            first = src[i]
            inner += first[2]
            nxt_start = first[0]
        if ok:
            out.append((first[0], last[1], inner))
    return out


def _unordered_sweep(subs: list) -> list:
    """K-pointer minimum-window sweep: at each state the covering
    window of the current intervals is a candidate; advance the source
    whose current interval starts earliest. Every minimal window is a
    sweep state (classic k-list smallest-range argument)."""
    ptr = [0] * len(subs)
    out = []
    while True:
        cur = [subs[j][ptr[j]] for j in range(len(subs))]
        lo = min(c[0] for c in cur)
        hi = max(c[1] for c in cur)
        out.append((lo, hi, sum(c[2] for c in cur)))
        j = min(range(len(subs)), key=lambda j: subs[j][ptr[j]][0])
        ptr[j] += 1
        if ptr[j] >= len(subs[j]):
            return out


def eval_intervals(expr, pos: dict) -> list:
    """Minimal intervals of ``expr`` over one doc's positions
    (``pos``: term -> ascending position list) → sorted
    [(start, end, inner), ...]."""
    k = expr[0]
    if k == "term":
        return [(p, p, 1) for p in pos.get(expr[1], ())]
    if k in ("ordered", "unordered"):
        subs = [eval_intervals(s, pos) for s in expr[1]]
        if any(not s for s in subs):
            return []
        raw = (_ordered_chains(subs) if k == "ordered"
               else _unordered_sweep(subs))
        return _minimalize(raw)
    if k == "or":
        return _minimalize(
            [iv for s in expr[1] for iv in eval_intervals(s, pos)]
        )
    if k == "maxgaps":
        return [iv for iv in eval_intervals(expr[2], pos)
                if (iv[1] - iv[0] + 1) - iv[2] <= expr[1]]
    if k == "maxwidth":
        return [iv for iv in eval_intervals(expr[2], pos)
                if iv[1] - iv[0] + 1 <= expr[1]]
    if k in ("containing", "not_containing"):
        big = eval_intervals(expr[1], pos)
        small = eval_intervals(expr[2], pos)
        want = k == "containing"
        return [
            b for b in big
            if any(s0 >= b[0] and s1 <= b[1] for s0, s1, _ in small) == want
        ]
    if k == "block":
        subs = [eval_intervals(s, pos) for s in expr[1]]
        if any(not s for s in subs):
            return []
        # contiguous chain: each sub-interval starts right after the
        # previous one ends (BlockIntervalsSource); sub-results are
        # antichains so each start occurs at most once
        starts = [[iv[0] for iv in src] for src in subs]
        out = []
        for first in subs[0]:
            cur, inner, ok = first, first[2], True
            for src, st in zip(subs[1:], starts[1:]):
                i = bisect_left(st, cur[1] + 1)
                if i >= len(st) or st[i] != cur[1] + 1:
                    ok = False
                    break
                cur = src[i]
                inner += cur[2]
            if ok:
                out.append((first[0], cur[1], inner))
        return _minimalize(out)
    if k == "at_least":
        from itertools import combinations

        n, srcs = expr[1], expr[2]
        subs = [eval_intervals(s, pos) for s in srcs]
        raw = []
        for combo in combinations(range(len(subs)), n):
            picked = [subs[i] for i in combo]
            if any(not s for s in picked):
                continue
            raw.extend(
                picked[0] if n == 1 else _unordered_sweep(picked)
            )
        return _minimalize(raw)
    if k in ("contained_by", "not_contained_by",
             "overlapping", "non_overlapping",
             "before", "after"):
        src = eval_intervals(expr[1], pos)
        ref = eval_intervals(expr[2], pos)
        if k == "contained_by":
            pred = lambda s, r: r[0] <= s[0] and s[1] <= r[1]
            want = True
        elif k == "not_contained_by":
            pred = lambda s, r: r[0] <= s[0] and s[1] <= r[1]
            want = False
        elif k == "overlapping":
            pred = lambda s, r: s[0] <= r[1] and s[1] >= r[0]
            want = True
        elif k == "non_overlapping":
            pred = lambda s, r: s[0] <= r[1] and s[1] >= r[0]
            want = False
        elif k == "before":
            # containedBy(src, extend(offset(ref, start), MAX, 0)) with
            # OffsetIntervalsSource's Math.max(0, start-1) CLAMP
            # (OffsetIntervalsSource.java:64) — a ref starting at 0
            # admits a src ending at 0
            pred = lambda s, r: s[1] <= max(0, r[0] - 1)
            want = True
        else:  # after — offset is end+1, unclamped (:72)
            pred = lambda s, r: s[0] >= r[1] + 1
            want = True
        return [s_ for s_ in src
                if any(pred(s_, r) for r in ref) == want]
    if k in ("within", "not_within"):
        src = eval_intervals(expr[1], pos)
        n = expr[2]
        ref = eval_intervals(expr[3], pos)
        if k == "within":
            # containedBy(src, extend(ref, n, n)) — Intervals.java:300
            return [s_ for s_ in src
                    if any(r[0] - n <= s_[0] and s_[1] <= r[1] + n
                           for r in ref)]
        # nonOverlapping(src, extend(ref, n, n)) — Intervals.java:288
        return [s_ for s_ in src
                if not any(s_[0] <= r[1] + n and s_[1] >= r[0] - n
                           for r in ref)]
    raise ValueError(f"unknown interval node {expr!r}")


# -------------------------------------------------------------- execution

def expand_multiterm(expr, dict_terms):
    """Replace ('prefix', p) / ('wildcard', w) leaves with the or() of
    matching dictionary terms — the reference's automaton expansion
    (MultiTermIntervalsSource rewrites against the terms enum). An
    expansion with no matching term becomes a never-matching empty
    disjunction, exactly like an absent term leaf."""
    k = expr[0]
    if k == "term":
        return expr
    if k == "prefix":
        hits = [t for t in dict_terms if t.startswith(expr[1])]
        return ("or", [("term", t) for t in hits])
    if k == "wildcard":
        rx = re.compile(
            "^" + re.escape(expr[1])
            .replace(r"\*", "[a-z0-9]*").replace(r"\?", "[a-z0-9]")
            + "$"
        )
        hits = [t for t in dict_terms if rx.match(t)]
        return ("or", [("term", t) for t in hits])
    if k in ("ordered", "unordered", "or", "block"):
        return (k, [expand_multiterm(s, dict_terms) for s in expr[1]])
    if k in ("maxgaps", "maxwidth"):
        return (k, expr[1], expand_multiterm(expr[2], dict_terms))
    if k == "at_least":
        return (k, expr[1],
                [expand_multiterm(s, dict_terms) for s in expr[2]])
    if k in ("within", "not_within"):
        return (k, expand_multiterm(expr[1], dict_terms), expr[2],
                expand_multiterm(expr[3], dict_terms))
    return (k, expand_multiterm(expr[1], dict_terms),
            expand_multiterm(expr[2], dict_terms))


def _multiterm_prefixes(expr) -> set:
    """The literal prefix of every prefix/wildcard leaf in ``expr`` (a
    wildcard's text before its first ``*`` or ``?``)."""
    k = expr[0]
    if k == "prefix":
        return {expr[1]}
    if k == "wildcard":
        return {re.split(r"[*?]", expr[1], maxsplit=1)[0]}
    if k == "term":
        return set()
    if k in ("ordered", "unordered", "or", "block"):
        subs = expr[1]
    elif k in ("maxgaps", "maxwidth"):
        subs = [expr[2]]
    elif k == "at_least":
        subs = expr[2]
    elif k in ("within", "not_within"):
        subs = [expr[1], expr[3]]
    else:
        subs = [expr[1], expr[2]]
    return set().union(*(_multiterm_prefixes(s) for s in subs))


def interval_query(
    index,
    expr,
    k: int | None = None,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "double",
):
    """Run an interval expression against a positional SegmentedIndex.
    → DataFrame(doc_id, span_freq, score): span_freq = minimal-interval
    count, scored per the pinned span contract (see module doc)."""
    from .phrase import _run_span

    prefixes = _multiterm_prefixes(expr)
    if prefixes:
        # one driver-side dictionary scan, filtered to the leaves' literal
        # prefixes, resolves every multi-term leaf (the automaton-vs-
        # terms-enum intersection analog)
        expr = expand_multiterm(expr, index.terms_with_prefixes(prefixes))

    terms_all = list(dict.fromkeys(leaf_terms(expr)))
    required = sorted(required_terms(expr))

    def leaf_hits(pts):
        names = [t for t in terms_all if t in pts]
        if any(t not in pts for t in required):
            return np.empty(0, np.int64), np.empty(0, np.int64)
        occ = {}
        docsets = {}
        for t in names:
            occ[t] = pts[t].occurrences()
            docsets[t] = pts[t].all_docs()
        if required:
            cand = docsets[required[0]]
            for t in required[1:]:
                cand = np.intersect1d(cand, docsets[t])
        else:
            cand = np.unique(np.concatenate([docsets[t] for t in names]))
        hits, counts = [], []
        for doc in cand:
            pos = {}
            for t in names:
                dt, ptpos = occ[t]
                lo = np.searchsorted(dt, doc, "left")
                hi = np.searchsorted(dt, doc, "right")
                if hi > lo:
                    pos[t] = ptpos[lo:hi].tolist()
            ivs = eval_intervals(expr, pos)
            if ivs:
                hits.append(int(doc))
                counts.append(len(ivs))
        return (np.asarray(hits, np.int64), np.asarray(counts, np.int64))

    return _run_span(
        index, terms_all, required, leaf_hits, k, boost, k1, b, precision,
        idf_terms=list(dict.fromkeys(scoring_terms(expr))),
    )

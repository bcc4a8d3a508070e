"""Index-backed phrase and span matching over positional posting blocks.

The PhraseQuery and SpanQuery analogs (reference: search/PhraseQuery.java,
ExactPhraseMatcher.java, SloppyPhraseMatcher.java, search/spans/),
re-expressed for the segmented index. Every query here runs through one
runner, ``_run_span``: a driver-side df lookup, the pinned scoring env
(``_span_env``), and one ``applyInPandas`` leaf per ``seg_group`` over
the query terms' positional blocks only (term_bucket partition pruning,
same as WAND, projected to ``LEAF_COLUMNS``). A query is its
``leaf_hits`` function: {term: ``_PosTerm``} → (doc ids, freqs).
``_PosTerm`` decodes a term's blocks lazily, each at most once, in
batches through ``codec.decode_blocks`` — the block decoder the merge,
the postings view and WAND use. No query-time re-tokenization of the
corpus, so cost scales with the query terms' posting lists, not corpus
size.

Pinned phrase matching contract (this engine's SloppyPhraseMatcher
analog, simplified to ordered-slop semantics — see gate
fts_phrase_sloppy):

- a match is an ordered chain of occurrences p_1 < p_2 < … < p_n, one
  per query term in query order, with every successive gap
  ``p_{i+1} - p_i`` in ``[1, slop+1]``; ``slop=0`` ⇒ exact adjacency
  (ExactPhraseMatcher semantics).
- ``phrase_freq`` = number of distinct chain END positions per doc (for
  exact phrases this equals the classical phrase frequency).

Scoring follows Lucene's phrase and span weighting: one BM25 score with
``freq`` = the phrase (span) freq and ``idf = Σ idf(term)`` over the
query's terms (BM25Similarity.java:183-192 idf summation in
Similarity.computeWeight for multi-term stats), float32 cast points
identical to term scoring (functions/bm25.py).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bm25
from ..index import codec
from .scoring import empty_frame, norm_cache, term_weights

__all__ = ["search_phrase", "LEAF_COLUMNS"]  # + span-near via ordered=False

# the block columns a positional leaf reads
LEAF_COLUMNS = (
    "seg_group", "term", "first_doc", "last_doc", "n_docs", "docs", "freqs",
    "norms", "positions",
)

_POS_SHIFT = np.int64(1) << np.int64(32)


def _isin_sorted(sorted_vals: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Mask over ``x``: which values occur in ``sorted_vals``."""
    idx = np.searchsorted(sorted_vals, x)
    ok = idx < len(sorted_vals)
    hit = np.zeros(len(x), dtype=bool)
    hit[ok] = sorted_vals[idx[ok]] == x[ok]
    return hit


class _PosTerm:
    """One term's blocks in one leaf. Blocks decode lazily, each at most
    once, in one ``codec.decode_blocks`` batch per call that needs new
    ones."""

    def __init__(self, g: pd.DataFrame):
        g = g.sort_values("first_doc").reset_index(drop=True)
        self.first = g["first_doc"].to_numpy()
        self.last = g["last_doc"].to_numpy()
        self.n_docs = g["n_docs"].to_numpy().astype(np.int64)
        self._payloads = [g[c].tolist() for c in ("docs", "freqs", "norms", "positions")]
        self.total_docs = int(self.n_docs.sum())
        self._decoded = np.zeros(len(self.first), dtype=bool)
        self._cache: dict = {}  # block → (docs, freqs, norms, positions)

    def _postings(self, want: np.ndarray):
        """(docs, freqs, norm bytes, positions) of the blocks of mask
        ``want``, concatenated in doc order."""
        rows = np.flatnonzero(want & ~self._decoded)
        if len(rows):
            self._decoded[rows] = True
            counts = self.n_docs[rows]
            d, f, n, p = codec.decode_blocks(
                counts, *([col[i] for i in rows] for col in self._payloads)
            )
            cut = np.cumsum(counts)[:-1]
            pcut = np.cumsum(f)[cut - 1]
            for bi, *parts in zip(
                rows, np.split(d, cut), np.split(f, cut), np.split(n, cut),
                np.split(p, pcut),
            ):
                self._cache[bi] = parts
        sel = np.flatnonzero(want)
        if not len(sel):
            return (np.empty(0, np.int64),) * 4
        return tuple(map(np.concatenate, zip(*(self._cache[i] for i in sel))))

    def _overlapping(self, cand: np.ndarray) -> np.ndarray:
        """Mask of the blocks whose doc range holds a doc of sorted cand."""
        return np.searchsorted(cand, self.last, "right") > np.searchsorted(
            cand, self.first, "left"
        )

    def all_docs(self) -> np.ndarray:
        return self._postings(np.ones(len(self.first), dtype=bool))[0]

    def occurrences(self, cand: np.ndarray | None = None):
        """(doc, pos) occurrence pairs, restricted to sorted candidate
        docs when given → (docs int64, positions int64), doc-then-pos
        ascending."""
        if cand is None:
            d, f, _, p = self._postings(np.ones(len(self.first), dtype=bool))
            return np.repeat(d, f), p
        d, f, _, p = self._postings(self._overlapping(cand))
        keep = np.repeat(_isin_sorted(cand, d), f)
        return np.repeat(d, f)[keep], p[keep]

    def norms_for(self, cand: np.ndarray) -> np.ndarray:
        """norm byte per candidate doc (docs absent from this term → 0)."""
        d, _, n, _ = self._postings(self._overlapping(cand))
        out = np.zeros(len(cand), dtype=np.int64)
        hit = _isin_sorted(cand, d)
        out[np.searchsorted(cand, d[hit])] = n[hit]
        return out


def _slot_docs(slot: list) -> np.ndarray:
    """Union of the alternatives' doc sets (MultiPhraseQuery slot)."""
    return np.unique(np.concatenate([pt.all_docs() for pt in slot]))


def _slot_occurrences(slot: list, cand: np.ndarray):
    occ = [pt.occurrences(cand) for pt in slot]
    return np.concatenate([d for d, _ in occ]), np.concatenate([p for _, p in occ])


def _intersect_docs(slots: list) -> np.ndarray:
    """Leapfrog doc-set intersection across slots, rarest slot first."""
    order = sorted(
        range(len(slots)), key=lambda i: sum(pt.total_docs for pt in slots[i])
    )
    cand = _slot_docs(slots[order[0]])
    for i in order[1:]:
        if len(cand) == 0:
            return cand
        d, _ = _slot_occurrences(slots[i], cand)
        cand = np.intersect1d(cand, d, assume_unique=False)
    return cand


def search_phrase(
    index,
    terms: Sequence[str],
    slop: int = 0,
    k: int | None = None,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "float32",
    ordered: bool = True,
) -> DataFrame:
    """Phrase match over a positional SegmentedIndex.

    terms: one entry per phrase position — a plain string, or a
    list/tuple of alternative terms for that position (MultiPhraseQuery,
    reference search/MultiPhraseQuery.java). A position none of whose
    alternatives is in the index matches nothing; absent alternatives
    are dropped. idf sums every present alternative of every position.

    Returns DataFrame(doc_id long, phrase_freq long, score float) ordered
    by (score desc, doc_id asc); ``k=None`` returns every matching doc
    (the /export analog), otherwise the top-k.

    precision: "float32" (Lucene-exact cast points) or "double" (full
    double math, ANSI-SQL-reproducible — see scoring.norm_cache).
    """
    slot_terms = [
        tuple(t) if isinstance(t, (list, tuple)) else (t,) for t in terms
    ]
    if len(slot_terms) < 2:
        raise ValueError("phrase needs >= 2 positions")
    if not ordered and len(slot_terms) != 2:
        raise ValueError(
            "unordered span-near (SpanNearQuery inOrder=false) supports "
            "exactly 2 positions"
        )
    flat = [t for alts in slot_terms for t in alts]

    def leaf_hits(pts):
        slots = [[pts[t] for t in alts if t in pts] for alts in slot_terms]
        cand = _intersect_docs(slots)

        # rank-encode docs so (doc, pos) packs into one int64 key
        def keys_of(slot):
            docs, pos = _slot_occurrences(slot, cand)
            return np.searchsorted(cand, docs).astype(np.int64) * _POS_SHIFT + pos

        if ordered:
            active = np.unique(keys_of(slots[0]))  # chain frontier: (doc, last pos)
            for slot in slots[1:]:
                keys = np.sort(keys_of(slot))
                probe = (active + np.arange(1, slop + 2)[:, None]).ravel()
                active = np.unique(probe[_isin_sorted(keys, probe)])
        else:
            # SpanNearQuery inOrder=false (2 slots): match when DISTINCT
            # positions pa, pb satisfy |pa - pb| <= slop+1; freq = distinct
            # pb with a qualifying pa (underflow lands on a nonexistent
            # huge position of the previous doc — never a hit).
            keys_a = np.sort(keys_of(slots[0]))
            base = np.unique(keys_of(slots[1]))
            deltas = np.r_[-(slop + 1):0, 1:slop + 2][:, None]
            found = _isin_sorted(keys_a, (base + deltas).ravel())
            active = base[found.reshape(len(deltas), -1).any(axis=0)]
        m_docs, freq = np.unique(active // _POS_SHIFT, return_counts=True)
        return cand[m_docs], freq

    return _run_span(
        index, flat, slot_terms, leaf_hits, k, boost, k1, b, precision,
        idf_terms=flat, freq_col="phrase_freq",
    )


def span_first(
    index,
    term: str,
    end: int,
    k: int | None = None,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "double",
    start: int = 0,
) -> DataFrame:
    """SpanFirstQuery(SpanTermQuery(term), end): docs where the term
    occurs within the first ``end`` positions (0-based position
    ``< end`` — a single-term span at p has end p+1 ≤ end). Reference
    lucene/core/.../search/spans/SpanFirstQuery.java.

    ``start`` generalizes to SpanPositionRangeQuery (SpanFirst is its
    start=0 special case, SpanPositionRangeQuery.java): qualifying
    occurrences additionally need position ≥ start.

    Pinned scoring contract: BM25 with ``freq`` = number of qualifying
    occurrences (span_freq), the same shape phrase scoring uses — the
    reference's SpanScorer sloppyFreq reduces to this for zero-length
    single-term spans."""

    def leaf_hits(pts):
        docs, pos = pts[term].occurrences()
        return np.unique(docs[(pos < end) & (pos >= start)], return_counts=True)

    return _run_span(
        index, [term], [term], leaf_hits, k, boost, k1, b, precision
    )


def _span_env(index, df_by_term, idf_terms, boost, k1, b, precision):
    """(w_sum, norm_cache) for the pinned span scoring contract: BM25
    with idf = Σ idf(t) over ``idf_terms`` (SpanWeight.buildSimWeight
    collects TermStatistics for every term in the span tree — reference
    lucene/core/.../search/spans/SpanWeight.java:86-101)."""
    raw = sum(
        float(w) for _, w in term_weights(
            df_by_term, index.doc_count, idf_terms, boost, k1, b, precision
        )
    )
    cache = norm_cache(index.sum_total_term_freq, index.doc_count, k1, b, precision)
    if precision == "double":
        return np.float64(raw), cache
    return np.float32(raw), cache


def _run_span(
    index,
    needed: Sequence[str],
    required: Sequence,
    leaf_hits,
    k: int | None,
    boost: float,
    k1,
    b,
    precision: str,
    idf_terms: Sequence[str] | None = None,
    freq_col: str = "span_freq",
):
    """The positional-query runner: df lookup (``SegmentedIndex.
    lookup_df``), pinned BM25 span scoring env, per-``seg_group``-leaf
    matching over the needed terms' positional blocks only.

    leaf_hits(pts: dict[term, _PosTerm]) -> (hit_docs int64, freq int64).
    Each entry of ``required`` is a term, or a tuple of alternative
    terms; one with no term in the dictionary (or in a leaf)
    short-circuits to empty — span composition is conjunctive across its
    required inputs. ``idf_terms`` (default ``needed``) keeps duplicates.
    Returns DataFrame(doc_id long, <freq_col> long, score) ordered by
    (score desc, doc_id asc), the top-k unless ``k`` is None."""
    if not getattr(index, "has_positions", False):
        raise ValueError(
            "index was built without positions "
            "(build_segmented_index(..., index_positions=True))"
        )
    double = precision == "double"
    schema = f"doc_id long, {freq_col} long, score {'double' if double else 'float'}"
    needed = list(dict.fromkeys(needed))
    req = [(r,) if isinstance(r, str) else tuple(r) for r in required]
    df_by_term = index.lookup_df(needed)
    present = [t for t in needed if t in df_by_term]
    if not present or not all(any(t in df_by_term for t in alts) for alts in req):
        return empty_frame(index.blocks.sparkSession, schema)
    w_sum, cache = _span_env(
        index, df_by_term,
        [t for t in (needed if idf_terms is None else idf_terms) if t in df_by_term],
        boost, k1, b, precision,
    )
    blocks = index.blocks_of(present).select(*LEAF_COLUMNS)

    def leaf(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = {t: _PosTerm(g) for t, g in pdf.groupby("term")}
        if all(any(t in pts for t in alts) for alts in req):
            hit_docs, freq = leaf_hits(pts)
        else:
            hit_docs = freq = np.empty(0, np.int64)
        norms = np.zeros(len(hit_docs), dtype=np.int64)
        for pt in pts.values():
            if norms.all():
                break
            norms = np.where(norms > 0, norms, pt.norms_for(hit_docs))
        if double:
            score = float(w_sum) * (freq / (freq + cache[norms & 0xFF]))
        else:
            score = bm25.score_term(
                freq.astype(np.int64), norms, np.float32(w_sum), cache
            )
        return pd.DataFrame(
            {"doc_id": hit_docs, freq_col: freq.astype(np.int64), "score": score}
        )

    local = blocks.groupBy("seg_group").applyInPandas(leaf, schema=schema)
    out = local.orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(k) if k is not None else out


def span_or(
    index,
    terms: Sequence[str],
    k: int | None = None,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "double",
) -> DataFrame:
    """SpanOrQuery(SpanTermQuery(t) for t in terms): the union of the
    clauses' spans (reference lucene/core/.../search/spans/
    SpanOrQuery.java). One token per position, so span_freq = total
    occurrences of any clause term per doc; idf = Σ idf(term) per the
    span-weight contract. Cost scales with the clause terms' posting
    lists (bucket-pruned), never the corpus."""

    def leaf_hits(pts):
        parts = []
        for t in terms:
            pt = pts.get(t)
            if pt is None:
                continue
            parts.append(pt.occurrences()[0])
        if not parts:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.unique(np.concatenate(parts), return_counts=True)

    return _run_span(
        index, list(terms), [], leaf_hits, k, boost, k1, b, precision
    )


def _ordered_pairs(pts, first: str, second: str, slop: int):
    """Ordered big spans per NearSpansOrdered shortest-match semantics:
    for each occurrence of ``first`` (at pa), the NEAREST following
    occurrence of ``second`` (at pb) — a match only when that shortest
    window satisfies 0 < pb - pa <= slop + 1 (reference lucene/core/
    .../search/spans/NearSpansOrdered.java stretchToOrder +
    shrinkToAfterShortestMatch: with a@0, b@{1,2}, slop>=1 exactly one
    span (0..1) is emitted, never (0..2)). Returns packed
    (doc*SHIFT + pa) keys → (pair_start_keys, deltas)."""
    a, b_ = pts[first], pts[second]
    cand = np.intersect1d(a.all_docs(), b_.all_docs())
    if not len(cand):
        z = np.empty(0, np.int64)
        return z, z
    da, pa = a.occurrences(cand)
    db, pb = b_.occurrences(cand)
    ka = da * _POS_SHIFT + pa
    kb = np.sort(db * _POS_SHIFT + pb)
    # first kb strictly greater than each ka = nearest following second;
    # positions are unique per doc and _POS_SHIFT >> slop, so a delta
    # within slop+1 can only come from the same doc.
    idx = np.searchsorted(kb, ka, side="right")
    ok = idx < len(kb)
    delta = np.full(len(ka), np.int64(_POS_SHIFT), dtype=np.int64)
    delta[ok] = kb[idx[ok]] - ka[ok]
    hit = delta <= np.int64(slop + 1)
    if not hit.any():
        z = np.empty(0, np.int64)
        return z, z
    return ka[hit], delta[hit]


def span_within(
    index,
    little: str,
    big: Sequence[str],
    slop: int = 0,
    k: int | None = None,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "double",
) -> DataFrame:
    """SpanWithinQuery(big=SpanNearQuery([a, b], slop, inOrder=true),
    little=SpanTermQuery(little)): occurrences of ``little`` that lie
    inside an ordered a..b window (a at pa, b at pb, 0 < pb-pa <=
    slop+1, pa <= p <= pb). Reference lucene/core/.../search/spans/
    SpanWithinQuery.java (SpanContainQuery subclass — the little side
    is returned). span_freq = qualifying little occurrences; idf = Σ
    idf over the whole span tree {little, a, b}."""
    a_term, b_term = big

    def leaf_hits(pts):
        starts, deltas = _ordered_pairs(pts, a_term, b_term, slop)
        dl, pl = pts[little].occurrences()
        kl = dl * _POS_SHIFT + pl  # doc-then-pos ascending already
        if not len(starts) or not len(kl):
            return np.empty(0, np.int64), np.empty(0, np.int64)
        lo = np.searchsorted(kl, starts, "left")
        hi = np.searchsorted(kl, starts + deltas, "right")
        mark = np.zeros(len(kl) + 1, dtype=np.int64)
        np.add.at(mark, lo, 1)
        np.add.at(mark, hi, -1)
        covered = np.cumsum(mark[:-1]) > 0
        if not covered.any():
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.unique(dl[covered], return_counts=True)

    return _run_span(
        index, [little, a_term, b_term], [little, a_term, b_term],
        leaf_hits, k, boost, k1, b, precision,
    )


def span_containing(
    index,
    big: Sequence[str],
    little: str,
    slop: int = 0,
    k: int | None = None,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "double",
) -> DataFrame:
    """SpanContainingQuery(big=SpanNearQuery([a, b], slop, inOrder=true),
    little=SpanTermQuery(little)): ordered a..b windows that contain at
    least one ``little`` occurrence (big side returned — reference
    lucene/core/.../search/spans/SpanContainingQuery.java). span_freq =
    qualifying (pa, pb) windows per doc; idf = Σ idf over {a, b,
    little}."""
    a_term, b_term = big

    def leaf_hits(pts):
        starts, deltas = _ordered_pairs(pts, a_term, b_term, slop)
        dl, pl = pts[little].occurrences()
        kl = dl * _POS_SHIFT + pl
        if not len(starts) or not len(kl):
            return np.empty(0, np.int64), np.empty(0, np.int64)
        lo = np.searchsorted(kl, starts, "left")
        hi = np.searchsorted(kl, starts + deltas, "right")
        good = hi > lo
        if not good.any():
            return np.empty(0, np.int64), np.empty(0, np.int64)
        ranks = (starts[good] // _POS_SHIFT).astype(np.int64)
        return np.unique(ranks, return_counts=True)

    return _run_span(
        index, [a_term, b_term, little], [a_term, b_term, little],
        leaf_hits, k, boost, k1, b, precision,
    )


def interval_ordered(
    index,
    first: str,
    second: str,
    max_width: int,
    k: int | None = None,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "double",
) -> DataFrame:
    """Minimal-interval ordered query — the lucene/queries intervals
    module's ``Intervals.maxwidth(W, Intervals.ordered(a, b))``
    (reference lucene/queries/.../intervals/Intervals.java,
    OrderedIntervalsSource.java). A minimal ordered interval is
    (pa, pb) with a at pa, b at pb, pa < pb, where pa is the LAST a
    before pb and no other b lies strictly inside (Vigna's minimal
    interval semantics: no match interval contains another); kept when
    pb - pa + 1 <= max_width. span_freq = minimal intervals per doc;
    scoring follows this engine's pinned span contract (BM25, freq =
    interval count, idf = Σ idf{a, b}) rather than IntervalQuery's
    saturation function — declared divergence, the match SET is the
    module's."""

    def leaf_hits(pts):
        a, b_ = pts[first], pts[second]
        cand = np.intersect1d(a.all_docs(), b_.all_docs())
        if not len(cand):
            return np.empty(0, np.int64), np.empty(0, np.int64)
        da, pa = a.occurrences(cand)
        db, pb = b_.occurrences(cand)
        ka = da * _POS_SHIFT + pa  # sorted: doc asc, pos asc
        kb = db * _POS_SHIFT + pb
        idx = np.searchsorted(ka, kb) - 1  # last a strictly before b
        valid = idx >= 0
        good = np.zeros(len(kb), dtype=bool)
        ia = np.clip(idx, 0, None)
        same_doc = (ka[ia] // _POS_SHIFT) == (kb // _POS_SHIFT)
        width_ok = (kb - ka[ia]) <= np.int64(max_width - 1)
        # minimality: no other b strictly inside (pa, pb) — the previous
        # same-doc b occurrence must be <= pa
        prev_kb = np.empty(len(kb), dtype=np.int64)
        prev_kb[0] = -1
        prev_kb[1:] = kb[:-1]
        prev_same = (prev_kb // _POS_SHIFT) == (kb // _POS_SHIFT)
        minimal = ~prev_same | (prev_kb <= ka[ia])
        good = valid & same_doc & width_ok & minimal
        if not good.any():
            return np.empty(0, np.int64), np.empty(0, np.int64)
        ranks = (kb[good] // _POS_SHIFT).astype(np.int64)
        return np.unique(ranks, return_counts=True)

    return _run_span(
        index, [first, second], [first, second], leaf_hits, k, boost,
        k1, b, precision,
    )


def span_position_range(
    index,
    term: str,
    start: int,
    end: int,
    k: int | None = None,
    boost: float = 1.0,
    precision: str = "double",
) -> DataFrame:
    """SpanPositionRangeQuery(SpanTermQuery(term), start, end): the
    term's occurrences with start ≤ position and position+1 ≤ end
    (reference lucene/core/.../search/spans/SpanPositionRangeQuery
    .java — SpanFirstQuery is the start=0 case). Same leaf plan as
    span_first."""
    return span_first(
        index, term, end, k=k, boost=boost, precision=precision,
        start=start,
    )


def span_not(
    index,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    k: int | None = None,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    precision: str = "double",
) -> DataFrame:
    """SpanNotQuery(SpanTermQuery(include), SpanTermQuery(exclude),
    pre, post): occurrences of ``include`` with NO ``exclude``
    occurrence within ``[p - pre, p + post]`` in the same doc
    (reference lucene/core/.../search/spans/SpanNotQuery.java — the
    pre/post slack constructor). Scoring contract as span_first: BM25
    with freq = qualifying occurrences, idf from the include term.

    Both terms' positional blocks reach the leaf; the exclusion check is
    one vectorized searchsorted over the exclude occurrences of docs
    that contain the include term — never the corpus."""

    def leaf_hits(pts):
        docs_a, pos_a = pts[include].occurrences()
        bad = np.zeros(len(docs_a), dtype=bool)
        if exclude in pts:
            docs_b, pos_b = pts[exclude].occurrences(np.unique(docs_a))
            key_b = docs_b * _POS_SHIFT + pos_b  # doc-then-pos sorted
            key_a = docs_a * _POS_SHIFT + pos_a
            bad = np.searchsorted(key_b, key_a + post, "right") > np.searchsorted(
                key_b, key_a - pre, "left"
            )
        return np.unique(docs_a[~bad], return_counts=True)

    return _run_span(
        index, [include, exclude], [include], leaf_hits, k, boost, k1, b,
        precision, idf_terms=[include],
    )

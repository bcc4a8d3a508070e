"""Index-backed phrase matching over positional posting blocks.

The PhraseQuery analog (reference: search/PhraseQuery.java,
ExactPhraseMatcher.java, SloppyPhraseMatcher.java), re-expressed for the
segmented index: each ``seg_group`` leaf is matched independently by an
``applyInPandas`` worker over the positional blocks of the query terms
only (term_bucket partition pruning, same as WAND), and the per-leaf
results are unioned — no query-time re-tokenization of the corpus, so
phrase cost scales with the query terms' posting lists, not corpus size.

Pinned matching contract (this engine's SloppyPhraseMatcher analog,
simplified to ordered-slop semantics — see gate fts_phrase_sloppy):

- a match is an ordered chain of occurrences p_1 < p_2 < … < p_n, one
  per query term in query order, with every successive gap
  ``p_{i+1} - p_i`` in ``[1, slop+1]``; ``slop=0`` ⇒ exact adjacency
  (ExactPhraseMatcher semantics).
- ``phrase_freq`` = number of distinct chain END positions per doc (for
  exact phrases this equals the classical phrase frequency).

Scoring follows Lucene's phrase weighting: one BM25 score with
``freq = phrase_freq`` and ``idf = Σ idf(term)`` over the query terms
(BM25Similarity.java:183-192 idf summation in
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
from .scoring import term_weights

__all__ = ["search_phrase"]  # + span-near via ordered=False

_POS_SHIFT = np.int64(1) << np.int64(32)


class _PosTerm:
    """One term's blocks in one leaf, with lazy doc+position decode."""

    def __init__(self, g: pd.DataFrame):
        from ..index.codec import decode_block, decode_positions

        self._decode_block = decode_block
        self._decode_positions = decode_positions
        g = g.sort_values("first_doc").reset_index(drop=True)
        self.first = g["first_doc"].to_numpy()
        self.last = g["last_doc"].to_numpy()
        self.n_docs = g["n_docs"].to_numpy()
        self._docs_bytes = g["docs"].tolist()
        self._freqs_bytes = g["freqs"].tolist()
        self._pos_bytes = g["positions"].tolist()
        self._norms_bytes = g["norms"].tolist()
        self.total_docs = int(self.n_docs.sum())
        self._cache: dict = {}

    def blocks_overlapping(self, docs_sorted: np.ndarray) -> list:
        lo = np.searchsorted(docs_sorted, self.first, "left")
        hi = np.searchsorted(docs_sorted, self.last, "right")
        return list(np.nonzero(hi > lo)[0])

    def _block(self, bi: int):
        got = self._cache.get(bi)
        if got is None:
            d, f = self._decode_block(self._docs_bytes[bi], self._freqs_bytes[bi])
            flat, offs = self._decode_positions(self._pos_bytes[bi], f)
            n = np.frombuffer(self._norms_bytes[bi], dtype=np.uint8).astype(np.int64)
            got = self._cache[bi] = (d, f, flat, offs, n)
        return got

    def all_docs(self) -> np.ndarray:
        if not len(self.first):
            return np.empty(0, dtype=np.int64)
        return np.concatenate(
            [self._block(i)[0] for i in range(len(self.first))]
        )

    def occurrences(self, cand: np.ndarray):
        """(doc, pos) occurrence pairs restricted to sorted candidate
        docs → (docs int64, positions int64), doc-then-pos ascending."""
        d_parts, p_parts = [], []
        for bi in self.blocks_overlapping(cand):
            d, f, flat, offs, _ = self._block(bi)
            idx = np.searchsorted(cand, d)
            ok = idx < len(cand)
            hit = np.zeros(len(d), dtype=bool)
            hit[ok] = cand[idx[ok]] == d[ok]
            if not hit.any():
                continue
            keep_tok = np.repeat(hit, f)
            d_parts.append(np.repeat(d, f)[keep_tok])
            p_parts.append(flat[keep_tok])
        if not d_parts:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(d_parts), np.concatenate(p_parts)

    def norms_for(self, cand: np.ndarray) -> np.ndarray:
        """norm byte per candidate doc (docs absent from this term → 0)."""
        out = np.zeros(len(cand), dtype=np.int64)
        for bi in self.blocks_overlapping(cand):
            d, f, flat, offs, n = self._block(bi)
            idx = np.searchsorted(cand, d)
            ok = idx < len(cand)
            hit = np.zeros(len(d), dtype=bool)
            hit[ok] = cand[idx[ok]] == d[ok]
            out[idx[hit]] = n[hit]
        return out


def _slot_docs(slot: list) -> np.ndarray:
    """Union of the alternatives' doc sets (MultiPhraseQuery slot)."""
    parts = [pt.all_docs() for pt in slot]
    return np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)


def _slot_occurrences(slot: list, cand: np.ndarray):
    d_parts, p_parts = [], []
    for pt in slot:
        d, p = pt.occurrences(cand)
        d_parts.append(d)
        p_parts.append(p)
    return np.concatenate(d_parts), np.concatenate(p_parts)


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


def _leaf_phrase(
    pdf: pd.DataFrame, slot_terms: list, slop: int, ordered: bool = True
) -> pd.DataFrame:
    """One leaf → (doc_id, phrase_freq, norm_byte) for matching docs.

    slot_terms: list of tuples of alternative terms per phrase position
    (a single-alternative tuple per slot == plain PhraseQuery; several ==
    MultiPhraseQuery, reference search/MultiPhraseQuery.java).
    """
    empty = pd.DataFrame(
        {
            "doc_id": pd.Series(dtype="int64"),
            "phrase_freq": pd.Series(dtype="int64"),
            "norm_byte": pd.Series(dtype="int32"),
        }
    )
    groups = {t: g for t, g in pdf.groupby("term")}
    slots = []
    for alts in slot_terms:
        slot = [_PosTerm(groups[t]) for t in alts if t in groups]
        if not slot:  # no alternative present ⇒ phrase cannot match
            return empty
        slots.append(slot)
    cand = _intersect_docs(slots)
    if len(cand) == 0:
        return empty

    # rank-encode docs so (doc, pos) packs into one int64 key
    def key_of(docs, pos):
        ranks = np.searchsorted(cand, docs)
        return ranks.astype(np.int64) * _POS_SHIFT + pos

    d0, p0 = _slot_occurrences(slots[0], cand)
    if not ordered:
        # SpanNearQuery inOrder=false (2 slots): match when DISTINCT
        # positions pa, pb satisfy |pa - pb| <= slop+1; freq = distinct
        # pb with a qualifying pa. Same packed-key probe as the ordered
        # chain, deltas in both directions (underflow lands on a
        # nonexistent huge position of the previous doc — never a hit).
        keys_a = np.sort(key_of(d0, p0))
        db, pb = _slot_occurrences(slots[1], cand)
        base = np.unique(key_of(db, pb))
        hit = np.zeros(len(base), dtype=bool)
        for delta in range(-(slop + 1), slop + 2):
            if delta == 0:
                continue
            probe = base + np.int64(delta)
            idx = np.searchsorted(keys_a, probe)
            ok = idx < len(keys_a)
            h = np.zeros(len(probe), dtype=bool)
            h[ok] = keys_a[idx[ok]] == probe[ok]
            hit |= h
        active = base[hit]
        if len(active) == 0:
            return empty
        ranks = (active // _POS_SHIFT).astype(np.int64)
        m_docs, freq = np.unique(ranks, return_counts=True)
        out_docs = cand[m_docs]
        norms = slots[0][0].norms_for(cand)
        for pt in slots[0][1:]:
            extra = pt.norms_for(cand)
            norms = np.where(norms > 0, norms, extra)
        norms = norms[m_docs]
        return pd.DataFrame(
            {
                "doc_id": out_docs,
                "phrase_freq": freq.astype(np.int64),
                "norm_byte": norms.astype(np.int32),
            }
        )
    active = np.unique(key_of(d0, p0))  # chain frontier: (doc, last pos)
    for slot in slots[1:]:
        if len(active) == 0:
            break
        d, p = _slot_occurrences(slot, cand)
        keys = np.sort(key_of(d, p))
        nxt = []
        for delta in range(1, slop + 2):
            probe = active + np.int64(delta)
            idx = np.searchsorted(keys, probe)
            ok = idx < len(keys)
            hit = np.zeros(len(probe), dtype=bool)
            hit[ok] = keys[idx[ok]] == probe[ok]
            nxt.append(probe[hit])
        active = np.unique(np.concatenate(nxt)) if nxt else active[:0]
    if len(active) == 0:
        return empty
    ranks = (active // _POS_SHIFT).astype(np.int64)
    m_docs, freq = np.unique(ranks, return_counts=True)
    out_docs = cand[m_docs]
    norms = slots[0][0].norms_for(cand)
    for pt in slots[0][1:]:  # a doc may only appear under one alternative
        extra = pt.norms_for(cand)
        norms = np.where(norms > 0, norms, extra)
    norms = norms[m_docs]
    return pd.DataFrame(
        {
            "doc_id": out_docs,
            "phrase_freq": freq.astype(np.int64),
            "norm_byte": norms.astype(np.int32),
        }
    )


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
    reference search/MultiPhraseQuery.java).

    Returns DataFrame(doc_id long, phrase_freq long, score float) ordered
    by (score desc, doc_id asc); ``k=None`` returns every matching doc
    (the /export analog), otherwise the top-k.

    precision: "float32" (Lucene-exact cast points) or "double" (full
    double math, ANSI-SQL-reproducible — see scoring.score_components).
    """
    if not getattr(index, "has_positions", False):
        raise ValueError(
            "index was built without positions "
            "(build_segmented_index(..., index_positions=True))"
        )
    score_type = "double" if precision == "double" else "float"
    spark = index.blocks.sparkSession
    empty = spark.createDataFrame(
        [], f"doc_id long, phrase_freq long, score {score_type}"
    )
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
    from ..operators.hashing import h60_py  # local: avoid cycle

    df_by_term = index.lookup_df(t for alts in slot_terms for t in alts)
    # a slot with NO present alternative ⇒ no hits (phrase is conjunctive
    # across slots); absent alternatives within a slot are just dropped
    slot_terms = [
        tuple(t for t in alts if t in df_by_term) for alts in slot_terms
    ]
    if any(not alts for alts in slot_terms):
        return empty
    present = list(dict.fromkeys(t for alts in slot_terms for t in alts))
    weights = dict(
        term_weights(
            df_by_term, index.doc_count, present, boost, k1, b, precision
        )
    )
    # Σ idf over query terms (each slot contributes every alternative's
    # idf, as Lucene sums per-clause termStats for MultiPhraseQuery)
    raw_w_sum = sum(float(weights[t]) for alts in slot_terms for t in alts)
    if precision == "double":
        from .scoring import double_norm_cache

        w_sum = np.float64(raw_w_sum)
        cache = double_norm_cache(
            index.sum_total_term_freq, index.doc_count, k1, b
        )
    else:
        w_sum = np.float32(raw_w_sum)
        avgdl = bm25.avgdl(index.sum_total_term_freq, max(index.doc_count, 1))
        cache = bm25.norm_cache(avgdl, np.float32(k1), np.float32(b))

    buckets = sorted({h60_py(t) % index.n_buckets for t in present})
    blocks = index.blocks.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(present)
    )

    def leaf(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _leaf_phrase(pdf, slot_terms, slop, ordered)
        pf = out["phrase_freq"].to_numpy(np.int64)
        nb = out["norm_byte"].to_numpy(np.int64)
        if precision == "double":
            norm = cache[nb & 0xFF]
            out["score"] = float(w_sum) * (pf / (pf + norm))
        else:
            out["score"] = bm25.score_term(pf, nb, w_sum, cache)
        return out[["doc_id", "phrase_freq", "score"]]

    local = blocks.groupBy("seg_group").applyInPandas(
        leaf, schema=f"doc_id long, phrase_freq long, score {score_type}"
    )
    out = local.orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(k) if k is not None else out


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
    single-term spans.

    Same plan shape as phrases: the ONE term's positional blocks,
    term_bucket-pruned, matched per seg_group leaf; cost scales with
    that term's posting list, never the corpus."""
    from ..operators.hashing import h60_py

    score_type = "double" if precision == "double" else "float"
    spark = index.blocks.sparkSession
    empty = spark.createDataFrame(
        [], f"doc_id long, span_freq long, score {score_type}"
    )
    if not getattr(index, "has_positions", False):
        raise ValueError("span_first needs a positional index")
    df_by_term = index.lookup_df([term])
    if not df_by_term:
        return empty
    weights = dict(
        term_weights(
            df_by_term, index.doc_count, [term], boost, k1, b, precision,
        )
    )
    w = float(weights[term])
    if precision == "double":
        from .scoring import double_norm_cache

        cache = double_norm_cache(
            index.sum_total_term_freq, index.doc_count, k1, b
        )
    else:
        avgdl = bm25.avgdl(index.sum_total_term_freq, max(index.doc_count, 1))
        cache = bm25.norm_cache(avgdl, np.float32(k1), np.float32(b))
    blocks = index.blocks.filter(
        (F.col("term_bucket") == h60_py(term) % index.n_buckets)
        & (F.col("term") == term)
    )
    end64 = np.int64(end)
    start64 = np.int64(start)

    def leaf(pdf: pd.DataFrame) -> pd.DataFrame:
        pt = _PosTerm(pdf)
        cand = np.unique(pt.all_docs())
        docs, pos = pt.occurrences(cand)
        keep = (pos < end64) & (pos >= start64)
        if not keep.any():
            return pd.DataFrame(
                {"doc_id": [], "span_freq": [], "score": []}
            ).astype({"doc_id": "int64", "span_freq": "int64",
                      "score": "float64" if precision == "double"
                      else "float32"})
        hit_docs, sf = np.unique(docs[keep], return_counts=True)
        nb = pt.norms_for(hit_docs)
        if precision == "double":
            norm = cache[nb & 0xFF]
            score = w * (sf / (sf + norm))
        else:
            score = bm25.score_term(sf.astype(np.int64), nb, np.float32(w),
                                    cache)
        return pd.DataFrame(
            {"doc_id": hit_docs, "span_freq": sf.astype(np.int64),
             "score": score}
        )

    local = blocks.groupBy("seg_group").applyInPandas(
        leaf, schema=f"doc_id long, span_freq long, score {score_type}"
    )
    out = local.orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(k) if k is not None else out


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
    if precision == "double":
        from .scoring import double_norm_cache

        cache = double_norm_cache(
            index.sum_total_term_freq, index.doc_count, k1, b
        )
        return np.float64(raw), cache
    avgdl = bm25.avgdl(index.sum_total_term_freq, max(index.doc_count, 1))
    return np.float32(raw), bm25.norm_cache(avgdl, np.float32(k1), np.float32(b))


def _run_span(
    index,
    needed: Sequence[str],
    required: Sequence[str],
    leaf_hits,
    k: int | None,
    boost: float,
    k1,
    b,
    precision: str,
    idf_terms: Sequence[str] | None = None,
):
    """Shared span-query runner: df lookup (``SegmentedIndex.lookup_df``),
    pinned BM25 span scoring env, per-``seg_group``-leaf matching over
    the needed terms' positional blocks only.

    leaf_hits(pts: dict[term, _PosTerm]) -> (hit_docs int64, span_freq
    int64); terms in ``required`` that miss the dictionary (or a leaf)
    short-circuit to empty — span composition is conjunctive across its
    required inputs."""
    from ..operators.hashing import h60_py

    if not getattr(index, "has_positions", False):
        raise ValueError("span queries need a positional index")
    score_type = "double" if precision == "double" else "float"
    fp_dtype = "float64" if precision == "double" else "float32"
    spark = index.blocks.sparkSession
    empty = spark.createDataFrame(
        [], f"doc_id long, span_freq long, score {score_type}"
    )
    needed = list(dict.fromkeys(needed))
    buckets = sorted({h60_py(t) % index.n_buckets for t in needed})
    df_by_term = index.lookup_df(needed)
    if any(t not in df_by_term for t in required):
        return empty
    present = [t for t in needed if t in df_by_term]
    if not present:
        return empty
    idf_terms = [
        t for t in (idf_terms if idf_terms is not None else needed)
        if t in df_by_term
    ]
    w_sum, cache = _span_env(
        index, df_by_term, idf_terms, boost, k1, b, precision
    )
    blocks = index.blocks.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(present)
    )
    req = tuple(required)

    def leaf(pdf: pd.DataFrame) -> pd.DataFrame:
        out_empty = pd.DataFrame(
            {"doc_id": [], "span_freq": [], "score": []}
        ).astype({"doc_id": "int64", "span_freq": "int64",
                  "score": fp_dtype})
        pts = {t: _PosTerm(g) for t, g in pdf.groupby("term")}
        if any(t not in pts for t in req):
            return out_empty
        hit_docs, sf = leaf_hits(pts)
        if not len(hit_docs):
            return out_empty
        norms = np.zeros(len(hit_docs), dtype=np.int64)
        for pt in pts.values():
            if norms.all():
                break
            extra = pt.norms_for(hit_docs)
            norms = np.where(norms > 0, norms, extra)
        if precision == "double":
            score = float(w_sum) * (sf / (sf + cache[norms & 0xFF]))
        else:
            score = bm25.score_term(
                sf.astype(np.int64), norms, np.float32(w_sum), cache
            )
        return pd.DataFrame(
            {"doc_id": hit_docs, "span_freq": sf.astype(np.int64),
             "score": score}
        )

    local = blocks.groupBy("seg_group").applyInPandas(
        leaf, schema=f"doc_id long, span_freq long, score {score_type}"
    )
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
            cand = np.unique(pt.all_docs())
            d, _ = pt.occurrences(cand)
            parts.append(d)
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
    cand = np.intersect1d(np.unique(a.all_docs()), np.unique(b_.all_docs()))
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
        lt = pts[little]
        cand = np.unique(lt.all_docs())
        dl, pl = lt.occurrences(cand)
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
        lt = pts[little]
        cand = np.unique(lt.all_docs())
        dl, pl = lt.occurrences(cand)
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
        cand = np.intersect1d(
            np.unique(a.all_docs()), np.unique(b_.all_docs())
        )
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

    Plan shape: BOTH terms' positional blocks (bucket-pruned) per
    seg_group leaf; the exclusion check is one vectorized searchsorted
    over the exclude occurrences of docs that contain the include term
    — never the corpus."""
    from ..operators.hashing import h60_py

    score_type = "double" if precision == "double" else "float"
    spark = index.blocks.sparkSession
    empty = spark.createDataFrame(
        [], f"doc_id long, span_freq long, score {score_type}"
    )
    if not getattr(index, "has_positions", False):
        raise ValueError("span_not needs a positional index")
    df_by_term = index.lookup_df([include])
    if not df_by_term:
        return empty
    weights = dict(
        term_weights(
            df_by_term, index.doc_count, [include], boost, k1, b, precision,
        )
    )
    w = float(weights[include])
    if precision == "double":
        from .scoring import double_norm_cache

        cache = double_norm_cache(
            index.sum_total_term_freq, index.doc_count, k1, b
        )
    else:
        avgdl = bm25.avgdl(index.sum_total_term_freq, max(index.doc_count, 1))
        cache = bm25.norm_cache(avgdl, np.float32(k1), np.float32(b))
    buckets = sorted(
        {h60_py(t) % index.n_buckets for t in (include, exclude)}
    )
    blocks = index.blocks.filter(
        F.col("term_bucket").isin(buckets)
        & F.col("term").isin([include, exclude])
    )
    pre64, post64 = np.int64(pre), np.int64(post)
    fp_dtype = "float64" if precision == "double" else "float32"

    def leaf(pdf: pd.DataFrame) -> pd.DataFrame:
        inc_pdf = pdf[pdf["term"] == include]
        if not len(inc_pdf):
            return pd.DataFrame(
                {"doc_id": [], "span_freq": [], "score": []}
            ).astype({"doc_id": "int64", "span_freq": "int64",
                      "score": fp_dtype})
        inc = _PosTerm(inc_pdf)
        cand = np.unique(inc.all_docs())
        docs_a, pos_a = inc.occurrences(cand)
        bad = np.zeros(len(docs_a), dtype=bool)
        exc_pdf = pdf[pdf["term"] == exclude]
        if len(exc_pdf) and len(docs_a):
            exc = _PosTerm(exc_pdf)
            docs_b, pos_b = exc.occurrences(np.unique(docs_a))
            if len(docs_b):
                key_b = docs_b * _POS_SHIFT + pos_b  # doc-then-pos sorted
                lo = np.searchsorted(
                    key_b, docs_a * _POS_SHIFT + (pos_a - pre64), "left"
                )
                hi = np.searchsorted(
                    key_b, docs_a * _POS_SHIFT + (pos_a + post64), "right"
                )
                bad = hi > lo
        keep = ~bad
        if not keep.any():
            return pd.DataFrame(
                {"doc_id": [], "span_freq": [], "score": []}
            ).astype({"doc_id": "int64", "span_freq": "int64",
                      "score": fp_dtype})
        hit_docs, sf = np.unique(docs_a[keep], return_counts=True)
        nb = inc.norms_for(hit_docs)
        if precision == "double":
            norm = cache[nb & 0xFF]
            score = w * (sf / (sf + norm))
        else:
            score = bm25.score_term(sf.astype(np.int64), nb, np.float32(w),
                                    cache)
        return pd.DataFrame(
            {"doc_id": hit_docs, "span_freq": sf.astype(np.int64),
             "score": score}
        )

    local = blocks.groupBy("seg_group").applyInPandas(
        leaf, schema=f"doc_id long, span_freq long, score {score_type}"
    )
    out = local.orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(k) if k is not None else out

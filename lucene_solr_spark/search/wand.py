"""Block-max WAND / block-max conjunction over the segmented index.

The pruned TOP_SCORES path (reference: search/WANDScorer.java:29-164,
BlockMaxConjunctionScorer.java:29-45, ImpactsDISI.java:95-127,
MaxScoreCache.java:61-124), re-expressed for Spark's execution model:

- a *leaf* = one ``seg_group`` (disjoint global doc-id ranges), the
  analog of a Lucene segment/LeafReaderContext. Each leaf returns its
  local top-k, and the global answer merges them by (score desc, doc_id
  asc) — exactly Lucene's per-segment search + TopDocs.merge
  (IndexSearcher.java:569-613, TopDocs.java:203).
- one kernel, ``_leaf_topk``, scores a leaf, and it runs one of two
  ways. The dispatch rule: a query whose postings count (Σ df over its
  terms present in the index, known from the dictionary lookup) is at
  most ``IN_PROCESS_MAX_POSTINGS`` runs *in-process*: the driver reads
  the term_bucket-pruned blocks with pyarrow
  (``SegmentedIndex.read_blocks``), runs the kernel per ``seg_group``,
  merges in numpy and returns a local DataFrame — no Spark job, as
  Lucene searches inside the searcher's process. A larger query runs
  the kernel as Spark leaves (``groupBy("seg_group").applyInPandas``)
  merged by ``orderBy(...).limit(k)``, so answers never depend on what
  fits on the driver. Both read the same ``LEAF_COLUMNS`` and share the
  weights and the ``after``/``complete`` semantics, so their answers are
  bit-identical by construction.
- within a leaf, per-block score ceilings come from the stored impacts
  (competitive (freq, norm) frontier): ``bmax(b) = max over impacts of
  the exact float32 term score``. A doc in block b of term t satisfies
  ``score(d) <= bmax(b_t) + Σ_{t'≠t} max bmax over t'-blocks overlapping
  b_t`` — the block-max upper bound.
- pruning is LOSSLESS (rank-identity): a competitive doc (score >= θ)
  has bound >= θ in every block containing it, so keeping blocks with
  ``bound >= θ`` keeps every competitive doc. Bounds are padded by a
  relative 1e-6 so the float64 bound provably dominates the float32
  score (the analog of WANDScorer.scaleMaxScore rounding up,
  WANDScorer.java:75-105).
- θ is seeded by fully scoring the docs of the highest-``bmax`` blocks
  (TopScoreDocCollector's minCompetitiveScore feedback,
  TopScoreDocCollector.java:236-245, done batch-wise).
- conjunctions instead leapfrog at block granularity: intersect starting
  from the rarest term, decoding only blocks whose doc range contains a
  surviving candidate (ConjunctionDISI.java:38-50 cost ordering).

Scores are bit-identical to the brute-force path: float32 per-term
contributions (functions/bm25.py cast points), float64 accumulation,
float32 final cast.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import bm25
from .scoring import term_weights

__all__ = ["search_wand", "IN_PROCESS_MAX_POSTINGS", "LEAF_COLUMNS"]

_PAD = 1e-6

# A query whose postings count (Σ df over its terms present in the index)
# is at most this runs in-process on the driver; larger ones run as Spark
# leaves. Set from a crossover sweep (CHANGES.md): on a 200k-turn index,
# 4 cores, the in-process path was faster up to 0.9M postings and slower
# from 1.29M.
IN_PROCESS_MAX_POSTINGS = 1 << 20

# the block columns _leaf_topk reads, and all either path reads
LEAF_COLUMNS = (
    "seg_group", "term", "first_doc", "last_doc", "n_docs", "docs", "freqs",
    "norms", "impact_freqs", "impact_norms",
)

_RESULT_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("score", T.FloatType())]
)


class _TermBlocks:
    """One term's candidate blocks in one leaf, with lazy decode."""

    def __init__(self, g: pd.DataFrame, weight: np.float32, cache: np.ndarray):
        from ..index.codec import decode_block  # worker-side import

        self._decode_block = decode_block
        g = g.sort_values("first_doc").reset_index(drop=True)
        self.first = g["first_doc"].to_numpy()
        self.last = g["last_doc"].to_numpy()
        self.n_docs = g["n_docs"].to_numpy()
        self._docs_bytes = g["docs"].tolist()
        self._freqs_bytes = g["freqs"].tolist()
        self._norms_bytes = g["norms"].tolist()
        self.weight = weight
        self.cache = cache
        # exact float32 per-block max contribution, held as float64
        self.bmax = np.array(
            [
                float(
                    bm25.score_term(
                        np.asarray(imf, dtype=np.int64),
                        np.asarray(imn, dtype=np.int64),
                        weight,
                        cache,
                    ).max()
                )
                for imf, imn in zip(g["impact_freqs"], g["impact_norms"])
            ],
            dtype=np.float64,
        )
        self._decoded: dict = {}
        self.total_docs = int(self.n_docs.sum())

    def range_max(self, lo: int, hi: int) -> float:
        """max bmax over blocks overlapping [lo, hi] (blocks are disjoint
        sorted intervals → overlap set is a contiguous index range)."""
        i = int(np.searchsorted(self.last, lo, "left"))
        j = int(np.searchsorted(self.first, hi, "right"))
        if i >= j:
            return 0.0
        return float(self.bmax[i:j].max())

    def _decode(self, bi: int):
        got = self._decoded.get(bi)
        if got is None:
            d, f = self._decode_block(self._docs_bytes[bi], self._freqs_bytes[bi])
            n = np.frombuffer(self._norms_bytes[bi], dtype=np.uint8).astype(np.int64)
            got = self._decoded[bi] = (d, f, n)
        return got

    def blocks_overlapping(self, docs_sorted: np.ndarray) -> list:
        """indices of blocks containing >= 1 of the given sorted docs."""
        lo = np.searchsorted(docs_sorted, self.first, "left")
        hi = np.searchsorted(docs_sorted, self.last, "right")
        return list(np.nonzero(hi > lo)[0])

    def all_docs(self) -> np.ndarray:
        if not len(self.first):
            return np.empty(0, dtype=np.int64)
        return np.concatenate([self._decode(i)[0] for i in range(len(self.first))])

    def contributions(self, cand: np.ndarray):
        """(positions into cand, float32 scores) for docs of this term
        that appear in sorted candidate array cand."""
        pos_parts, score_parts = [], []
        for bi in self.blocks_overlapping(cand):
            d, f, n = self._decode(bi)
            idx = np.searchsorted(cand, d)
            idx_ok = idx < len(cand)
            hit = np.zeros(len(d), dtype=bool)
            hit[idx_ok] = cand[idx[idx_ok]] == d[idx_ok]
            if not hit.any():
                continue
            pos_parts.append(idx[hit])
            score_parts.append(
                bm25.score_term(f[hit], n[hit], self.weight, self.cache)
            )
        if not pos_parts:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
        return np.concatenate(pos_parts), np.concatenate(score_parts)


def _after_mask(scores: np.ndarray, cand: np.ndarray, after) -> np.ndarray:
    """searchAfter predicate: strictly after (score desc, doc asc)
    position ``after = (score, doc_id)`` — reference
    search/IndexSearcher.java:391-414, search/CursorMark."""
    a_s = np.float32(after[0])
    return (scores < a_s) | ((scores == a_s) & (cand > after[1]))


def _leaf_topk(
    pdf: pd.DataFrame,
    weights: dict,
    cache: np.ndarray,
    mode: str,
    k: int,
    n_present: int,
    min_should_match: int | None,
    after=None,
    complete: bool = False,
) -> pd.DataFrame:
    empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                          "score": pd.Series(dtype="float32")})
    terms = {}
    for term, g in pdf.groupby("term"):
        terms[term] = _TermBlocks(g, np.float32(weights[term]), cache)
    if mode == "conjunctive":
        if len(terms) < n_present:
            return empty
        if complete:
            cand = _conjunction_candidates(terms)
        else:
            return _conjunction_topk(terms, k, n_present, after, empty)
    elif complete:
        cand = np.unique(np.concatenate([tb.all_docs() for tb in terms.values()]))
    else:
        cand = _wand_candidates(terms, k, mode, min_should_match, after)
    if len(cand) == 0:
        return empty
    acc = np.zeros(len(cand), dtype=np.float64)
    mx = np.zeros(len(cand), dtype=np.float64)
    matched = np.zeros(len(cand), dtype=np.int64)
    for tb in terms.values():
        pos, sc = tb.contributions(cand)
        acc[pos] += sc.astype(np.float64)
        np.maximum.at(mx, pos, sc.astype(np.float64))
        matched[pos] += 1
    if mode == "conjunctive":
        ok = matched == n_present
    elif min_should_match:
        ok = matched >= min_should_match
    else:
        ok = matched > 0
    cand, acc, mx = cand[ok], acc[ok], mx[ok]
    scores = (mx if mode == "dismax" else acc).astype(np.float32)
    if after is not None:
        keep = _after_mask(scores, cand, after)
        cand, scores = cand[keep], scores[keep]
    order = np.lexsort((cand, -scores.astype(np.float64)))[:k]
    return pd.DataFrame(
        {"doc_id": cand[order], "score": scores[order]}
    )


def _conjunction_candidates(terms: dict) -> np.ndarray:
    """Leapfrog at block granularity, rarest term leads (COMPLETE —
    no score pruning; used when the query is cheap anyway)."""
    order = sorted(terms.values(), key=lambda tb: tb.total_docs)
    cand = order[0].all_docs()
    for tb in order[1:]:
        if len(cand) == 0:
            return cand
        keep_parts = []
        for bi in tb.blocks_overlapping(cand):
            d, _, _ = tb._decode(bi)
            idx = np.searchsorted(d, cand)
            idx_ok = idx < len(d)
            hit = np.zeros(len(cand), dtype=bool)
            hit[idx_ok] = d[idx[idx_ok]] == cand[idx_ok]
            keep_parts.append(cand[hit])
        cand = (
            np.unique(np.concatenate(keep_parts))
            if keep_parts
            else np.empty(0, dtype=np.int64)
        )
    return cand


_CONJ_CHUNK = 64  # lead blocks scored per batch (numpy-friendly size)


def _conjunction_topk(
    terms: dict, k: int, n_present: int, after, empty: pd.DataFrame
) -> pd.DataFrame:
    """Block-max conjunction (reference: search/BlockMaxConjunctionScorer
    .java:29-45, MaxScoreSumPropagator): lead = rarest term; each lead
    block gets the upper bound ``bmax(lead) + Σ others.range_max`` over
    its doc range; blocks are processed in descending bound order in
    chunks, and processing stops — losslessly, bounds are padded up — as
    soon as the next bound cannot beat the current kth score θ. For a
    head∧head query over N docs this scores only the few best blocks
    instead of all N postings."""
    tbs = sorted(terms.values(), key=lambda tb: tb.total_docs)
    lead, others = tbs[0], tbs[1:]
    nb = len(lead.first)
    if nb == 0:
        return empty
    bounds = np.array(
        [
            (
                lead.bmax[bi]
                + sum(o.range_max(int(lead.first[bi]), int(lead.last[bi])) for o in others)
            )
            * (1.0 + _PAD)
            + 1e-30
            for bi in range(nb)
        ]
    )
    order = np.argsort(-bounds)

    best_docs = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float32)
    theta = -np.inf
    for s in range(0, nb, _CONJ_CHUNK):
        chunk = order[s : s + _CONJ_CHUNK]
        if len(best_scores) >= k and bounds[chunk[0]] < theta:
            break  # no remaining block can beat the kth score
        cand = np.concatenate([lead._decode(bi)[0] for bi in chunk])
        cand.sort()
        acc = np.zeros(len(cand), dtype=np.float64)
        matched = np.zeros(len(cand), dtype=np.int64)
        for tb in tbs:
            pos, sc = tb.contributions(cand)
            acc[pos] += sc.astype(np.float64)
            matched[pos] += 1
        ok = matched == n_present
        cand, scores = cand[ok], acc[ok].astype(np.float32)
        if after is not None and len(cand):
            keep = _after_mask(scores, cand, after)
            cand, scores = cand[keep], scores[keep]
        if len(cand):
            best_docs = np.concatenate([best_docs, cand])
            best_scores = np.concatenate([best_scores, scores])
            top = np.lexsort((best_docs, -best_scores.astype(np.float64)))[:k]
            best_docs, best_scores = best_docs[top], best_scores[top]
            if len(best_scores) >= k:
                theta = float(best_scores[-1])
    return pd.DataFrame({"doc_id": best_docs, "score": best_scores})


def _wand_candidates(
    terms: dict, k: int, mode: str, min_should_match: int | None, after=None
) -> np.ndarray:
    """Disjunctive candidates with lossless block-max pruning."""
    tbs = list(terms.values())
    total_postings = sum(tb.total_docs for tb in tbs)
    if total_postings <= 4 * 128:  # small leaf: skip pruning machinery
        return np.unique(np.concatenate([tb.all_docs() for tb in tbs]))

    # per-block upper bound on any doc's total (or max, for dismax) score
    bounds, owners = [], []
    for ti, tb in enumerate(tbs):
        for bi in range(len(tb.first)):
            others = [
                o.range_max(int(tb.first[bi]), int(tb.last[bi]))
                for oi, o in enumerate(tbs)
                if oi != ti
            ]
            if mode == "dismax":
                bound = max([tb.bmax[bi]] + others)
            else:
                bound = tb.bmax[bi] + sum(others)
            bounds.append(bound * (1.0 + _PAD) + 1e-30)
            owners.append((ti, bi))
    bounds = np.asarray(bounds)

    # seed θ: fully score docs of the most-promising blocks.  Plain
    # disjunctions seed from the highest-bmax blocks (Lucene's impact
    # ordering); with minimumNumberShouldMatch the high-bmax blocks are
    # tail-term blocks whose docs rarely reach the match threshold, so
    # seed by the combined bound instead — it is largest where several
    # terms' doc ranges overlap.  If the seed yields fewer than k
    # qualifying docs (θ=0 ⇒ nothing would be pruned), grow it
    # geometrically before giving up on pruning.
    flat_bmax = np.asarray(
        [tbs[ti].bmax[bi] for ti, bi in owners], dtype=np.float64
    )
    seed_order = np.argsort(-(bounds if min_should_match else flat_bmax))
    seed_docs, covered, next_si = [], 0, 0
    target = max(2 * k, 256)
    theta = 0.0
    while next_si < len(seed_order):
        while next_si < len(seed_order) and covered < target:
            ti, bi = owners[seed_order[next_si]]
            d, _, _ = tbs[ti]._decode(bi)
            seed_docs.append(d)
            covered += len(d)
            next_si += 1
        seed = np.unique(np.concatenate(seed_docs))
        theta = _theta_from(seed, tbs, k, mode, min_should_match, after)
        if theta > 0.0:
            break
        target *= 4

    surviving = bounds >= theta
    cand_parts = [seed]
    for si in np.nonzero(surviving)[0]:
        ti, bi = owners[si]
        d, _, _ = tbs[ti]._decode(bi)
        cand_parts.append(d)
    return np.unique(np.concatenate(cand_parts))


def _theta_from(
    cand: np.ndarray, tbs: list, k: int, mode: str, min_should_match, after=None
) -> float:
    if len(cand) == 0:
        return 0.0
    acc = np.zeros(len(cand), dtype=np.float64)
    mx = np.zeros(len(cand), dtype=np.float64)
    matched = np.zeros(len(cand), dtype=np.int64)
    for tb in tbs:
        pos, sc = tb.contributions(cand)
        acc[pos] += sc.astype(np.float64)
        np.maximum.at(mx, pos, sc.astype(np.float64))
        matched[pos] += 1
    if min_should_match:
        ok = matched >= min_should_match
        acc, mx, cand = acc[ok], mx[ok], cand[ok]
    scores = (mx if mode == "dismax" else acc).astype(np.float32)
    if after is not None:
        # θ must come from docs that remain ELIGIBLE after the cursor,
        # else the prune could drop qualifying candidates (lossless rule)
        keep = _after_mask(scores, cand, after)
        scores = scores[keep]
    if len(scores) < k:
        return 0.0
    return float(np.sort(scores)[-k])


def _local_result(spark, tops: list, k: int) -> DataFrame:
    """The global top-k of the leaves' top-k frames, by (score desc,
    doc_id asc) — TopDocs.merge (TopDocs.java:203) — as a local relation:
    its collect() launches no Spark job."""
    docs = np.concatenate([np.empty(0, np.int64)] + [t["doc_id"].to_numpy() for t in tops])
    scores = np.concatenate([np.empty(0, np.float32)] + [t["score"].to_numpy() for t in tops])
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    top = pa.table({"doc_id": docs[order], "score": scores[order]})
    return spark.createDataFrame(top, _RESULT_SCHEMA)


def search_wand(
    index,
    terms: Sequence[str],
    mode: str = "disjunctive",
    k: int = 10,
    boost: float | dict = 1.0,
    k1=bm25.K1,
    b=bm25.B,
    min_should_match: int | None = None,
    after: tuple | None = None,
    complete: bool = False,
) -> DataFrame:
    """Pruned top-k over a SegmentedIndex → DataFrame(doc_id, score:float)
    ordered by (score desc, doc_id asc), bit-identical to brute force.

    boost: scalar, or per-term dict (BoostQuery per clause).
    after: (score, doc_id) cursor — return the top-k strictly after that
    position (searchAfter / CursorMark keyset pagination); pruning stays
    lossless (θ seeded only from cursor-eligible docs).
    complete: disable all block-max pruning (the CheckHits COMPLETE mode,
    totalHitsThreshold=MAX analog) — used by tests to assert the pruned
    path is lossless (CheckHits.java:576-591)."""
    spark = index.blocks.sparkSession
    uniq = list(dict.fromkeys(terms))
    if not uniq:
        return _local_result(spark, [], k)
    # resident-searcher dictionary cache: warm terms cost no lookup, cold
    # ones a driver-side scan (Lucene's memory-resident term-dictionary
    # FST analog)
    df_by_term = index.lookup_df(uniq)
    weights = dict(
        term_weights(df_by_term, index.doc_count, uniq, boost, k1, b)
    )
    n_present = len(weights)
    if n_present == 0 or (mode == "conjunctive" and n_present < len(uniq)):
        return _local_result(spark, [], k)
    avgdl = bm25.avgdl(index.sum_total_term_freq, max(index.doc_count, 1))
    cache = bm25.norm_cache(avgdl, np.float32(k1), np.float32(b))

    def leaf(pdf: pd.DataFrame) -> pd.DataFrame:
        return _leaf_topk(
            pdf, weights, cache, mode, k, n_present, min_should_match, after,
            complete,
        )

    if sum(df_by_term.values()) <= IN_PROCESS_MAX_POSTINGS:
        pdf = index.read_blocks(list(weights), LEAF_COLUMNS).to_pandas()
        return _local_result(spark, [leaf(g) for _, g in pdf.groupby("seg_group")], k)

    # partition pruning: term_bucket dirs of the query terms only,
    # computed driver-side (h60 is the portable md5 hash — no Spark job)
    from ..operators.hashing import h60_py  # local: avoid cycle

    buckets = sorted({h60_py(t) % index.n_buckets for t in weights})
    blocks = index.blocks.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(list(weights))
    ).select(*LEAF_COLUMNS)
    local = blocks.groupBy("seg_group").applyInPandas(leaf, schema=_RESULT_SCHEMA)
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

"""Block-max WAND / block-max conjunction over the segmented index.

The pruned TOP_SCORES path (reference: search/WANDScorer.java:29-164,
BlockMaxConjunctionScorer.java:29-45, ImpactsDISI.java:95-127,
MaxScoreCache.java:61-124), re-expressed for Spark's execution model:

- a *leaf* = one ``seg_group`` (a disjoint set of doc ids), the
  analog of a Lucene segment/LeafReaderContext. Each leaf returns its
  local top-k, and the global answer merges them by (score desc, doc_id
  asc) — exactly Lucene's per-segment search + TopDocs.merge
  (IndexSearcher.java:569-613, TopDocs.java:203).
- one kernel, ``_leaf_topk``, scores a pyarrow Table of posting blocks
  with whole-array numpy, and it runs one of two ways. The dispatch
  rule: a query whose postings count (Σ df over its terms present in
  the index, known from the dictionary lookup) is at most
  ``IN_PROCESS_MAX_POSTINGS`` runs *in-process*: the driver reads the
  term_bucket-pruned blocks with pyarrow (``SegmentedIndex.read_blocks``)
  and calls the kernel once over all of them — a doc's postings all lie
  in one seg_group, so that is the top-k of the merged per-group top-ks
  — and returns a local DataFrame: no Spark job, as Lucene searches
  inside the searcher's process. A larger query runs the kernel as
  Spark leaves (``groupBy("seg_group").applyInPandas``, one call per
  seg_group) merged by ``orderBy(...).limit(k)``, so answers never
  depend on what fits on the driver. Both read the same
  ``LEAF_COLUMNS`` and share the weights and the ``after``/``complete``
  semantics, so their answers are bit-identical by construction.
- per-block score ceilings come from the stored impacts (competitive
  (freq, norm) frontier): ``bmax(b) = max over impacts of the exact
  float32 term score``, one ``score_term`` over every impact of the
  query. A doc in block b of term t satisfies ``score(d) <= bmax(b_t) +
  Σ_{t'≠t} max bmax over t'-blocks overlapping b_t`` — the block-max
  upper bound. The range maxima are searched per (seg_group, term) run:
  only there are blocks disjoint sorted intervals, since after a resume
  one seg_group's doc range can surround another's.
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
- every block is decoded at most once, in a few batched
  ``codec.decode_blocks`` calls (the seed blocks, the survivors, the
  blocks overlapping candidates), and its postings' float32
  contributions are scored as they are decoded.

Scores are bit-identical to the brute-force path: float32 per-term
contributions (functions/bm25.py cast points), float64 accumulation,
float32 final cast.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import bm25
from ..index import codec
from .scoring import norm_cache, term_weights

__all__ = ["search_wand", "IN_PROCESS_MAX_POSTINGS", "LEAF_COLUMNS"]

_PAD = 1e-6

# A query whose postings count (Σ df over its terms present in the index)
# is at most this runs in-process on the driver; larger ones run as Spark
# leaves. Set from crossover sweeps (scripts/wand_crossover.py, CHANGES.md):
# on a 200k-turn index, 4 cores, the in-process path was faster in every
# sweep up to 1.59M postings and slower in one of three at 1.72M.
IN_PROCESS_MAX_POSTINGS = 1_600_000

# the block columns _leaf_topk reads, and all either path reads
LEAF_COLUMNS = (
    "seg_group", "term", "first_doc", "last_doc", "n_docs", "docs", "freqs",
    "norms", "impact_freqs", "impact_norms",
)

_RESULT_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("score", T.FloatType())]
)


class _Blocks:
    """A query's posting blocks, from any number of seg_groups, as arrays
    over the table's rows, plus a pool of decoded postings. A block is
    decoded at most once, in batches through ``codec.decode_blocks``, and
    its postings' float32 contributions are scored as they are decoded."""

    def __init__(self, tbl: pa.Table, weights: dict, cache: np.ndarray):
        self.terms = sorted(weights)  # the accumulation order
        self.term = pc.index_in(tbl["term"], value_set=pa.array(self.terms)).to_numpy()
        self.group = tbl["seg_group"].to_numpy()
        self.first = tbl["first_doc"].to_numpy()
        self.last = tbl["last_doc"].to_numpy()
        self.n_docs = tbl["n_docs"].to_numpy().astype(np.int64)
        self._payloads = tbl.select(["docs", "freqs", "norms"])
        self._weight = np.array([weights[t] for t in self.terms], np.float32)[self.term]
        self._cache = cache
        # exact float32 per-block max contribution over the block's
        # impacts, held as float64: one score_term over every impact
        n_imp = pc.list_value_length(tbl["impact_freqs"]).to_numpy().astype(np.int64)
        imp = bm25.score_term(
            pc.list_flatten(tbl["impact_freqs"]).to_numpy(),
            pc.list_flatten(tbl["impact_norms"]).to_numpy(),
            np.repeat(self._weight, n_imp),
            cache,
        )
        self.bmax = np.maximum.reduceat(imp, np.cumsum(n_imp) - n_imp).astype(np.float64)
        self._decoded = np.zeros(len(self.first), dtype=bool)
        # the pool: one entry per decoded posting
        self.docs = np.empty(0, np.int64)
        self.block = np.empty(0, np.int64)
        self.contrib = np.empty(0, np.float32)

    def decode(self, want: np.ndarray) -> None:
        """Decode the blocks of mask ``want`` not decoded yet, in one batch."""
        rows = np.flatnonzero(want & ~self._decoded)
        if not len(rows):
            return
        self._decoded[rows] = True
        counts = self.n_docs[rows]
        sub = self._payloads.take(rows)
        d, f, nb, _ = codec.decode_blocks(
            counts, sub["docs"].to_pylist(), sub["freqs"].to_pylist(),
            sub["norms"].to_pylist(),
        )
        sc = bm25.score_term(f, nb, np.repeat(self._weight[rows], counts), self._cache)
        self.docs = np.concatenate([self.docs, d])
        self.block = np.concatenate([self.block, np.repeat(rows, counts)])
        self.contrib = np.concatenate([self.contrib, sc])

    def docs_of(self, blocks: np.ndarray) -> np.ndarray:
        """Sorted unique docs of the (decoded) blocks of mask ``blocks``."""
        return np.unique(self.docs[blocks[self.block]])

    def overlapping(self, cand: np.ndarray) -> np.ndarray:
        """Mask of the blocks whose doc range holds a doc of sorted cand."""
        return np.searchsorted(cand, self.last, "right") > np.searchsorted(
            cand, self.first, "left"
        )

    def score(self, cand: np.ndarray):
        """(sum, max, terms matched) per doc of sorted unique cand, after
        decoding every block that may hold one: float32 contributions
        accumulate into float64 in sorted-term order."""
        self.decode(self.overlapping(cand))
        pos = np.searchsorted(cand, self.docs)
        hit = pos < len(cand)
        hit[hit] = cand[pos[hit]] == self.docs[hit]
        pos, term = pos[hit], self.term[self.block[hit]]
        sc = self.contrib[hit].astype(np.float64)
        acc, mx = np.zeros(len(cand)), np.zeros(len(cand))
        matched = np.zeros(len(cand), dtype=np.int64)
        for t in range(len(self.terms)):
            m = term == t
            p = pos[m]  # a doc has one posting per term
            acc[p] += sc[m]
            mx[p] = np.maximum(mx[p], sc[m])
            matched[p] += 1
        return acc, mx, matched

    def bounds(self, mode: str) -> np.ndarray:
        """Per-block upper bound on the total (dismax: max) score of any
        doc in it: its bmax with, per other term, the max bmax over that
        term's blocks of the same seg_group overlapping its doc range.
        Blocks are disjoint sorted intervals only within one (seg_group,
        term) run — a resumed seg_group's range can surround another's —
        so each range max is searched in one run."""
        n, n_terms = len(self.first), len(self.terms)
        order = np.lexsort((self.first, self.term, self.group))
        first, last = self.first[order], self.last[order]
        bmax = np.append(self.bmax[order], 0.0)  # reduceat may index n
        cut = np.flatnonzero(
            (np.diff(self.group[order]) != 0) | (np.diff(self.term[order]) != 0)
        ) + 1
        rows, cols, lo, hi = [], [], [], []
        for s, e in zip(np.r_[0, cut], np.r_[cut, n]):
            r = np.flatnonzero(self.group == self.group[order[s]])
            rows.append(r)
            cols.append(np.full(len(r), self.term[order[s]]))
            lo.append(s + np.searchsorted(last[s:e], self.first[r], "left"))
            hi.append(s + np.searchsorted(first[s:e], self.last[r], "right"))
        rows, cols, lo, hi = map(np.concatenate, (rows, cols, lo, hi))
        ends = np.empty(2 * len(lo), dtype=np.int64)
        ends[0::2], ends[1::2] = lo, hi
        range_max = np.maximum.reduceat(bmax, ends)[0::2]
        others = np.zeros((n, n_terms))
        others[rows, cols] = np.where(lo < hi, range_max, 0.0)
        others[np.arange(n), self.term] = 0.0
        if mode == "dismax":
            bound = np.maximum(self.bmax, others.max(axis=1))
        else:
            bound = self.bmax + others.sum(axis=1)
        return bound * (1.0 + _PAD) + 1e-30


def _after_mask(scores: np.ndarray, cand: np.ndarray, after) -> np.ndarray:
    """searchAfter predicate: strictly after (score desc, doc asc)
    position ``after = (score, doc_id)`` — reference
    search/IndexSearcher.java:391-414, search/CursorMark."""
    a_s = np.float32(after[0])
    return (scores < a_s) | ((scores == a_s) & (cand > after[1]))


def _topk(docs: np.ndarray, scores: np.ndarray, k: int):
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return docs[order], scores[order]


def _eligible(blocks: _Blocks, cand, mode, n_present, min_should_match, after):
    """(docs, float32 scores) of the docs of sorted unique cand that
    match the query and lie after the cursor."""
    acc, mx, matched = blocks.score(cand)
    if mode == "conjunctive":
        ok = matched == n_present
    elif min_should_match:
        ok = matched >= min_should_match
    else:
        ok = matched > 0
    cand, scores = cand[ok], (mx if mode == "dismax" else acc)[ok].astype(np.float32)
    if after is not None:
        keep = _after_mask(scores, cand, after)
        cand, scores = cand[keep], scores[keep]
    return cand, scores


def _leaf_topk(
    tbl: pa.Table,
    weights: dict,
    cache: np.ndarray,
    mode: str,
    k: int,
    n_present: int,
    min_should_match: int | None,
    after=None,
    complete: bool = False,
):
    """The top-k (doc_ids, float32 scores), by (score desc, doc_id asc),
    of a query over its posting blocks ``tbl`` (``LEAF_COLUMNS``; any
    number of seg_groups)."""
    blocks = _Blocks(tbl, weights, cache)
    n = len(blocks.first)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    if mode == "conjunctive" and not complete:
        return _conjunction_topk(blocks, k, n_present, after)
    if complete or blocks.n_docs.sum() <= 4 * 128:  # small: skip pruning
        blocks.decode(np.ones(n, dtype=bool))
        cand = np.unique(blocks.docs)
    else:
        cand = _wand_candidates(blocks, k, mode, min_should_match, after)
    return _topk(*_eligible(blocks, cand, mode, n_present, min_should_match, after), k)


_CONJ_CHUNK = 64  # lead blocks scored per batch (numpy-friendly size)


def _conjunction_topk(blocks: _Blocks, k: int, n_present: int, after):
    """Block-max conjunction (reference: search/BlockMaxConjunctionScorer
    .java:29-45, MaxScoreSumPropagator): in each seg_group holding every
    term, the lead is its rarest term, and each lead block's bound is its
    bmax plus the others' range maxima over its doc range. Lead blocks
    are scored in descending bound order in chunks, and scoring stops —
    losslessly, bounds are padded up — as soon as the next bound cannot
    beat the current kth score θ. For a head∧head query over N docs this
    scores only the few best blocks instead of all N postings."""
    groups, gi = np.unique(blocks.group, return_inverse=True)
    df = np.zeros((len(groups), len(blocks.terms)), dtype=np.int64)
    np.add.at(df, (gi, blocks.term), blocks.n_docs)
    full = (df > 0).sum(axis=1) == n_present
    lead_term = np.argmin(np.where(df > 0, df, np.iinfo(np.int64).max), axis=1)
    lead = np.flatnonzero(full[gi] & (blocks.term == lead_term[gi]))
    bound = blocks.bounds("conjunctive")
    order = lead[np.argsort(-bound[lead])]

    best_docs = np.empty(0, dtype=np.int64)
    best_scores = np.empty(0, dtype=np.float32)
    theta = -np.inf
    for s in range(0, len(order), _CONJ_CHUNK):
        chunk = order[s : s + _CONJ_CHUNK]
        if len(best_scores) >= k and bound[chunk[0]] < theta:
            break  # no remaining block can beat the kth score
        want = np.zeros(len(bound), dtype=bool)
        want[chunk] = True
        blocks.decode(want)
        docs, scores = _eligible(
            blocks, blocks.docs_of(want), "conjunctive", n_present, None, after
        )
        best_docs, best_scores = _topk(
            np.concatenate([best_docs, docs]), np.concatenate([best_scores, scores]), k
        )
        if len(best_scores) >= k:
            theta = float(best_scores[-1])
    return best_docs, best_scores


def _wand_candidates(
    blocks: _Blocks, k: int, mode: str, min_should_match: int | None, after=None
) -> np.ndarray:
    """Disjunctive candidates with lossless block-max pruning.

    θ is seeded by fully scoring the docs of the most promising blocks.
    Plain disjunctions seed from the highest-bmax blocks (Lucene's impact
    ordering); with minimumNumberShouldMatch the high-bmax blocks are
    tail-term blocks whose docs rarely reach the match threshold, so the
    seed goes by the combined bound instead — it is largest where several
    terms' doc ranges overlap. If the seed yields fewer than k eligible
    docs (θ=0 ⇒ nothing would be pruned), it grows geometrically before
    giving up on pruning. θ comes only from docs after the cursor, else
    the prune could drop qualifying candidates."""
    bound = blocks.bounds(mode)
    seed_order = np.argsort(-(bound if min_should_match else blocks.bmax))
    covered = np.cumsum(blocks.n_docs[seed_order])
    target = max(2 * k, 256)
    while True:
        n_seed = min(int(np.searchsorted(covered, target)) + 1, len(seed_order))
        seed = np.zeros(len(bound), dtype=bool)
        seed[seed_order[:n_seed]] = True
        blocks.decode(seed)
        seed_docs = blocks.docs_of(seed)
        _, scores = _eligible(blocks, seed_docs, mode, None, min_should_match, after)
        theta = float(np.sort(scores)[-k]) if len(scores) >= k else 0.0
        if theta > 0.0 or n_seed == len(seed_order):
            break
        target *= 4
    surviving = bound >= theta
    blocks.decode(surviving)
    return np.union1d(seed_docs, blocks.docs_of(surviving))


def _local_result(spark, docs=(), scores=()) -> DataFrame:
    """A top-k as a local relation: its collect() launches no Spark job."""
    top = pa.table(
        {"doc_id": pa.array(docs, pa.int64()), "score": pa.array(scores, pa.float32())}
    )
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
        return _local_result(spark)
    # resident-searcher dictionary cache: warm terms cost no lookup, cold
    # ones a driver-side scan (Lucene's memory-resident term-dictionary
    # FST analog)
    df_by_term = index.lookup_df(uniq)
    weights = dict(
        term_weights(df_by_term, index.doc_count, uniq, boost, k1, b)
    )
    n_present = len(weights)
    if n_present == 0 or (mode == "conjunctive" and n_present < len(uniq)):
        return _local_result(spark)
    cache = norm_cache(index.sum_total_term_freq, index.doc_count, k1, b)

    def topk(tbl: pa.Table):
        return _leaf_topk(
            tbl, weights, cache, mode, k, n_present, min_should_match, after,
            complete,
        )

    if sum(df_by_term.values()) <= IN_PROCESS_MAX_POSTINGS:
        # a doc's postings all lie in one seg_group, so one call over every
        # group returns the top-k of the groups' merged top-ks
        return _local_result(spark, *topk(index.read_blocks(list(weights), LEAF_COLUMNS)))

    def leaf(pdf: pd.DataFrame) -> pd.DataFrame:
        docs, scores = topk(pa.Table.from_pandas(pdf, preserve_index=False))
        return pd.DataFrame({"doc_id": docs, "score": scores})

    blocks = index.blocks_of(list(weights)).select(*LEAF_COLUMNS)
    local = blocks.groupBy("seg_group").applyInPandas(leaf, schema=_RESULT_SCHEMA)
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

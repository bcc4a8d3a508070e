"""Seeded query mixes and the latency summary rule.

Terms are ``synth_term(rank)`` over the Zipf vocabulary of
``synth_transcripts`` (rank 1 is the most frequent term). A query is a
tuple ``(mode, terms, min_should_match)``.
"""

from __future__ import annotations

import itertools
import math
import random

VOCAB = 5000          # synth_transcripts' default vocabulary size
HEAD_MAX_RANK = 1300  # query_head draws head and mid terms up to this rank
TAIL_MIN_RANK = 1001  # query_tail draws terms above rank 1000
TAIL_SIZES = (1, 2, 3)  # terms per query_tail query, cycled: one pass
N_WARMUP = 6          # untimed queries before timing: the query path's JIT warm-up
BEYOND = 10           # samples a reported percentile must leave above it
LADDER = (50, 75, 90, 95, 99, 99.9)  # percentiles high_percentile tries

# (mode, number of terms, min_should_match) of query_head's distinct
# queries: disjunctions of 1-6 terms, a conjunction, a dismax and a
# min_should_match query
HEAD_SHAPES = [
    ("disjunctive", 1, None),
    ("disjunctive", 3, None),
    ("disjunctive", 6, None),
    ("conjunctive", 2, None),
    ("dismax", 3, None),
    ("disjunctive", 4, 2),
]


def head_queries(seed: int, term) -> list:
    """query_head's distinct queries; the timed loop cycles through them,
    so every term repeats and the dictionary cache serves it.

    Ranks follow the corpus's Zipf skew, ``rank = HEAD_MAX_RANK ** u``.
    Term j of an n-term query takes u near the middle of the j-th of n
    equal strata (the one term of a single-term query, of the head half),
    jittered by the seed within the stratum's middle fifth: the terms
    change with the seed, the cost profile of the mix does not."""
    rng = random.Random(f"head-{seed}")
    out = []
    for mode, n, msm in HEAD_SHAPES:
        width = (1.0 if n > 1 else 0.5) / n
        ranks: list = []
        for j in range(n):
            while True:
                u = (j + 0.4 + 0.2 * rng.random()) * width
                r = min(HEAD_MAX_RANK, max(1, int(HEAD_MAX_RANK ** u)))
                if r not in ranks:
                    break
            ranks.append(r)
        out.append((mode, tuple(term(r) for r in ranks), msm))
    return out


class TailQueries:
    """query_tail's queries: disjunctions of 1, 2, 3, 1, 2, 3, ... tail
    terms, each term used once in the whole run. Terms are taken in
    order from one seeded permutation of the tail ranks, the N_WARMUP
    warm-up queries first, so no timed query repeats a term seen before
    it. ``next_pass()`` gives the next len(TAIL_SIZES) queries, one of
    each size: a pass of the timed loop."""

    def __init__(self, seed: int, term):
        ranks = list(range(TAIL_MIN_RANK, VOCAB + 1))
        random.Random(f"tail-{seed}").shuffle(ranks)
        self._ranks = iter(ranks)
        self._term = term
        self._sizes = itertools.cycle(TAIL_SIZES)
        self.warmup = [next(self) for _ in range(N_WARMUP)]

    def __iter__(self):
        return self

    def __next__(self):
        terms = tuple(self._term(next(self._ranks)) for _ in range(next(self._sizes)))
        return ("disjunctive", terms, None)

    def next_pass(self) -> list:
        return [next(self) for _ in TAIL_SIZES]


def oracle_for(corpus_dir: str):
    """(OracleIndex, UTF-8 bytes of text) over a staged corpus, in the
    canonical doc-id order (conv_id, turn_idx). Needs no Spark session."""
    import pyarrow.parquet as pq

    from lucene_solr_spark.search.oracle import build_oracle_index

    tbl = pq.read_table(corpus_dir, columns=["conv_id", "turn_idx", "text"])
    tbl = tbl.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    texts = tbl.column("text").to_pylist()
    return build_oracle_index(texts), sum(len(t.encode("utf-8")) for t in texts)


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def high_percentile(samples):
    """(p, value) for the highest percentile on LADDER with at least
    BEYOND samples above it, or None when even p50 has fewer. A run
    needs 100 samples for p90."""
    n = len(samples)
    best = None
    for p in LADDER:
        if n - math.ceil(p / 100.0 * n) >= BEYOND:
            best = p
    return None if best is None else (best, percentile(samples, best))

"""TermAutomatonQuery — match a token-position graph automaton against
indexed token streams, scoring matched-path counts like a phrase.

Reference: lucene/sandbox/src/java/org/apache/lucene/search/
TermAutomatonQuery.java + TermAutomatonScorer.java.

Semantics replicated:

- The automaton is built from (from, to, term) transitions plus ANY
  transitions, then DETERMINIZED (TermAutomatonQuery.finish:111-190,
  Operations.determinize + removeDeadStates); leading or trailing ANY
  transitions are rejected (:133-155).
- The scorer runs an NFA-thread simulation over the doc's token
  positions (TermAutomatonScorer.countMatches:230-345): every query
  term occurrence steps the live threads AND starts a new thread from
  state 0; ANY arcs advance threads across every intermediate integer
  position (:264-291); thread state-sets are MULTISETS (PosState.add
  never dedups, :380-385), so ``freq`` counts one per (start position,
  accepted path). With a determinized automaton each accepted TERM
  SEQUENCE has exactly one path, hence:

    freq(doc) = Σ over accepted sequences s of
                #{p : every real term s[i] occurs at position p+i}

  (an ANY slot consumes one position unconditionally). This module
  enumerates the accepted sequences of the determinized automaton
  (finite — cyclic automatons are rejected, matching the reference's
  practical use via graph token streams) and computes the sum with
  per-sequence offset equi-joins.
- Scoring (TermAutomatonWeight ctor :340-362 + score():357-359):
  one SimScorer built from ALL distinct real terms' TermStatistics —
  BM25's multi-stats scorer SUMS the per-term idfs — applied to the
  path-count freq with the field's real norms:
  ``score = Σ_t idf(df_t) · freq/(freq + k1(1-b+b·qdl/avgdl))``.

Plan shape at scale: one term-pushed scan of the positional token
table per distinct real term, offset equi-joins keyed on
(doc_id, pos) — co-partitioned, no cartesian — one hash-agg per
sequence, a UNION ALL sum, then the broadcast norm-cache join. Cost
scales with the matched terms' postings, never the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bm25
from .scoring import empty_scores, with_tf

__all__ = ["TermAutomaton", "term_automaton_search"]

ANY = "*ANY*"


class TermAutomaton:
    """Builder mirroring TermAutomatonQuery: createState /
    addTransition / addAnyTransition / setAccept / finish."""

    def __init__(self):
        self._n = 1  # state 0 exists
        self._trans = []  # (from, to, label) — label ANY for any-arcs
        self._accept = set()
        self._sequences = None

    def create_state(self) -> int:
        self._n += 1
        return self._n - 1

    def add_transition(self, src: int, dest: int, term: str) -> None:
        if term == ANY:
            raise ValueError("use add_any_transition")
        self._trans.append((src, dest, term))

    def add_any_transition(self, src: int, dest: int) -> None:
        self._trans.append((src, dest, ANY))

    def set_accept(self, state: int, accept: bool = True) -> None:
        if accept:
            self._accept.add(state)
        else:
            self._accept.discard(state)

    # -- determinize (subset construction over the term alphabet,
    #    ANY as an ordinary symbol — exactly what Operations.determinize
    #    does with anyTermID as a termID) and enumerate sequences.
    def finish(self) -> list:
        """Validate + determinize + enumerate accepted sequences
        (each a tuple of term strings / ANY). Raises on leading or
        trailing ANY (TermAutomatonQuery.finish:133-155) and on cyclic
        automata (unbounded sequence sets)."""
        for src, dest, label in self._trans:
            if label == ANY:
                if src == 0:
                    raise ValueError(
                        "automaton cannot lead with an ANY transition"
                    )
                if dest in self._accept:
                    raise ValueError(
                        "automaton cannot end with an ANY transition"
                    )
        out = {}
        for src, dest, label in self._trans:
            out.setdefault(src, {}).setdefault(label, set()).add(dest)

        # DFA over frozensets.
        start = frozenset([0])
        dfa = {}
        acc = set()
        stack = [start]
        seen = {start}
        while stack:
            cur = stack.pop()
            if cur & self._accept:
                acc.add(cur)
            labels = set()
            for s in cur:
                labels.update(out.get(s, {}))
            for lab in labels:
                nxt = frozenset(
                    d for s in cur for d in out.get(s, {}).get(lab, ())
                )
                dfa.setdefault(cur, {})[lab] = nxt
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)

        sequences = []

        def walk(state, path, on_path):
            if state in acc and path:
                sequences.append(tuple(path))
            for lab, nxt in sorted(
                dfa.get(state, {}).items(), key=lambda kv: kv[0]
            ):
                if nxt in on_path:
                    raise ValueError(
                        "cyclic term automaton: infinite language"
                    )
                walk(nxt, path + [lab], on_path | {nxt})

        walk(start, [], frozenset([start]))
        self._sequences = sequences
        self._dfa = dfa       # frozenset-state DFA, for the pytest
        self._dfa_accept = acc  # literal scorer simulation
        self._dfa_start = start
        return sequences


def term_automaton_search(
    tables,
    tokens: DataFrame,
    automaton: TermAutomaton,
    k: int | None = 10,
    boost: float = 1.0,
    k1=bm25.K1,
    b=bm25.B,
) -> DataFrame:
    """Run a finished TermAutomaton against the positional token
    stream ``tokens`` (doc_id, pos, term), scoring with ``tables``'s
    index statistics. → DataFrame(doc_id long, score double) ordered
    (score desc, doc_id asc)."""
    spark = tokens.sparkSession
    seqs = (
        automaton._sequences
        if automaton._sequences is not None
        else automaton.finish()
    )
    real_terms = sorted(
        {t for s in seqs for t in s if t != ANY}
    )
    if not seqs or not real_terms:
        return empty_scores(spark, "double")

    # Σ idf over the distinct real terms present in the dictionary
    # (TermAutomatonWeight: one scorer over allTermStats; BM25's
    # multi-stats idf is the sum; absent terms contribute nothing).
    n = max(int(tables.doc_count), 1)
    dfs = tables.lookup_df(real_terms).values()
    idf_sum = sum(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) for df in dfs)
    if not dfs:
        return empty_scores(spark, "double")

    toks = tokens.filter(F.col("term").isin(real_terms)).select(
        "doc_id", "pos", "term"
    )
    counts = None
    for seq in seqs:
        anchors = [(i, t) for i, t in enumerate(seq) if t != ANY]
        i0, t0 = anchors[0]
        m = toks.filter(F.col("term") == t0).select(
            "doc_id", (F.col("pos") - F.lit(i0)).alias("start")
        )
        for j, (i, t) in enumerate(anchors[1:], start=1):
            nxt = toks.filter(F.col("term") == t).select(
                "doc_id", (F.col("pos") - F.lit(i)).alias(f"s{j}")
            )
            m = m.join(
                nxt,
                (m["doc_id"] == nxt["doc_id"])
                & (F.col("start") == F.col(f"s{j}")),
            ).select(m["doc_id"], "start")
        c = m.groupBy("doc_id").agg(F.count("*").alias("c"))
        counts = c if counts is None else counts.unionByName(c)
    freqs = counts.groupBy("doc_id").agg(F.sum("c").alias("freq"))

    out = (
        with_tf(
            freqs.join(tables.norms.select("doc_id", "norm_byte"), "doc_id"),
            tables, k1, b, "double",
        )
        .select(
            "doc_id", (F.lit(float(boost) * idf_sum) * F.col("tf_score")).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    return out.limit(k) if k is not None else out

"""Parsed-query execution: boolean clauses + phrase clauses, combined.

The query-lifecycle glue (reference: search/IndexSearcher.java:533-613 —
createWeight → per-segment scorers → TopDocs merge; clause wiring
search/Boolean2ScorerSupplier.java:106-174):

- term clauses score via the exact-BM25 brute-force scorer over the
  index's postings relation (SQL-oracle-reproducible in double
  precision),
- phrase clauses ("…" / "…"~n) are REQUIRED and score via the positional
  segmented index (search/phrase.py),
- must_not excludes via anti-join (ReqExclScorer),
- with required phrases present, disjunctive term clauses become
  OPTIONAL score contributions on the phrase-matching docs — exactly
  ReqOptSumScorer (reference search/ReqOptSumScorer.java); conjunctive
  term clauses intersect (ConjunctionScorer),
- total score = Σ clause scores, ordered (score desc, doc_id asc).

Queries using the full grammar — mixed MUST+SHOULD, required
disjunction groups ``(a b) AND c``, field filters ``lang:en``, range
filters ``doc_id:[100 TO 4999]`` — run through the general path
(_execute_general): ONE per-(doc, term) score table feeds every clause,
required clauses gate matching via per-clause countDistinct, optional
clauses left-join their score in (ReqOptSumScorer), filters semi/
anti-join against the stored fields (the IndexOrDocValuesQuery / Solr
fq analog — constant-score, no contribution). Everything is one
aggregation over one scan — no per-clause rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bm25
from .bruteforce import search_bruteforce
from .phrase import search_phrase
from .queryparser import ParsedQuery, parse_query
from .scoring import empty_scores, scored_postings, term_weights

__all__ = ["execute_parsed"]


def execute_parsed(
    q: str | ParsedQuery,
    tables,
    pos_index=None,
    k: int | None = 10,
    precision: str = "float32",
    analyzer=None,
    stored: DataFrame | None = None,
) -> DataFrame:
    """Run a classic query string end-to-end.

    tables: the index whose postings relation scores term clauses and
    must_not (a SegmentedIndex, or an IndexTables from splitter/
    multireader).
    pos_index: positional SegmentedIndex — required iff the query has
    phrase clauses.
    stored: (doc_id, <metadata fields…>) — required iff the query has
    field/range filters on non-text fields.
    Returns DataFrame(doc_id long, score float|double) ordered by
    (score desc, doc_id asc), limited to k (k=None: all matches).
    """
    p = parse_query(q, analyzer) if isinstance(q, str) else q
    score_type = "double" if precision == "double" else "float"
    if p.is_match_none():
        return empty_scores(tables.dictionary.sparkSession, precision)
    if p.phrases and pos_index is None:
        raise ValueError("query has phrase clauses but no pos_index given")
    if not p.is_simple():
        return _execute_general(p, tables, pos_index, k, precision, stored)
    if not p.phrases and not p.terms:
        return empty_scores(tables.dictionary.sparkSession, precision)

    boosts = {t: b for t, b in (p.must + p.should)}
    term_scores = None
    if p.terms:
        term_scores = search_bruteforce(
            tables, p.terms, mode=p.mode, k=None, boost=boosts,
            precision=precision,
        ).select("doc_id", "score")

    phrase_scores = None
    for words, slop in p.phrases:
        ph = search_phrase(
            pos_index, words, slop=slop, k=None, precision=precision
        ).select("doc_id", F.col("score").alias("ph_score"))
        if phrase_scores is None:
            phrase_scores = ph
        else:  # all phrases REQUIRED: intersect, sum scores
            phrase_scores = (
                phrase_scores.join(ph.withColumnRenamed("ph_score", "s2"),
                                   "doc_id")
                .select(
                    "doc_id",
                    (F.col("ph_score") + F.col("s2")).alias("ph_score"),
                )
            )

    if phrase_scores is None:
        combined = term_scores
    elif term_scores is None:
        combined = phrase_scores.select(
            "doc_id", F.col("ph_score").alias("score")
        )
    elif p.mode == "conjunctive":
        combined = phrase_scores.join(term_scores, "doc_id").select(
            "doc_id", (F.col("ph_score") + F.col("score")).alias("score")
        )
    else:  # ReqOptSumScorer: phrases required, term scores optional
        combined = phrase_scores.join(term_scores, "doc_id", "left").select(
            "doc_id",
            (
                F.col("ph_score")
                + F.coalesce(F.col("score"), F.lit(0.0).cast(score_type))
            ).alias("score"),
        )

    if p.exclude:
        excl = tables.postings_of(p.exclude).select("doc_id").distinct()
        combined = combined.join(excl, "doc_id", "left_anti")

    combined = combined.select(
        "doc_id", F.col("score").cast(score_type).alias("score")
    ).orderBy(F.desc("score"), F.asc("doc_id"))
    return combined.limit(k) if k is not None else combined


def _like_pattern(pat: str) -> str:
    """``*``/``?`` wildcard syntax → SQL LIKE pattern (literals escaped)."""
    return (
        pat.replace("\\", "\\\\")
        .replace("%", r"\%")
        .replace("_", r"\_")
        .replace("*", "%")
        .replace("?", "_")
    )


def _expansion_docs(tables, spec) -> DataFrame:
    """Matching doc set for one multi-term expansion clause
    (occur, kind, pattern, param, boost) — the constant-score rewrite of
    PrefixQuery / WildcardQuery / FuzzyQuery / RegexpQuery (reference
    search/MultiTermQueryConstantScoreWrapper.java: collect the expanded
    terms' postings into one bitset; no per-term scoring).

    Distributed shape: dictionary predicate scan → equi-join with
    postings on term → distinct doc_ids. Unlike Lucene's
    IndexSearcher.maxClauseCount rewrite cap there is no 1024-term
    limit — the expanded term set never materializes on the driver, so
    a million-term prefix behaves like any other join (AQE broadcasts
    the matched-terms side when it is small)."""
    _, kind, pattern, param, _ = spec
    d = tables.dictionary.select("term")
    if kind == "prefix":
        cond = F.col("term").startswith(pattern)
    elif kind == "wildcard":
        cond = F.col("term").like(_like_pattern(pattern))
    elif kind == "fuzzy":
        from ..functions.editdist import damerau_levenshtein

        cond = damerau_levenshtein(F.col("term"), pattern) <= int(param)
    elif kind == "regexp":
        # RegexpQuery anchors the whole term, in LUCENE RegExp syntax
        # (util/automaton/RegExp.java — not POSIX/Java regex): run the
        # real interval-DFA engine Arrow-batched over the dictionary,
        # with the automaton's mandatory prefix pushed into the scan
        # as a startswith predicate (the Catalyst analog of
        # AutomatonTermsEnum's common-prefix seek)
        from ..analysis.luceneregex import (
            compile_regexp, mandatory_prefix, regexp_match_udf)

        prefix = mandatory_prefix(compile_regexp(pattern))
        cond = regexp_match_udf(F.col("term"), pattern)
        if prefix:
            cond = F.col("term").startswith(prefix) & cond
    else:
        raise ValueError(f"unknown expansion kind {kind!r}")
    terms = d.filter(cond)
    return tables.postings.join(terms, "term").select("doc_id").distinct()


def _filter_docs(stored: DataFrame, spec) -> DataFrame:
    """(doc_id) matching one filter spec over the stored fields."""
    fld = spec[1]
    if fld not in stored.columns:
        # classic-grammar artifact: ANY 'word:rest' token parses as a
        # field query (Lucene's parser does the same with 'http://x') —
        # fail with the field name instead of an AnalysisException
        raise ValueError(
            f"unknown filter field {fld!r} (stored fields: "
            f"{sorted(stored.columns)}) — quote or escape the ':' if "
            "this was meant as a literal term"
        )
    if spec[0] == "eq":
        _, fld, val = spec
        cond = F.col(fld).cast("string") == str(val)
    elif spec[0] == "in":  # fielded group lang:(en fr) — {!terms} analog
        _, fld, vals = spec
        cond = F.col(fld).cast("string").isin([str(v) for v in vals])
    elif spec[0] == "like":  # wildcard on a stored field: role:us*r
        _, fld, pat = spec
        cond = F.col(fld).cast("string").like(_like_pattern(pat))
    else:
        _, fld, lo, hi, lo_incl, hi_incl = spec
        numeric = all(isinstance(x, float) or x is None for x in (lo, hi))
        col = F.col(fld).cast("double") if numeric else F.col(fld).cast("string")
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (col >= lo if lo_incl else col > lo)
        if hi is not None:
            cond = cond & (col <= hi if hi_incl else col < hi)
    return stored.filter(cond).select("doc_id")


def _execute_general(
    p: ParsedQuery,
    tables,
    pos_index,
    k: int | None,
    precision: str,
    stored: DataFrame | None,
) -> DataFrame:
    """Full-grammar execution: must + required-disjunction groups +
    optional should + phrases + field/range filters + must_not, over a
    single per-(doc, term) score table (one scan, one aggregation)."""
    score_type = "double" if precision == "double" else "float"
    if (p.filters or p.neg_filters) and stored is None:
        raise ValueError("query has field/range filters but no stored given")

    group_terms = [(t, b, gi) for gi, g in enumerate(p.groups) for t, b in g]
    boosts = {t: b for t, b in p.must + p.should} | {
        t: b for t, b, _ in group_terms
    }
    all_terms = list(boosts)
    scoring = None
    if all_terms:
        weights = term_weights(
            tables.lookup_df(all_terms), tables.doc_count, all_terms, boosts,
            bm25.K1, bm25.B, precision,
        )
        present = {t for t, _ in weights}
        # a MUST term absent from the index can never match; a group with
        # no present member likewise (BooleanWeight: empty scorer → null)
        if any(t not in present for t, _ in p.must) or any(
            all(t not in present for t, _ in g) for g in p.groups
        ):
            return empty_scores(tables.dictionary.sparkSession, precision)
        scoring = scored_postings(
            tables, weights, bm25.K1, bm25.B, precision
        ).select("doc_id", "term", "term_score")

    must_terms = {t for t, _ in p.must}
    group_sets = [{t for t, _ in g} for g in p.groups]
    req_terms = must_terms.union(*group_sets) if group_sets else set(must_terms)
    opt_terms = {t for t, _ in p.should} - req_terms

    base = None  # (doc_id, score double)
    if req_terms:
        n_must_expr = (
            F.count_distinct(
                F.when(F.col("term").isin(sorted(must_terms)), F.col("term"))
            )
            if must_terms
            else F.max(F.lit(0))
        )
        # one satisfied-flag per group: a term shared by several groups
        # satisfies each of them (BooleanQuery semantics — a single gid
        # per term would under-count)
        grp_aggs = [
            F.max(
                F.when(F.col("term").isin(sorted(gs)), 1).otherwise(0)
            ).alias(f"grp_{gi}")
            for gi, gs in enumerate(group_sets)
        ]
        req = (
            scoring.filter(F.col("term").isin(sorted(req_terms)))
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("term_score").cast("double")).alias("score"),
                n_must_expr.alias("n_must"),
                *grp_aggs,
            )
            .filter(F.col("n_must") == len(p.must))
        )
        for gi in range(len(group_sets)):
            req = req.filter(F.col(f"grp_{gi}") == 1)
        base = req.select("doc_id", "score")

    for words, slop in p.phrases:
        ph = search_phrase(
            pos_index, words, slop=slop, k=None, precision=precision
        ).select("doc_id", F.col("score").cast("double").alias("ph_score"))
        if base is None:
            base = ph.select("doc_id", F.col("ph_score").alias("score"))
        else:
            base = base.join(ph, "doc_id").select(
                "doc_id", (F.col("score") + F.col("ph_score")).alias("score")
            )

    # required multi-term expansions (constant-score): intersect and add
    # the clause boost — MultiTermQueryConstantScoreWrapper inside MUST
    for e in p.expansions:
        if e[0] != "must":
            continue
        docs = _expansion_docs(tables, e)
        b = F.lit(float(e[4])).cast("double")
        if base is None:
            base = docs.select("doc_id", b.alias("score"))
        else:
            base = base.join(docs, "doc_id").select(
                "doc_id", (F.col("score") + b).alias("score")
            )

    opt_parts = []
    if opt_terms and scoring is not None:
        opt_parts.append(
            scoring.filter(F.col("term").isin(sorted(opt_terms)))
            .groupBy("doc_id")
            .agg(F.sum(F.col("term_score").cast("double")).alias("opt_score"))
        )
    for e in p.expansions:  # optional expansions: constant boost if matched
        if e[0] != "should":
            continue
        opt_parts.append(
            _expansion_docs(tables, e).select(
                "doc_id", F.lit(float(e[4])).cast("double").alias("opt_score")
            )
        )
    opt = None
    if opt_parts:
        opt = opt_parts[0]
        for part in opt_parts[1:]:
            opt = opt.unionByName(part)
        if len(opt_parts) > 1:
            opt = opt.groupBy("doc_id").agg(
                F.sum("opt_score").alias("opt_score")
            )
    if base is None:
        if opt is not None:
            # no required scoring clause: optional terms define the match set
            base = opt.select("doc_id", F.col("opt_score").alias("score"))
        elif p.filters:
            # pure-filter query: ConstantScoreQuery semantics, score 1.0
            base = (
                stored.select("doc_id")
                .distinct()
                .withColumn("score", F.lit(1.0).cast("double"))
            )
        else:
            return empty_scores(tables.dictionary.sparkSession, precision)
    elif opt is not None:  # ReqOptSumScorer
        base = base.join(opt, "doc_id", "left").select(
            "doc_id",
            (F.col("score") + F.coalesce(F.col("opt_score"), F.lit(0.0))).alias(
                "score"
            ),
        )

    for spec in p.filters:
        base = base.join(F.broadcast(_filter_docs(stored, spec)), "doc_id", "semi")
    for spec in p.neg_filters:
        base = base.join(
            F.broadcast(_filter_docs(stored, spec)), "doc_id", "anti"
        )
    if p.exclude:
        excl = tables.postings_of(p.exclude).select("doc_id").distinct()
        base = base.join(excl, "doc_id", "left_anti")
    for e in p.expansions:  # prohibited expansions: -vect* (ReqExcl)
        if e[0] == "must_not":
            base = base.join(_expansion_docs(tables, e), "doc_id", "left_anti")

    out = base.select(
        "doc_id", F.col("score").cast(score_type).alias("score")
    ).orderBy(F.desc("score"), F.asc("doc_id"))
    return out.limit(k) if k is not None else out

"""Parsed-query executor: phrase+term combination semantics.

Reference: search/ReqOptSumScorer.java (required phrase + optional
should terms), ReqExclScorer.java (must_not), Boolean2ScorerSupplier
clause wiring.
"""

import math

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import transcripts_from_pandas
from lucene_solr_spark.index.segments import build_segmented_index
from lucene_solr_spark.search.bruteforce import search_bruteforce
from lucene_solr_spark.search.executor import execute_parsed
from lucene_solr_spark.search.phrase import search_phrase


@pytest.fixture(scope="module")
def pos_index(spark, tiny_corpus, tmp_path_factory):
    df = transcripts_from_pandas(spark, tiny_corpus)
    return build_segmented_index(
        df,
        str(tmp_path_factory.mktemp("exec_idx")),
        num_segments=4,
        seg_group_size=2,
        n_buckets=8,
        index_positions=True,
    )


def _bigram(spark, pos_index):
    from lucene_solr_spark.index.builder import standard_tokens

    tok = pos_index.stored.select(
        "doc_id", F.posexplode(standard_tokens("text")).alias("pos", "term")
    )
    pair = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.term").alias("t1"), F.col("b.term").alias("t2"))
        .agg(F.count_distinct("a.doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .orderBy(F.desc("nd"), "t1", "t2")
        .first()
    )
    return pair["t1"], pair["t2"]


def test_req_opt_sum(spark, tiny_index, pos_index):
    """Phrase required; should-term contributes where present, docs
    outside the phrase set never appear."""
    t1, t2 = _bigram(spark, pos_index)
    opt = "the"  # high-df term, usually present
    q = f'"{t1} {t2}" {opt}'
    got = {
        r["doc_id"]: r["score"]
        for r in execute_parsed(q, tiny_index, pos_index, k=None).collect()
    }
    ph = {
        r["doc_id"]: r["score"]
        for r in search_phrase(pos_index, [t1, t2]).collect()
    }
    ts = {
        r["doc_id"]: r["score"]
        for r in search_bruteforce(tiny_index, [opt], k=None).collect()
    }
    assert set(got) == set(ph)  # required clause defines the doc set
    for d, s in got.items():
        assert math.isclose(s, ph[d] + ts.get(d, 0.0), rel_tol=1e-6)


def test_conjunctive_with_phrase(spark, tiny_index, pos_index):
    t1, t2 = _bigram(spark, pos_index)
    q = f'"{t1} {t2}" AND {t1}'
    got = {
        r["doc_id"]: r["score"]
        for r in execute_parsed(q, tiny_index, pos_index, k=None).collect()
    }
    ph = {
        r["doc_id"]: r["score"]
        for r in search_phrase(pos_index, [t1, t2]).collect()
    }
    ts = {
        r["doc_id"]: r["score"]
        for r in search_bruteforce(tiny_index, [t1], k=None).collect()
    }
    assert set(got) == set(ph) & set(ts)
    for d, s in got.items():
        assert math.isclose(s, ph[d] + ts[d], rel_tol=1e-6)


def test_must_not_excludes(spark, tiny_index, pos_index):
    t1, t2 = _bigram(spark, pos_index)
    base = {
        r["doc_id"]
        for r in execute_parsed(
            f'"{t1} {t2}"', tiny_index, pos_index, k=None
        ).collect()
    }
    excl_docs = {
        r["doc_id"]
        for r in tiny_index.postings.filter(F.col("term") == t1)
        .select("doc_id")
        .collect()
    }
    got = {
        r["doc_id"]
        for r in execute_parsed(
            f'"{t1} {t2}" -{t1}', tiny_index, pos_index, k=None
        ).collect()
    }
    assert got == base - excl_docs == set()  # t1 is in every phrase doc


def test_terms_only_matches_bruteforce(spark, tiny_index):
    got = [
        (r["doc_id"], r["score"])
        for r in execute_parsed("the data", tiny_index, k=10).collect()
    ]
    exp = [
        (r["doc_id"], r["score"])
        for r in search_bruteforce(tiny_index, ["the", "data"], k=10).collect()
    ]
    assert got == exp


def test_phrase_without_pos_index_raises(tiny_index):
    with pytest.raises(ValueError):
        execute_parsed('"a b"', tiny_index, None)


# ------------------------------------------------- full-grammar execution

def _score_map(df):
    return {r["doc_id"]: r["score"] for r in df.collect()}


def test_mixed_must_should_is_req_opt_sum(spark, tiny_index):
    """'+a b' == ReqOptSumScorer: match set = docs matching a; score =
    score(a) + score(b) where b matches, else score(a) alone."""
    req = _score_map(search_bruteforce(tiny_index, ["data"], k=None))
    opt = _score_map(search_bruteforce(tiny_index, ["the"], k=None))
    got = _score_map(execute_parsed("+data the", tiny_index, k=None))
    assert set(got) == set(req)
    for d, s in got.items():
        assert s == pytest.approx(req[d] + opt.get(d, 0.0), abs=1e-6)


def test_required_group_gates_and_sums(spark, tiny_index):
    """'(a OR b) AND c': docs must match c and >=1 of {a,b}; all
    matching group members contribute score (BooleanQuery-inside-MUST)."""
    a = _score_map(search_bruteforce(tiny_index, ["data"], k=None))
    b = _score_map(search_bruteforce(tiny_index, ["query"], k=None))
    c = _score_map(search_bruteforce(tiny_index, ["the"], k=None))
    got = _score_map(
        execute_parsed("(data OR query) AND the", tiny_index, k=None)
    )
    expect = {
        d: c[d] + a.get(d, 0.0) + b.get(d, 0.0)
        for d in c
        if d in a or d in b
    }
    assert set(got) == set(expect)
    for d in got:
        assert got[d] == pytest.approx(expect[d], abs=1e-6)


def test_field_and_range_filters_constant_score(spark, tiny_index):
    """Metadata filters gate matching without touching the score."""
    base = _score_map(execute_parsed("data", tiny_index, k=None))
    stored = tiny_index.stored
    got = execute_parsed(
        "data role:user", tiny_index, k=None, stored=stored
    )
    user_docs = {
        r["doc_id"] for r in stored.filter(F.col("role") == "user")
        .select("doc_id").collect()
    }
    gm = _score_map(got)
    assert set(gm) == set(base) & user_docs
    for d in gm:
        assert gm[d] == pytest.approx(base[d], abs=1e-6)

    rng = _score_map(
        execute_parsed(
            "data turn_idx:[0 TO 1]", tiny_index, k=None, stored=stored
        )
    )
    lo_docs = {
        r["doc_id"]
        for r in stored.filter(F.col("turn_idx") <= 1).select("doc_id").collect()
    }
    assert set(rng) == set(base) & lo_docs


def test_negated_filter_and_pure_filter_query(spark, tiny_index):
    stored = tiny_index.stored
    base = _score_map(execute_parsed("data", tiny_index, k=None))
    neg = _score_map(
        execute_parsed("data -role:user", tiny_index, k=None, stored=stored)
    )
    user_docs = {
        r["doc_id"] for r in stored.filter(F.col("role") == "user")
        .select("doc_id").collect()
    }
    assert set(neg) == set(base) - user_docs
    # pure-filter query: ConstantScore 1.0 per matching doc
    pf = _score_map(
        execute_parsed("role:user", tiny_index, k=None, stored=stored)
    )
    assert set(pf) == user_docs and all(s == 1.0 for s in pf.values())


def test_filters_require_stored(spark, tiny_index):
    with pytest.raises(ValueError, match="stored"):
        execute_parsed("data lang:en", tiny_index, k=5)


def test_absent_must_term_matches_nothing(spark, tiny_index):
    assert (
        execute_parsed("+zzzznotaterm data", tiny_index, k=None).count() == 0
    )
    # a group whose members are all absent also matches nothing
    assert (
        execute_parsed(
            "(zzzznotaterm qqqqnope) AND data", tiny_index, k=None
        ).count()
        == 0
    )


def test_shared_term_satisfies_both_groups(make_index, spark):
    """'(a b) AND (a c)': a doc containing only 'a' satisfies BOTH
    required disjunctions (one gid per term would wrongly exclude it)."""
    import pandas as pd

    from lucene_solr_spark.index.builder import transcripts_from_pandas

    rows = [
        ("c0", 0, "u", "aaa xonly words here", None),   # only shared term
        ("c1", 0, "u", "aaa bbb words here", None),     # shared + group1
        ("c2", 0, "u", "bbb ccc words here", None),     # both via b and c
        ("c3", 0, "u", "bbb words only here", None),    # group1 only → out
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.Timestamp("2026-01-01", tz="UTC")
    idx = make_index(
        transcripts_from_pandas(spark, pdf), analyzer="simple",
        num_segments=2,
    )
    by_conv = {
        r["conv_id"]: r["doc_id"]
        for r in idx.stored.select("conv_id", "doc_id").collect()
    }
    got = set(
        _score_map(
            execute_parsed("(aaa bbb) AND (aaa ccc)", idx, k=None)
        )
    )
    # c0: 'aaa' alone satisfies both groups; c3: group2 unsatisfied
    assert got == {by_conv["c0"], by_conv["c1"], by_conv["c2"]}


def test_unknown_filter_field_clear_error(spark, tiny_index):
    with pytest.raises(ValueError, match="unknown filter field 'http'"):
        execute_parsed(
            "data http://example.com", tiny_index, k=5,
            stored=tiny_index.stored,
        ).collect()


# ------------------------------- constant-score multi-term expansions


def test_should_expansion_adds_constant_boost(spark, tiny_index):
    """'+head pre*': required BM25 term plus an optional prefix
    expansion — each matching doc gains exactly the clause boost
    (MultiTermQueryConstantScoreWrapper semantics)."""
    tables = tiny_index
    head = tables.dictionary.orderBy(F.desc("df"), "term").first()["term"]
    pre = head[:2]
    res = {
        r["doc_id"]: r["score"]
        for r in execute_parsed(
            f"+{head} {pre}*^2", tables, k=None, precision="double"
        ).collect()
    }
    base = {
        r["doc_id"]: r["score"]
        for r in search_bruteforce(
            tables, [head], mode="conjunctive", k=None, precision="double"
        ).collect()
    }
    matched = {
        r["doc_id"]
        for r in tables.postings.join(
            tables.dictionary.filter(F.col("term").startswith(pre))
            .select("term"),
            "term",
        ).select("doc_id").distinct().collect()
    }
    assert set(res) == set(base)  # expansion is optional: no gating
    for d, s in base.items():
        want = s + (2.0 if d in matched else 0.0)
        assert math.isclose(res[d], want, rel_tol=1e-12), (d, res[d], want)


def test_must_and_not_expansions_gate_matches(spark, tiny_index):
    """'+pre*' alone matches exactly the expansion doc set at constant
    score; '-pre*' excludes it (ReqExcl)."""
    tables = tiny_index
    term = tables.dictionary.orderBy(F.desc("df"), "term").first()["term"]
    pre = term[:2]
    matched = {
        r["doc_id"]
        for r in tables.postings.join(
            tables.dictionary.filter(F.col("term").startswith(pre))
            .select("term"),
            "term",
        ).select("doc_id").distinct().collect()
    }
    res = execute_parsed(
        f"+{pre}*", tables, k=None, precision="double"
    ).collect()
    assert {r["doc_id"] for r in res} == matched
    assert all(r["score"] == 1.0 for r in res)

    # fuzzy~0 == exact term set, constant score
    fz = execute_parsed(
        "+repeatterm~0", tables, k=None, precision="double"
    ).collect()
    exact = {
        r["doc_id"]
        for r in tables.postings.filter(F.col("term") == "repeatterm")
        .select("doc_id").collect()
    }
    assert {r["doc_id"] for r in fz} == exact and len(exact) > 0

    # prohibited expansion: survivors share no pre-prefixed term
    excl = execute_parsed(
        f"zzsingletonterm -{pre}*", tables, k=None, precision="double"
    ).collect()
    assert all(r["doc_id"] not in matched for r in excl)


def test_regexp_expansion_anchored(spark, tiny_index):
    """'/gap.*/' must match gapterm docs (full-term anchoring) and not
    terms merely containing 'gap' mid-string."""
    tables = tiny_index
    res = {
        r["doc_id"]
        for r in execute_parsed(
            "+/gap.*/", tables, k=None, precision="double"
        ).collect()
    }
    want = {
        r["doc_id"]
        for r in tables.postings.filter(F.col("term").rlike("^gap"))
        .select("doc_id").distinct().collect()
    }
    assert res == want and len(res) > 0


def test_regexp_lucene_syntax_complement(spark, tiny_index):
    """RegexpQuery takes LUCENE RegExp syntax: `gap.*&~(gap)` uses
    intersection+complement (absent from POSIX) to match gap-prefixed
    terms longer than the bare 'gap'."""
    tables = tiny_index
    res = {
        r["doc_id"]
        for r in execute_parsed(
            "+/gap.*&~(gap)/", tables, k=None, precision="double"
        ).collect()
    }
    want = {
        r["doc_id"]
        for r in tables.postings.filter(
            F.col("term").rlike("^gap.+$"))
        .select("doc_id").distinct().collect()
    }
    assert res == want and len(res) > 0


def test_fielded_group_in_filter(spark, tiny_index):
    """'head role:(user assistant)' == bruteforce(head) semi-joined to
    docs whose stored role is in the set (constant-score filter)."""
    tables = tiny_index
    head = tables.dictionary.orderBy(F.desc("df"), "term").first()["term"]
    res = execute_parsed(
        f"{head} role:(user assistant)",
        tables,
        k=None,
        precision="double",
        stored=tables.stored,
    ).collect()
    keep = {
        r["doc_id"]
        for r in tables.stored.filter(
            F.col("role").isin("user", "assistant")
        ).select("doc_id").collect()
    }
    base = {
        r["doc_id"]: r["score"]
        for r in search_bruteforce(
            tables, [head], mode="disjunctive", k=None, precision="double"
        ).collect()
    }
    assert {r["doc_id"] for r in res} == {d for d in base if d in keep}
    for r in res:
        assert math.isclose(r["score"], base[r["doc_id"]], rel_tol=1e-12)


def test_query_elevation(spark):
    """QueryElevationComponent: pins in elevation order, excludes
    dropped, organic tail keeps score ranking; pinned doc missing from
    the organic result is simply absent (rerank-only semantics)."""
    from lucene_solr_spark.search.elevation import elevate

    organic = spark.createDataFrame(
        [(1, 5.0), (2, 4.0), (3, 3.0), (4, 2.0), (5, 1.0)],
        "doc_id long, score double",
    )
    got = elevate(organic, [4, 2], excluded=[3], k=10).collect()
    assert [(r["doc_id"], r["elev_pos"], r["rank"]) for r in got] == [
        (4, 1, 1), (2, 2, 2), (1, 0, 3), (5, 0, 4)]
    # pinned id not present in the organic window: no phantom row
    got2 = elevate(organic, [99, 5], k=3).collect()
    assert [r["doc_id"] for r in got2] == [5, 1, 2]


def test_covering_query_per_doc_msm(make_index, spark):
    """CoveringQuery: the min-should-match threshold varies per doc —
    a doc matching 2 clauses passes when its threshold is 2 but a doc
    with threshold 3 needs all three."""
    from lucene_solr_spark.search.covering import covering_query

    docs = spark.createDataFrame(
        [
            (0, "spark merge window"),   # 3 matches
            (1, "spark merge other"),    # 2 matches
            (2, "spark only here"),      # 1 match
            (3, "nothing relevant"),     # 0 matches
        ],
        "doc_id long, text string",
    )
    tables = make_index(docs, analyzer="simple", id_col="doc_id")
    scores = spark.createDataFrame(
        [(0, 3.0), (1, 2.0), (2, 1.0)], "doc_id long, score double"
    )
    # threshold: doc 0 -> 3, doc 1 -> 2, doc 2 -> 2
    thresh = F.when(F.col("doc_id") == 0, 3).otherwise(2)
    got = {
        r["doc_id"]: (r["n_matched"], r["min_required"])
        for r in covering_query(
            tables, ["spark", "merge", "window"], thresh, scores
        ).collect()
    }
    assert got == {0: (3, 3), 1: (2, 2)}  # doc 2 fails 1 < 2; doc 3 absent


def test_common_terms_query_split_and_fallback(make_index, spark):
    """CommonTermsQuery: only the rare term gates matching; common
    terms boost score. All-common input falls back to a plain
    disjunction."""
    from lucene_solr_spark.search.commonterms import (
        common_terms_query, split_by_frequency,
    )

    # 'everywhere' in all 4 docs (common at 0.5 cutoff); 'rareword' in 1
    docs = spark.createDataFrame(
        [
            (0, "everywhere rareword alpha"),
            (1, "everywhere beta"),
            (2, "everywhere gamma"),
            (3, "everywhere delta"),
        ],
        "doc_id long, text string",
    )
    tables = make_index(docs, analyzer="simple", id_col="doc_id")
    rare, common = split_by_frequency(
        tables, ["rareword", "everywhere"], max_term_frequency=0.5
    )
    assert rare == ["rareword"] and common == ["everywhere"]
    got = common_terms_query(
        tables, ["rareword", "everywhere"], max_term_frequency=0.5, k=10
    ).collect()
    assert [r["doc_id"] for r in got] == [0]  # only the rare-term doc
    # all-common fallback: plain disjunction matches everything
    fb = common_terms_query(
        tables, ["everywhere"], max_term_frequency=0.5, k=10
    ).collect()
    assert len(fb) == 4

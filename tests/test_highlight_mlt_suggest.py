"""Highlighter, MoreLikeThis, suggest/spellcheck unit tests.

Mirrors the reference test style: hand-checked small corpora
(lucene/highlighter/src/test/.../highlight/HighlighterTest.java,
lucene/queries/src/test/.../mlt/TestMoreLikeThis.java,
lucene/suggest/src/test/.../spell/TestDirectSpellChecker.java).
"""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.search.highlight import highlight
from lucene_solr_spark.search.mlt import mlt_terms, more_like_this
from lucene_solr_spark.search.suggest import spellcheck, suggest_prefix

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "spark merge spark merge spark shuffle partition"),
    (2, "merge policy controls segment merge cascades and merge cost"),
    (3, "nothing relevant here at all"),
    (4, "spark streaming micro batch spark executor spark driver spark"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def idx(make_index, corpus):
    return make_index(corpus, analyzer="simple", id_col="doc_id")


def test_highlight_fragment_and_filter(corpus):
    rows = {
        r.doc_id: r
        for r in highlight(corpus, "text", ["spark", "merge"]).collect()
    }
    assert set(rows) == {1, 2, 4}  # doc 0/3 have no match → filtered
    assert rows[1].first_pos == 1
    assert rows[1].fragment.startswith("<em>spark</em> <em>merge</em>")
    # doc 2: first match "merge" at pos 1
    assert rows[2].fragment.count("<em>merge</em>") >= 3


def test_highlight_window_starts_before_match(spark):
    df = spark.createDataFrame(
        [(0, ("x" * 50) + " needle " + ("y" * 100))], "doc_id long, text string"
    )
    r = highlight(df, "text", ["needle"], frag_size=20, lead=5).collect()[0]
    assert r.first_pos == 52
    # 20 raw chars starting 5 before the match, then markup
    assert r.fragment == "xxxx <em>needle</em> yyyyyyyy"


def test_mlt_terms_gates_and_order(idx):
    # doc 4: spark tf=4 (df=2 >= min_df with min_df=1); use low gates
    t = mlt_terms(idx, 4, min_tf=2, min_df=1, max_terms=5).collect()
    assert t[0].term == "spark" and t[0].tf == 4
    # min_tf=2 excludes every single-occurrence term
    assert all(r.tf >= 2 for r in t)


def test_more_like_this_excludes_source(idx):
    r = more_like_this(idx, 4, k=3, min_tf=2, min_df=1, max_terms=5).collect()
    assert all(row.doc_id != 4 for row in r)
    # doc 1 shares "spark" → retrieved
    assert r and r[0].doc_id == 1


def test_suggest_prefix_weight_order(idx):
    s = suggest_prefix(idx, "s", 10).collect()
    terms = [r.term for r in s]
    assert "spark" in terms and "segment" in terms
    weights = [r.weight for r in s]
    assert weights == sorted(weights, reverse=True)


def test_spellcheck_distance_rank(idx):
    s = spellcheck(idx, "spork", max_edits=2, k=5).collect()
    assert s[0].term == "spark" and s[0].distance == 1
    assert all(0 < r.distance <= 2 for r in s)


def test_spellcheck_excludes_exact(idx):
    s = spellcheck(idx, "spark", max_edits=2, k=5).collect()
    assert all(r.term != "spark" for r in s)


def test_best_passages_picks_highest_scoring_window(corpus):
    """UnifiedHighlighter semantics: the winning passage is the
    highest-BM25-weighted window, NOT the window of the first match —
    doc 2's first 'merge' sits in window 0, but window 1 holds two."""
    from lucene_solr_spark.search.highlight import best_passages

    rows = {
        r.doc_id: r
        for r in best_passages(corpus, ["spark", "merge"], window=4).collect()
    }
    assert set(rows) == {1, 2, 4}  # docs 0 and 3 have no query terms
    # doc 1: window 0 = spark merge spark merge (2+2 hits) beats window 1
    assert rows[1].passage == 0 and rows[1].n_matches == 4
    assert rows[1].passage_text == (
        "<em>spark</em> <em>merge</em> <em>spark</em> <em>merge</em>"
    )
    # doc 2: first match is in window 0, but window 1 has merge x2
    assert rows[2].passage == 1 and rows[2].n_matches == 2
    assert rows[2].passage_text == "<em>merge</em> cascades and <em>merge</em>"
    # doc 4: window 1 (spark x2) beats windows 0 and 2 (spark x1 each)
    assert rows[4].passage == 1 and rows[4].n_matches == 2
    # scores are monotone in matched-term weight: doc1 (both terms,
    # 4 hits) outscores doc2 and doc4 (one term, 2 hits)
    assert rows[1].passage_score > rows[2].passage_score
    assert rows[1].passage_score > rows[4].passage_score


def test_best_passages_tie_breaks_to_earliest_window(spark):
    from lucene_solr_spark.search.highlight import best_passages

    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta alpha beta gamma delta")],
        "doc_id long, text string",
    )
    r = best_passages(df, ["alpha"], window=4).collect()[0]
    assert r.passage == 0  # equal scores -> earliest window wins


@pytest.fixture(scope="module")
def sugg(spark):
    from lucene_solr_spark.search.suggest import build_suggestions

    df = spark.createDataFrame(
        [
            (0, "Key Agg Row Scan extra tokens live here"),
            (1, "key agg row merge"),
            (2, "unrelated start of doc"),
            (3, "key agg row merge"),  # duplicate surface, shorter doc
        ],
        "doc_id long, text string",
    )
    return build_suggestions(df)


def test_analyzing_suggest_analyzes_query_and_ranks_by_weight(sugg):
    """AnalyzingSuggester: the lookup key is analyzed with the same
    chain as the suggestions ('Key  AGG!' -> 'key agg'), completions
    come back weight-desc, and duplicate surfaces are deduped at max
    weight."""
    from lucene_solr_spark.search.suggest import analyzing_suggest

    rows = analyzing_suggest(sugg, "Key  AGG!").collect()
    assert [r["key"] for r in rows] == [
        "key agg row scan",   # weight 8 (longest doc)
        "key agg row merge",  # weight 4 (deduped: two docs, same dl)
    ]
    assert [r["weight"] for r in rows] == [8, 4]


def test_fuzzy_suggest_tolerates_prefix_typo(sugg):
    """FuzzySuggester: 'keu agg' (1 edit) still completes 'key agg …';
    a wrong FIRST char (nonFuzzyPrefix=1) matches nothing; a query
    under minFuzzyLength falls back to exact prefix."""
    from lucene_solr_spark.search.suggest import fuzzy_suggest

    rows = fuzzy_suggest(sugg, "keu agg").collect()
    assert [r["key"] for r in rows] == [
        "key agg row scan", "key agg row merge",
    ]
    assert all(r["distance"] == 1 for r in rows)
    assert fuzzy_suggest(sugg, "xey agg").count() == 0
    short = fuzzy_suggest(sugg, "ke").collect()  # < minFuzzyLength: exact
    assert {r["key"] for r in short} == {
        "key agg row scan", "key agg row merge",
    }
    assert fuzzy_suggest(sugg, "ku").count() == 0  # exact prefix miss


def test_word_breaks_and_combinations(make_index, spark):
    """WordBreakSpellChecker analogs: breaks need BOTH halves in the
    dictionary at min length; combinations need the concatenation to
    be a dictionary term."""
    from lucene_solr_spark.search.suggest import (
        word_breaks, word_combinations,
    )

    docs = spark.createDataFrame(
        [
            ("c0", 0, "sort merge sort data base"),
            ("c0", 1, "database lookup sort"),
            ("c0", 2, "merge data"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    idx = make_index(docs, analyzer="simple")
    wb = word_breaks(idx, ["sortmerge", "database", "xyzzy"]).collect()
    got = {(r["input"], r["lft"], r["rgt"]): r["freq_sum"] for r in wb}
    # sortmerge -> sort+merge; database -> data+base (despite 'database'
    # itself being a term); xyzzy -> nothing
    assert set(got) == {
        ("sortmerge", "sort", "merge"), ("database", "data", "base"),
    }
    assert got[("sortmerge", "sort", "merge")] == 2 + 2  # df sort=2, merge=2
    # min_break_length excludes short halves
    assert not word_breaks(idx, ["database"], min_break_length=5).count()

    wc = word_combinations(idx, ["data", "base", "sort"]).collect()
    # adjacent pair data+base = 'database' (df 1); base+sort absent
    assert [(r["w1"], r["w2"], r["combined"], r["df"]) for r in wc] == [
        ("data", "base", "database", 1)
    ]
    assert word_combinations(
        idx, ["data", "base"], max_combine_length=6
    ).count() == 0  # length cap


def test_context_suggest(spark):
    """ContextQuery: completions filtered by context membership."""
    import pytest

    from lucene_solr_spark.search.suggest import (
        build_suggestions_with_contexts, context_suggest,
    )

    docs = spark.createDataFrame(
        [(0, "solar panel kit", "en"), (1, "solar power bank", "fr"),
         (2, "solar power bank", "de"), (3, "sofa bed", "en")],
        "doc_id long, text string, lang string",
    )
    sugg = build_suggestions_with_contexts(docs, "text", "lang")
    got = {
        r["surface"]: r["contexts"]
        for r in context_suggest(sugg, "so", ["en"], k=10).collect()
    }
    assert set(got) == {"solar panel kit", "sofa bed"}
    fr_de = {
        r["surface"]
        for r in context_suggest(sugg, "solar", ["fr", "de"], k=10).collect()
    }
    assert fr_de == {"solar power bank"}
    # contexts of a shared surface accumulate as a set
    assert sorted(
        r["contexts"]
        for r in context_suggest(sugg, "solar", ["de"], k=10).collect()
    ) == [["de", "fr"]]
    with pytest.raises(ValueError):
        context_suggest(sugg, "so", [], k=10)

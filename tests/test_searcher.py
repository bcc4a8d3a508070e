"""Searcher facade: the one-front-door request path (IndexSearcher /
SearchHandler analog) must route every grammar construct to the same
results as the underlying engines."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.search.bruteforce import search_bruteforce
from lucene_solr_spark.searcher import Searcher


@pytest.fixture(scope="module")
def searcher(spark, tiny_corpus):
    from lucene_solr_spark.index.builder import transcripts_from_pandas

    df = transcripts_from_pandas(spark, tiny_corpus)
    return Searcher.build(df, analyzer="standard")


def test_search_matches_engine(spark, searcher):
    from lucene_solr_spark import fixtures

    t = fixtures.make_vocab()[0]
    got = searcher.search(t, k=5).collect()
    ref = search_bruteforce(searcher.index, [t], k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_search_with_stored_and_filter(spark, searcher):
    from lucene_solr_spark import fixtures

    t = fixtures.make_vocab()[0]
    hits = searcher.search(f"{t} role:user", k=None, with_stored=True)
    rows = hits.collect()
    assert rows and all(r["role"] == "user" for r in rows)
    base = {r["doc_id"] for r in searcher.search(t, k=None).collect()}
    assert {r["doc_id"] for r in rows} <= base


def test_explain_and_highlight_compose(spark, searcher):
    from lucene_solr_spark import fixtures

    t = fixtures.make_vocab()[0]
    hits = searcher.search(t, k=3)
    ex = searcher.explain([t])
    assert {"doc_id", "term", "freq", "df", "weight"} <= set(ex.columns)
    hl = searcher.highlight(hits, [t]).collect()
    assert hl and all("<em>" in r["fragment"] for r in hl)


def test_mixed_grammar_via_facade(spark, searcher):
    from lucene_solr_spark import fixtures

    a, b = fixtures.make_vocab()[0], fixtures.make_vocab()[1]
    got = {
        r["doc_id"]: r["score"]
        for r in searcher.search(f"+{a} {b}", k=None, precision="double").collect()
    }
    req = {
        r["doc_id"]: r["score"]
        for r in search_bruteforce(
            searcher.index, [a], k=None, precision="double"
        ).collect()
    }
    assert set(got) == set(req)
    assert all(got[d] >= req[d] - 1e-9 for d in got)


def test_build_with_positions_wires_phrase_path(spark, tiny_corpus, tmp_path, monkeypatch):
    """Searcher.build(with_positions=True) must return a searcher whose
    phrase queries actually run (round-2 ADVICE: pos_index was dropped),
    from one segmented index build that serves term scoring and phrase
    queries both."""
    from lucene_solr_spark.index import segments
    from lucene_solr_spark.index.builder import transcripts_from_pandas

    calls = []
    real = segments.build_segmented_index

    def counting(*args, **kwargs):
        calls.append(kwargs)
        return real(*args, **kwargs)

    monkeypatch.setattr(segments, "build_segmented_index", counting)
    df = transcripts_from_pandas(spark, tiny_corpus)
    s = Searcher.build(
        df, analyzer="standard", with_positions=True,
        index_dir=str(tmp_path / "posidx"),
    )
    assert len(calls) == 1
    assert s.pos_index is s.index and s.index.has_positions
    hits = s.search('"duplicated tie" breaker', k=5).collect()
    assert len(hits) > 0  # the duplicated edge-case convs match


def test_build_empty_corpus(spark, tiny_corpus, tmp_path):
    """A corpus with no rows builds an empty index that every query path
    answers with no hits."""
    from lucene_solr_spark.index.builder import transcripts_from_pandas
    from lucene_solr_spark.search.wand import search_wand

    df = transcripts_from_pandas(spark, tiny_corpus).limit(0)
    searcher = Searcher.build(df, with_positions=True, index_dir=str(tmp_path))
    index = searcher.index
    assert (index.doc_count, index.max_doc) == (0, 0)
    assert searcher.search("x", k=5).count() == 0
    assert searcher.search('"x y"', k=5).count() == 0
    assert search_wand(index, ["x"], k=5).count() == 0
    assert index.postings.count() == 0 and index.norms.count() == 0


def test_search_mm_spec(spark, tiny_corpus):
    """Searcher.search(mm=...): the Solr mm spec constrains optional
    clauses on the all-SHOULD query shape; other shapes reject."""
    import pytest

    from lucene_solr_spark.index.builder import transcripts_from_pandas
    from lucene_solr_spark.searcher import Searcher

    idx = Searcher.build(transcripts_from_pandas(spark, tiny_corpus))
    q = "vinza ralandi kidivacor"
    all_hits = {r["doc_id"] for r in idx.search(q, k=None).collect()}
    mm_hits = {r["doc_id"] for r in idx.search(q, k=None, mm="100%").collect()}
    # 100% == conjunctive
    con = {
        r["doc_id"]
        for r in idx.search("+vinza +ralandi +kidivacor", k=None).collect()
    }
    assert mm_hits == con and mm_hits <= all_hits and all_hits
    # "2" keeps docs matching at least 2 of the 3
    two = {r["doc_id"] for r in idx.search(q, k=None, mm="2").collect()}
    assert con <= two <= all_hits and two
    with pytest.raises(ValueError):
        idx.search("+vinza ralandi", mm="2")


def test_multireader_parity(make_index, spark):
    """Composite of shard indexes scores identically to one index of
    the union (MultiReader/BaseCompositeReader contract), including a
    term present in only one shard."""
    from lucene_solr_spark.search.bruteforce import search_bruteforce
    from lucene_solr_spark.search.multireader import multi_reader

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["alpha beta", "alpha alpha rare", "beta gap", "alpha beta gap",
             "gap gap", "beta beta alpha"]
        )],
        "doc_id long, text string",
    )
    single = make_index(docs, analyzer="simple", id_col="doc_id")
    s1 = make_index(
        docs.filter("doc_id < 3"), analyzer="simple", id_col="doc_id"
    )
    s2 = make_index(
        docs.filter("doc_id >= 3").withColumn(
            "doc_id", docs.doc_id - 3
        ),
        analyzer="simple", id_col="doc_id",
    )
    comp = multi_reader([s1, s2])
    assert comp.doc_count == single.doc_count
    assert comp.sum_total_term_freq == single.sum_total_term_freq
    for terms in (["alpha", "beta"], ["rare"], ["gap", "rare"]):
        a = {
            (r["doc_id"], r["score"])
            for r in search_bruteforce(
                single, terms, "disjunctive", k=None, precision="double"
            ).collect()
        }
        b = {
            (r["doc_id"], r["score"])
            for r in search_bruteforce(
                comp, terms, "disjunctive", k=None, precision="double"
            ).collect()
        }
        assert a == b and a


def test_multireader_single_and_empty_edge(make_index, spark):
    """Single-shard composition is the identity; an empty shard list
    rejects; a shard whose docs all tokenize empty contributes nothing
    but keeps docBase accounting consistent."""
    import pytest

    from lucene_solr_spark.search.bruteforce import search_bruteforce
    from lucene_solr_spark.search.multireader import multi_reader

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta")], "doc_id long, text string"
    )
    one = make_index(docs, analyzer="simple", id_col="doc_id")
    comp = multi_reader([one])
    a = {(r["doc_id"], r["score"]) for r in search_bruteforce(
        one, ["alpha"], k=None, precision="double").collect()}
    b = {(r["doc_id"], r["score"]) for r in search_bruteforce(
        comp, ["alpha"], k=None, precision="double").collect()}
    assert a == b and a
    with pytest.raises(ValueError):
        multi_reader([])


def test_edismax_min_should_match(make_index, spark):
    """edismax msm filters on DISTINCT matched terms across fields."""
    from lucene_solr_spark.search.edismax import edismax

    body = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gap"), (2, "gap gap")],
        "doc_id long, text string",
    )
    title = spark.createDataFrame(
        [(0, "gap"), (1, "beta"), (2, "beta")],
        "doc_id long, text string",
    )
    tb = make_index(body, analyzer="simple", id_col="doc_id")
    tt = make_index(title, analyzer="simple", id_col="doc_id")
    fields = {"body": tb, "title": tt}
    # doc0 matches alpha+beta (body), doc1 alpha (body) + beta (title)
    # -> 2 distinct terms; doc2 beta only
    both = {r["doc_id"] for r in edismax(
        fields, ["alpha", "beta"], qf={}, min_should_match=2).collect()}
    assert both == {0, 1}
    any_ = {r["doc_id"] for r in edismax(
        fields, ["alpha", "beta"], qf={}).collect()}
    assert any_ == {0, 1, 2}


def test_multireader_rejects_sparse_ids(make_index, spark):
    """A shard whose declared max_doc (row count) is smaller than
    max(doc_id)+1 would silently collide composite ids — multi_reader
    must raise instead of composing overlapping id ranges."""
    import pytest

    from lucene_solr_spark.search.multireader import multi_reader

    sparse = make_index(
        spark.createDataFrame(
            [(0, "alpha"), (7, "beta")], "doc_id long, text string"
        ),
        analyzer="simple", id_col="doc_id",
    )
    dense = make_index(
        spark.createDataFrame(
            [(0, "gap"), (1, "alpha")], "doc_id long, text string"
        ),
        analyzer="simple", id_col="doc_id",
    )
    with pytest.raises(ValueError, match="not dense"):
        multi_reader([sparse, dense])
    with pytest.raises(ValueError, match="negative"):
        neg = make_index(
            spark.createDataFrame(
                [(-1, "alpha"), (0, "beta")], "doc_id long, text string"
            ),
            analyzer="simple", id_col="doc_id",
        )
        multi_reader([dense, neg])


def test_deftype_routes_alternate_syntaxes(spark, searcher):
    """defType= selects the parser (Solr's QParserPlugin registry):
    every syntax routes through the same executor and agrees with the
    classic parse of the equivalent query."""
    classic = {
        r.doc_id: r.score
        for r in searcher.search("spark merge", k=None).collect()
    }
    simple = {
        r.doc_id: r.score
        for r in searcher.search(
            "spark | merge", k=None, defType="simple"
        ).collect()
    }
    assert classic == simple
    surround = searcher.search(
        "spark OR merge", k=None, defType="surround"
    ).collect()
    assert {r.doc_id for r in surround} == set(classic)
    xml = searcher.search(
        "<BooleanQuery>"
        '<Clause occurs="should"><TermQuery>spark</TermQuery></Clause>'
        '<Clause occurs="should"><TermQuery>merge</TermQuery></Clause>'
        "</BooleanQuery>",
        k=None,
        defType="xml",
    ).collect()
    assert {r.doc_id: r.score for r in xml} == classic


def test_deftype_unknown_and_mm_conflict(searcher):
    with pytest.raises(ValueError, match="unknown defType"):
        searcher.search("x", defType="nope")
    with pytest.raises(ValueError, match="defType='lucene' only"):
        searcher.search("x y", mm="2", defType="simple")


def test_rerank_expression(spark, searcher):
    """FunctionScoreQuery-style expression rerank: _score binds to the
    base BM25 score, other variables to stored-field columns; result
    order follows the compiled expression, and the math matches a local
    recomputation of the same expression."""
    import math

    from lucene_solr_spark import fixtures

    q = " ".join(fixtures.make_vocab()[:2])
    base = searcher.search(q, k=50).collect()
    assert base
    got = searcher.rerank_expression(
        q,
        "0.5*_score + (turn_idx > 3 ? ln(turn_idx) : 0)",
        k=10,
        rerank_docs=50,
    ).collect()
    assert got
    stored = {
        r["doc_id"]: r["turn_idx"]
        for r in searcher.stored.select("doc_id", "turn_idx").collect()
    }
    want = sorted(
        (
            -(0.5 * r["score"]
              + (math.log(stored[r["doc_id"]])
                 if stored[r["doc_id"]] > 3 else 0.0)),
            r["doc_id"],
        )
        for r in base
    )[:10]
    assert [r["doc_id"] for r in got] == [d for _, d in want]
    for r, (neg_s, _) in zip(got, want):
        assert r["score"] == pytest.approx(-neg_s, rel=1e-12)
        assert r["base_score"] is not None


def test_rerank_expression_score_only_skips_stored_join(spark, searcher):
    import math

    from lucene_solr_spark import fixtures

    q = " ".join(fixtures.make_vocab()[:2])
    got = searcher.rerank_expression(q, "sqrt(_score) * 2", k=5)
    rows = got.collect()
    assert len(rows) > 0
    base = {r["doc_id"]: r["score"]
            for r in searcher.search(q, k=50).collect()}
    for r in rows:
        assert r["score"] == pytest.approx(
            math.sqrt(base[r["doc_id"]]) * 2, rel=1e-12
        )

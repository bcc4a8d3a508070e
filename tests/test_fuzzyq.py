"""Scored fuzzy rewrite (TopTermsBlendedFreqScoringRewrite analog).

Expectations computed by hand from the pinned contract: expansion
boost 1 - ed/min(|q|,|t|), df blended to the max over kept expansions,
score = Σ boost · idf(df_blend) · tf/(tf + norm) (double path).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.functions import smallfloat
from lucene_solr_spark.search.bruteforce import search_bruteforce
from lucene_solr_spark.search.fuzzyq import fuzzy_scored


@pytest.fixture(scope="module")
def fz_index(make_index, spark):
    docs = spark.createDataFrame(
        [
            ("c0", 0, "join join beta"),
            ("c0", 1, "joins gap gap"),
            ("c0", 2, "point gap gap"),
            ("c0", 3, "beta gap gap"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    return make_index(docs, analyzer="simple")


def test_exact_only_matches_bruteforce(fz_index):
    """max_edits=0 degenerates to a single exact term with boost 1 and
    df_blend = its own df — identical to plain BM25."""
    got = {
        (r["doc_id"], round(r["score"], 10))
        for r in fuzzy_scored(
            fz_index, "join", max_edits=0, precision="double"
        ).collect()
    }
    want = {
        (r["doc_id"], round(r["score"], 10))
        for r in search_bruteforce(
            fz_index, ["join"], "disjunctive", k=10, precision="double"
        ).collect()
    }
    assert got == want and got


def test_blended_df_and_boost(fz_index):
    """'join'~1 expands to join(ed0, boost 1) and joins(ed1, boost
    1 - 1/4 = 0.75); point is ed 3. df blends to max(df_join=1,
    df_joins=1) = 1; doc1's score is 0.75 * doc-length-matched
    BM25."""
    rows = {
        r["doc_id"]: r["score"]
        for r in fuzzy_scored(
            fz_index, "join", max_edits=1, precision="double"
        ).collect()
    }
    assert set(rows) == {0, 1}
    n, sum_ttf = fz_index.doc_count, fz_index.sum_total_term_freq
    avgdl = sum_ttf / n
    idf = np.log(1.0 + (n - 1 + 0.5) / (1 + 0.5))
    dl = smallfloat.byte4_to_int(
        np.array([smallfloat.int_to_byte4(np.array([3]))[0]])
    )[0]
    # the engine's default k1/b are float32 constants (1.2 is not
    # exactly representable); replicate to the ulp
    from lucene_solr_spark.functions import bm25

    k1, b = float(bm25.K1), float(bm25.B)
    norm = k1 * (1 - b + b * dl / avgdl)
    # doc0: freq 2 of 'join' (boost 1); doc1: freq 1 of 'joins' (0.75)
    assert rows[0] == pytest.approx(idf * 2 / (2 + norm), rel=1e-12)
    assert rows[1] == pytest.approx(0.75 * idf * 1 / (1 + norm), rel=1e-12)


def test_zero_boost_dropped_and_absent_empty(fz_index):
    """Expansions whose edit count reaches min(|q|,|t|) get boost 0 and
    are dropped; a query with no surviving expansion returns empty."""
    assert fuzzy_scored(fz_index, "xy", max_edits=2).count() == 0


def test_edismax_qf_tie(make_index, spark):
    """eDisMax: per-term dismax across fields with qf boosts and tie,
    summed per doc — verified against a hand-computed two-field case."""
    import numpy as np

    from lucene_solr_spark.functions import bm25, smallfloat
    from lucene_solr_spark.search.edismax import edismax

    body = spark.createDataFrame(
        [(0, "alpha beta gap"), (1, "alpha gap gap"), (2, "gap gap gap")],
        "doc_id long, text string",
    )
    title = spark.createDataFrame(
        [(0, "alpha"), (1, "gap"), (2, "beta")],
        "doc_id long, text string",
    )
    tb = make_index(body, analyzer="simple", id_col="doc_id")
    tt = make_index(title, analyzer="simple", id_col="doc_id")
    got = {
        r["doc_id"]: r["score"]
        for r in edismax(
            {"body": tb, "title": tt}, ["alpha", "beta"],
            qf={"title": 2.0}, tie=0.5, precision="double",
        ).collect()
    }

    k1, b = float(bm25.K1), float(bm25.B)

    def s(freq, dl, avgdl, df, n, boost):
        qdl = float(smallfloat.byte4_to_int(
            smallfloat.int_to_byte4(np.array([dl])))[0])
        idf = np.log(1 + (n - df + 0.5) / (df + 0.5))
        return boost * idf * freq / (freq + k1 * (1 - b + b * qdl / avgdl))

    # body: n=3, avgdl=3; alpha df=2, beta df=1. title: n=3, avgdl=1;
    # alpha df=1, beta df=1.
    a_b0 = s(1, 3, 3, 2, 3, 1.0)   # alpha in body doc0
    a_t0 = s(1, 1, 1, 1, 3, 2.0)   # alpha in title doc0
    b_b0 = s(1, 3, 3, 1, 3, 1.0)   # beta in body doc0
    exp0 = (max(a_b0, a_t0) + 0.5 * (a_b0 + a_t0 - max(a_b0, a_t0))) + b_b0
    a_b1 = s(1, 3, 3, 2, 3, 1.0)
    exp1 = a_b1                     # alpha only, body only
    b_t2 = s(1, 1, 1, 1, 3, 2.0)
    exp2 = b_t2                     # beta only, title only
    assert got[0] == pytest.approx(exp0, rel=1e-12)
    assert got[1] == pytest.approx(exp1, rel=1e-12)
    assert got[2] == pytest.approx(exp2, rel=1e-12)


def test_jaro_winkler_reference_pairs():
    """JaroWinklerDistance.java semantics on its own canonical pairs
    (JaroWinklerDistance javadoc / TestJaroWinklerDistance family):
    prefix bonus above the 0.7 threshold, transpositions halved."""
    import pytest

    from lucene_solr_spark.functions.editdist import jaro_winkler_py

    assert jaro_winkler_py("al", "al") == pytest.approx(1.0)
    assert jaro_winkler_py("martha", "marhta") == pytest.approx(
        0.961111, abs=1e-6)
    assert jaro_winkler_py("jones", "johnson") == pytest.approx(
        0.832381, abs=1e-6)
    assert jaro_winkler_py("abcvwxyz", "cabvwxyz") == pytest.approx(
        0.958333, abs=1e-6)
    assert jaro_winkler_py("dwayne", "duane") == pytest.approx(
        0.84, abs=1e-6)
    assert jaro_winkler_py("dixon", "dicksonx") == pytest.approx(
        0.813333, abs=1e-6)
    assert jaro_winkler_py("fvie", "ten") == 0.0
    # below the 0.7 threshold: NO prefix bonus applies
    j = jaro_winkler_py("kitten", "sitting")
    assert j == pytest.approx(0.746032, abs=1e-6)


def test_ngram_distance_junit_vectors():
    """NGramDistance (Kondrak 2005) — TestNGramDistance.java vectors
    for n=1, 2, 3, including the relational assertions."""
    import pytest

    from lucene_solr_spark.functions.editdist import ngram_distance_py as nd

    for n, cases in {
        1: [("al", "al", 1.0), ("a", "a", 1.0), ("b", "a", 0.0),
            ("martha", "marhta", 0.6666), ("jones", "johnson", 0.4285),
            ("natural", "contrary", 0.25), ("abcvwxyz", "cabvwxyz", 0.75),
            ("dwayne", "duane", 0.666), ("dixon", "dicksonx", 0.5),
            ("six", "ten", 0.0)],
        2: [("al", "al", 1.0), ("a", "a", 1.0), ("b", "a", 0.0),
            ("a", "aa", 0.5), ("martha", "marhta", 0.6666),
            ("jones", "johnson", 0.4285), ("natural", "contrary", 0.25),
            ("abcvwxyz", "cabvwxyz", 0.625), ("dwayne", "duane", 0.5833),
            ("dixon", "dicksonx", 0.5), ("six", "ten", 0.0)],
        3: [("al", "al", 1.0), ("a", "a", 1.0), ("b", "a", 0.0)],
    }.items():
        for a, b, want in cases:
            assert nd(a, b, n) == pytest.approx(want, abs=1e-3), (n, a, b)
    assert nd("zac ephron", "zac efron", 1) == pytest.approx(
        nd("zac ephron", "kai ephron", 1), abs=1e-3)
    assert nd("zac ephron", "zac efron", 2) > nd("zac ephron", "kai ephron", 2)
    assert nd("brittney spears", "britney spears", 2) > nd(
        "brittney spears", "brittney startzman", 2)
    assert nd("0012345678", "0012890678", 2) == pytest.approx(
        nd("0012345678", "0072385698", 2), abs=1e-3)

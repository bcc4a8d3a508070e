"""Solr function-query analogs (functions/valuesource.py) — unit checks
against hand-computed values. Reference semantics:
solr/core/src/java/org/apache/solr/search/ValueSourceParser.java:131-932.
"""

import math

from pyspark.sql import functions as F

from lucene_solr_spark.functions.valuesource import (
    def_value,
    dist,
    exists,
    if_value,
    linear,
    map_value,
    ms,
    recip,
    scale_expr,
    sqedist,
    strdist,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_linear_recip_map(spark):
    assert _one(spark, linear(F.lit(5.0), 2.0, 10.0)) == 20.0
    assert _one(spark, recip(F.lit(9.0), 1.0, 1000.0, 1.0)) == 100.0
    assert _one(spark, map_value(F.lit(3.0), 0, 5, -1.0)) == -1.0
    assert _one(spark, map_value(F.lit(7.0), 0, 5, -1.0)) == 7.0  # keep x
    assert _one(spark, map_value(F.lit(7.0), 0, 5, -1.0, 99.0)) == 99.0


def test_scale_bounds(spark):
    # x=5 in [0,10] → [1,3] midpoint 2; degenerate span → lo
    assert _one(spark, scale_expr(F.lit(5.0), 0.0, 10.0, 1.0, 3.0)) == 2.0
    assert _one(spark, scale_expr(F.lit(4.0), 4.0, 4.0, 1.0, 3.0)) == 1.0


def test_strdist(spark):
    assert _one(spark, strdist(F.lit("abc"), F.lit("abc"))) == 1.0
    # lev("kitten","sitting")=3, maxlen 7 → 1-3/7
    got = _one(spark, strdist(F.lit("kitten"), F.lit("sitting")))
    assert math.isclose(got, 1 - 3 / 7)
    assert _one(spark, strdist(F.lit(""), F.lit(""))) == 1.0


def test_logic_and_defaults(spark):
    assert _one(spark, if_value(F.lit(True), F.lit(1), F.lit(0))) == 1
    assert _one(spark, exists(F.lit(None).cast("int"))) is False
    assert _one(spark, def_value(F.lit(None).cast("int"), F.lit(42))) == 42


def test_ms_and_distances(spark):
    a = F.lit("2026-01-01 00:00:10").cast("timestamp")
    b = F.lit("2026-01-01 00:00:00").cast("timestamp")
    assert _one(spark, ms(a, b)) == 10_000
    assert _one(spark, sqedist([F.lit(1.0), F.lit(2.0)], [F.lit(4.0), F.lit(6.0)])) == 25.0
    assert _one(spark, dist(2.0, [F.lit(1.0), F.lit(2.0)], [F.lit(4.0), F.lit(6.0)])) == 5.0
    assert _one(spark, dist(1.0, [F.lit(1.0)], [F.lit(4.0)])) == 3.0


def test_math_family(spark):
    from lucene_solr_spark.functions.valuesource import (
        abs_v, add_v, atan2_v, cbrt_v, div_v, exp_v, hypot_v, log_v, ln_v,
        max_v, min_v, mod_v, pow_v, product_v, sqrt_v, sub_v,
    )

    assert _one(spark, add_v(F.lit(1.0), F.lit(2.0), F.lit(3.0))) == 6.0
    assert _one(spark, sub_v(F.lit(5.0), F.lit(2.0))) == 3.0
    assert _one(spark, product_v(F.lit(2.0), F.lit(3.0), F.lit(4.0))) == 24.0
    assert _one(spark, div_v(F.lit(9.0), F.lit(3.0))) == 3.0
    assert _one(spark, mod_v(F.lit(17), F.lit(5))) == 2
    assert _one(spark, abs_v(F.lit(-4.5))) == 4.5
    assert _one(spark, log_v(F.lit(1000.0))) == 3.0
    assert math.isclose(_one(spark, ln_v(F.lit(math.e))), 1.0)
    assert _one(spark, sqrt_v(F.lit(49.0))) == 7.0
    assert math.isclose(_one(spark, cbrt_v(F.lit(27.0))), 3.0)
    assert _one(spark, pow_v(F.lit(2.0), F.lit(10.0))) == 1024.0
    assert math.isclose(_one(spark, exp_v(F.lit(0.0))), 1.0)
    assert _one(spark, hypot_v(F.lit(3.0), F.lit(4.0))) == 5.0
    assert math.isclose(
        _one(spark, atan2_v(F.lit(1.0), F.lit(1.0))), math.pi / 4
    )
    assert _one(spark, max_v(F.lit(1.0), F.lit(9.0), F.lit(5.0))) == 9.0
    assert _one(spark, min_v(F.lit(1.0), F.lit(9.0), F.lit(5.0))) == 1.0


def test_bool_family(spark):
    from lucene_solr_spark.functions.valuesource import (
        and_v, not_v, or_v, xor_v,
    )

    t, f = F.lit(True), F.lit(False)
    assert _one(spark, and_v(t, t, f)) is False
    assert _one(spark, or_v(f, f, t)) is True
    assert _one(spark, not_v(f)) is True
    assert _one(spark, xor_v(t, f)) is True
    assert _one(spark, xor_v(t, t)) is False


def test_ord_map_domain_rank(spark):
    from lucene_solr_spark.functions.valuesource import ord_map

    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",)], "val0 string"
    ).select(F.col("val0").alias("pri"))
    m = {r["val"]: (r["ord"], r["rord"]) for r in ord_map(df, "pri").collect()}
    assert m == {"a": (1, 3), "b": (2, 2), "c": (3, 1)}


def test_trig_hyperbolic_rounding_family(spark):
    from lucene_solr_spark.functions.valuesource import (
        acos_v, asin_v, atan_v, ceil_v, concat_v, cos_v, cosh_v, deg_v,
        e_v, floor_v, pi_v, rad_v, sin_v, sinh_v, tan_v, tanh_v,
    )

    df = spark.createDataFrame([(1.0,), (0.5,), (0.0,)], "x double")
    r = {
        row["x"]: row
        for row in df.select(
            "x",
            sin_v(F.col("x")).alias("sn"),
            cos_v(F.col("x")).alias("cs"),
            tan_v(F.col("x")).alias("tn"),
            asin_v(F.col("x")).alias("asn"),
            acos_v(F.col("x")).alias("acs"),
            atan_v(F.col("x")).alias("atn"),
            sinh_v(F.col("x")).alias("snh"),
            cosh_v(F.col("x")).alias("csh"),
            tanh_v(F.col("x")).alias("tnh"),
            ceil_v(F.col("x") * 3).alias("cl"),
            floor_v(F.col("x") * 3).alias("fl"),
            deg_v(F.col("x")).alias("dg"),
            rad_v(F.col("x")).alias("rd"),
            (pi_v() * F.col("x")).alias("pim"),
            (e_v() * F.col("x")).alias("em"),
            concat_v(F.lit("a"), "_", F.col("x").cast("int").cast("string")).alias("cc"),
        ).collect()
    }
    x = 0.5
    row = r[x]
    for col, fn in (
        ("sn", math.sin), ("cs", math.cos), ("tn", math.tan),
        ("asn", math.asin), ("acs", math.acos), ("atn", math.atan),
        ("snh", math.sinh), ("csh", math.cosh), ("tnh", math.tanh),
        ("dg", math.degrees), ("rd", math.radians),
    ):
        assert abs(row[col] - fn(x)) < 1e-12, (col, row[col], fn(x))
    assert row["cl"] == 2 and row["fl"] == 1
    assert abs(row["pim"] - math.pi * x) < 1e-12
    assert abs(row["em"] - math.e * x) < 1e-12
    assert row["cc"] == "a_0"


def test_comparison_bool_family(spark):
    from lucene_solr_spark.functions.valuesource import (
        eq_v, gt_v, gte_v, lt_v, lte_v,
    )

    a, b = F.lit(3.0), F.lit(5.0)
    assert _one(spark, gt_v(b, a)) is True
    assert _one(spark, gt_v(a, a)) is False
    assert _one(spark, lt_v(a, b)) is True
    assert _one(spark, gte_v(a, a)) is True
    assert _one(spark, lte_v(b, a)) is False
    assert _one(spark, eq_v(F.lit(7), F.lit(7))) is True
    assert _one(spark, eq_v(F.lit(7), F.lit(8))) is False


def test_vector_distance_evaluators(spark):
    """Distance evaluators vs numpy on float32 arrays (the evaluators
    cast elements to double internally, matching commons-math)."""
    import numpy as np

    rng = np.random.default_rng(7)
    xa = rng.standard_normal(16).astype("float32")
    xb = rng.standard_normal(16).astype("float32")
    xb[3] = 0.0
    xa[3] = 0.0  # exercise the canberra 0/0 -> 0 convention

    from lucene_solr_spark.functions.valuesource import (
        canberra_dist, chebyshev_dist, euclidean_dist, manhattan_dist,
    )

    df = spark.createDataFrame(
        [(xa.tolist(), xb.tolist())], "a array<float>, b array<float>"
    )
    row = df.select(
        euclidean_dist(F.col("a"), F.col("b")).alias("eu"),
        manhattan_dist(F.col("a"), F.col("b")).alias("ma"),
        chebyshev_dist(F.col("a"), F.col("b")).alias("ch"),
        canberra_dist(F.col("a"), F.col("b")).alias("ca"),
    ).collect()[0]

    da = xa.astype("float64")
    db = xb.astype("float64")
    diff = np.abs(da - db)
    assert math.isclose(row["eu"], float(np.sqrt(np.sum(diff * diff))),
                        rel_tol=1e-12)
    assert math.isclose(row["ma"], float(np.sum(diff)), rel_tol=1e-12)
    assert math.isclose(row["ch"], float(np.max(diff)), rel_tol=1e-12)
    den = np.abs(da) + np.abs(db)
    terms = np.where(den == 0, 0.0, diff / np.where(den == 0, 1.0, den))
    assert math.isclose(row["ca"], float(np.sum(terms)), rel_tol=1e-12)
    # identical vectors -> all four distances are exactly zero
    same = df.select(
        euclidean_dist(F.col("a"), F.col("a")).alias("eu"),
        canberra_dist(F.col("a"), F.col("a")).alias("ca"),
    ).collect()[0]
    assert same["eu"] == 0.0 and same["ca"] == 0.0


def test_query_boost_value_source(spark):
    """query($q, default) + FunctionScoreQuery.boostByQuery: main score
    multiplied by (1 + factor * subquery score), default where the doc
    doesn't match the subquery."""
    from lucene_solr_spark.functions.valuesource import (
        false_v, field_v, query_boost, true_v,
    )

    main = spark.createDataFrame(
        [(1, 2.0), (2, 3.0), (3, 1.0)], "doc_id long, score double"
    )
    sub = spark.createDataFrame(
        [(1, 0.5), (9, 4.0)], "doc_id long, score double"
    )
    got = {
        r["doc_id"]: r["score"]
        for r in query_boost(main, sub, factor=2.0, default=0.0).collect()
    }
    # doc 1 matches sub: 2.0 * (1 + 2*0.5) = 4.0; docs 2,3 use default 0
    assert got == {1: 4.0, 2: 3.0, 3: 1.0}

    assert _one(spark, true_v()) is True
    assert _one(spark, false_v()) is False
    df = spark.createDataFrame([(7,)], "x long")
    assert df.select(field_v("x").alias("v")).collect()[0]["v"] == 7


def test_index_stat_values_classic_similarity(make_index, spark):
    """termfreq/tf/idf/docfreq/numdocs follow ClassicSimilarity on a
    hand-checkable corpus: term 'spark' in 2 of 4 docs, freq 1 and 3."""
    from lucene_solr_spark.functions.valuesource import index_stat_values

    docs = spark.createDataFrame(
        [
            (0, "spark merge shuffle"),
            (1, "spark spark spark join"),
            (2, "merge only here"),
            (3, "nothing else"),
        ],
        "doc_id long, text string",
    )
    t = make_index(docs, analyzer="simple", id_col="doc_id")
    rows = {r["doc_id"]: r for r in index_stat_values(t, "spark").collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["termfreq"] == 1 and rows[1]["termfreq"] == 3
    assert abs(rows[1]["tf_classic"] - round(math.sqrt(3), 6)) < 1e-9
    expected_idf = round(1 + math.log((4 + 1) / (2 + 1)), 6)
    assert abs(rows[0]["idf"] - expected_idf) < 1e-9
    assert rows[0]["docfreq"] == 2 and rows[0]["totaltermfreq"] == 4
    assert rows[0]["numdocs"] == 4 and rows[0]["sumttf"] == 12
    assert rows[0]["dl"] == 3 and rows[1]["dl"] == 4


def test_array_series_evaluators(spark):
    """Array/time-series evaluator family vs hand-computed values
    (MovingAverage/TimeDifferencing/Asc/Desc/Reverse/ValueAt/Sequence
    Evaluator semantics: full trailing windows only, 0-based valueAt)."""
    from lucene_solr_spark.functions.evaluators import (
        asc_v, desc_v, length_v, moving_avg, rev_v, sequence_v, sum_v,
        ts_diff, value_at,
    )

    df = spark.createDataFrame(
        [([4.0, 1.0, 3.0, 2.0, 5.0],)], "a array<double>"
    )
    row = df.select(
        asc_v(F.col("a")).alias("asc"),
        desc_v(F.col("a")).alias("desc"),
        rev_v(F.col("a")).alias("rev"),
        length_v(F.col("a")).alias("n"),
        value_at(F.col("a"), 0).alias("v0"),
        value_at(F.col("a"), 4).alias("v4"),
        value_at(F.col("a"), 9).alias("oob"),
        moving_avg(F.col("a"), 3).alias("ma"),
        ts_diff(F.col("a"), 1).alias("d1"),
        ts_diff(F.col("a"), 2).alias("d2"),
        sum_v(F.col("a")).alias("s"),
        sequence_v(4, 10, 5).alias("seq"),
    ).collect()[0]
    assert row["asc"] == [1.0, 2.0, 3.0, 4.0, 5.0]
    assert row["desc"] == [5.0, 4.0, 3.0, 2.0, 1.0]
    assert row["rev"] == [5.0, 2.0, 3.0, 1.0, 4.0]
    assert row["n"] == 5
    assert row["v0"] == 4.0 and row["v4"] == 5.0 and row["oob"] is None
    # moving_avg window 3: [(4+1+3)/3, (1+3+2)/3, (3+2+5)/3]
    assert row["ma"] == [8.0 / 3, 2.0, 10.0 / 3]
    assert row["d1"] == [-3.0, 2.0, -1.0, 3.0]
    assert row["d2"] == [-1.0, 1.0, 2.0]
    assert row["s"] == 15.0
    assert row["seq"] == [10, 15, 20, 25]


def test_currency_convert(spark):
    """currency(field, CODE): broadcast rate join; unknown currency
    yields null (no silent identity conversion)."""
    from lucene_solr_spark.functions.valuesource import currency_convert

    df = spark.createDataFrame(
        [(1, 92.0, "EUR"), (2, 155.0, "JPY"), (3, 10.0, "USD"),
         (4, 5.0, "XXX")],
        "id long, amount double, cur string",
    )
    rates = spark.createDataFrame(
        [("USD", 1.0), ("EUR", 0.92), ("JPY", 155.0)],
        "currency string, rate double",
    )
    got = {
        r["id"]: r["amount_usd"]
        for r in currency_convert(df, "amount", "cur", "USD", rates)
        .collect()
    }
    assert got == {1: 100.0, 2: 1.0, 3: 10.0, 4: None}


def test_field_multivalued_selector(spark):
    from lucene_solr_spark.functions.valuesource import field_select

    import pytest as _pytest

    df = spark.createDataFrame([([3.0, 1.0, 2.0],)], "vals array<double>")
    row = df.select(
        field_select("vals", "min").alias("mn"),
        field_select("vals", "max").alias("mx"),
    ).collect()[0]
    assert row["mn"] == 1.0 and row["mx"] == 3.0
    with _pytest.raises(ValueError):
        field_select("vals", "median")

"""TokenFilter analogs (analysis/filters.py) — unit checks.

Reference: analysis/core/StopFilter.java, shingle/ShingleFilter.java,
ngram/NGramTokenFilter.java, ngram/EdgeNGramTokenFilter.java,
synonym/SynonymGraphFilter.java, miscellaneous/ASCIIFoldingFilter.java,
miscellaneous/LengthFilter.java.
"""

import warnings

from pyspark.sql import functions as F

from lucene_solr_spark.analysis.filters import (
    ascii_fold_filter,
    edge_ngram_filter,
    length_filter,
    ngram_filter,
    shingle_filter,
    stop_filter,
    synonym_filter,
)


def _apply(spark, toks, fn):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    return df.select(fn(F.col("toks")).alias("out")).collect()[0]["out"]


def test_stop_filter(spark):
    assert _apply(
        spark, ["the", "fast", "a", "query"], lambda c: stop_filter(c, ["the", "a"])
    ) == ["fast", "query"]


def test_shingle_filter(spark):
    assert _apply(spark, ["a", "b", "c"], lambda c: shingle_filter(c, 2)) == [
        "a b",
        "b c",
    ]
    assert _apply(spark, ["a", "b", "c"], lambda c: shingle_filter(c, 3)) == [
        "a b c"
    ]
    assert _apply(spark, ["a"], lambda c: shingle_filter(c, 2)) == []


def test_ngram_filters(spark):
    assert _apply(spark, ["abcd"], lambda c: ngram_filter(c, 3)) == ["abc", "bcd"]
    assert _apply(spark, ["ab"], lambda c: ngram_filter(c, 3)) == []
    assert _apply(
        spark, ["abcd"], lambda c: edge_ngram_filter(c, 1, 3)
    ) == ["a", "ab", "abc"]
    assert _apply(spark, ["ab"], lambda c: edge_ngram_filter(c, 1, 3)) == [
        "a",
        "ab",
    ]


def test_synonym_and_fold(spark):
    assert _apply(
        spark, ["fast", "rapid"], lambda c: synonym_filter(c, {"rapid": "fast"})
    ) == ["fast", "fast"]
    assert _apply(spark, ["café", "naïve"], ascii_fold_filter) == [
        "cafe",
        "naive",
    ]


def test_synonym_filter_uses_no_deprecated_api(spark):
    """The map lookup is built with ``m[x]``; ``Column.getItem`` with a
    Column key warns that it is deprecated."""
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        assert _apply(
            spark, ["rapid", "slow"], lambda c: synonym_filter(c, {"rapid": "fast"})
        ) == ["fast", "slow"]


def test_length_filter(spark):
    assert _apply(
        spark, ["a", "abc", "abcdef"], lambda c: length_filter(c, 2, 5)
    ) == ["abc"]


def test_damerau_levenshtein_counts_transposition_once(spark):
    """FuzzyQuery default metric: 'jion'->'join' is ONE edit (adjacent
    transposition); classic Levenshtein says two."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.functions.editdist import (
        damerau_levenshtein, dl_distance_py,
    )

    assert dl_distance_py("jion", "join") == 1
    assert dl_distance_py("abc", "abc") == 0
    assert dl_distance_py("", "abc") == 3
    assert dl_distance_py("ca", "abc") == 3  # restricted-DL (OSA) value
    df = spark.createDataFrame(
        [("join",), ("joint",), ("coin",)], "term string"
    ).select(
        "term",
        damerau_levenshtein(F.col("term"), "jion").alias("dl"),
        F.levenshtein(F.col("term"), F.lit("jion")).alias("lev"),
    )
    got = {r["term"]: (r["dl"], r["lev"]) for r in df.collect()}
    assert got["join"] == (1, 2)
    assert got["joint"][0] == 2


def test_soundex_golden_examples():
    """Published Soundex examples, commons-codec variant (h/w
    transparent, vowel reset, first-letter code suppression)."""
    from lucene_solr_spark.analysis.phonetic import soundex

    golden = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "lloyd": "L300", "hw": "H000",
        "aaa": "A000", "spark": "S162",
    }
    for word, code in golden.items():
        assert soundex(word) == code, word


def test_soundex_matches_spark_builtin(spark):
    """The independent Python encoder (fixture source) must equal the
    JVM F.soundex (engine path) over the corpus vocabulary AND fuzzed
    alphabetic strings — the cross-engine contract the
    fts_phonetic_codes gate rests on."""
    import random

    from pyspark.sql import functions as F

    from lucene_solr_spark.analysis.phonetic import soundex

    vocab = [
        r["term"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet"
        )
        .select(
            F.explode(
                F.split(F.lower(F.col("text")), r"[^a-z]+")
            ).alias("term")
        )
        .filter(F.col("term").rlike("^[a-z]+$"))
        .distinct()
        .collect()
    ]
    rng = random.Random(7)
    fuzz = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(1, 12)))
        for _ in range(300)
    ]
    words = sorted(set(vocab + fuzz))
    got = {
        r["w"]: r["s"]
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", F.soundex("w").alias("s"))
        .collect()
    }
    for w in words:
        assert got[w] == soundex(w), w


def test_word_delimiter_filter(spark):
    """WDGF subset: case transitions, letter/digit transitions, and
    delimiters all split; upper-runs keep their tail capital with the
    following word (ABCDef -> ABC, Def)."""
    from lucene_solr_spark.analysis.filters import word_delimiter_filter

    df = spark.createDataFrame(
        [(["PowerShot500-MkII"],), (["ABCDef"],), (["Wi-Fi"],),
         (["x9Y"],), ([""],)],
        "toks array<string>",
    )
    got = [
        r["out"]
        for r in df.select(
            word_delimiter_filter(F.col("toks")).alias("out")
        ).collect()
    ]
    assert got == [
        ["Power", "Shot", "500", "Mk", "II"],
        ["ABC", "Def"],
        ["Wi", "Fi"],
        ["x", "9", "Y"],
        [],
    ]


def test_pattern_replace_and_trim(spark):
    from lucene_solr_spark.analysis.filters import (
        pattern_replace_filter, trim_filter,
    )

    df = spark.createDataFrame(
        [([" ab12 ", "\tc3\t", "clean"],)], "toks array<string>"
    )
    out = df.select(
        pattern_replace_filter(
            trim_filter(F.col("toks")), "[0-9]+", "#"
        ).alias("out")
    ).collect()[0]["out"]
    assert out == ["ab#", "c#", "clean"]


def test_delimited_payloads_and_payload_score(spark):
    """DelimitedPayloadTokenFilter parse + PayloadScoreQuery functions
    (sum/max/min/avg); tokens without a delimiter carry payload 0."""
    import pytest

    from lucene_solr_spark.analysis.payloads import (
        delimited_payload_postings, payload_score,
    )

    docs = spark.createDataFrame(
        [(0, "boost|2.5 plain boost|0.5"), (1, "boost|4.0"), (2, "other|9")],
        "doc_id long, text string",
    )
    p = delimited_payload_postings(docs)
    rows = {(r["doc_id"], r["pos"]): (r["term"], r["payload"])
            for r in p.collect()}
    assert rows[(0, 0)] == ("boost", 2.5)
    assert rows[(0, 1)] == ("plain", 0.0)
    assert rows[(0, 2)] == ("boost", 0.5)

    def got(func):
        return {
            r["doc_id"]: (r["n_occ"], r["score"])
            for r in payload_score(p, "boost", func).collect()
        }

    assert got("sum") == {0: (2, 3.0), 1: (1, 4.0)}
    assert got("max") == {0: (2, 2.5), 1: (1, 4.0)}
    assert got("min") == {0: (2, 0.5), 1: (1, 4.0)}
    assert got("avg") == {0: (2, 1.5), 1: (1, 4.0)}
    with pytest.raises(ValueError):
        payload_score(p, "boost", "median")


def test_common_grams_filter(spark):
    from lucene_solr_spark.analysis.filters import common_grams_filter

    df = spark.createDataFrame(
        [(["the", "quick", "fox", "a", "dog"],), (["one"],)],
        "toks array<string>",
    )
    got = [
        r["out"]
        for r in df.select(
            common_grams_filter(F.col("toks"), ["the", "a"]).alias("out")
        ).collect()
    ]
    assert got == [["the_quick", "fox_a", "a_dog"], []]


def test_stem_with_overrides(spark):
    from lucene_solr_spark.analysis.porter import (
        porter_stem, stem_with_overrides,
    )

    df = spark.createDataFrame(
        [(["merging", "customer", "running"],)], "toks array<string>"
    )
    out = df.select(
        stem_with_overrides(
            F.col("toks"), overrides={"merging": "merge"},
            keywords={"customer"},
        ).alias("out")
    ).collect()[0]["out"]
    assert out == ["merge", "customer", porter_stem("running")]


def test_polygon_contains(spark):
    """Convex diamond: inside / boundary / outside classification."""
    from lucene_solr_spark.operators.spatial import polygon_contains_col

    poly = [(0.0, 10.0), (10.0, 20.0), (20.0, 10.0), (10.0, 0.0)]
    df = spark.createDataFrame(
        [(10.0, 10.0), (0.0, 10.0), (1.0, 1.0), (25.0, 10.0)],
        "lat double, lon double",
    )
    got = [
        r["inside"]
        for r in df.select(
            polygon_contains_col(
                F.col("lat"), F.col("lon"), poly
            ).alias("inside")
        ).collect()
    ]
    assert got == [True, True, False, False]  # center, vertex, out, out


def test_delimited_payloads_custom_delimiter(spark):
    """Regex-metachar delimiters are treated literally."""
    from lucene_solr_spark.analysis.payloads import (
        delimited_payload_postings,
    )

    docs = spark.createDataFrame(
        [(0, "boost.2.5 plain")], "doc_id long, text string"
    )
    p = delimited_payload_postings(docs, delimiter=".").collect()
    rows = {(r["doc_id"], r["pos"]): (r["term"], r["payload"]) for r in p}
    # first '.' splits term; the entire remainder is the payload
    # (DelimitedPayloadTokenFilter.java:58-62 → 'boost.2.5' carries 2.5)
    assert rows[(0, 0)][0] == "boost" and rows[(0, 0)][1] == 2.5
    assert rows[(0, 1)] == ("plain", 0.0)


def test_span_payload_check_brute_force(spark):
    """SpanPayloadCheckQuery analog vs a per-doc brute force: ordered
    adjacent 'a b' spans where b's payload == 2.0 and a's slot is the
    null wildcard (SpanPayloadCheckQuery.java:154-170 semantics)."""
    from lucene_solr_spark.analysis.payloads import (
        delimited_payload_postings,
        span_payload_check,
    )

    texts = [
        "a|1 b|2 a|3 b|2",      # two qualifying spans
        "a|0 b|1",              # payload mismatch at slot 1
        "b|2 a|1",              # wrong order
        "a|4 b|2 c|0 a|0 b|0",  # one qualifying span
        "c|2 c|2",              # no span terms
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    postings = delimited_payload_postings(docs)
    got = {
        r["doc_id"]: r["span_freq"]
        for r in span_payload_check(
            postings, ["a", "b"], [None, 2.0]
        ).collect()
    }

    def brute(text):
        toks = [t.split("|") for t in text.split()]
        n = 0
        for i in range(len(toks) - 1):
            if (
                toks[i][0] == "a"
                and toks[i + 1][0] == "b"
                and float(toks[i + 1][1]) == 2.0
            ):
                n += 1
        return n

    want = {i: brute(t) for i, t in enumerate(texts) if brute(t) > 0}
    assert got == want


def test_span_payload_check_all_slots_pinned(spark):
    from lucene_solr_spark.analysis.payloads import (
        delimited_payload_postings,
        span_payload_check,
    )

    docs = spark.createDataFrame(
        [(0, "x|1 y|2 x|1 y|3")], "doc_id long, text string"
    )
    postings = delimited_payload_postings(docs)
    got = span_payload_check(postings, ["x", "y"], [1.0, 2.0]).collect()
    assert [(r["doc_id"], r["span_freq"]) for r in got] == [(0, 1)]

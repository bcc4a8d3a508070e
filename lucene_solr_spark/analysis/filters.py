"""TokenFilter analogs: JVM-native Column transforms over token arrays.

The reference's analysis/common module ships hundreds of filters; the
pinned analyzer contract of this engine is StandardAnalyzer-subset
(analysis/tokenizer.py), and these composable filters cover the most
load-bearing of the rest — each is a pure Spark SQL expression over an
``array<string>`` tokens column (whole-stage codegen, no Python):

- ``stop_filter``      — analysis/core/StopFilter.java (note the
  reference's StandardAnalyzer default stop set is EMPTY; stop lists
  are opt-in, same as here)
- ``shingle_filter``   — analysis/shingle/ShingleFilter.java (word
  n-grams, space-joined, unigrams NOT emitted: outputUnigrams=false
  shape; the dedup pipeline's shingles)
- ``ngram_filter``     — analysis/ngram/NGramTokenFilter.java (char
  n-grams per token, min==max gram size)
- ``edge_ngram_filter``— analysis/ngram/EdgeNGramTokenFilter.java
  (leading char n-grams, min..max)
- ``synonym_filter``   — analysis/synonym/SynonymGraphFilter.java
  reduced to single-token replacement mapping
- ``ascii_fold_filter``— analysis/miscellaneous/ASCIIFoldingFilter.java
  reduced to the Latin-1 accent range (documented subset)
- ``length_filter``    — analysis/miscellaneous/LengthFilter.java
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "stop_filter",
    "word_delimiter_filter",
    "pattern_replace_filter",
    "trim_filter",
    "shingle_filter",
    "ngram_filter",
    "edge_ngram_filter",
    "synonym_filter",
    "ascii_fold_filter",
    "length_filter",
    "keyword_repeat_stems",
]


def stop_filter(tokens: Column, stopwords: list) -> Column:
    """Drop stopwords (position gaps are not tracked — the engine's
    pinned analyzer has no increment-preserving stop handling, matching
    an analyzer chain with enablePositionIncrements=false)."""
    stops = F.array(*[F.lit(s) for s in stopwords])
    return F.filter(tokens, lambda x: ~F.array_contains(stops, x))


def shingle_filter(tokens: Column, n: int = 2, sep: str = " ") -> Column:
    """Word n-grams: ["a","b","c"], n=2 → ["a b", "b c"]; fewer than n
    tokens → empty array."""
    return F.when(F.size(tokens) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - F.lit(n - 1)),
            lambda i: F.concat_ws(sep, F.slice(tokens, i, n)),
        )
    )


def ngram_filter(tokens: Column, n: int = 3) -> Column:
    """Char n-grams of every token, flattened in token order; tokens
    shorter than n contribute nothing."""
    return F.flatten(
        F.transform(
            tokens,
            lambda t: F.when(
                F.length(t) < n, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.length(t) - F.lit(n - 1)),
                    lambda i: t.substr(i, F.lit(n)),
                )
            ),
        )
    )


def edge_ngram_filter(tokens: Column, min_n: int = 1, max_n: int = 3) -> Column:
    """Leading char n-grams, min_n..max_n, per token (prefix index for
    search-as-you-type)."""
    return F.flatten(
        F.transform(
            tokens,
            lambda t: F.transform(
                F.sequence(
                    F.lit(min_n), F.least(F.lit(max_n), F.length(t))
                ),
                lambda k: t.substr(F.lit(1), k),
            ),
        )
    )


def synonym_filter(tokens: Column, mapping: dict) -> Column:
    """Single-token synonym replacement (tok → canonical)."""
    if not mapping:
        return tokens
    m = F.map_from_arrays(
        F.array(*[F.lit(k) for k in mapping]),
        F.array(*[F.lit(v) for v in mapping.values()]),
    )
    return F.transform(tokens, lambda x: F.coalesce(m[x], x))


_ACCENTS = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿ"
_PLAIN = "aaaaaaceeeeiiiinooooouuuuyy"


def ascii_fold_filter(tokens: Column) -> Column:
    """Latin-1 accent folding (documented subset of ASCIIFoldingFilter's
    full Unicode table)."""
    return F.transform(tokens, lambda x: F.translate(x, _ACCENTS, _PLAIN))


def length_filter(tokens: Column, min_len: int = 1, max_len: int = 255) -> Column:
    """Keep tokens with length in [min_len, max_len]."""
    return F.filter(
        tokens, lambda x: F.length(x).between(min_len, max_len)
    )


def word_delimiter_filter(tokens: Column) -> Column:
    """WordDelimiterGraphFilter subset (generateWordParts +
    generateNumberParts, no catenation — reference lucene/analysis/
    common/.../miscellaneous/WordDelimiterGraphFilter.java:63-107):
    sub-words split on intra-word case transitions, letter/digit
    transitions, and non-alphanumeric delimiters; "PowerShot500-MkII"
    → [Power, Shot, 500, Mk, II].

    Pinned as four sequential boundary-marking regexp_replace passes
    (upper-run|UpperLower, lower/digit|Upper, letter|digit,
    digit|letter) followed by a non-alphanumeric split — lookahead-free
    so the identical rewrite runs on any RE2-class engine (the DuckDB
    oracle uses the same four patterns)."""

    def split_one(t):
        x = F.regexp_replace(t, r"([A-Z]+)([A-Z][a-z])", r"$1 $2")
        x = F.regexp_replace(x, r"([a-z0-9])([A-Z])", r"$1 $2")
        x = F.regexp_replace(x, r"([A-Za-z])([0-9])", r"$1 $2")
        x = F.regexp_replace(x, r"([0-9])([A-Za-z])", r"$1 $2")
        return F.split(x, r"[^A-Za-z0-9]+")

    return F.filter(
        F.flatten(F.transform(tokens, split_one)), lambda p: p != ""
    )


def pattern_replace_filter(
    tokens: Column, pattern: str, replacement: str
) -> Column:
    """PatternReplaceFilter (reference lucene/analysis/common/.../
    pattern/PatternReplaceFilter.java): regex-rewrite every token
    (replaceAll semantics)."""
    return F.transform(
        tokens, lambda t: F.regexp_replace(t, pattern, replacement)
    )


def trim_filter(tokens: Column) -> Column:
    """TrimFilter (reference lucene/analysis/common/.../miscellaneous/
    TrimFilter.java): strip leading/trailing whitespace from each
    token. Regexp-based because the reference trims every
    Character.isWhitespace (tabs included) while F.trim strips only
    spaces."""
    return F.transform(
        tokens, lambda t: F.regexp_replace(t, r"^\s+|\s+$", "")
    )


def common_grams_filter(
    tokens: Column, common_words: list, sep: str = "_"
) -> Column:
    """CommonGramsQueryFilter form (reference lucene/analysis/common/
    .../commongrams/CommonGramsFilter.java, CommonGramsQueryFilter
    .java): the bigram stream of adjacent pairs where EITHER side is a
    common word — the trick that makes stopword phrases ("the who")
    matchable without positional scans of the stopword's postings."""
    common = F.array(*[F.lit(w) for w in common_words])
    pairs = F.when(
        F.size(tokens) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - F.lit(1)),
            lambda i: F.when(
                F.array_contains(common, F.element_at(tokens, i))
                | F.array_contains(common, F.element_at(tokens, i + 1)),
                F.concat(
                    F.element_at(tokens, i), F.lit(sep),
                    F.element_at(tokens, i + 1),
                ),
            ),
        )
    )
    return F.filter(pairs, lambda x: x.isNotNull())


def keyword_repeat_stems(tokens: Column, stem_fn) -> Column:
    """KeywordRepeatFilter + stemmer + RemoveDuplicatesTokenFilter —
    the search-both-exact-and-stemmed chain (reference lucene/analysis/
    common/.../miscellaneous/KeywordRepeatFilter.java: emits every
    token twice, once KEYWORD-marked so the stemmer skips it;
    RemoveDuplicatesTokenFilter.java then drops the second copy when
    the stem equals the original, since both occupy the same
    position). Output: per input token, an array of its distinct
    surviving forms [original, stem?] in emission order.

    ``stem_fn``: plain str→str stemmer (e.g. analysis.porter
    .porter_stem or a lightstem.STEMMERS entry); the whole stage is
    one Arrow-batched pandas UDF over the token arrays."""
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    def _stage(arrs):
        def one(toks):
            if toks is None:
                return None
            out = []
            for t in toks:
                s = stem_fn(t)
                out.append([t] if s == t else [t, s])
            return out

        return arrs.map(one)

    return F.pandas_udf(_stage, "array<array<string>>")(tokens)

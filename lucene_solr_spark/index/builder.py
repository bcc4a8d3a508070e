"""Inverted-index build: transcripts DataFrame → index tables.

The Spark-first re-expression of Lucene's indexing chain
(reference: index/DefaultIndexingChain.java:386-426 — document-at-a-time
ingest; our version is set-at-a-time):

    transcripts
      → with_doc_ids (dense rank over (conv_id, turn_idx), one JVM column)
      → tokenize (JVM regex_extract_all or split, analysis/tokenizer.py)
      → explode → groupBy(doc_id, term) [map-side partial agg]  = postings
      → groupBy(term)                                            = dictionary
      → per-doc length + SmallFloat byte (Arrow UDF)             = norms
      → collection stats (docCount = docs with >=1 token,
        sumTotalTermFreq — reference BM25Similarity.java:139-156)

Doc-id assignment, tokenization and the explode/groupBy aggregates are
JVM-native (whole-stage codegen); the flat build's only Python is the
Arrow-vectorized norm-byte quantization UDF. The segmented build
(index/segments.py) crosses into Python once, to encode blocks.

The compressed segment/block representation (SURVEY.md §7.1 step 3) is
built on top of these tables in index/segments.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.smallfloat import int_to_byte4
from .docid import with_doc_ids

__all__ = ["IndexTables", "build_index", "analyzer_tokens", "norm_byte_udf"]


@pandas_udf(T.IntegerType())
def norm_byte_udf(lengths: pd.Series) -> pd.Series:
    """SmallFloat.intToByte4 over document lengths (vectorized numpy)."""
    return pd.Series(int_to_byte4(lengths.to_numpy()), dtype="int32")


@dataclass
class IndexTables:
    """The at-rest index: everything a searcher needs.

    postings  : (term, doc_id, norm_byte, freq[, positions]) — flat,
                pre-segment; norm_byte denormalized per posting (the
                impact-postings layout) so scoring never joins norms
    dictionary: (term, df, cf)                     — term dict + stats
    norms     : (doc_id, dl, norm_byte)
    docmap    : (doc_id, conv_id, turn_idx)        — id ↔ source key
    stored    : source rows + doc_id               — stored-fields analog
    doc_count : docs with the field (>= 1 token)
    sum_total_term_freq : total token count
    """

    postings: DataFrame
    dictionary: DataFrame
    norms: DataFrame
    docmap: DataFrame
    stored: DataFrame
    doc_count: int
    sum_total_term_freq: int

    @property
    def max_doc(self) -> int:
        return self._max_doc

    def set_max_doc(self, v: int):
        self._max_doc = v


def standard_tokens(text_col: str):
    """JVM-native StandardAnalyzer-subset tokenization: the pinned
    tokenizer regex (analysis/tokenizer.py JVM_TOKEN_PATTERN) evaluated
    by java.util.regex inside whole-stage codegen — token-for-token equal
    to the Python reference implementation (asserted in tests), with no
    Python worker in the indexing hot path at all."""
    from ..analysis.tokenizer import JVM_TOKEN_PATTERN, MAX_TOKEN_LENGTH

    col = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    return F.filter(
        F.regexp_extract_all(col, F.lit(JVM_TOKEN_PATTERN), 0),
        lambda x: (F.length(x) <= MAX_TOKEN_LENGTH) & (x != F.lit("")),
    )


def simple_tokens(text_col: str):
    """Fully JVM-native 'simple' analyzer: lowercase, split on non-[a-z0-9].

    Used where tokenization must be reproducible in ANSI SQL (the driver's
    DuckDB oracle: ``regexp_extract_all(lower(text), '[a-z0-9]+')``). Keeps
    the whole index build inside whole-stage codegen — zero Python.
    """
    col = F.coalesce(F.col(text_col), F.lit(""))
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )


_ANALYZERS = {"standard": standard_tokens, "simple": simple_tokens}


def analyzer_tokens(analyzer: str, text_col: str = "text"):
    """The JVM token-array column of ``analyzer`` over ``text_col``:
    "standard" (pinned StandardAnalyzer-subset regex) or "simple"
    (lowercase alnum split, SQL-reproducible)."""
    if analyzer not in _ANALYZERS:
        raise ValueError(
            f"unknown analyzer {analyzer!r}; expected one of "
            f"{', '.join(map(repr, _ANALYZERS))}"
        )
    return _ANALYZERS[analyzer](text_col)


def tokenized_docs(
    transcripts: DataFrame,
    order_cols=("conv_id", "turn_idx"),
    text_col: str = "text",
    num_partitions: int | None = None,
    analyzer: str = "standard",
    id_col: str | None = None,
    cache_registry: list | None = None,
):
    """transcripts → (docs DataFrame with doc_id + tokens, order_cols,
    ranged).

    analyzer: "standard" or "simple" (see analyzer_tokens); anything
    else raises ValueError.
    id_col: name of a pre-existing dense doc id column to trust instead of
    assigning one (e.g. the documents table's own doc_id).
    cache_registry: passed to with_doc_ids.

    The third return value says whether partitions are already contiguous
    disjoint doc_id ranges in partition order (true for the
    with_doc_ids path) — downstream segment builds can then skip their
    own repartitionByRange shuffle.
    """
    tokens = analyzer_tokens(analyzer, text_col)
    if id_col is not None:
        docs = transcripts if id_col == "doc_id" else transcripts.withColumnRenamed(
            id_col, "doc_id"
        )
        order_cols = ("doc_id",)
        ranged = False
    else:
        order_cols = tuple(order_cols)
        ranged = True
        docs = with_doc_ids(
            transcripts, order_cols, num_partitions, cache_registry=cache_registry
        )
    return docs.withColumn("tokens", tokens), order_cols, ranged


def build_index(
    transcripts: DataFrame,
    order_cols=("conv_id", "turn_idx"),
    text_col: str = "text",
    with_positions: bool = False,
    num_partitions: int | None = None,
    persist: bool = True,
    analyzer: str = "standard",
    id_col: str | None = None,
) -> IndexTables:
    """Build the (flat, uncompressed) index tables from a transcript-shaped
    DataFrame. The compressed segment/block form lives in segments.py."""
    docs, order_cols, _ = tokenized_docs(
        transcripts, order_cols, text_col, num_partitions, analyzer, id_col
    )
    if persist:
        docs = docs.persist()

    # norm_byte rides INSIDE the postings rows (computed once per doc,
    # pre-explode; constant per doc_id so the extra group key is free) —
    # the Lucene impact-postings layout ((freq, norm) pairs in the
    # posting stream, index/CompetitiveImpactAccumulator.java /
    # Lucene90PostingsFormat impacts). Query-time scoring then never
    # joins the full norms table: at 10^12 docs that join shuffles the
    # whole corpus for a query touching 0.01% of it.
    if with_positions:
        tok = docs.select(
            "doc_id",
            norm_byte_udf(F.size("tokens")).alias("norm_byte"),
            F.posexplode("tokens").alias("pos", "term"),
        )
        postings = tok.groupBy("term", "doc_id", "norm_byte").agg(
            F.count("*").cast("int").alias("freq"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    else:
        tok = docs.select(
            "doc_id",
            norm_byte_udf(F.size("tokens")).alias("norm_byte"),
            F.explode("tokens").alias("term"),
        )
        postings = tok.groupBy("term", "doc_id", "norm_byte").agg(
            F.count("*").cast("int").alias("freq")
        )

    dictionary = postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("freq").alias("cf")
    )

    norms = docs.select(
        "doc_id", F.size("tokens").alias("dl")
    ).withColumn("norm_byte", norm_byte_udf(F.col("dl")))

    stats_row = docs.select(
        F.sum(F.when(F.size("tokens") > 0, 1).otherwise(0)).alias("doc_count"),
        F.sum(F.size("tokens")).alias("sum_ttf"),
        F.count("*").alias("max_doc"),
    ).collect()[0]

    docmap = docs.select("doc_id", *[c for c in order_cols if c != "doc_id"])
    stored = docs.drop("tokens")

    tables = IndexTables(
        postings=postings,
        dictionary=dictionary,
        norms=norms,
        docmap=docmap,
        stored=stored,
        doc_count=int(stats_row["doc_count"] or 0),
        sum_total_term_freq=int(stats_row["sum_ttf"] or 0),
    )
    tables.set_max_doc(int(stats_row["max_doc"]))
    return tables


def transcripts_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Helper: fixtures.make_transcripts output → Spark DataFrame with the
    input_hint schema (turn_idx int32, ts timestamp)."""
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    return spark.createDataFrame(pdf, schema=schema)

"""Analysis for indexing: transcripts → (doc_id, tokens) rows.

The Spark-first re-expression of the front of Lucene's indexing chain
(reference: index/DefaultIndexingChain.java:386-426 — document-at-a-time
ingest; our version is set-at-a-time):

    transcripts
      → with_doc_ids (dense rank over (conv_id, turn_idx), one JVM column)
      → tokenize (JVM regex_extract_all or split, analysis/tokenizer.py)

Both steps are JVM-native (whole-stage codegen). The index itself —
postings blocks, dictionary, norms, collection statistics — is built
from these rows by index/segments.py, the one at-rest index format.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .docid import with_doc_ids

__all__ = ["analyzer_tokens", "tokenized_docs", "transcripts_from_pandas"]


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

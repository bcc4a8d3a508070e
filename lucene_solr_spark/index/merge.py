"""Segment merge: sort-shuffle with structural salting for hot terms.

Lucene merges segments in the background, remapping docIDs and
concatenating postings per term (reference: index/TieredMergePolicy.java,
index/DocIDMerger.java). Our docIDs are already global, so merging a
term's postings is pure re-blocking — but a Zipf-head term's posting
list at 10^12-doc scale is far too large for one reducer.

The salt is STRUCTURAL, not random: the shuffle key is
``(term_bucket, seg_group)`` where ``seg_group = seg_id //
seg_group_size``. Segments hold disjoint doc ids (range-partitioned),
so each group's postings are a disjoint slice of a term's final posting
list (a contiguous doc range unless a resumed build numbered its new
segments past the committed ones): reducers re-encode their slice into
optimal 128-posting blocks independently, no cross-group coordination,
and the union of groups IS the merged list. Per-reducer work is bounded
by seg_group_size segments
regardless of a term's total df — hot-term skew is defused by
construction (the explicit analog of AQE skew-split, which stays on as a
backstop). Grouping by term_bucket (not term) keeps reducer count
bounded and lets the whole group be re-encoded in one vectorized
multi-term pass (codec.encode_blocks_table) instead of one
Python invocation per term.

term_bucket = h60(term) mod n_buckets (the md5-derived portable hash) —
computable driver-side with hashlib, so query planning prunes partitions
without running a Spark job.

Output layout (the "at-rest" index, one dir per merge generation —
published atomically by a snapshot commit, see snapshot.py):
    merged-<gen>/postings/    parquet, partitioned by term_bucket → a
                              query for a few terms prunes to a few
                              directories
    merged-<gen>/dictionary/  (term, df, cf)
    (norms stay in segments/*/norms.parquet — disjoint doc ranges are
    already a valid partitioned table; no rewrite needed)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.hashing import h60
from .codec import decode_blocks, encode_blocks_table

__all__ = ["merge_segments", "MERGED_POSTING_SCHEMA", "term_bucket_col"]

MERGED_POSTING_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("term_bucket", T.IntegerType()),
        T.StructField("seg_group", T.IntegerType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("n_docs", T.IntegerType()),
        T.StructField("sum_freq", T.LongType()),
        T.StructField("docs", T.BinaryType()),
        T.StructField("freqs", T.BinaryType()),
        T.StructField("norms", T.BinaryType()),
        T.StructField("impact_freqs", T.ArrayType(T.IntegerType())),
        T.StructField("impact_norms", T.ArrayType(T.IntegerType())),
        T.StructField("positions", T.BinaryType()),
    ]
)

DICTIONARY_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("term_bucket", T.IntegerType()),
    ]
)


def term_bucket_col(term_col, n_buckets: int):
    """JVM-native portable bucket id: h60(term) mod n_buckets."""
    return F.pmod(h60(term_col), F.lit(n_buckets)).cast("int")


def _merge_group(tbl: pa.Table) -> pa.Table:
    """All segment blocks of one (term_bucket, seg_group), as an Arrow
    table: batch-decode, concatenate per term in doc order, batch
    re-encode into 128-posting blocks. Segments are disjoint doc ranges,
    so sorting blocks by (term, first_doc) yields sorted postings per
    term unless a resumed segment surrounds a committed one; then the
    postings are sorted by (term, doc). Arrow end-to-end — term codes via C++
    dictionary_encode, block payloads batch-decoded per payload class
    (one varint pass over concatenated varint bodies; one
    unpackbits+matmul per distinct FOR bit width — codec.decode_blocks)."""
    bucket = tbl.column("term_bucket")[0].as_py()
    seg_group = tbl.column("seg_group")[0].as_py()
    order = pc.sort_indices(
        tbl, sort_keys=[("term", "ascending"), ("first_doc", "ascending")]
    )
    tbl = tbl.take(order).combine_chunks()
    counts = tbl.column("n_docs").to_numpy().astype(np.int64)
    dict_enc = tbl.column("term").combine_chunks().dictionary_encode()
    codes = dict_enc.indices.to_numpy().astype(np.int64)
    uniques = np.asarray(dict_enc.dictionary.to_pylist(), dtype=object)

    # positions (if indexed) come back absolute per posting and are
    # re-encoded under the new block boundaries. Input blocks arrive
    # sorted by (term, first_doc) and postings within a block are
    # doc-ascending, so the decoded occurrence stream follows the
    # decoded posting order.
    docs, freqs, norms, positions = decode_blocks(
        counts, *(tbl.column(c).to_pylist()
                  for c in ("docs", "freqs", "norms", "positions"))
    )
    flat_codes = np.repeat(codes, counts)
    # a resumed build can write a segment holding docs on both sides of a
    # committed one; merged in one group, their blocks overlap and the
    # (term, first_doc) block order leaves a term's postings unsorted
    if np.any((flat_codes[1:] == flat_codes[:-1]) & (docs[1:] < docs[:-1])):
        order = np.lexsort((docs, flat_codes))
        if positions is not None:
            pstarts = np.cumsum(freqs) - freqs
            nf = freqs[order]
            new_starts = np.cumsum(nf) - nf
            positions = positions[
                np.repeat(pstarts[order] - new_starts, nf) + np.arange(nf.sum())
            ]
        flat_codes, docs = flat_codes[order], docs[order]
        freqs, norms = freqs[order], norms[order]
    return encode_blocks_table(
        uniques, flat_codes, docs, freqs, norms, positions=positions,
        term_bucket=bucket, seg_group=seg_group,
    )


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    seg_group_size: int = 8,
    n_buckets: int = 32,
    segments: list | None = None,
    merged_name: str = "merged-0000000000",
) -> str:
    """Merge the given committed segments into ``index_dir/<merged_name>``.

    segments: committed segment dir names (defaults to every segment
    with a manifest — NEVER a glob: a crashed builder task can leave an
    orphan postings.parquet with no manifest, and a glob would merge it).
    The output dir is generation-scoped; the caller publishes it by
    committing a snapshot (snapshot.py) AFTER this returns — a killed
    merge leaves an unreferenced directory, not a broken index.
    Returns merged_name."""
    from .snapshot import committed_segments

    if segments is None:
        segments = committed_segments(index_dir)
    if not segments:
        # an empty corpus commits no segment: write schema-only tables,
        # so Spark and pyarrow readers of the merged dir see its columns
        for name, schema in (
            ("postings", MERGED_POSTING_SCHEMA), ("dictionary", DICTIONARY_SCHEMA)
        ):
            os.makedirs(f"{index_dir}/{merged_name}/{name}", exist_ok=True)
            pq.write_table(
                to_arrow_schema(schema).empty_table(),
                f"{index_dir}/{merged_name}/{name}/part-00000.parquet",
            )
        return merged_name
    paths = [f"{index_dir}/segments/{s}/postings.parquet" for s in segments]
    segs = spark.read.parquet(*paths)
    grouped = segs.withColumn(
        "seg_group", (F.col("seg_id") / F.lit(seg_group_size)).cast("int")
    ).withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
    merged = grouped.groupBy("term_bucket", "seg_group").applyInArrow(
        _merge_group, schema=MERGED_POSTING_SCHEMA
    )

    # The dictionary aggregates from the PRE-merge segment blocks: block
    # re-encoding is a pure re-blocking, so per-term sum(n_docs) and
    # sum(sum_freq) are invariant under it (verified end-to-end by the
    # fts_bm25_* gates — WAND scores take df from this dictionary and
    # must hash-match the raw-text DuckDB oracle — and by
    # test_segments_wand's float32 parity). Sourcing it from `segs`
    # (a) drops a full re-read
    # of the merged output and (b) makes the dictionary job independent
    # of the postings write, so both jobs are submitted CONCURRENTLY —
    # separate DAG branches sharing the executor pool, the Spark analog
    # of Lucene's merge writing .tim/.doc streams in one pass.
    dictionary = segs.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df"),
        F.sum("sum_freq").cast("long").alias("cf"),
    ).withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))

    dict_err: list = []

    def _write_dictionary():
        try:
            (
                dictionary.write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(f"{index_dir}/{merged_name}/dictionary")
            )
        except BaseException as e:  # propagate into the caller thread
            dict_err.append(e)

    from pyspark import InheritableThread

    dict_thread = InheritableThread(target=_write_dictionary)
    dict_thread.start()
    try:
        (
            merged.write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(f"{index_dir}/{merged_name}/postings")
        )
    finally:
        dict_thread.join()
    if dict_err:
        raise dict_err[0]
    # norms stay in their per-segment files (disjoint doc ranges — already
    # a valid partitioned table); readers take the file list from the
    # snapshot's segment list
    return merged_name

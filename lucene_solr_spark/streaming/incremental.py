"""Near-real-time incremental indexing via Structured Streaming.

The reference is batch + NRT: new docs become visible by reopening a
searcher over newly flushed segments (index/ControlledRealTimeReopenThread.java,
search/SearcherManager.java), TopicStream consumes newly indexed docs
checkpointed by version (solr/solrj/.../io/stream/TopicStream.java), and
DaemonStream re-executes continuously (DaemonStream.java). The Spark
re-expression:

- ``readStream`` over the transcript table directory (new files = new
  docs, the micro-batch analog of an update batch),
- ``foreachBatch``: each micro-batch is range-partitioned by
  (conv_id, turn_idx) and EVERY PARTITION builds one immutable segment
  on its executor via the same ``mapInArrow`` path as the batch build
  (index/segments.py:build_segments) — the batch never touches the
  driver; doc-id ranges are stacked after all previous segments, so
  segments are append-only, exactly Lucene's DWPT flush model
  (index/DocumentsWriterPerThread.java),
- searchers reopen by re-globbing ``segments/*`` — the SearcherManager
  analog; Spark's streaming checkpoint dir provides exactly-once batch
  tracking (the UpdateLog/tlog-replay analog, UpdateLog.java:96-100).

Doc-id rule: batch docs are ordered by (conv_id, turn_idx) *within the
batch* (distributed range sort + per-partition prefix-sum offsets — the
same partition-independent rule as index/docid.py) and appended after
max_doc of the index so far — matching Lucene's "docIDs are assigned in
ingestion order" (not globally re-sorted; a restart replays from the
checkpoint so ids stay stable).

Scale: only per-partition counts (one long per partition) and manifest
rows (one per segment) ever reach the driver — a 10 GB micro-batch
flushes as ``segments_per_batch`` executor-side segment writes. A
background merge job compacts small segments exactly like
TieredMergePolicy — here merge_segments re-run on the accumulated
segment set.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.builder import analyzer_tokens
from ..index.docid import with_doc_ids
from ..index.segments import build_segments

__all__ = ["start_incremental_index", "IncrementalIndex"]


class IncrementalIndex:
    """Handle over an append-only segment directory + streaming query."""

    def __init__(self, index_dir: str, query):
        self.index_dir = index_dir
        self.query = query

    def manifests(self) -> list:
        out = []
        seg_root = f"{self.index_dir}/segments"
        if not os.path.isdir(seg_root):
            return out
        for seg in sorted(os.listdir(seg_root)):
            mp = f"{seg_root}/{seg}/manifest.json"
            if os.path.exists(mp):
                with open(mp) as f:
                    out.append(json.load(f))
        return out

    def max_doc(self) -> int:
        return sum(m["n_docs"] for m in self.manifests())

    def _committed_paths(self, name: str) -> list:
        from ..index.snapshot import committed_segments

        return [
            f"{self.index_dir}/segments/{s}/{name}.parquet"
            for s in committed_segments(self.index_dir)
        ]

    def postings(self, spark: SparkSession) -> DataFrame:
        # explicit committed-file list, not a glob: a concurrent in-flight
        # flush (data written, manifest not yet renamed) stays invisible
        paths = self._committed_paths("postings")
        if not paths:  # warm-up: nothing committed yet → empty, not error
            return spark.createDataFrame(
                [],
                "term string, seg_id int, first_doc long, last_doc long, "
                "n_docs int, sum_freq long, docs binary, freqs binary, "
                "norms binary, impact_freqs array<int>, "
                "impact_norms array<int>, positions binary",
            )
        return spark.read.parquet(*paths)

    def norms(self, spark: SparkSession) -> DataFrame:
        paths = self._committed_paths("norms")
        if not paths:
            return spark.createDataFrame(
                [], "doc_id long, dl int, norm_byte int"
            )
        return spark.read.parquet(*paths)

    def stop(self):
        if self.query is not None:
            self.query.stop()


def _next_seg_id(seg_root: str) -> int:
    if not os.path.isdir(seg_root):
        return 0
    ids = [
        int(s.split("-")[1])
        for s in os.listdir(seg_root)
        if s.startswith("seg-") and os.path.exists(f"{seg_root}/{s}/manifest.json")
    ]
    return (max(ids) + 1) if ids else 0


def start_incremental_index(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    schema,
    analyzer: str = "standard",
    checkpoint_dir: str | None = None,
    segments_per_batch: int = 1,
    processing_interval: str | None = None,
) -> IncrementalIndex:
    """Stream-parquet ``source_dir`` → ``segments_per_batch`` segments per
    micro-batch under ``index_dir/segments``, built per-partition on the
    executors (no driver collect). Returns a handle; caller stops the
    query. At scale set segments_per_batch ≈ cores so a large micro-batch
    flushes in parallel; small test batches use 1 for determinism.

    ``processing_interval``: None runs drain-and-stop (availableNow —
    the TopicStream catch-up pull); a value like ``"1 second"`` keeps
    the query ALIVE re-executing continuously — the DaemonStream mode
    (reference solr/solrj/.../io/stream/DaemonStream.java) — until
    ``.stop()``."""
    tokens = analyzer_tokens(analyzer, "text")  # batch-build tokenization
    os.makedirs(f"{index_dir}/segments", exist_ok=True)
    checkpoint_dir = checkpoint_dir or f"{index_dir}/_checkpoint"

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int):
        import shutil

        seg_root = f"{index_dir}/segments"
        # idempotent replay (UpdateLog/tlog-replay contract): a crash
        # mid-batch leaves the streaming checkpoint un-advanced, so the
        # SAME batch_id re-runs. Drop whatever a previous attempt of
        # this batch left behind — its committed segments (manifest
        # carries batch_id) AND manifest-less partials (invisible to
        # readers, but they shift seg ids) — so the rebuild lands on
        # identical seg ids / doc ids instead of duplicating documents.
        for seg in sorted(os.listdir(seg_root)):
            mpath = f"{seg_root}/{seg}/manifest.json"
            if not os.path.exists(mpath):
                shutil.rmtree(f"{seg_root}/{seg}", ignore_errors=True)
                continue
            with open(mpath) as f:
                if json.load(f).get("batch_id") == int(batch_id):
                    shutil.rmtree(f"{seg_root}/{seg}", ignore_errors=True)
        seg_base = _next_seg_id(seg_root)
        doc_base = sum(
            json.load(open(f"{seg_root}/{s}/manifest.json"))["n_docs"]
            for s in sorted(os.listdir(seg_root))
            if os.path.exists(f"{seg_root}/{s}/manifest.json")
        )
        # distributed range sort on the batch's ingestion key + dense ids
        # offset past everything already committed (docid.py rule); the
        # per-partition prefix sum is the only thing the driver sees
        caches: list = []
        docs = with_doc_ids(
            batch_df,
            ("conv_id", "turn_idx"),
            num_partitions=segments_per_batch,
            cache_registry=caches,
        ).withColumn("doc_id", F.col("doc_id") + F.lit(doc_base)).withColumn(
            "tokens", tokens
        )
        try:
            build_segments(
                docs,
                index_dir,
                num_segments=segments_per_batch,
                already_ranged=True,
                seg_id_base=seg_base,
                manifest_extra={"batch_id": int(batch_id)},
            )
        finally:
            for release in caches:
                release()

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_interval is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    query = writer.start()
    return IncrementalIndex(index_dir, query)

"""Per-partition segment build — the DWPT analog, resumable.

Lucene builds private per-thread segments with no contention and flushes
them independently (reference: index/DocumentsWriter.java:43-57,
DocumentsWriterPerThread.java). Here each Spark partition of the
doc-id-range-partitioned corpus builds one immutable segment:

    segments/seg-NNNNN/postings.parquet   block-compressed postings
    segments/seg-NNNNN/norms.parquet      (doc_id, dl, norm_byte)
    segments/seg-NNNNN/manifest.json      counters + lineage (commit point)
    stored/                               stored fields (pure-JVM write)

The manifest is written LAST via tmp+rename (the Lucene commit-point /
Solr UpdateLog-replay analog — IndexWriter.java:3407, UpdateLog.java:96).
A rerun into the same directory resumes: the driver reads the committed
manifests, leaves out every doc whose doc_id lies in a committed
[min_doc, max_doc] range, and builds the rest as new segments numbered
past the highest committed one. Doc ids depend only on the corpus (not
on where range-partition sampling puts its boundaries, which moves
between runs), so the resumed index holds the same postings as a fresh
build, split into different segments.

Block rows carry the norm byte of every posting inline (norms binary),
making query-time scoring block-local — no norms join per query; this is
the analog of Lucene reading .nvd norms during per-segment scoring.
"""

from __future__ import annotations

import atexit
import json
import operator
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field
from functools import cached_property, reduce

import numpy as np
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .builder import tokenized_docs
from .codec import CODEC_FORMAT

__all__ = [
    "build_segments",
    "build_segmented_index",
    "read_segmented_index",
    "temp_index_dir",
    "SegmentedIndex",
    "MANIFEST_SCHEMA",
]

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("seg_id", T.IntegerType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("doc_count", T.LongType()),  # docs with >=1 token
        T.StructField("sum_ttf", T.LongType()),
        T.StructField("n_terms", T.LongType()),
        T.StructField("n_postings", T.LongType()),
        T.StructField("posting_bytes", T.LongType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
        T.StructField("wall_sec", T.DoubleType()),
        T.StructField("resumed", T.BooleanType()),
    ]
)

POSTINGS_SCHEMA = "term string, doc_id long, norm_byte int, freq int"


def _decode_postings(batches):
    """mapInArrow body of ``SegmentedIndex.postings``: block rows (term,
    n_docs, docs, freqs, norms) → one row per posting."""
    import pyarrow as pa

    from .codec import decode_blocks

    for b in batches:
        counts = b.column("n_docs").to_numpy()
        docs, freqs, norms, _ = decode_blocks(
            counts, *(b.column(c).to_pylist() for c in ("docs", "freqs", "norms"))
        )
        yield pa.RecordBatch.from_arrays(
            [
                b.column("term").take(np.repeat(np.arange(len(counts)), counts)),
                pa.array(docs, pa.int64()),
                pa.array(norms.astype(np.int32), pa.int32()),
                pa.array(freqs.astype(np.int32), pa.int32()),
            ],
            names=["term", "doc_id", "norm_byte", "freq"],
        )


def _decoded(blocks: DataFrame) -> DataFrame:
    return blocks.select("term", "n_docs", "docs", "freqs", "norms").mapInArrow(
        _decode_postings, POSTINGS_SCHEMA
    )


def _encode_segment_arrow(tbl, seg_id: int, index_positions: bool = False):
    """One segment's Arrow table (doc_id, tokens, stored…) → (postings
    pa.Table, norms pa.Table, counters). All heavy steps are Arrow C++ /
    numpy whole-array ops — no per-token Python objects:

    - list lengths via offsets diff,
    - term→code via pyarrow dictionary_encode (C++ hash),
    - (code, doc) sort + run-length → freqs,
    - block encode via codec.encode_blocks_table (shared with the merge).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.smallfloat import int_to_byte4
    from .codec import encode_blocks_table

    doc_ids = tbl.column("doc_id").to_numpy()
    toks = tbl.column("tokens")
    if isinstance(toks, pa.ChunkedArray):
        toks = toks.combine_chunks()
    offsets = toks.offsets.to_numpy().astype(np.int64)
    lengths = (offsets[1:] - offsets[:-1]).astype(np.int64)
    norm_bytes = int_to_byte4(lengths)
    norms_tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "dl": pa.array(lengths.astype(np.int32), pa.int32()),
            "norm_byte": pa.array(norm_bytes.astype(np.int32), pa.int32()),
            "seg_id": pa.array(np.full(len(doc_ids), seg_id, np.int32), pa.int32()),
        }
    )
    if int(lengths.sum()) == 0:
        nil = np.empty(0, np.int64)
        return encode_blocks_table([], nil, nil, nil, nil, seg_id=seg_id), norms_tbl, {
            "doc_count": 0, "sum_ttf": 0, "n_terms": 0, "n_postings": 0,
            "posting_bytes": 0,
        }
    flat = toks.flatten()
    dict_enc = flat.dictionary_encode()
    codes = dict_enc.indices.to_numpy().astype(np.int64)
    uniques = np.asarray(dict_enc.dictionary.to_pylist(), dtype=object)
    flat_docs = np.repeat(doc_ids, lengths)
    flat_norms = np.repeat(norm_bytes, lengths)
    # within-doc token index (position); lexsort is stable, so after the
    # (code, doc) sort each posting's occurrences stay position-ascending
    doc_tok_starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=doc_tok_starts[1:])
    flat_pos = np.arange(int(lengths.sum()), dtype=np.int64) - np.repeat(
        doc_tok_starts, lengths
    )

    order = np.lexsort((flat_docs, codes))
    c_s, d_s, n_s = codes[order], flat_docs[order], flat_norms[order]
    p_s = flat_pos[order]
    run_start = np.empty(len(c_s), dtype=bool)
    run_start[0] = True
    run_start[1:] = (c_s[1:] != c_s[:-1]) | (d_s[1:] != d_s[:-1])
    rs = np.nonzero(run_start)[0]
    tf_freqs = np.diff(np.append(rs, len(c_s)))

    postings_tbl = encode_blocks_table(
        uniques, c_s[rs], d_s[rs], tf_freqs, n_s[rs],
        positions=(p_s if index_positions else None), seg_id=seg_id,
    )
    counters = {
        "doc_count": int((lengths > 0).sum()),
        "sum_ttf": int(lengths.sum()),
        "n_terms": int(len(uniques)),
        "n_postings": int(len(rs)),
        "posting_bytes": sum(
            pc.sum(pc.binary_length(postings_tbl[c])).as_py() for c in ("docs", "freqs")
        ),
    }
    return postings_tbl, norms_tbl, counters


def build_segments(
    docs: DataFrame,
    index_dir: str,
    num_segments: int,
    fail_on_seg: int | None = None,
    already_ranged: bool = False,
    index_positions: bool = False,
    seg_id_base: int = 0,
    manifest_extra: dict | None = None,
) -> list:
    """Range-partition docs (doc_id, tokens, …) into segments and write
    each partition's segment files, each committed by its manifest.

    already_ranged: the input partitions are already contiguous disjoint
    doc_id ranges in partition order (the with_doc_ids pipeline) — skip
    the redundant range shuffle and build one segment per partition.
    fail_on_seg: crash-injection test hook — that segment writes nothing
    and the build raises after the job, so every other segment has
    committed and no task is still writing.
    seg_id_base: offset added to the partition id when naming segments —
    lets an incremental (NRT) or resumed build append new segments after
    committed ones (the Lucene SegmentInfos counter analog,
    index/SegmentInfos.java).
    manifest_extra: extra key/values persisted into each manifest.json
    (e.g. the streaming batch_id for lineage) — not part of the returned
    Arrow manifest rows.
    Returns the list of manifest dicts (one per non-empty partition).

    Each task writes its whole segment in one Arrow pass — postings and
    norms, then the manifest commit point. Only (doc_id, tokens) crosses
    into Python; nothing is cached in executor memory (the Lucene DWPT
    flush analog: DocumentsWriterPerThread builds its private segment
    and flushes its files together).
    """
    os.makedirs(f"{index_dir}/segments", exist_ok=True)
    if already_ranged:
        part = docs.select("doc_id", "tokens")
    else:
        part = docs.select("doc_id", "tokens").repartitionByRange(
            num_segments, "doc_id"
        ).sortWithinPartitions("doc_id")

    manifest_schema = to_arrow_schema(MANIFEST_SCHEMA)

    def write_segment(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t0 = time.time()
        seg_id = seg_id_base + TaskContext.get().partitionId()
        seg_dir = f"{index_dir}/segments/seg-{seg_id:05d}"
        if seg_id == fail_on_seg:
            return
        chunks = [pa.Table.from_batches([b]) for b in batches]
        if not chunks:
            return
        tbl = pa.concat_tables(chunks).combine_chunks()
        if tbl.num_rows == 0:
            return
        postings, norms, counters = _encode_segment_arrow(
            tbl, seg_id, index_positions
        )
        os.makedirs(seg_dir, exist_ok=True)
        for name, out in (
            ("postings", postings),
            ("norms", norms),
        ):
            tmp = f"{seg_dir}/.{name}.parquet.tmp"
            pq.write_table(out, tmp)
            os.replace(tmp, f"{seg_dir}/{name}.parquet")
        doc_ids = tbl.column("doc_id").to_numpy()
        m = {
            "seg_id": seg_id,
            "n_docs": int(tbl.num_rows),
            "doc_count": counters["doc_count"],
            "sum_ttf": counters["sum_ttf"],
            "n_terms": counters["n_terms"],
            "n_postings": counters["n_postings"],
            "posting_bytes": counters["posting_bytes"],
            "min_doc": int(doc_ids.min()),
            "max_doc": int(doc_ids.max()),
            "wall_sec": time.time() - t0,
            "resumed": False,
        }
        tmp = f"{seg_dir}/.manifest.json.tmp"
        with open(tmp, "w") as f:
            json.dump({**m, **(manifest_extra or {}), "codec": CODEC_FORMAT}, f)
        os.replace(tmp, f"{seg_dir}/manifest.json")  # commit point
        yield pa.RecordBatch.from_pylist([m], schema=manifest_schema)

    manifests = part.mapInArrow(write_segment, schema=MANIFEST_SCHEMA).collect()
    if fail_on_seg is not None and (
        0 <= fail_on_seg - seg_id_base < part.rdd.getNumPartitions()
    ):
        raise RuntimeError(f"injected failure in segment {fail_on_seg}")
    return [r.asDict() for r in manifests]


def _committed_manifests(index_dir: str, segments: list) -> list:
    """The manifests of committed ``segments``, read on the driver and
    marked resumed. A segment of another codec fails here, before any
    job runs."""
    out = []
    for seg in segments:
        with open(f"{index_dir}/segments/{seg}/manifest.json") as f:
            m = json.load(f)
        found = m.pop("codec", "<none: pre-payload varint format>")
        if found != CODEC_FORMAT:
            raise ValueError(
                f"segment {seg} under {index_dir} uses codec {found!r}, this "
                f"build writes {CODEC_FORMAT!r}; delete the index dir and rebuild"
            )
        out.append({**m, "resumed": True})
    return out


@dataclass
class SegmentedIndex:
    """The merged, at-rest index (SURVEY §7.1 step 4 output) — the one
    index format every search path reads.

    The same merged files are read two ways. The DataFrames below feed
    Spark plans that scale with the index: ``blocks`` the block-at-a-time
    leaves, and ``postings``, a lazy decoded view of the blocks, the
    relational plans that read every term (splitter, multi-reader,
    gates). A query reads only its terms: ``blocks_of(terms)`` feeds
    the WAND and positional leaves, and ``postings_of(terms)``, the
    decode of those blocks, the relational scorers
    (search/scoring.py). Both prune the scan to the terms' term_bucket
    directories and push the term filter into it, which a filter above
    the decode cannot do. ``lookup_df``, ``read_blocks`` and
    ``terms_with_prefixes`` read ``merged_dir`` on the driver with
    ``pyarrow.dataset`` and launch no Spark job: the first serves the
    dictionary lookup every query makes, the second feeds top-k queries
    small enough to score in-process (search/wand.py), the third expands
    multi-term leaves (search/intervals.py). The first two prune the
    same way."""

    blocks: DataFrame      # merged posting blocks (term_bucket-partitioned)
    dictionary: DataFrame  # (term, df, cf)
    norms: DataFrame       # (doc_id, dl, norm_byte)
    stored: DataFrame      # source rows + doc_id
    merged_dir: str        # the snapshot's merged-<gen> dir: postings/, dictionary/
    doc_count: int
    sum_total_term_freq: int
    max_doc: int
    n_buckets: int
    has_positions: bool = False
    # resident-searcher term-dictionary cache: term -> df (None =
    # known-absent). Lucene keeps the term dictionary's FST index
    # memory-resident per searcher; the analog memoizes per-term df
    # lookups on the driver. The index is immutable (appends produce a
    # NEW handle), so entries never invalidate.
    df_cache: dict = field(default_factory=dict)

    def _buckets(self, terms) -> list:
        """The term_bucket directories holding ``terms``, computed on the
        driver (h60 is the portable md5 hash: no Spark job)."""
        from ..operators.hashing import h60_py  # local: avoid cycle

        return sorted({h60_py(t) % self.n_buckets for t in terms})

    def _term_filter(self, terms):
        import pyarrow.dataset as ds

        buckets = self._buckets(terms)
        return ds.field("term_bucket").isin(buckets) & ds.field("term").isin(list(terms))

    def blocks_of(self, terms) -> DataFrame:
        """The merged blocks of ``terms``; the scan reads only their
        term_bucket directories and pushes the term filter."""
        terms = list(dict.fromkeys(terms))
        return self.blocks.filter(
            F.col("term_bucket").isin(self._buckets(terms)) & F.col("term").isin(terms)
        )

    @cached_property
    def _dictionary_ds(self):
        import pyarrow.dataset as ds

        return ds.dataset(f"{self.merged_dir}/dictionary", partitioning="hive")

    @cached_property
    def _postings_ds(self):
        import pyarrow.dataset as ds

        return ds.dataset(f"{self.merged_dir}/postings", partitioning="hive")

    def lookup_df(self, terms) -> dict:
        """term -> df for those of ``terms`` that are in the dictionary.
        Misses of ``df_cache`` are read in one driver-side scan."""
        uniq = list(dict.fromkeys(terms))
        missing = [t for t in uniq if t not in self.df_cache]
        if missing:
            tbl = self._dictionary_ds.to_table(
                columns=["term", "df"], filter=self._term_filter(missing)
            )
            found = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
            for t in missing:
                self.df_cache[t] = found.get(t)
        return {t: self.df_cache[t] for t in uniq if self.df_cache[t] is not None}

    @cached_property
    def postings(self) -> DataFrame:
        """(term, doc_id, norm_byte, freq), one row per posting, decoded
        from ``blocks`` by the codec's block decoder. Building it runs
        no job."""
        return _decoded(self.blocks)

    def postings_of(self, terms) -> DataFrame:
        """``postings`` of ``terms``, decoded from ``blocks_of(terms)``
        only."""
        return _decoded(self.blocks_of(terms))

    def terms_with_prefixes(self, prefixes) -> list:
        """Sorted dictionary terms that start with any of ``prefixes``,
        read on the driver with the prefix filter pushed into the scan
        (an empty prefix matches every term)."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        prefixes = set(prefixes)
        flt = None
        if "" not in prefixes:
            flt = reduce(operator.or_, (
                pc.starts_with(ds.field("term"), pattern=p) for p in sorted(prefixes)
            ))
        tbl = self._dictionary_ds.to_table(columns=["term"], filter=flt)
        return sorted(tbl["term"].to_pylist())

    def read_blocks(self, terms, columns):
        """The posting blocks of ``terms`` as a pyarrow Table holding only
        ``columns``, read on the driver."""
        return self._postings_ds.to_table(
            columns=list(columns), filter=self._term_filter(terms)
        )


def temp_index_dir(prefix: str) -> str:
    """A fresh temp dir for an index, removed when the process exits."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def build_segmented_index(
    transcripts: DataFrame,
    index_dir: str,
    order_cols=("conv_id", "turn_idx"),
    text_col: str = "text",
    num_segments: int | None = None,
    analyzer: str = "standard",
    id_col: str | None = None,
    seg_group_size: int = 8,
    n_buckets: int = 32,
    fail_on_seg: int | None = None,
    index_positions: bool = False,
) -> SegmentedIndex:
    """Full pipeline: tokenize → per-partition segments (checkpointed) →
    salted merge → merged tables on disk → readable index.

    Resume: a rerun into an index_dir holding committed segments (a
    crashed build's) keeps them, leaves their [min_doc, max_doc] ranges
    out and builds only the remaining docs, as segments numbered past
    the highest committed seg_id.

    index_positions: also store within-doc token positions in the
    posting blocks (the DOCS_AND_FREQS_AND_POSITIONS IndexOptions analog
    — reference: index/IndexOptions.java, Lucene50PostingsFormat .pos) —
    required for index-backed phrase queries (search/phrase.py)."""
    from .merge import merge_segments  # local import: avoid cycle
    from .snapshot import (
        commit_snapshot,
        committed_segments,
        latest_snapshot,
        merged_dir_name,
    )

    spark = transcripts.sparkSession
    num_segments = num_segments or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    committed = _committed_manifests(index_dir, committed_segments(index_dir))
    # the doc-id checkpoint is freed once the stored fields and the
    # segments are written: the index read back below does not use it
    releases: list = []
    docs, order_cols, ranged = tokenized_docs(
        transcripts, order_cols, text_col, num_segments, analyzer, id_col,
        cache_registry=releases,
    )
    pending, seg_id_base = docs, 0
    if committed:
        # doc ids depend only on the corpus, and a segment holds every
        # doc of its [min_doc, max_doc] range that no segment committed
        # before it holds, so the union of committed ranges names exactly
        # the committed docs, whatever boundaries this run's range
        # sampling picked. Adjacent or overlapping ranges are joined:
        # after one crash, one or two ranges remain.
        ranges: list = []
        for lo, hi in sorted((m["min_doc"], m["max_doc"]) for m in committed):
            if ranges and lo <= ranges[-1][1] + 1:
                ranges[-1][1] = max(ranges[-1][1], hi)
            else:
                ranges.append([lo, hi])
        done = reduce(
            operator.or_, (F.col("doc_id").between(lo, hi) for lo, hi in ranges)
        )
        pending = docs.filter(~done)
        seg_id_base = max(m["seg_id"] for m in committed) + 1
    # stored fields: pure-JVM parquet write (no Python, scales linearly);
    # column pruning drops the tokenizer from this branch, which reads
    # the checkpointed corpus through the doc-id projection. The write is
    # independent of segment building — submit it on its own thread so
    # the two DAG branches share the executor pool concurrently, exactly
    # as Lucene's stored-fields writer streams alongside the postings
    # writer within one flush (index/StoredFieldsConsumer.java).
    from pyspark import InheritableThread

    stored_err: list = []

    def _write_stored():
        try:
            docs.drop("tokens").write.mode("overwrite").parquet(
                f"{index_dir}/stored"
            )
        except BaseException as e:
            stored_err.append(e)

    stored_thread = InheritableThread(target=_write_stored)
    stored_thread.start()
    try:
        manifests = committed + build_segments(
            pending, index_dir, num_segments, fail_on_seg, already_ranged=ranged,
            index_positions=index_positions, seg_id_base=seg_id_base,
        )
    finally:
        stored_thread.join()
        for release in releases:
            release()
    if stored_err:
        raise stored_err[0]

    stats = {
        "doc_count": int(sum(m["doc_count"] for m in manifests)),
        "sum_total_term_freq": int(sum(m["sum_ttf"] for m in manifests)),
        "max_doc": int(sum(m["n_docs"] for m in manifests)),
        "n_segments": len(manifests),
        "n_buckets": n_buckets,
        "analyzer": analyzer,
        "positions": index_positions,
        "codec": CODEC_FORMAT,
    }
    # merge into a generation-scoped dir, THEN publish atomically: a
    # reader opening the index mid-merge resolves the previous snapshot
    # (or nothing) — never a half-written merged table
    prev = latest_snapshot(index_dir)
    gen = (prev["generation"] + 1) if prev else 0
    # exactly the segments the stats count, not a directory listing
    segments = sorted(f"seg-{m['seg_id']:05d}" for m in manifests)
    merged = merge_segments(
        spark, index_dir, seg_group_size, n_buckets,
        segments=segments, merged_name=merged_dir_name(gen),
    )
    with open(f"{index_dir}/stats.json", "w") as f:  # luke/debug convenience
        json.dump(stats, f)
    commit_snapshot(index_dir, gen, segments, stats, merged=merged)
    return read_segmented_index(spark, index_dir)


def read_segmented_index(spark: SparkSession, index_dir: str) -> SegmentedIndex:
    from .snapshot import latest_snapshot

    snap = latest_snapshot(index_dir)
    if snap is None:
        raise FileNotFoundError(
            f"no committed snapshot under {index_dir}/snapshots — the index "
            "was never published (build_segmented_index commits one after "
            "the merge)"
        )
    stats = snap["stats"]
    found = stats.get("codec", "<none: pre-payload varint format>")
    if found != CODEC_FORMAT:
        # fail loudly: a payload-format mismatch would otherwise decode
        # garbage silently (the header byte reinterprets old raw-varint
        # streams) — rebuild the index with the current code instead
        raise ValueError(
            f"index at {index_dir} uses codec {found!r}, this build reads "
            f"{CODEC_FORMAT!r}; rebuild the index"
        )
    merged = snap["merged"]
    norm_paths = [
        f"{index_dir}/segments/{s}/norms.parquet" for s in snap["segments"]
    ]
    return SegmentedIndex(
        blocks=spark.read.parquet(f"{index_dir}/{merged}/postings"),
        dictionary=spark.read.parquet(f"{index_dir}/{merged}/dictionary").select(
            "term", "df", "cf"
        ),
        # an explicit schema: an empty index has no norms files to infer from
        norms=spark.read.schema("doc_id long, dl int, norm_byte int").parquet(
            *norm_paths
        ),
        stored=spark.read.parquet(f"{index_dir}/stored"),
        merged_dir=f"{index_dir}/{merged}",
        doc_count=stats["doc_count"],
        sum_total_term_freq=stats["sum_total_term_freq"],
        max_doc=stats["max_doc"],
        n_buckets=stats["n_buckets"],
        has_positions=stats.get("positions", False),
    )

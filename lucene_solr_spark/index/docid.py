"""Deterministic, partition-independent dense doc-id assignment.

Lucene assigns per-segment docIDs in ingestion order and remaps on merge
(reference: index/DocIDMerger.java:32,110). Our engine's canonical rule
(FIXTURES.md §1): ``doc_id = rank - 1`` over ``ORDER BY conv_id,
turn_idx`` — dense, deterministic, independent of input partitioning.

Scale note: a naive ``row_number() OVER (ORDER BY ...)`` collapses to a
single partition — unusable at 10^12 rows. Instead we:

1. range-repartition on the sort key (distributed sort),
2. count rows per partition (tiny driver-side prefix sum — one value per
   partition, NOT per row),
3. add ``offsets[pid] + local_index`` as one JVM column:
   ``offsets[spark_partition_id()] + monotonically_increasing_id()
   - (spark_partition_id() << 33)``, the offsets a literal array.
   ``monotonically_increasing_id`` is ``(pid << 33) + row number within
   the partition``, so subtracting ``pid << 33`` leaves the local index.
   No row crosses into Python.

Partition boundaries from range-partition sampling don't affect the ids:
each partition holds a contiguous, disjoint key range, so
offset + local rank == global rank regardless of where boundaries fall.
Requires the sort key to be unique (ours is: (conv_id, turn_idx)).

Union safety: both ``spark_partition_id`` and
``monotonically_increasing_id`` are bound to the partition index of the
projection that evaluates them, i.e. of the checkpointed range-partitioned
child — the same index the count job grouped by. A Union above the
projection renumbers its own output partitions but not the child's, so
the ids are the same standalone or as any input of a Union.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["with_doc_ids"]


def with_doc_ids(
    df: DataFrame,
    order_cols=("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    id_col: str = "doc_id",
    cache_registry: list | None = None,
) -> DataFrame:
    """Return df + dense int64 ``id_col`` ranking rows by ``order_cols``.

    The range-partitioned, sorted input is a local checkpoint that the
    count job materializes: the count job and the id projection must see
    the same partitions, and a checkpoint, unlike a cache, is never
    recomputed from its lineage — a recomputation would re-sample the
    range boundaries, so the literal offsets would no longer match the
    partitions. Every consumer of the result reads the checkpoint through
    a cheap projection.

    cache_registry: if given, a callable that releases the checkpoint's
    blocks is appended, so a long-running caller (the NRT stream builds
    ids every micro-batch) can free them once the ids are materialized.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ordered = df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols)
    ordered = ordered.localCheckpoint(eager=False)
    if cache_registry is not None:
        # the checkpointed RDD: unpersisting the DataFrame does not free it
        rdd = ordered._jdf.queryExecution().analyzed().rdd()
        cache_registry.append(lambda: rdd.unpersist(False))
    counts = (
        ordered.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    by_pid = {r["pid"]: r["count"] for r in counts}
    offsets = [0, *accumulate(by_pid.get(pid, 0) for pid in range(n - 1))]
    pid = F.spark_partition_id()
    local = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    offset = F.array(*[F.lit(o).cast("long") for o in offsets])[pid]
    return ordered.withColumn(id_col, offset + local)

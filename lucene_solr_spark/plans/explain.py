"""Physical-plan introspection helpers.

The reference's "optimizer" is the scorer-tree construction
(Boolean2ScorerSupplier) plus index pushdown; in this engine Catalyst
owns those decisions, and these helpers make the resulting plans
assertable in tests — the plan IS the performance contract at 100 TB:

- filters must reach the parquet scan (PushedFilters),
- partition-directory pruning must fire for term_bucket reads
  (PartitionFilters),
- small dims must broadcast (BroadcastHashJoin),
- column pruning must shrink ReadSchema.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "formatted_plan",
    "pushed_filters",
    "partition_filters",
    "join_strategies",
    "read_schemas",
    "unpartitioned_windows",
]


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list:
    """All PushedFilters entries across the plan's scans."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def partition_filters(df: DataFrame) -> list:
    return re.findall(r"PartitionFilters: \[([^\]]*)\]", formatted_plan(df))


def join_strategies(df: DataFrame) -> list:
    """Join operator names appearing in the physical plan."""
    plan = formatted_plan(df)
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)",
        plan,
    )


def read_schemas(df: DataFrame) -> list:
    return re.findall(r"ReadSchema: (struct<[^>]*>)", formatted_plan(df))


def unpartitioned_windows(df: DataFrame) -> list:
    """Window operators with an EMPTY partition spec in the optimized
    logical plan — the single-task scale killer (Spark moves every row
    to one partition before ranking; WindowExec itself warns
    "No Partition Defined"). A registered query must never contain
    one: per-query ranks partition by the query key, global top-k cuts
    compile to TakeOrderedAndProject via orderBy().limit() —
    the TopDocs.merge shape (lucene/core/.../search/TopDocs.java:
    188-215, per-shard top-k then a tiny merge).

    Walks the JVM logical plan via py4j (node class ``Window`` with
    ``partitionSpec().isEmpty()``) — robust against explain-string
    formatting, and sees through Project/Filter/Join nesting.

    One principled carve-out: a Window whose input is a limit, reached
    through Project/Filter nodes only, is BOUNDED — ranking the k
    survivors of an orderBy().limit(k) (TakeOrderedAndProject) is the
    TopDocs.merge tiny-merge itself, O(k) regardless of corpus size —
    and is not reported. A limit anywhere else below (under a Join or
    an Aggregate, say) bounds nothing the Window sees.
    """
    hits: list = []
    seen: set = set()

    def input_is_limit(node) -> bool:
        child = node.children().apply(0)
        while child.getClass().getSimpleName() in ("Project", "Filter"):
            child = child.children().apply(0)
        return child.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit")

    def walk(node) -> None:
        oid = node.hashCode()
        # id-dedup is best-effort; re-walking a shared subtree is fine
        if (node.getClass().getName(), oid) in seen:
            return
        seen.add((node.getClass().getName(), oid))
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty() and not input_is_limit(node):
                hits.append(node.toString().splitlines()[0][:300])
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())  # noqa: SLF001
    return hits

"""Dense doc-id assignment (index/docid.py): ids are the rank over the
order key, whatever plan consumes them."""

from pyspark.sql import functions as F

from lucene_solr_spark.index.docid import with_doc_ids


def _corpus(spark):
    return (
        spark.range(600)
        .select(
            (F.col("id") % 37).cast("string").alias("conv_id"),
            (F.col("id") * 7 % 601).cast("int").alias("turn_idx"),
        )
        .repartition(3)
    )


def _rows(df):
    return sorted((r.conv_id, r.turn_idx, r.doc_id) for r in df.collect())


def test_ids_are_dense_rank_over_order_key(spark):
    by_id = sorted(_rows(with_doc_ids(_corpus(spark), num_partitions=5)), key=lambda r: r[2])
    assert [d for _, _, d in by_id] == list(range(600))
    assert [(c, t) for c, t, _ in by_id] == sorted((c, t) for c, t, _ in by_id)


def test_ids_unchanged_as_second_input_of_union(spark):
    """The Union renumbers its output partitions: the id pass must still
    see its own child's partition index. No filter on the collect — a
    filter would let the optimizer prune the Union away."""
    ids = with_doc_ids(_corpus(spark), num_partitions=5)
    alone = _rows(ids)
    first = (
        spark.range(4, numPartitions=2)
        .select(
            F.lit("~").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            (-F.col("id") - 1).alias("doc_id"),
        )
    )
    union = _rows(first.unionByName(ids))
    assert [r for r in union if r[2] >= 0] == alone
    assert len(union) == len(alone) + 4


def test_ids_survive_dropped_cache(spark):
    """Dropping every cache must not change the ids of an earlier result:
    re-evaluating a cached range sort re-samples its boundaries, which
    the offsets were not counted for."""
    from lucene_solr_spark.sources.synth import synth_transcripts

    ids = with_doc_ids(synth_transcripts(spark, 20000), num_partitions=4)
    distinct = ids.select(F.countDistinct("doc_id"), F.max("doc_id"))
    assert tuple(distinct.first()) == (20000, 19999)
    spark.catalog.clearCache()
    assert tuple(distinct.first()) == (20000, 19999)


def test_cache_registry_releases_blocks(spark):
    """The NRT stream frees each micro-batch's range-sorted blocks through
    the callables with_doc_ids registers."""
    registry: list = []
    ids = with_doc_ids(_corpus(spark), num_partitions=5, cache_registry=registry)
    assert ids.count() == 600
    plan = ids._jdf.queryExecution().analyzed()
    while plan.getClass().getSimpleName() != "LogicalRDD":
        plan = plan.children().apply(0)
    rdd_id = plan.rdd().id()
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    assert persistent().contains(rdd_id)
    for release in registry:
        release()
    assert not persistent().contains(rdd_id)

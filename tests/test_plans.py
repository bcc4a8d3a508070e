"""Physical-plan assertions: the 100 TB contract.

A correct result with the wrong plan fails at scale — these tests pin
the plan properties that matter: predicate pushdown to the scan,
partition-directory pruning on term_bucket, broadcast joins for small
dims, and column pruning.
"""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.plans.explain import (
    formatted_plan,
    join_strategies,
    partition_filters,
    pushed_filters,
    read_schemas,
)

SF_DIR = "/root/testdata/sf0.01"


def test_range_filter_pushed_to_scan(spark):
    from lucene_solr_spark.gate import PARTS

    df = PARTS["rel_range_query_events"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "ts" in pushed and "value" in pushed, pushed


def test_column_pruning_on_projection(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    schemas = read_schemas(df)
    assert len(schemas) == 1
    # only the two referenced columns are read, not the whole row
    assert "l_returnflag" in schemas[0] and "l_quantity" in schemas[0]
    assert "l_extendedprice" not in schemas[0], schemas[0]


def test_small_dim_join_broadcasts(spark):
    from lucene_solr_spark.gate import PARTS

    df = PARTS["rel_join_top_customers"](spark, SF_DIR)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, strategies


def test_term_bucket_partition_pruning(spark, tiny_corpus, tmp_path_factory):
    """A WAND query for a few terms must scan only those terms'
    term_bucket directories (the Iceberg/parquet partition-pruning
    analog of Lucene's term-dictionary seek)."""
    from lucene_solr_spark import fixtures
    from lucene_solr_spark.index.builder import transcripts_from_pandas
    from lucene_solr_spark.index.segments import build_segmented_index
    from lucene_solr_spark.operators.hashing import h60_py

    index_dir = str(tmp_path_factory.mktemp("planidx"))
    df = transcripts_from_pandas(spark, tiny_corpus)
    idx = build_segmented_index(
        df, index_dir, num_segments=4, seg_group_size=2, n_buckets=8
    )
    term = fixtures.make_vocab()[0]
    blocks = idx.blocks.filter(
        F.col("term_bucket").isin([h60_py(term) % 8]) & (F.col("term") == term)
    )
    pf = " ".join(partition_filters(blocks))
    assert "term_bucket" in pf, pf
    # the term filter itself is also pushed into the scan
    pushed = " ".join(pushed_filters(blocks))
    assert "term" in pushed, pushed


@pytest.fixture(scope="module")
def topk_index(spark, tiny_corpus, tmp_path_factory):
    """A positional segmented index over the tiny corpus."""
    from lucene_solr_spark.index.builder import transcripts_from_pandas
    from lucene_solr_spark.index.segments import build_segmented_index

    index_dir = str(tmp_path_factory.mktemp("topkidx"))
    df = transcripts_from_pandas(spark, tiny_corpus)
    return build_segmented_index(
        df, index_dir, num_segments=4, seg_group_size=2, n_buckets=8,
        index_positions=True,
    )


def _logical_nodes(df):
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        n = todo.pop()
        yield n
        kids = n.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def test_wand_plan_ends_in_global_topk(topk_index, monkeypatch):
    """The Spark path must reduce via TakeOrderedAndProject
    (per-partition top-k + tiny global merge), not a full sort."""
    from lucene_solr_spark import fixtures
    from lucene_solr_spark.search import wand
    from lucene_solr_spark.search.wand import search_wand

    monkeypatch.setattr(wand, "IN_PROCESS_MAX_POSTINGS", 0)
    hits = search_wand(topk_index, [fixtures.make_vocab()[0]], "disjunctive", 10)
    assert "TakeOrderedAndProject" in formatted_plan(hits)


def test_wand_leaf_input_omits_positions(topk_index, monkeypatch):
    """The Spark leaves get only the kernel's block columns: a positional
    index's position streams are neither scanned nor shipped to Python."""
    from lucene_solr_spark import fixtures
    from lucene_solr_spark.search import wand
    from lucene_solr_spark.search.wand import LEAF_COLUMNS, search_wand

    monkeypatch.setattr(wand, "IN_PROCESS_MAX_POSTINGS", 0)
    hits = search_wand(topk_index, [fixtures.make_vocab()[0]], "disjunctive", 10)
    leaves = [
        n for n in _logical_nodes(hits)
        if n.getClass().getSimpleName() == "FlatMapGroupsInPandas"
    ]
    assert len(leaves) == 1
    out = leaves[0].child().output()
    cols = [out.apply(i).name() for i in range(out.size())]
    assert set(cols) == set(LEAF_COLUMNS)
    assert "positions" not in formatted_plan(hits)


def test_small_wand_query_runs_no_spark_job(spark, topk_index):
    """A query under the in-process threshold is answered on the driver:
    its result is a local table, and the call plus collect() launch no
    job, even for terms the dictionary cache has not seen."""
    from lucene_solr_spark import fixtures
    from lucene_solr_spark.search.wand import search_wand

    terms = [fixtures.make_vocab()[i] for i in (2, 7, 19)] + ["zzznotaterm"]
    assert not set(terms) & set(topk_index.df_cache)
    store = spark.sparkContext._jsc.sc().statusStore()
    before = store.jobsList(None).size()
    hits = search_wand(topk_index, terms, "disjunctive", 10)
    rows = hits.collect()
    none = search_wand(topk_index, ["zzznotaterm2"], "disjunctive", 10).collect()
    assert store.jobsList(None).size() == before
    assert len(rows) == 10 and none == []
    assert "LocalTableScan" in formatted_plan(hits)


def test_phrase_and_span_calls_run_no_lookup_job(spark, topk_index):
    """Phrase and span queries look their terms' df up on the driver: the
    call that builds the plan launches no Spark job, and a query with an
    absent required term returns a local empty result whose collect()
    launches none either."""
    from lucene_solr_spark import fixtures
    from lucene_solr_spark.search.phrase import (
        search_phrase, span_first, span_not, span_or,
    )

    v = fixtures.make_vocab()
    store = spark.sparkContext._jsc.sc().statusStore()
    before = store.jobsList(None).size()
    present = [
        search_phrase(topk_index, [v[30], v[31]], k=10),
        span_first(topk_index, v[32], end=3),
        span_not(topk_index, v[33], v[34]),
    ]
    span_or(topk_index, [v[35], v[36]])
    absent = [
        search_phrase(topk_index, [v[30], "zzznotaterm"], k=10),
        span_first(topk_index, "zzznotaterm", end=3),
        span_not(topk_index, "zzznotaterm", v[34]),
    ]
    assert [df.collect() for df in absent] == [[], [], []]
    assert store.jobsList(None).size() == before
    assert [df.schema for df in absent] == [df.schema for df in present]


def test_positional_leaf_input_is_projected(topk_index):
    """Phrase and span leaves get only the block columns _PosTerm reads:
    no impacts, sum_freq or seg_id reach Python."""
    from lucene_solr_spark import fixtures
    from lucene_solr_spark.search.phrase import (
        LEAF_COLUMNS, search_phrase, span_not,
    )

    v = fixtures.make_vocab()
    for hits in (
        search_phrase(topk_index, [v[0], v[1]], k=10),
        span_not(topk_index, v[0], v[1]),
    ):
        leaves = [
            n for n in _logical_nodes(hits)
            if n.getClass().getSimpleName() == "FlatMapGroupsInPandas"
        ]
        assert len(leaves) == 1
        out = leaves[0].child().output()
        cols = [out.apply(i).name() for i in range(out.size())]
        assert set(cols) == set(LEAF_COLUMNS)


def test_geo_cell_index_partition_pruning(spark, tmp_path):
    """A box query over the at-rest spatial cell index must read only
    the intersecting cell partitions (the BKD leaf-prune analog) and
    return exactly the exact-filter result."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.operators.spatial import (
        box_query, build_geo_index, geo_cells_for_box,
    )

    pts = spark.range(2000).select(
        F.col("id").alias("pid"),
        (((F.col("id") * 7) % 180) - 90 + 0.5).cast("double").alias("lat"),
        (((F.col("id") * 13) % 360) - 180 + 0.5).cast("double").alias("lon"),
    )
    idx = str(tmp_path / "geoidx")
    build_geo_index(pts, idx)
    res = box_query(spark, idx, 10.0, 30.0, -60.0, -20.0)
    pf = " ".join(partition_filters(res))
    assert "geo_cell" in pf, pf
    expect = pts.filter(
        F.col("lat").between(10.0, 30.0) & F.col("lon").between(-60.0, -20.0)
    )
    assert sorted(r["pid"] for r in res.collect()) == sorted(
        r["pid"] for r in expect.collect()
    )
    # conservative cell cover: box spans 5 lat-rows x 9 lon-cols
    assert len(geo_cells_for_box(10.0, 30.0, -60.0, -20.0)) == 45


def test_geo_box_antimeridian_wrap(spark, tmp_path):
    """A box with lon_min > lon_max crosses the antimeridian
    (GeoUtils Rectangle.crossesDateline): it must split into two
    wrapped longitude ranges instead of silently matching nothing."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.operators.spatial import (
        box_query, build_geo_index, geo_cells_for_box,
    )

    pts = spark.range(1000).select(
        F.col("id").alias("pid"),
        (((F.col("id") * 7) % 180) - 90 + 0.5).cast("double").alias("lat"),
        (((F.col("id") * 13) % 360) - 180 + 0.5).cast("double").alias("lon"),
    )
    idx = str(tmp_path / "geoidx_am")
    build_geo_index(pts, idx)
    res = box_query(spark, idx, -20.0, 20.0, 170.0, -170.0)
    expect = pts.filter(
        F.col("lat").between(-20.0, 20.0)
        & ((F.col("lon") >= 170.0) | (F.col("lon") <= -170.0))
    )
    got = sorted(r["pid"] for r in res.collect())
    want = sorted(r["pid"] for r in expect.collect())
    assert got == want and len(want) > 0
    cells = geo_cells_for_box(-20.0, 20.0, 170.0, -170.0)
    assert cells  # two wrapped ranges, 8 lat-rows x (2+2+1 edge) lon-cols


def test_scoring_never_shuffle_joins_norms(spark, tiny_index):
    """Impact-postings contract (Lucene90PostingsFormat impacts / per-
    posting (freq, norm) pairs): norm_byte rides inside the postings
    rows, so BM25 scoring joins ONLY broadcast sides (query weights +
    the 256-row norm cache) — no shuffle join of the full norms table
    on doc_id. At 10^12 docs that join would shuffle the whole corpus
    for a query touching 0.01% of it."""
    from lucene_solr_spark.search.bruteforce import search_bruteforce

    assert "norm_byte" in tiny_index.postings.columns
    hits = search_bruteforce(tiny_index, ["vinza", "lanso"], "disjunctive", 10)
    strategies = join_strategies(hits)
    assert strategies, "expected broadcast joins in the scoring plan"
    assert set(strategies) == {"BroadcastHashJoin"}, strategies


def test_general_executor_never_shuffle_joins_norms(spark, tiny_index):
    """Same contract through the general Boolean executor path (mixed
    MUST/SHOULD/MUST_NOT): every INNER join in the scoring plan is
    broadcast (weights + norm cache) — the norms table never enters.
    The only permitted shuffle joins are the candidate-set combinators
    (LeftOuter MUST←SHOULD merge, LeftAnti MUST_NOT), whose sides are
    df-bounded candidate sets, not the corpus."""
    from lucene_solr_spark.plans.explain import formatted_plan
    from lucene_solr_spark.search.executor import execute_parsed

    hits = execute_parsed("+vinza lanso -sokidi", tiny_index, k=10)
    plan = formatted_plan(hits)
    import re

    smj_types = re.findall(r"SortMergeJoin (\w+)", plan)
    assert not any(t == "Inner" for t in smj_types), smj_types
    assert "BroadcastHashJoin" in join_strategies(hits)


def test_edismax_broadcasts_weights_no_norms_shuffle(spark, tiny_index):
    """eDisMax's per-field scored frames broadcast their weight/cache
    tables; no SortMergeJoin appears anywhere in the plan."""
    from lucene_solr_spark.search.edismax import edismax

    df = edismax(
        {"body": tiny_index}, ["vinza", "ralandi"], qf={"body": 1.5},
        tie=0.2, k=10,
    )
    strategies = join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastHashJoin"}
    assert df.count() > 0


def _assert_reads_only_term_blocks(df):
    """After running ``df``, its block scan reads only the query terms'
    term_bucket directories and has the term filter pushed into it."""
    df.collect()
    assert "term_bucket" in " ".join(partition_filters(df))
    assert "term" in " ".join(pushed_filters(df))


def test_fuzzy_scored_broadcasts_and_filters_terms(spark, tiny_index):
    """The blended fuzzy query's weight/cache joins broadcast — no
    shuffle join anywhere — and the expanded terms' postings are decoded
    from their blocks only: the block scan prunes to their term_bucket
    directories and pushes the term filter."""
    from lucene_solr_spark.search.fuzzyq import fuzzy_scored

    df = fuzzy_scored(tiny_index, "vinza", max_edits=1, k=10)
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}
    assert df.count() > 0
    _assert_reads_only_term_blocks(df)


def test_bruteforce_reads_only_query_term_blocks(spark, tiny_index):
    """search_bruteforce over a SegmentedIndex decodes only its terms'
    blocks: a filter above the postings decode cannot reach the scan, so
    the scorer asks the index for ``postings_of(terms)``."""
    from lucene_solr_spark.search.bruteforce import search_bruteforce

    _assert_reads_only_term_blocks(
        search_bruteforce(tiny_index, ["vinza", "lanso"], "disjunctive", 10)
    )


def test_relational_scorer_calls_run_no_job(spark, tiny_index):
    """The relational scorers look their terms' df up on the driver:
    building a search_bruteforce plan launches no Spark job, and an
    absent-term search_bruteforce or edismax returns a local empty
    result whose collect() launches none either."""
    from lucene_solr_spark.search.bruteforce import search_bruteforce
    from lucene_solr_spark.search.edismax import edismax

    store = spark.sparkContext._jsc.sc().statusStore()
    before = store.jobsList(None).size()
    present = search_bruteforce(tiny_index, ["vinza", "kidivacor"], k=10)
    absent = [
        search_bruteforce(tiny_index, ["zzznotaterm"], k=10),
        search_bruteforce(tiny_index, ["zzznotaterm"], k=10, precision="double"),
        edismax({"body": tiny_index}, ["zzznotaterm"], qf={}),
    ]
    assert [df.collect() for df in absent] == [[], [], []]
    assert store.jobsList(None).size() == before
    assert absent[0].schema == present.schema


def test_word_breaks_broadcasts_candidates(spark, tiny_index):
    """The split-candidate side (tiny) broadcasts into the dictionary
    probes — never the reverse."""
    from lucene_solr_spark.search.suggest import word_breaks

    df = word_breaks(tiny_index, ["vinzaralandi"])
    assert set(join_strategies(df)) <= {"BroadcastHashJoin"}
    assert df.count() == 1  # vinza + ralandi both in the dictionary


def test_atomic_updates_single_broadcast_merge(spark):
    """apply_atomic_updates is one broadcast left join — the update
    stream never shuffles the base table."""
    from lucene_solr_spark.operators.atomic import apply_atomic_updates

    base = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "doc_id long, n int"
    )
    updates = spark.createDataFrame(
        [(1, "n", "inc", "5")],
        "doc_id long, field string, op string, value string",
    )
    df = apply_atomic_updates(base, updates)
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}


def test_pivot_facets_single_shuffle(spark):
    """pivot_facets computes every pivot level in ONE rollup shuffle —
    a per-level loop would be N Exchanges over the same scan."""
    from lucene_solr_spark.operators.facet import pivot_facets

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = pivot_facets(li, ["l_returnflag", "l_linestatus", "l_linenumber"])
    plan = formatted_plan(df)
    # one Exchange for the rollup agg, plus at most the final sort
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 2, f"{n_exchanges} exchanges:\n{plan}"
    assert "Expand" in plan or "rollup" in plan.lower(), plan


def test_realtime_overlay_broadcasts_tlog(spark, tmp_path):
    """The RealTimeGet overlay joins the (small) tlog side as
    broadcasts — the committed store never shuffles."""
    from lucene_solr_spark.index.realtime import (
        docstore_init, realtime_get, tlog_add,
    )

    store = str(tmp_path / "rtg")
    base = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    docstore_init(base, store)
    ops = spark.createDataFrame(
        [(5, "changed", "add"), (7, None, "delete")],
        "doc_id long, text string, op string",
    )
    tlog_add(ops, store)
    df = realtime_get(spark, store)
    strategies = set(join_strategies(df))
    assert strategies <= {"BroadcastHashJoin", "BroadcastNestedLoopJoin"}, (
        strategies
    )


def test_unique_block_partial_aggregation(spark):
    """uniqueBlock's count(DISTINCT parent) still plans map-side
    partial aggregation before the exchange."""
    from lucene_solr_spark.gate import PARTS

    df = PARTS["rel_unique_block"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "partial" in plan.lower(), plan


def test_frange_expression_reaches_filter(spark):
    """{!frange}: the function-range predicate evaluates inside the
    scan-side Filter (no materialization step)."""
    from lucene_solr_spark.gate import PARTS

    df = PARTS["rel_frange_query"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Filter" in plan
    # only the three referenced columns are read
    schemas = " ".join(read_schemas(df))
    assert "o_totalprice" in schemas and "o_orderdate" in schemas
    assert "o_custkey" not in schemas, schemas


def test_inet_predicates_pushed_to_scan(spark):
    """InetAddressPoint queries are sargable string comparisons: the
    customer scan must carry a pushed c_custkey filter and the plan
    must contain no Python UDF (the encode is pure expression)."""
    from lucene_solr_spark.gate import PARTS

    df = PARTS["rel_inet_point"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "c_custkey" in pushed, pushed
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_geo_nearest_is_bounded_topk(spark):
    """NearestNeighbor analog: per-partition top-k + global
    TakeOrderedAndProject — never a full sort."""
    from lucene_solr_spark.gate import PARTS

    df = PARTS["fn_geo_nearest"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_range_fields_intersects_pushed(spark):
    from lucene_solr_spark.gate import PARTS

    df = PARTS["rel_range_fields"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    # the o_orderkey bound reaches the scan; the intersects bounds are
    # expression filters over derived columns evaluated scan-side
    assert "o_orderkey" in pushed, pushed


def test_long_value_facets_single_agg_topk(spark):
    from lucene_solr_spark.gate import PARTS

    df = PARTS["rel_facet_longvals"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_url_dedup_single_grouping_key_shuffle(spark):
    """url_dedup shuffles only (canonical_url, id) pairs: the group agg
    plus the join back — no extra scan-wide shuffles, and the
    canonicalization itself is pure projection (no Exchange before the
    first agg)."""
    from lucene_solr_spark.operators import urlnorm as un
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".com/p"), F.col("doc_id").cast("string")).alias("url"),
    )
    plan = formatted_plan(un.url_dedup(docs))
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 3, f"{n_exchanges} exchanges:\n{plan}"
    assert "HashAggregate" in plan


def test_importance_broadcasts_ratio_table(spark, monkeypatch):
    """importance_weights joins the per-term log-ratio table onto the
    exploded token stream as a BROADCAST — shuffling the token stream
    by term would be the 100 TB mistake. The join feeds the importance
    ranking, whose doc-id checkpoint hides it from the result's plan, so
    the plan checked is the one with_doc_ids ranks."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.index import docid
    from lucene_solr_spark.operators.importance import importance_weights

    ranked_plans = []

    def with_doc_ids(df, *args, **kwargs):
        ranked_plans.append(formatted_plan(df))
        return rank(df, *args, **kwargs)

    rank = docid.with_doc_ids
    monkeypatch.setattr(docid, "with_doc_ids", with_doc_ids)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    importance_weights(docs, F.col("doc_id") % 5 == 0)
    [plan] = ranked_plans
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, plan


def test_gopher_ngram_metrics_partial_aggregation(spark):
    """ngram_repetition's gram counts run partial+final (map-side
    combine) — the shuffle carries (doc, gram, partial count), never raw
    exploded shingles."""
    from lucene_solr_spark.operators import textqual as tq

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    plan = formatted_plan(tq.ngram_repetition(docs))
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2, plan


def test_fvh_zero_shuffle(spark):
    """FVH is one narrow mapInPandas — the whole highlight plan has no
    Exchange at all."""
    from lucene_solr_spark.search.fvh import FvhQuery, fvh_highlight

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        "doc_id < 50"
    )
    q = FvhQuery(singles={"merge": 1.0}, phrases=())
    plan = formatted_plan(fvh_highlight(docs, q))
    assert "Exchange" not in plan, plan


def test_no_unpartitioned_window_in_any_registered_query(spark):
    """The 100 TB window contract over the ENTIRE driver registry: no
    registered query's plan may contain a partition-less Window — the
    pattern that funnels every row into one task before ranking.
    Per-query ranks must partition by the query key; global top-k cuts
    must be orderBy().limit() (TakeOrderedAndProject — the
    TopDocs.merge per-shard-top-k shape, TopDocs.java:188-215)."""
    from lucene_solr_spark.gate_suites import QUERIES
    from lucene_solr_spark.plans.explain import unpartitioned_windows

    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf)
        hits = unpartitioned_windows(df)
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_window_over_topk_is_not_flagged(spark):
    """A partition-less Window ranking the k rows of an
    orderBy().limit(k) is the bounded TopDocs.merge shape."""
    from pyspark.sql import Window

    from lucene_solr_spark.plans.explain import unpartitioned_windows

    top = (
        spark.range(100).withColumn("s", F.col("id") % 7)
        .orderBy(F.desc("s"), "id").limit(5)
    )
    ranked = top.select(
        "id", F.row_number().over(Window.orderBy(F.desc("s"), "id")).alias("r")
    ).filter(F.col("r") > 1)
    assert unpartitioned_windows(ranked) == []


def test_window_over_limit_below_join_or_aggregate_is_flagged(spark):
    """A limit under a Join or an Aggregate bounds one input of it, not
    the rows the Window ranks: both windows are reported."""
    from pyspark.sql import Window

    from lucene_solr_spark.plans.explain import unpartitioned_windows

    df = spark.range(100).withColumn("s", F.col("id") % 7)
    top = df.orderBy("id").limit(5).select("id", F.lit(1).alias("hit"))
    joined = df.join(F.broadcast(top), "id", "left")
    by_join = joined.select(
        "id", "hit", F.row_number().over(Window.orderBy("id")).alias("r")
    )
    by_agg = joined.groupBy("s").agg(F.count("hit").alias("n")).select(
        "s", F.rank().over(Window.orderBy(F.desc("n"))).alias("r")
    )
    assert len(unpartitioned_windows(by_join)) == 1
    assert len(unpartitioned_windows(by_agg)) == 1


def _executed_plan(df) -> str:
    """The final (post-AQE) physical plan, after running df."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_build_docs_cross_no_python(spark, tiny_corpus):
    """Doc ids and standard tokens are JVM columns: neither the tokenized
    docs nor their stored-fields projection runs a Python UDF node."""
    from lucene_solr_spark.index.builder import (
        tokenized_docs,
        transcripts_from_pandas,
    )

    docs, _, _ = tokenized_docs(
        transcripts_from_pandas(spark, tiny_corpus), num_partitions=4,
        analyzer="standard",
    )
    for df in (docs, docs.drop("tokens")):
        plan = _executed_plan(df)
        for node in ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, plan


def test_contamination_shingles_distinct_without_shuffle(spark):
    """benchmark_contamination de-duplicates each doc's shingles in the
    row (array_distinct) instead of a dropDuplicates shuffle, which ran
    once per use of the shingle stream: the only shuffles left are the
    three aggregates (benchmark distinct, per-doc totals, per-doc hits)."""
    import re

    from lucene_solr_spark.operators.dedup import benchmark_contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = benchmark_contamination(docs, docs.filter(F.col("doc_id") % 97 == 3))
    tree = formatted_plan(out).split("\n\n")[0]
    shuffles = re.findall(r"\+- Exchange \(", tree)
    assert len(shuffles) == 3, tree

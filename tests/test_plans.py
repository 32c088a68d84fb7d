"""Physical-plan shape assertions (SURVEY §4): the optimizations we
rely on at 100 TB must actually appear in the plan — pushed filters,
pruned scan schemas, broadcast joins, partial aggregation, top-k
without full sort, codegen in the hot path."""

import pyspark.sql.functions as F
import pytest

from clickhub_spark.plans import all_specs

from tests.conftest import SF_DIR, final_plan


def _plan(spark, name: str) -> str:
    df = all_specs()[name].builder(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushed_to_parquet_scan(spark):
    plan = _plan(spark, "q_scan_parquet")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan


def test_scan_schema_pruned_to_selected_columns(spark):
    plan = _plan(spark, "q_scan_parquet")
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema and "l_extendedprice" in read_schema
    # untouched wide columns must not be read
    assert "l_returnflag" not in read_schema and "l_shipdate" not in read_schema


def test_time_range_pushed_down(spark):
    plan = _plan(spark, "q_filter_range_time")
    assert "PushedFilters" in plan and "GreaterThan(l_shipdate" in plan


def test_small_dims_broadcast(spark):
    plan = _plan(spark, "q_join_broadcast")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region
    assert "SortMergeJoin" not in plan


def test_multiway_join_broadcasts_dims(spark):
    plan = _plan(spark, "q_join_multiway")
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered_not_full_sort(spark):
    plan = _plan(spark, "q_topk_multi")
    assert "TakeOrderedAndProject" in plan


def test_aggregation_is_partial_then_final(spark):
    plan = _plan(spark, "q_agg_multi")
    assert "partial_" in plan.lower() or plan.count("HashAggregate") >= 2


def test_hot_path_stays_in_codegen(spark):
    """Executed plan must show whole-stage-codegen'd stages (the *(n)
    markers) — AQE hides them in pre-execution formatted explain."""
    df = all_specs()["q_agg_multi"].builder(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed


def test_semi_anti_join_operators(spark):
    assert "LeftSemi" in _plan(spark, "q_join_semi")
    assert "LeftAnti" in _plan(spark, "q_join_anti")


def test_partition_pruning_on_sorted_write(spark, tmp_path):
    """write_sorted partition layout must yield partition-filter
    pruning, not a full scan (the sparse-index analog, SURVEY §4)."""
    from clickhub_spark.catalog import load
    from clickhub_spark.sources.writer import write_sorted

    path = str(tmp_path / "events_part")
    write_sorted(
        load(spark, SF_DIR, "events"), path, "event_type", ["ts"], mode="overwrite"
    )
    df = spark.read.parquet(path).where("event_type = 'click'")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the equality predicate prunes directories: it must appear in
    # PartitionFilters (attribute ids like event_type#14 vary by run)
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and "= click)" in pf_lines[0] and "isnotnull(event_type" in pf_lines[0]


@pytest.mark.parametrize("partition_by", [None, "p"])
def test_write_sorted_without_sort_key(spark, tmp_path, partition_by):
    """A keyless table (``ORDER BY tuple()``) has no sort columns:
    write_sorted skips the range repartition and the in-file sort
    instead of calling sortWithinPartitions() with no columns."""
    from clickhub_spark.sources.writer import write_sorted

    path = str(tmp_path / "keyless")
    df = spark.range(10).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS p")
    write_sorted(df, path, partition_by, [])
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == list(range(10))


def test_bucketed_join_avoids_shuffle(spark):
    """Two tables bucketed on the join key must join with no Exchange
    on either side (SURVEY §7 M9 co-located joins)."""
    from clickhub_spark.catalog import load
    from clickhub_spark.sources.writer import write_bucketed

    write_bucketed(load(spark, SF_DIR, "orders"), "orders_b", "o_orderkey", 8)
    write_bucketed(
        load(spark, SF_DIR, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", "o_orderkey", 8,
    )
    # sf0.001 tables fit the broadcast threshold, which would bypass
    # bucketing entirely; disable it to expose the co-located path a
    # fact↔fact join takes at scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        joined.collect()
        executed = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange hashpartitioning" not in executed  # no shuffle either side
    assert "SortMergeJoin" in executed or "ShuffledHashJoin" in executed
    assert "Bucketed: true" in executed


def test_contamination_broadcasts_benchmark_side(spark):
    """The decontamination join must broadcast the (tiny) benchmark
    shingle set — the corpus side must not exchange for the join."""
    plan = _plan(spark, "q_llm_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_scrub_is_map_only(spark):
    """Redaction is a single projection: no shuffle anywhere."""
    plan = _plan(spark, "q_llm_pii_scrub")
    assert "Exchange" not in plan


def test_binned_range_join_avoids_nested_loop(spark):
    """The pure range join must plan as an equi-join on the bin key —
    no BroadcastNestedLoopJoin, no CartesianProduct."""
    plan = _plan(spark, "q_join_range_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Cartesian" not in plan


def test_corpus_pipeline_composition_plan(spark):
    """The end-to-end corpus filter must keep its stages' plan
    properties when composed: broadcast joins for the gates, no
    cartesian/nested-loop anywhere."""
    plan = _plan(spark, "q_llm_corpus_pipeline")
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_dup_join_is_hash_based(spark):
    """The diagonal-run self-join must be a hash join on the gram —
    no cartesian/nested loop."""
    plan = _plan(spark, "q_llm_dedup_substring")
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Spark 4's runtime bloom-filter join pruning (default-on,
    spark.sql.optimizer.runtime.bloomFilter.enabled) injects a
    might_contain() filter on the fact side of a shuffle join, built
    from the selective dim side, so fact rows that can't match are
    dropped BEFORE the shuffle.  At 100 TB this is a major lever: a
    1%-selective dim predicate prunes ~99% of the fact shuffle.

    Locally the 10 GB applicationSideScanSizeThreshold suppresses it,
    so this test lowers the thresholds to prove the plan shape the
    cluster would get; the session profile leaves the production
    thresholds alone.
    """
    import pyspark.sql.functions as F

    from tests.conftest import SF_DIR

    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        # force a shuffle join: broadcast joins get pruning for free
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("s"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter did not engage"
        assert "bloom_filter_agg" in plan
        joined.collect()  # the pruned plan must still execute
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_bloom_filter_write_option(spark, tmp_path):
    """write_sorted(bloom_cols=...) must actually emit parquet bloom
    filters (the ClickHouse `INDEX ... TYPE bloom_filter` skip-index
    analog for point lookups off the sort prefix).  This pyarrow
    build doesn't surface bloom offsets, so assert behaviorally: the
    bloomed file is strictly larger than the identical write without
    blooms (the filter bitsets are real bytes in the file), and a
    point lookup through the bloomed table returns identical rows.

    The probe column must be HIGH-cardinality: parquet-mr silently
    omits the bloom when the column stays fully dictionary-encoded
    (the dictionary already serves as an exact membership filter) —
    which is every column of the toy tables, and exactly NOT the
    actor-id-at-100TB case blooms exist for."""
    import os

    from clickhub_spark.sources.writer import write_sorted

    df = spark.range(200_000).select(
        F.col("id").alias("t"), (F.rand(7) * 1e12).cast("long").alias("actor")
    )

    def total_size(p):
        return sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.startswith("part-")
        )

    plain_dir = str(tmp_path / "plain")
    bloom_dir = str(tmp_path / "bloom")
    write_sorted(df.coalesce(1), plain_dir, None, ["t"], mode="overwrite")
    write_sorted(
        df.coalesce(1), bloom_dir, None, ["t"], mode="overwrite", bloom_cols=["actor"]
    )
    assert total_size(bloom_dir) > total_size(plain_dir)

    key = df.select("actor").first()["actor"]
    got = spark.read.parquet(bloom_dir).where(F.col("actor") == key).count()
    want = df.where(F.col("actor") == key).count()
    assert got == want > 0


def test_sharded_pack_has_no_single_partition_window(spark):
    """q_llm_pack_sharded's running-sum window partitions by shard —
    the plan must hash-partition on shard and contain NO
    SinglePartition exchange (the global-pack anti-pattern the
    docstring warns about); q_llm_pack (the cross-engine-checkable
    global form) is allowed one."""
    plan = _plan(spark, "q_llm_pack_sharded")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_no_query_plans_a_cartesian_product(built_queries):
    """Global plan-hygiene sweep: NO registered query may compile to a
    CartesianProduct — scalar one-row subqueries come out as bounded
    BroadcastNestedLoopJoin, big-side products must never appear.  A
    new query that accidentally drops its join keys fails here before
    it ships."""
    offenders = []
    for name, df in built_queries.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_bucketed_join_query_is_shuffle_free(spark):
    """q_join_bucketed with broadcast disabled: bucketed scans feed a
    SortMergeJoin AND the bucket-key aggregate with ZERO Exchange —
    the pre-shuffle-at-write-time contract, end to end."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = all_specs()["q_join_bucketed"].builder(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_r5_scalar_fn_queries_are_map_only(spark):
    """Geo/IP/string2/quality-v2 are pure per-row function pipelines —
    any Exchange would mean an accidental shuffle in a map-only op."""
    for name in ("q_fn_geo", "q_fn_ip", "q_fn_string2", "q_llm_quality_v2"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name


def test_bitmap_distinct_aggregates_partially(spark):
    """groupBitmap analog: bitmap_construct_agg must run as a real
    partial+final aggregate (mergeable bitmap state), not a
    shuffle-distinct."""
    plan = _plan(spark, "q_agg_bitmap")
    assert "bitmap_construct_agg" in plan
    assert plan.count("HashAggregate") >= 4  # two levels, each partial+final
    assert "Expand" not in plan  # not rewritten into expand-distinct


def test_ngram_lm_broadcasts_model_tables(spark):
    """Char-trigram LM scoring: the corpus-count and total tables are
    model-sized (≤ alphabet³ keys) and must broadcast — the scoring
    side never shuffles on the trigram key."""
    plan = _plan(spark, "q_llm_ngram_lm")
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


def test_kmeans_assign_is_map_only(spark):
    """Centroid assignment must stay a pure map-side expression —
    inlined literal centroids, no join, no Exchange (the IVF-centroid
    parameter-table contract)."""
    plan = _plan(spark, "q_llm_kmeans_assign")
    assert "Exchange" not in plan
    assert "Join" not in plan


def _n_nodes(plan: str, node: str) -> int:
    """Count plan NODES in formatted explain (each node appears once
    in the tree and once in the detail section — count the detail
    headers '(n) Node')."""
    import re

    return len(re.findall(rf"^\(\d+\) {node}", plan, flags=re.MULTILINE))


def test_sessionize_reuses_one_user_partitioning(spark):
    """Both window passes and the final per-session aggregate must
    share a single user_id hash Exchange."""
    plan = _plan(spark, "q_sessionize")
    assert _n_nodes(plan, "Exchange") == 1


@pytest.mark.parametrize(
    "name",
    [
        "q_seq_next_node",
        "q_seq_next_node_last_match",
        "q_seq_next_node_backward_first",
    ],
)
def test_next_node_match_bases_one_user_exchange(spark, name):
    """sequence_next_node's first_match/last_match builders, as
    executed: one user_id hash Exchange feeds the lead window and the
    match rank, and the rank-1 filter runs as a WindowGroupLimit."""
    df = all_specs()[name].builder(spark, SF_DIR)
    df.collect()
    plan = final_plan(df)
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "WindowGroupLimit" in plan


def test_pivot_two_level_aggregate_no_expand(spark):
    """Explicit pivot values ⇒ Spark's two-level pivot aggregate: the
    heavy partial+final count on (status, priority) first, then a
    tiny PivotFirst agg over the pre-aggregated rows.  No Expand, no
    value-discovery scan, and no third shuffle."""
    plan = _plan(spark, "q_pivot")
    assert _n_nodes(plan, "Exchange") == 2
    assert "Expand" not in plan


def test_mad_broadcasts_group_medians(spark):
    """The per-group medians must come back as a broadcast onto the
    fact scan, never a shuffled self-join of the fact table."""
    plan = _plan(spark, "q_agg_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semdedup_assignment_has_no_vector_keyed_exchange(spark):
    """semantic_dedup's exchanges must be the cluster-partitioned
    self-join sides only — never a shuffle keyed by the raw vector
    (the explode-by-k anti-pattern this operator deletes)."""
    plan = _plan(spark, "q_llm_semdedup")
    assert "hashpartitioning(__v" not in plan
    assert "hashpartitioning(v#" not in plan


def test_global_sort_uses_range_partitioning(spark):
    """A full ORDER BY must distribute as a range-partitioned sort
    (sample → range shuffle → local sorts), never a single-partition
    global sort."""
    plan = _plan(spark, "q_sort_global")
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan


def test_max_intersections_sweep_has_no_join(spark):
    # the interval-concurrency aggregate must be the +1/-1 sweep (one
    # group-keyed window), never an interval self-join
    import re

    plan = _plan(spark, "q_agg_max_intersections")
    assert "Join" not in plan
    # formatted mode lists each operator in the tree AND a detail
    # section — count detail headers to count operators
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


def test_sample_group_single_group_exchange(spark):
    # window top-k and the array-collect aggregate share one
    # event_type hashpartitioning; only the presentation sort adds a
    # range exchange
    plan = _plan(spark, "q_agg_sample_group")
    assert plan.count("hashpartitioning(event_type") == 1


def test_interpolate_merges_direction_windows(spark):
    # past-looking (pv/ph) and future-looking (nv/nh) frames compile
    # into ONE Window operator over one user_id sort — not two passes
    import re

    plan = _plan(spark, "q_win_interpolate")
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


def test_bloom_screen_is_pre_join_filter(spark):
    # the bloom probe must run as a pure-JVM Filter (r16: the pandas
    # UDF probe was rewritten as shift/mask expressions over a
    # constant-folded array<bigint> literal — no Python worker on the
    # screening path), and a join (the exact verify) must still be in
    # the plan above the screened side
    plan = _plan(spark, "q_llm_dedup_bloom")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "shiftrightunsigned" in plan  # the k bit-test probes
    assert plan.find("Join") != -1


def test_ks_and_mannwhitney_window_over_aggregated_input(spark):
    """The pooled rank statistics must run their cumulative window
    over the per-VALUE aggregated table, never the raw fact scan
    (VERDICT r5 item 2): the Window's subtree must contain a
    HashAggregate between it and the parquet scan, and only ONE
    unpartitioned window spec region (the distinct-value cumsum)."""
    import re

    for q in ("q_agg_ks_test", "q_agg_mannwhitney"):
        plan = _plan(spark, q)
        # formatted tree: find the Window operator's subtree ids
        ops = re.findall(r"^\(\d+\) ([A-Za-z ]+[A-Za-z])", plan, re.M)
        assert "Window" in ops, q
        # the aggregate must be BELOW the window: in the formatted
        # tree operators print leaves-first, so HashAggregate ids
        # must appear before the Window id
        first_window = ops.index("Window")
        assert "HashAggregate" in ops[:first_window], (
            f"{q}: window input is not aggregated"
        )


def test_per_segment_stats_have_no_single_partition(spark):
    """The _by variants are the fully-distributed forms: partitioned
    windows only, zero Exchange SinglePartition anywhere (the scalar
    final aggregate is a real reduction, not a window)."""
    for q in (
        "q_agg_ks_test_by",
        "q_agg_mannwhitney_by",
        "q_agg_kendall_by",
    ):
        plan = _plan(spark, q)
        assert "SinglePartition" not in plan, q

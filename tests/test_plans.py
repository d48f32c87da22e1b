"""Physical-plan quality gates: the properties that keep these plans
alive at 100 TB — parquet filter pushdown, column pruning, broadcast
joins on small sides, no Python in the DQ hot path."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_observability_installer_spark.plans import registry


def _executed(spark, name, sf):
    return registry.QUERIES[name](spark, sf)._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, name, sf):
    return registry.QUERIES[name](spark, sf)._jdf.queryExecution().optimizedPlan().toString()


def test_pricing_summary_pushes_filter_and_prunes(spark, sf_smoke):
    plan = _executed(spark, "pricing_summary", sf_smoke)
    assert "PushedFilters: [" in plan  # shipdate reaches the parquet scan
    # pruned read schema: the 16-column table scans only what the query needs
    assert "l_comment" not in plan
    assert "l_partkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_top_customers_broadcasts_dim_no_expand(spark, sf_smoke):
    plan = _executed(spark, "top_customers_by_revenue", sf_smoke)
    assert "BroadcastHashJoin" in plan  # customer is the build side
    assert "Expand" not in plan  # countDistinct rewrite removed the Expand


def test_dq_suite_is_single_scan_no_python(spark, sf_smoke):
    df = registry.QUERIES["dq_suite_lineitem"](spark, sf_smoke)
    df.collect()  # finalize the adaptive plan so codegen spans appear
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both phases
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final
    assert final.count("FileScan parquet") == 1  # 20 tests, ONE scan
    assert "*(" in final  # WholeStageCodegen stage markers


def test_profile_has_no_python_and_partial_aggs(spark, sf_smoke):
    """Inspect the LAZY profile plan (materialize=False): the default
    eager path computes the same branches but hands back a checkpointed
    metric-sized frame whose plan is just the RDD scan."""
    from data_observability_installer_spark.operators.profile import profile
    from data_observability_installer_spark.sources.tables import load_table

    df = profile(
        load_table(spark, sf_smoke, "lineitem"), "lineitem", "2024-06-01",
        materialize=False,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial" in plan.lower()  # map-side combine before the merge


def test_profile_materialized_leaves_no_table_cache(spark, sf_smoke):
    """The default eager profile must not leave the source pinned in
    the cache manager: a later unrelated query over the same table has
    to plan against parquet (pushdown/pruning intact), not a hijacked
    InMemoryRelation. Regression test for the transient-persist
    design."""
    from data_observability_installer_spark.operators import profile as prof_mod
    from data_observability_installer_spark.operators.profile import profile
    from data_observability_installer_spark.sources.tables import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    # force the shared-scan path even on the tiny smoke table: the
    # size threshold would otherwise skip the persist and make this
    # regression test vacuous
    old = prof_mod.SHARE_SCAN_MIN_BYTES
    prof_mod.SHARE_SCAN_MIN_BYTES = 0
    try:
        profile(li, "lineitem", "2024-06-01").collect()
    finally:
        prof_mod.SHARE_SCAN_MIN_BYTES = old
    probe = load_table(spark, sf_smoke, "lineitem").filter(
        F.col("l_quantity") > 49
    ).select("l_orderkey")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    assert "FileScan parquet" in plan


def test_a5_filter_pushdown(spark, sf_smoke):
    plan = _executed(spark, "a5_metric_threshold_alerts", sf_smoke)
    assert "PushedFilters: [" in plan and "event_type" in plan


def test_minhash_no_cartesian(spark, sf_smoke):
    plan = _optimized(spark, "minhash_pairs_documents", sf_smoke)
    assert "Cartesian" not in plan  # band equality keys every self-join


def test_range_join_is_hash_not_nested_loop(spark, sf_smoke):
    plan = _executed(spark, "range_join_error_runs", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoop" not in final and "Cartesian" not in final
    assert "Join" in final  # equality keys (slot, pipeline) -> hash/broadcast join


def test_single_rowgroup_file_distributes_with_pushdown(spark):
    """Bench-scale files are one parquet row group (unsplittable): the
    loader must restore parallelism with a KEYED hash exchange (no
    sort-before-repartition pass, partitioning reusable by same-keyed
    joins/groupBys) while filters and pruning still reach the scan
    below it."""
    from pyspark.sql import functions as F

    from data_observability_installer_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
    q = li.filter(F.col("l_shipdate") > "1995-01-01").select("l_returnflag")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # keyed distribute kicked in: hash on the table key, NOT round-robin
    assert "hashpartitioning(l_orderkey" in plan
    assert "RoundRobinPartitioning" not in plan
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:120]
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    # pruning still holds: only the key column is added beyond the
    # referenced ones
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema
    assert "l_extendedprice" not in read_schema

    # same-keyed downstream aggregation reuses the scan partitioning:
    # exactly ONE exchange (the distribute itself) in the whole plan
    agg_plan = (
        li.groupBy("l_orderkey").count()._jdf.queryExecution()
        .executedPlan().toString().split("== Initial Plan ==")[0]
    )
    assert agg_plan.count("Exchange") == 1

    # tiny smoke files sit below the distribute threshold: no exchange
    small = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    small_plan = small.groupBy("l_returnflag").count()._jdf.queryExecution()
    first = small_plan.executedPlan().toString().split("== Initial Plan ==")[0]
    assert "RoundRobinPartitioning" not in first
    assert "hashpartitioning(l_orderkey" not in first


def test_dist_keys_have_spread(spark):
    """Round-13 ADVICE: a _DIST_KEYS entry with too few distinct values
    would collapse parallelism (guide §2.5's 20-100x keys-per-partition
    rule) — a runtime probe would cost a scan per load, so the floor is
    pinned HERE per dataset. events.user_id is the lowest-cardinality
    entry; every keyed table must clear 20x the local core count."""
    from pyspark.sql import functions as F

    from data_observability_installer_spark.sources.tables import _DIST_KEYS

    floor = 20 * spark.sparkContext.defaultParallelism
    for table, key in sorted(_DIST_KEYS.items()):
        df = spark.read.parquet(f"/root/testdata/sf0.1/{table}.parquet")
        n = df.agg(F.approx_count_distinct(key).alias("n")).collect()[0]["n"]
        assert n >= floor, f"{table}.{key}: {n} distinct < {floor} floor"


def test_decontam_broadcasts_bench_shingles(spark, sf_smoke):
    """The eval shingle set must be the build side everywhere — the
    training corpus never shuffles for the contamination check."""
    plan = _executed(spark, "decontam_documents", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_pack_chunks_single_partition_only_for_bucket_totals(spark, sf_smoke):
    """The two-level prefix sum: exactly ONE SinglePartition exchange
    (the bucket-total cumsum over a corpus/10⁶-row table); every other
    window is key-partitioned."""
    plan = _executed(spark, "pack_chunks_documents", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange SinglePartition") == 1


def test_bm25_take_ordered_and_broadcast_stats(spark, sf_smoke):
    plan = _executed(spark, "bm25_search_documents", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final  # no global sort shuffle
    assert "BroadcastExchange" in final  # dfreq + corpus stats broadcast


def test_unigram_nll_hot_cold_split(spark, sf_smoke):
    """The Zipf-head LM branch joins as broadcast; no Python."""
    plan = _executed(spark, "unigram_nll_documents", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_event_gaps_window_is_key_partitioned(spark, sf_smoke):
    plan = _executed(spark, "event_gaps_events", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in final
    assert "hashpartitioning(stream_key" in final


def test_fk_orphans_broadcast_anti_join(spark, sf_smoke):
    """The parent side prunes to its single key column and broadcasts;
    the anti-join never shuffles the child table."""
    plan = _executed(spark, "fk_orphans_customer_orders", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "LeftAnti" in final
    assert "BroadcastExchange" in final
    # column pruning reached the parent scan: only the key is read
    orders_scan = [ln for ln in final.splitlines() if "orders" in ln and "ReadSchema" in ln]
    assert orders_scan and all("o_custkey" in ln and "o_totalprice" not in ln for ln in orders_scan)


def test_topk_ivf_fixed_no_python_and_broadcast_probe(spark, sf_smoke):
    """Centroid assignment is pure JVM expression work; the probe set
    joins as a broadcast (nprobe rows)."""
    plan = _executed(spark, "topk_ivf_fixed_embeddings", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final
    assert "BroadcastExchange" in final
    assert "TakeOrderedAndProject" in final


def test_local_supplier_volume_dims_broadcast(spark, sf_smoke):
    """Q5 shape: region/nation/supplier collapse into broadcast builds;
    top-k-free 5-row agg; the only exchanges are the fact joins."""
    plan = _executed(spark, "local_supplier_volume", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    # region filter pruned into the scan, not applied post-join
    region_scan = [ln for ln in final.splitlines() if "region" in ln and "PushedFilters" in ln]
    assert region_scan and any("r_name" in ln for ln in region_scan)


def test_shipping_priority_filters_pushed(spark, sf_smoke):
    plan = _executed(spark, "shipping_priority", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final  # top-10 without a global sort
    cust_scan = [ln for ln in final.splitlines() if "customer" in ln and "PushedFilters" in ln]
    assert cust_scan and any("c_mktsegment" in ln for ln in cust_scan)


def test_funnel_single_scan_single_shuffle(spark, sf_smoke):
    """S funnel stages must cost ONE events scan (type-filter pushed)
    and ONE entity shuffle — not S scans / S chained join shuffles."""
    df = registry.QUERIES["funnel_events"](spark, sf_smoke)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    # stage-type filter reaches the parquet scan
    assert "PushedFilters: [In(event_type" in final
    # exactly one key shuffle (the entity groupBy); the single-row
    # global count agg adds its own SinglePartition exchange at most
    key_exchanges = [
        ln for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(key_exchanges) == 1
    assert "Join" not in final  # reach-time fold is array expressions


def test_ks_drift_two_passes_no_window_no_python(spark, sf_smoke):
    """KS = min/max pass + binned-agg pass; the CDF fold is an array
    expression, so no WindowExec and nothing Python-side."""
    df = registry.QUERIES["ks_drift_lineitem"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 2
    assert "Window" not in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_join_cardinality_aggregates_before_join(spark, sf_smoke):
    """The fan-out audit must join key-level aggregates, never raw
    child rows: the partial count happens below the exchange."""
    df = registry.QUERIES["join_cardinality_orders_lineitem"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "partial_count" in final  # map-side combine before the shuffle
    assert final.count("Exchange hashpartitioning") <= 2  # key-level only


def test_pii_redact_is_single_stage(spark, sf_smoke):
    """Redaction is a pure map: one scan, zero exchanges, no Python."""
    df = registry.QUERIES["pii_redact_documents"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "Exchange hashpartitioning" not in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_q4_semi_rewrite_preaggregates_lineitem(spark, sf_smoke):
    """order_priority_counts replaces EXISTS with max(shipdate)-per-order:
    the shuffled side must be the pre-aggregated frame (partial_max below
    the exchange), and the quarter filter must reach the orders scan."""
    df = registry.QUERIES["order_priority_counts"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "partial_max" in final  # map-side combine shrank |lineitem| -> |orders|
    assert "PushedFilters: [" in plan and "o_orderdate" in plan
    assert "Cartesian" not in final


def test_q10_filters_push_and_dims_broadcast(spark, sf_smoke):
    plan = _executed(spark, "returned_item_report", sf_smoke)
    assert "BroadcastHashJoin" in plan  # customer + nation build sides
    # returnflag filter reaches the lineitem parquet scan
    assert "l_returnflag" in plan.split("PushedFilters")[1][:300] or \
        "EqualTo(l_returnflag,R)" in plan


def test_q14_single_lineitem_scan_broadcast_part(spark, sf_smoke):
    df = registry.QUERIES["promo_revenue"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 2  # lineitem once, part once
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final


def test_q16_anti_join_is_broadcast(spark, sf_smoke):
    plan = _executed(spark, "supplier_part_counts", sf_smoke)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "p_size" in plan  # part predicates reach the scan


def test_rollup_is_one_scan_with_expand(spark, sf_smoke):
    """Grouping-sets ladder: ONE orders scan feeding an Expand, not one
    scan per grain."""
    df = registry.QUERIES["orders_priority_rollup"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "Expand" in final


def test_gapfill_single_events_scan(spark, sf_smoke):
    """The calendar spine and the join probe both consume the
    checkpointed hourly rollup — events must be scanned ONCE."""
    df = registry.QUERIES["gapfill_hourly_signups"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") <= 1


def test_top_per_type_salted_no_global_window_over_raw(spark, sf_smoke):
    """The level-1 window must partition by (type, salt) so no task sees
    a whole event_type of raw rows; the unsalted window runs only on the
    metadata-sized survivor frame."""
    df = registry.QUERIES["top_events_per_type"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "salt" in final  # level-1 partitioning carries the salt
    assert final.count("Window") >= 2  # two-level top-k


def test_snapshot_diff_joins_on_key_no_python(spark, sf_smoke):
    """The refresh diff is one full-outer key join + null-safe column
    compares — JVM expressions only, no Cartesian, no Python."""
    df = registry.QUERIES["snapshot_diff_lineitem"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "FullOuter" in final
    assert "Cartesian" not in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_scd2_single_key_shuffle(spark, sf_smoke):
    """Both window passes (change-point lag, interval lead) partition
    by the same business key: ONE hashpartitioning exchange total."""
    df = registry.QUERIES["scd2_order_status"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    key_exchanges = [
        ln for ln in final.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(key_exchanges) <= 1


def test_q8_single_row_shuffle_is_orderkey_join(spark, sf_smoke):
    """Q8 shape: all six dimension joins must broadcast; only the
    lineitem-orders join may shuffle rows."""
    df = registry.QUERIES["market_share"](spark, sf_smoke)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in final or "l_orderkey" in final


def test_q19_or_predicate_still_prunes_and_broadcasts(spark, sf_smoke):
    """Q19 shape: the disjunction must not disable pushdown wholesale —
    the extracted l_quantity envelope reaches the lineitem scan."""
    plan = _executed(spark, "disjunctive_revenue", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:400]


def test_q6_pure_scan_agg_no_join_no_shuffle_rows(spark, sf_smoke):
    """Q6 shape: every predicate reaches the parquet scan and the plan
    is scan -> partial agg -> 1-row exchange -> final agg; no join."""
    plan = _executed(spark, "forecast_revenue", sf_smoke)
    assert "Join" not in plan
    pushed = plan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q7_nation_pair_dims_broadcast(spark, sf_smoke):
    """Q7 shape: supplier+nation and customer+nation broadcast; the only
    row-scale shuffle join is lineitem-orders on orderkey."""
    df = registry.QUERIES["volume_shipping"](spark, sf_smoke)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in final or "l_orderkey" in final


def test_q11_threshold_is_broadcast_scalar_not_second_scan(spark, sf_smoke):
    """Q11 shape: the total-revenue threshold re-aggregates the per-part
    partials via a 1-row broadcast, not a second lineitem scan."""
    df = registry.QUERIES["top_value_parts"](spark, sf_smoke)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final
    # AQE reuses the pv aggregate for the scalar: at most 2 lineitem scans
    assert final.count("FileScan parquet") <= 2


def test_q13_left_join_keeps_zero_order_customers(spark, sf_smoke):
    """Q13 shape: the priority predicate must live in the join condition
    (outer join preserved) — the histogram partitions ALL customers, so
    its counts sum to the full customer table even when the zero bucket
    is empty at this scale."""
    plan = _optimized(spark, "customer_order_distribution", sf_smoke)
    assert "LeftOuter" in plan  # predicate-in-condition kept the join outer
    df = registry.QUERIES["customer_order_distribution"](spark, sf_smoke)
    from data_observability_installer_spark.sources.tables import load_table

    n_cust = load_table(spark, sf_smoke, "customer").count()
    assert sum(r["customer_ct"] for r in df.collect()) == n_cust


def test_q17_cutoff_join_shares_partkey_no_cartesian(spark, sf_smoke):
    plan = _optimized(spark, "small_qty_revenue", sf_smoke)
    assert "Cartesian" not in plan


def test_q18_winner_set_is_semi_join(spark, sf_smoke):
    plan = _executed(spark, "large_volume_customers", sf_smoke)
    assert "LeftSemi" in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf_smoke):
    plan = _executed(spark, "idle_customer_balance", sf_smoke)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pivot_single_scan_static_schema(spark, sf_smoke):
    """Explicit pivot values: no distinct-discovery job, one scan, and
    the output schema is static regardless of data."""
    df = registry.QUERIES["pivot_daily_event_matrix"](spark, sf_smoke)
    assert [f.name for f in df.schema.fields] == [
        "day", "view_ct", "click_ct", "purchase_ct", "signup_ct", "error_ct",
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1


def test_running_windows_on_post_agg_frame(spark, sf_smoke):
    """The unpartitioned running window must consume the daily
    aggregate, not raw order rows: Window sits above HashAggregate."""
    plan = registry.QUERIES["running_revenue_windows"](spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    w_at = plan.find("Window")
    agg_at = plan.find("HashAggregate")
    assert agg_at != -1
    # executed plans print top-down: the window node appears before
    # (above) the aggregate that feeds it
    assert w_at < plan.rfind("HashAggregate")


def test_pit_join_is_hash_on_business_key(spark, sf_smoke):
    """The SCD2 point-in-time join must key on the equi business key
    (custkey) with the interval predicate as a post-join filter — no
    nested-loop/cartesian from the range condition."""
    plan = _executed(spark, "pit_status_lineitems", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in final and "Cartesian" not in final


def test_q21_decorrelated_no_correlated_rescan(spark, sf_smoke):
    """Q21 shape: the EXISTS + NOT EXISTS pair must decorrelate to one
    per-order aggregate — the optimized plan has no nested-loop join
    and at most 2 lineitem scans (l1 + the shared per-order agg)."""
    df = registry.QUERIES["waiting_supplier_faults"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan
    assert plan.count("FileScan parquet") <= 4  # lineitem x2 + orders + supplier


def test_q20_nested_in_becomes_semi_joins(spark, sf_smoke):
    plan = _executed(spark, "promo_supplier_candidates", sf_smoke)
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_correlate_interval_join_is_hash_on_key(spark, sf_smoke):
    """The stream-stream-join twin must compile to a HASH join keyed on
    user_id with the +/-30 min band as join condition — a nested-loop
    over the time theta would explode at scale."""
    plan = _executed(spark, "correlate_error_purchase_events", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in final and "Cartesian" not in final
    assert "HashJoin" in final


def test_zorder_locality_single_scan_no_python(spark, sf_smoke):
    """The Morton audit is one aggregate pass: a single parquet scan,
    no Python eval (the interleave is pure JVM integer codegen)."""
    plan = _executed(spark, "zorder_locality_lineitem", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final
    assert final.count("FileScan parquet") == 1


def test_temperature_sample_broadcasts_rate_table(spark, sf_smoke):
    """Membership must be a map-side filter against the broadcast
    domain-rate table — no shuffle of the corpus on the strata key."""
    plan = _executed(spark, "temperature_sample_documents", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final


def test_bpe_pair_counts_partial_agg_no_python(spark, sf_smoke):
    """The pair groupBy must carry a map-side partial aggregate (the
    alphabet^2 key space collapses each partition before the exchange)
    and keep the whole pipeline JVM-side."""
    plan = _executed(spark, "bpe_pair_counts_documents", sf_smoke)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    before_exchange = plan.split("Exchange hashpartitioning")[-1]
    assert "HashAggregate" in before_exchange  # partial agg below the shuffle
    assert plan.count("FileScan parquet") == 1


def test_calibrated_quality_single_scan_keyed_window(spark, sf_smoke):
    """Score computed inline (ONE scan, no self-join) and the window
    partitioned on the group key — never an empty-partitionBy (global)
    window, which would funnel the corpus through one task."""
    plan = _executed(spark, "calibrated_quality_documents", sf_smoke)
    assert plan.count("FileScan parquet") == 1
    assert "Window" in plan
    # the window's partition spec names the group key
    window_line = [l for l in plan.splitlines() if "Window" in l and "percent_rank" in l]
    assert window_line and "source" in window_line[0]
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_mad_grouped_no_cartesian_no_python(spark, sf_smoke):
    plan = _executed(spark, "mad_outliers_by_priority", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """The tuned session enables runtime bloom-filter pruning: with a
    selective non-broadcast dim join, Catalyst injects a
    bloom_filter_agg of the dim keys into the fact side so non-matching
    rows drop before the shuffle (threshold lowered here to make the
    10 GB production gate observable at test scale)."""
    from pyspark.sql import functions as F

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    )
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        plan = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan  # the fact-side probe
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_decontam_fingerprint_broadcasts_nominator(spark, sf_smoke):
    """The scale claim: the 8-byte fingerprint set broadcasts (a
    BroadcastHashJoin semi), so the corpus side never shuffles before
    nomination."""
    plan = _executed(spark, "decontam_fingerprint_documents", sf_smoke)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_novelty_broadcasts_reference(spark, sf_smoke):
    plan = _executed(spark, "novelty_documents", sf_smoke)
    assert "BroadcastHashJoin" in plan


def test_entity_footprint_one_scan_per_table_all_broadcast(spark, sf_smoke):
    """Each table is read once with a broadcast of the request-sized
    key set — per-table scan counts stay at 1 (lineitem's FK path adds
    its orders join, also broadcast)."""
    plan = _executed(spark, "entity_footprint_tpch", sf_smoke)
    # the pinned key set appears as a checkpoint leaf, not re-scans:
    # customer (frame) + orders + lineitem + orders-for-FK-path = 4
    assert plan.count("FileScan parquet") <= 4
    assert plan.count("BroadcastHashJoin") >= 3  # every keys join broadcast


def test_cusum_single_scan_keyed_windows(spark, sf_smoke):
    plan = _executed(spark, "cusum_shift_events", sf_smoke)
    assert plan.count("FileScan parquet") == 1
    # windows are keyed: no 'No Partition Defined' single-partition sort
    assert "Window" in plan


def test_pseudonymize_is_pure_projection(spark, sf_smoke):
    """No shuffle, no Python: the scrub is a codegen map stage (plus
    the display orderBy/limit, which is a TakeOrdered, not an
    exchange-backed sort)."""
    plan = _executed(spark, "pseudonymize_customer", sf_smoke)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 0


def test_leakage_safe_split_no_corpus_sort(spark, sf_smoke):
    """Round-7 verdict: the split ended with a corpus-wide orderBy —
    a full range-shuffle + sort of corpus-cardinality output bought
    nothing (the oracle compares order-insensitively). The split must
    stay a map-side hash plus the (result-sized) groups join: no
    rangepartitioning exchange anywhere in the plan."""
    plan = _executed(spark, "leakage_safe_split_documents", sf_smoke)
    assert "rangepartitioning" not in plan.lower()
    assert "Sort " not in plan or "SortMergeJoin" in plan


def test_novelty_no_corpus_sort_and_broadcast_reference(spark, sf_smoke):
    """Same round-7 finding for novelty_score: one broadcast join +
    one doc-keyed groupBy, no corpus-cardinality range sort."""
    plan = _executed(spark, "novelty_documents", sf_smoke)
    assert "rangepartitioning" not in plan.lower()
    assert "BroadcastHashJoin" in plan  # reference shingles broadcast


def test_profile_delta_stored_steady_state_one_table_scan(spark, sf_smoke):
    """Steady state of the production delta: the baseline comes from
    the profile STORE (one metric-sized parquet read), so lineitem is
    scanned exactly ONCE (the new side). First call seeds the store."""
    registry.QUERIES["profile_delta_stored_lineitem"](spark, sf_smoke).collect()
    df = registry.QUERIES["profile_delta_stored_lineitem"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # everything under the first InMemoryRelation is the cached new-
    # side profile's STORED lineage (printed, not executed); what
    # actually runs above the cache boundary must be the store read
    # plus the cache scan — never a lineitem re-scan for the baseline
    executed = plan.split("InMemoryRelation")[0]
    assert "profile_store" in executed, executed
    assert "lineitem.parquet" not in executed, executed
    assert "InMemoryTableScan" in plan  # new side rides the cache


def test_threshold_sweep_rides_shared_shingle_cache(spark, sf_smoke, monkeypatch):
    """The sweep must consume the SHARED capped shingle index (cache
    hit after any other consumer built it) and add no corpus scan of
    its own — ten thresholds cost one index pass. On the driver branch
    that pass is the one capped collect of the index, and the sweep
    aggregates a local relation; on the Spark branch (``DRIVER_ROWS =
    0``) the self-join reads the cached index."""
    from data_observability_installer_spark.operators.llm import dedup

    registry.QUERIES["ngram_jaccard_documents"](spark, sf_smoke).collect()
    collected, real = [], dedup.capped_table
    monkeypatch.setattr(dedup, "capped_table", lambda d: collected.append(d) or real(d))
    df = registry.QUERIES["threshold_sweep_documents"](spark, sf_smoke)
    [index] = collected
    plan = index._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # the shared index
    assert "documents.parquet" not in plan.split("InMemoryRelation")[0], plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in final and "documents.parquet" not in final, final
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final

    monkeypatch.setattr(dedup.driver, "DRIVER_ROWS", 0)
    df = registry.QUERIES["threshold_sweep_documents"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    executed = plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in plan  # the shared index
    assert "documents.parquet" not in executed, executed
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_profile_incremental_stored_scans_only_new_slice(spark, sf_smoke):
    """Steady state of the no-rescan profile: ONE lineitem scan (the
    new slice, filter pushed) plus the metadata-sized stored-state
    read — the previous slice is never re-read."""
    registry.QUERIES["profile_incremental_stored_lineitem"](spark, sf_smoke).collect()
    df = registry.QUERIES["profile_incremental_stored_lineitem"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    import re

    # long plan lines elide their middle (the Location path), so
    # identify scans by schema: the store state has (stat, value_d),
    # the table scan has l_orderkey
    scans = re.findall(r"FileScan parquet[^\n]*", final)
    li = [s for s in scans if "l_orderkey" in s]
    store = [s for s in scans if "value_d" in s and "stat" in s]
    assert len(li) == 1, scans
    assert len(store) == 1, scans
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_out_of_sequence_assignment_pinned_before_self_join(spark, sf_smoke):
    """Round-13: A6 self-joins the journey assignment frame, and the
    assignment pipeline (instance window, day explode, two joins) must
    execute ONCE into a pin, not once per join side. Gate: the final
    plan reads only pinned RDDs — no parquet scan and no Window node
    survives above the pin boundary."""
    plan = _executed(spark, "a6_out_of_sequence", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "FileScan parquet" not in final, final
    assert "Window" not in final, final
    assert final.count("Scan ExistingRDD") >= 2  # both self-join sides


def test_dedup_impact_hashes_text_once(spark, sf_smoke):
    """Round-13: dedup_impact's (id, length, md5-of-text) projection
    feeds three consumers; unpinned, the TEXT column was scanned and
    hashed three times (6 parquet scans). Gate: the final plan reads
    only pinned frames — zero parquet scans, no md5 recomputation."""
    plan = _executed(spark, "dedup_impact_documents", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert "FileScan parquet" not in final, final
    assert "md5" not in final, final
    assert "Scan ExistingRDD" in final


def test_corpus_funnel_stages_execute_once(spark, sf_smoke):
    """Round-13: each funnel stage's survivor id-set feeds BOTH the
    next stage and that stage's count; unpinned, the four union
    branches re-derived every upstream stage (40 parquet scans, the
    quality metrics 3x). Pinned id-sets cap the re-derivation: the
    remaining scans are the per-branch document joins, not repeated
    stage pipelines."""
    plan = _executed(spark, "corpus_funnel_documents", sf_smoke)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") >= 3  # three pinned id-sets
    assert final.count("FileScan parquet") <= 12, final.count("FileScan parquet")


def test_decontam_fuzzy_candidates_pinned(spark, sf_smoke, monkeypatch):
    """Round-13: the fuzzy-decontamination candidate pairs feed three
    consumers (doc-side distinct, verify semi-join, sizes); unpinned,
    the signature+banding pipeline re-ran per consumer (20 scans).
    Gate: candidates come from a pin and the scan count stays at the
    post-pin level. The query's result is itself pinned (its executed
    plan is one checkpoint scan), so the gate inspects the verified-
    pairs frame the operator hands to that final pin."""
    from data_observability_installer_spark.operators.llm import decontam

    real, handed = decontam.pin, []

    def spy(df, *args, **kwargs):
        handed.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(decontam, "pin", spy)
    registry.QUERIES["decontam_fuzzy_documents"](spark, sf_smoke)
    assert len(handed) == 2, len(handed)  # the candidates, then the result
    plan = handed[-1]
    assert "Scan ExistingRDD" in plan  # candidates read back from their pin
    assert 0 < plan.count("FileScan parquet") <= 14, plan.count("FileScan parquet")


def _documents_scans(df) -> int:
    """documents.parquet scans among the leaves of ``df``'s executed
    plan. A persisted frame is an InMemoryTableScan leaf and a pin a
    checkpoint-scan leaf, so scans that feed a cache are not counted
    again in every consumer."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    # a leaf's own line: its toString would also print a cached plan
    heads = [leaves.apply(i).simpleString(25) for i in range(leaves.size())]
    return sum(h.startswith("FileScan parquet") and "documents.parquet" in h for h in heads)


def test_decontam_fuzzy_reads_each_side_once(spark, sf_smoke, monkeypatch):
    """Each side of the fuzzy decontamination shingles ONCE: over every
    frame the operator executes (its persisted shingle sides, its pins
    and the returned frame), documents.parquet is scanned twice in all —
    train once, bench once. Re-shingling each side for the signatures,
    the overlap join and the sizes read it three times per side."""
    from data_observability_installer_spark.operators.llm import decontam

    scans = []

    def spy(name, real):
        def wrapper(df, *args, **kwargs):
            scans.append((name, _documents_scans(df)))
            return real(df, *args, **kwargs)

        return wrapper

    for name in ("pin", "pinned"):
        if hasattr(decontam, name):
            monkeypatch.setattr(decontam, name, spy(name, getattr(decontam, name)))
    out = registry.QUERIES["decontam_fuzzy_documents"](spark, sf_smoke)
    scans.append(("result", _documents_scans(out)))
    assert out.count() > 0
    assert sum(n for _, n in scans) == 2, scans
    assert [n for name, n in scans if name == "pinned"] == [1, 1], scans


def _probe_side(plan: str, node: str) -> list[str]:
    """Lines of the first child (the streamed side under BuildRight)
    of the first ``node`` operator in a physical plan tree string."""
    lines = plan.splitlines()
    i = next(n for n, ln in enumerate(lines) if node in ln)
    # a child's ':- '/'+- ' marker sits where its parent's text starts
    col = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    out = []
    for ln in lines[i + 1:]:
        if ln[col:col + 3] == "+- " and out:
            break  # the second (last) child starts here
        out.append(ln)
    return out


def test_topk_int8_rescore_norms_only_candidates(spark, sf_smoke):
    """The exact-rescore tail computes the float norm after the
    candidate join: the corpus side of the candidate BroadcastHashJoin
    carries no SQRT, so only the rescore * k candidates pay it."""
    df = registry.QUERIES["topk_int8_embeddings"](spark, sf_smoke)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    probe = _probe_side(final, "BroadcastHashJoin")
    assert any("embeddings.parquet" in ln for ln in probe), probe
    assert not any("SQRT" in ln for ln in probe), "\n".join(probe)

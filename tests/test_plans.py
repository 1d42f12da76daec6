"""Physical-plan assertions for flagship queries: the properties that
carry the 100 TB story — small dims broadcast (never shuffled), top-k
via TakeOrderedAndProject (never a global sort), partial aggregation
before every exchange, and filters reaching the parquet scan."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans import get_catalog
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.tpch import (
    read_table,
)

from .conftest import SF_SMOKE

CATALOG = get_catalog()


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


STAR_QUERIES = [
    "olap_monthly_revenue_by_country",
    "olap_cltv",
    "molap_month_country",
    "measures_kpi_row",
]


@pytest.mark.parametrize("name", STAR_QUERIES)
def test_star_joins_broadcast_dims(spark, name):
    plan = plan_of(CATALOG[name].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast:\n{plan}"
    assert "SortMergeJoin" not in plan, f"{name} shuffles a dim join:\n{plan}"
    assert "CartesianProduct" not in plan


TOPK_QUERIES = ["olap_top10_products_last3m", "top5_customers_by_revenue"]


@pytest.mark.parametrize("name", TOPK_QUERIES)
def test_topk_avoids_global_sort(spark, name):
    plan = plan_of(CATALOG[name].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, f"{name} sorts globally:\n{plan}"


def test_aggregation_is_partial_then_final(spark):
    plan = plan_of(CATALOG["olap_monthly_revenue_by_country"].fn(spark, SF_SMOKE))
    # map-side combine: at least one HashAggregate below each exchange
    # DEMANDED by an aggregation (ENSURE_REQUIREMENTS). The star cache's
    # explicit machine-width repartition (r12, sources/star.py —
    # REPARTITION_BY_NUM origin) is a layout exchange with no agg pair
    # and is excluded.
    # count only HASH-partitioned repartition exchanges (r12 advisory:
    # the bare REPARTITION_BY_NUM tag also marks round-robin
    # repartitions, which the hashpartitioning count never included —
    # subtracting those would make the bound vacuous)
    agg_exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        and "REPARTITION_BY_NUM" not in line
    )
    assert plan.count("HashAggregate") >= 2 * agg_exchanges


def test_filter_pushdown_reaches_scan(spark):
    df = read_table(spark, SF_SMOKE, "lineitem").filter(
        F.col("l_quantity") > 45
    ).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in plan
    # column pruning: the scan reads 2 columns, not 16
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_hinted_join_strategies_differ(spark):
    """The join-algorithm study actually exercises distinct strategies
    (JoinPerformance.sql toggles planner flags; we use hints)."""
    plans = {
        name: plan_of(CATALOG[name].fn(spark, SF_SMOKE))
        for name in (
            "join_study_broadcast_hash",
            "join_study_sort_merge",
            "join_study_shuffle_hash",
            "join_study_nested_loop",
        )
    }
    assert "BroadcastHashJoin" in plans["join_study_broadcast_hash"]
    assert "SortMergeJoin" in plans["join_study_sort_merge"]
    assert "ShuffledHashJoin" in plans["join_study_shuffle_hash"]
    assert "BroadcastNestedLoopJoin" in plans["join_study_nested_loop"]


def test_round2_plan_shapes(spark):
    """Scale-shape pins for the round-2 operators: broadcasts where a
    side is small, co-partitioned SMJ only where both sides are big."""
    # decontam: benchmark gram side broadcast, corpus side streams
    p = plan_of(CATALOG["curation_decontam_overlap"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    # basket (r4 rewrite): JOIN-FREE — the per-basket collect_set reads
    # the invoiceid-bucketed silver fact (r13) with no exchange, pairs
    # exploded map-side from the sorted array, then the pair aggregation;
    # no self-join left to degrade, so the pins are the bucketed scan,
    # the explode, and top-20 via TakeOrderedAndProject (no global sort)
    p = plan_of(CATALOG["basket_product_pairs"].fn(spark, SF_SMOKE))
    assert "hashpartitioning(invoiceid" not in p and "Bucketed: true" in p, p
    assert "explode" in p.lower()
    assert "SortMergeJoin [invoiceid" not in p and "ShuffledHashJoin [invoiceid" not in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p  # top-20 without a global sort
    # gapfill: per-day aggregate is broadcast into the spine join
    p = plan_of(CATALOG["ts_gapfill_daily_revenue"].fn(spark, SF_SMOKE))
    assert "SortMergeJoin" not in p
    # incremental MV: the delta-combine full-outer merge cannot
    # broadcast; everything else (dims) must
    p = plan_of(CATALOG["mv_incremental_refresh"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    # incremental dedup: batch-vs-corpus is an equi join on the
    # fingerprint, never a cartesian; window runs on the batch side only
    p = plan_of(CATALOG["dedup_incremental_new_batch"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "fingerprint" in p
    # skew profiler: the per-key agg partial-aggregates before its
    # exchange; the 1-row stats frame is broadcast under the top-3
    p = plan_of(CATALOG["dq_key_skew_profile"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_no_single_partition_global_windows(spark):
    """Round-3 pins for the r2 'weak' trio: none may funnel the full frame
    through one partition (the `WindowExec: No Partition Defined` shape).

    - sample_training_order keeps a window but it MUST be partitioned
      (by the hash high-bits block) — so the pin is zero single-partition
      exchanges anywhere in the plan;
    - rfm_customer_segments scores against broadcast percentile cutpoints
      and dq_key_skew_profile ranks via TakeOrderedAndProject + tiny
      self-join — neither may contain a window at all. (Their ungrouped
      1-row stats aggregations legitimately finish on one partition, so
      the window check, not an exchange count, is the right pin there.)
    """
    p = plan_of(CATALOG["sample_training_order"].fn(spark, SF_SMOKE))
    assert "Exchange SinglePartition" not in p, f"global-rank funnels:\n{p}"
    assert "windowspecdefinition" in p  # the partitioned per-block window
    for name in ("rfm_customer_segments", "dq_key_skew_profile"):
        p = plan_of(CATALOG[name].fn(spark, SF_SMOKE))
        assert "windowspecdefinition" not in p, f"{name} regained a window:\n{p}"
    # top-3 selection stays TakeOrderedAndProject, never a global sort
    p = plan_of(CATALOG["dq_key_skew_profile"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p


def test_pareto_prefix_sum_is_distributed(spark):
    """Round-4 pin: pareto_product_abc's cumulative share runs as a
    range-partitioned prefix sum (operators/ranking.py::ordered_prefix_sum)
    — a rangepartitioning exchange plus a partitioned window, never the
    single-partition `Window.orderBy` funnel it replaced."""
    p = plan_of(CATALOG["pareto_product_abc"].fn(spark, SF_SMOKE))
    assert "rangepartitioning" in p, f"prefix sum lost its range exchange:\n{p}"
    # every window is partitioned by the range-block id, never global
    n_windows = p.count("windowspecdefinition")
    assert n_windows > 0 and n_windows == p.count("windowspecdefinition(_ps_pid"), (
        f"pareto regained a global window:\n{p}"
    )
    # the only SinglePartition exchanges are scalar aggregates (the grand
    # total) — P partial-sum rows, not the data; never a Sort/Window feed
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            nxt = lines[i + 1] if i + 1 < len(lines) else ""
            assert "HashAggregate(keys=[], functions=[partial_sum" in nxt, (
                f"non-scalar single-partition exchange:\n{p}"
            )


def test_aqe_skew_join_splits_hot_partition(spark):
    """Round-5 pin: AQE's OptimizeSkewedJoin handles the deliberately
    skewed orders⋈nation key (80% of rows on one nation) — the final
    adaptive plan carries the ``skew=true`` SMJ marker and a skewed
    AQEShuffleRead. Thresholds are lowered because the test data is
    tiny; fan_mappers emulates the many-mapper layout a real fact table
    has (AQE can only split a partition at mapper boundaries)."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.layout import (
        skewed_orders_nation_join,
    )

    from .conftest import SF_ORACLE

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = skewed_orders_nation_join(spark, SF_ORACLE, fan_mappers=16)
        j.collect()  # materialize so AQE reaches the final plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"AQE did not mark the join skewed:\n{plan}"
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skew_aqe_entry_matches_salted_twin(spark):
    """The AQE entry's answer equals the manual salted-join rewrite of
    the same skewed query — the two mitigations are interchangeable."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators.skew import (
        salted_join,
    )
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans._helpers import (
        money_sum,
    )
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.layout import (
        SKEW_KEY_SQL,
    )

    aqe_rows = sorted(
        tuple(r) for r in CATALOG["skew_aqe_join_agg"].fn(spark, SF_SMOKE).collect()
    )
    orders = read_table(spark, SF_SMOKE, "orders").select(
        F.expr(SKEW_KEY_SQL).alias("n_nationkey"), "o_totalprice"
    )
    nation = read_table(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    salted = (
        salted_join(orders, nation, "n_nationkey", n_salts=4)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            money_sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )
    )
    assert aqe_rows == sorted(tuple(r) for r in salted.collect())


def test_bloom_runtime_filter_injected(spark):
    """Round-5 pin: with the runtime bloom filter enabled and the
    application-side size threshold lowered to test scale, Catalyst
    builds a bloom filter from the selective orders filter and injects
    might_contain() into the lineitem side — row-level pre-shuffle
    pruning, the non-partitioned complement of the DPP pin."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.layout import (
        bloom_filtered_lineitem_join,
    )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = bloom_filtered_lineitem_join(spark, SF_SMOKE)
        # injection is a compile-time logical rewrite — no action needed
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in p, f"bloom filter not injected:\n{p}"
        assert "bloom_filter_agg" in p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q18_q21_decorrelate_to_semi_anti_joins(spark):
    """Round-6 pin: the HAVING-IN subquery (q18) must decorrelate to a
    LeftSemi join on the aggregated lineitem — never a per-order
    re-aggregation — and q21's EXISTS / NOT EXISTS pair must become a
    LeftSemi AND a LeftAnti join on l_orderkey; neither may fall back
    to a nested-loop/cartesian correlated execution."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.tpch_queries import (
        tpch_q18_large_volume_customer,
        tpch_q21_suppliers_kept_waiting,
    )

    p18 = tpch_q18_large_volume_customer(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p18, f"q18 IN-subquery not decorrelated:\n{p18}"
    p21 = tpch_q21_suppliers_kept_waiting(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p21, f"q21 EXISTS not a semi join:\n{p21}"
    assert "LeftAnti" in p21, f"q21 NOT EXISTS not an anti join:\n{p21}"
    for name, p in (("q18", p18), ("q21", p21)):
        assert "CartesianProduct" not in p, f"{name} went cartesian:\n{p}"


def test_tpch_q4_q16_q17_decorrelate(spark):
    """Round-6 pin: q4's EXISTS must become a LeftSemi join, q16's
    NOT IN a (null-aware) LeftAnti join, and q17's correlated scalar
    AVG subquery must decorrelate into ONE per-partkey Aggregate joined
    back — never per-row subquery execution or a cartesian fallback."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.tpch_queries import (
        tpch_q4_order_priority,
        tpch_q16_parts_supplier_count,
        tpch_q17_small_quantity_revenue,
    )

    p4 = tpch_q4_order_priority(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p4, f"q4 EXISTS not a semi join:\n{p4}"
    p16 = tpch_q16_parts_supplier_count(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in p16, f"q16 NOT IN not an anti join:\n{p16}"
    p17 = tpch_q17_small_quantity_revenue(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    # the decorrelated threshold shows up as an aggregate on the inner
    # lineitem leg feeding an equi-join on partkey
    assert "HashAggregate" in p17 and "l_partkey" in p17, (
        f"q17 scalar subquery not decorrelated:\n{p17}"
    )
    for name, p in (("q4", p4), ("q16", p16), ("q17", p17)):
        assert "CartesianProduct" not in p, f"{name} went cartesian:\n{p}"


def test_tpch_q22_decorrelates(spark):
    """Round-6 pin: q22's NOT EXISTS must become a LeftAnti join on
    custkey and the scalar average subquery one broadcast row — never a
    per-customer subquery or cartesian fallback."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.tpch_queries import (
        tpch_q22_global_sales_opportunity,
    )

    p = tpch_q22_global_sales_opportunity(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in p, f"q22 NOT EXISTS not an anti join:\n{p}"
    assert "CartesianProduct" not in p, f"q22 went cartesian:\n{p}"


def test_tpch_q2_q13_q15_q20_shapes(spark):
    """Round-6 pin for the suite-completing queries: q2's correlated
    MIN must decorrelate into a per-partkey aggregate equi-joined back
    (never per-row execution), q13 must keep its customer-side OUTER
    join (the zero-order customers are the point of the query), q15's
    view-MAX scalar must broadcast one row, and q20's nested IN chain
    must become LeftSemi joins; none may go cartesian."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.tpch_queries import (
        tpch_q2_min_cost_supplier,
        tpch_q13_customer_distribution,
        tpch_q15_top_supplier,
        tpch_q20_potential_part_promotion,
    )

    p2 = tpch_q2_min_cost_supplier(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in p2 and "ps_partkey" in p2, (
        f"q2 correlated MIN not decorrelated:\n{p2}"
    )
    p13 = tpch_q13_customer_distribution(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in p13, f"q13 lost its outer join:\n{p13}"
    p15 = tpch_q15_top_supplier(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    p20 = tpch_q20_potential_part_promotion(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p20, f"q20 IN chain not semi joins:\n{p20}"
    for name, p in (("q2", p2), ("q13", p13), ("q15", p15), ("q20", p20)):
        assert "CartesianProduct" not in p, f"{name} went cartesian:\n{p}"


def test_tpch_q19_disjunction_stays_equi_join(spark):
    """Round-6 pin (the q19 doc's claim): the OR-of-conjunctions
    predicate must ride a partkey equi-join as a residual filter —
    Spark extracts the common p_partkey = l_partkey key itself — never
    degrade to a nested-loop/cartesian plan."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.tpch_queries import (
        tpch_q19_discounted_revenue,
    )

    p = tpch_q19_discounted_revenue(
        spark, SF_SMOKE
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, f"q19 lost its equi-join:\n{p}"
    assert "BroadcastNestedLoopJoin" not in p, f"q19 degraded to BNLJ:\n{p}"
    assert "CartesianProduct" not in p, f"q19 went cartesian:\n{p}"


def test_tpcds_q47_q57_one_window_exchange_no_single_partition(spark):
    """r12 pin (verdict #6): the lag-deviation pair runs BOTH windows
    (series lag/lead and per-year average) off ONE series-key exchange
    — the series hash partitioning already clusters the refined
    (series, yr) grouping, so the year window adds only a sort — and
    no window ever demotes to SinglePartition."""
    import re

    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.tpcds_queries import (
        tpcds_q47_store_lag_deviation,
        tpcds_q57_channel_lag_deviation,
    )

    for fn, series in (
        (tpcds_q47_store_lag_deviation, ["category", "brand", "nation"]),
        (tpcds_q57_channel_lag_deviation, ["category", "segment"]),
    ):
        df = fn(spark, SF_SMOKE)
        df.collect()  # final AQE plan
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition, Window" not in p, p
        assert "CartesianProduct" not in p, p
        # exactly one bare series-key hash exchange feeds the windows;
        # the (series..., yr, mon) exchange is the pre-agg's, and the
        # year window has NO exchange of its own (series + yr only)
        hashes = [
            args for args in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
            if "BroadcastMode" not in args
        ]
        bare = [
            h for h in hashes
            if all(k in h for k in series)
            and "yr" not in h and "mon" not in h
        ]
        year_only = [
            h for h in hashes if "yr" in h and "mon" not in h
        ]
        assert len(set(bare)) == 1, hashes
        assert not year_only, hashes


def test_tpcds_q36_one_expand_pass_no_single_partition_window(spark):
    """r12 pin: the GROUPING()-rank runs off ONE Expand + hash-agg pass
    (never one scan per rollup level) and the rank window partitions on
    (lochierarchy, parent) — never SinglePartition."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.tpcds_queries import (
        tpcds_q36_grouping_rank,
    )

    df = tpcds_q36_grouping_rank(spark, SF_SMOKE)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    p = p.split("== Initial Plan ==")[0]  # final AQE plan only
    assert p.count("Expand") >= 1, p
    assert p.count("FileScan parquet") == 2, p  # lineitem + part, once each
    assert "SinglePartition, Window" not in p, p
    assert "CartesianProduct" not in p, p


def test_tpcds_q88_single_scan(spark):
    """r12 pin: the eight time-band counts come from ONE scan of events
    (the spec's form is eight scalar subqueries = eight scans), with the
    band + event-type predicates pushed into the scan."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.tpcds_queries import (
        tpcds_q88_timeband_counts,
    )

    df = tpcds_q88_timeband_counts(spark, SF_SMOKE)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    p = p.split("== Initial Plan ==")[0]  # final AQE plan only
    assert p.count("FileScan parquet") == 1, p
    assert "PushedFilters: []" not in p, p  # type IN + hour-band pushed
    assert "CartesianProduct" not in p, p


def test_tpcds_q74_self_join_collapsed_to_one_agg(spark):
    """r12 pin: the 4-way year_total self-join collapses to ONE
    conditional aggregation — each fact table scans exactly once and no
    join of the aggregate with itself survives."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.tpcds_queries import (
        tpcds_q74_yoy_channel_growth,
    )

    df = tpcds_q74_yoy_channel_growth(spark, SF_SMOKE)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    p = p.split("== Initial Plan ==")[0]  # final AQE plan only
    assert p.count("FileScan parquet") == 3, p  # lineitem, orders, customer
    assert p.count("HashAggregate") <= 2, p  # ONE partial/final pair
    assert "CartesianProduct" not in p, p

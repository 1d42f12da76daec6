"""Join-algorithm study + DSS-vs-OLTP workload queries
(Iteration 2/Group No.6_JoinPerformance.sql).

The reference toggles PostgreSQL planner flags (enable_nestloop /
enable_mergejoin / enable_hashjoin) over one 4-table star join. The
Spark analog is join *hints*: broadcast (default best for star),
merge (SortMergeJoin), shuffle_hash (ShuffledHashJoin), and a forced
BroadcastNestedLoopJoin via a degenerate non-equi band (enable_nestloop's
analog); the plan-shape assertions live in tests/test_plans.py. All four
variants must return identical results — each is registered with the
same oracle, which IS the study's correctness claim.

The hints here stay even where they restate the star's own broadcast
mark (sources/star.py): each entry pins a join algorithm, and the hint
at the site is what the study varies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.artifacts import persisted
from ..sources.star import StarSchema, with_star
from ._helpers import money_sum, o_money_sum
from .catalog import register

_STAR_AGG_ORACLE = with_star("""
    SELECT p.product_key, p.stockcode,
           {rev} AS revenue
    FROM fact_sales f
    JOIN dim_product p USING (product_key)
    JOIN dim_date d USING (date_key)
    JOIN dim_customer c USING (customer_key)
    WHERE d.full_date >= (
        (SELECT MAX(d2.full_date)
         FROM fact_sales f2 JOIN dim_date d2 ON f2.date_key = d2.date_key)
        - INTERVAL 12 MONTH)
    GROUP BY p.product_key, p.stockcode
    ORDER BY revenue DESC, p.product_key
    LIMIT 50
""".format(rev=o_money_sum("f.totalamount")))


def _min_date_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-month bound, computed ONCE per (session, sf_dir) and persisted —
    a dataset statistic, not per-query work. Without this every study
    variant pays an extra full fact pass just to find max(full_date); at
    100× scale that is two fact scans per query where one suffices. The
    persisted frame is 1 row."""

    def build() -> DataFrame:
        s = StarSchema(spark, sf_dir)
        return (
            s.fact_sales.select("date_key")
            .join(s.dim_date.select("date_key", "full_date"), "date_key")
            .agg(F.add_months(F.max("full_date"), -12).alias("min_date"))
            .persist()
        )

    return persisted(spark, ("joinstudy_min_date", sf_dir), build)


def _star_agg(spark: SparkSession, sf_dir: str, hint: str | None) -> DataFrame:
    """4-table star join + agg + top-50 (JoinPerformance.sql:19-76).

    Date filter anchored on max fact date — the reference's own
    commentary notes the CURRENT_DATE filter returns zero rows on its
    historical dataset and adjusts accordingly (§2 'Important').
    """
    s = StarSchema(spark, sf_dir)
    bound = _min_date_bound(spark, sf_dir)
    dp = s.dim_product.select("product_key", "stockcode")
    dd = s.dim_date.select("date_key", "full_date")
    dc = s.dim_customer.select("customer_key")
    if hint:
        dp, dd, dc = dp.hint(hint), dd.hint(hint), dc.hint(hint)
    else:
        dp, dd, dc = F.broadcast(dp), F.broadcast(dd), F.broadcast(dc)
    # date dim first: the 12-month bound keeps ~1/7 of the fact (the
    # data spans ~7 years), so the two remaining joins — three full
    # fact-sized shuffle+sorts in the forced sort-merge flavor — run on
    # the filtered slice instead of the whole fact. Inner joins + the
    # filter commute, so every flavor computes the identical result.
    return (
        s.fact_sales.select("product_key", "date_key", "customer_key", "totalamount")
        .join(dd, "date_key")
        .crossJoin(F.broadcast(bound))
        .filter(F.col("full_date") >= F.col("min_date"))
        .join(dp, "product_key")
        .join(dc, "customer_key")
        .groupBy("product_key", "stockcode")
        .agg(money_sum("totalamount").alias("revenue"))
        .orderBy(F.desc("revenue"), "product_key")
        .limit(50)
    )


@register(
    "join_study_broadcast_hash",
    oracle=_STAR_AGG_ORACLE,
    tags=("joinstudy", "J2", "J13", "T2"),
    doc="Hash-join flavor (BroadcastHashJoin — Spark's optimal star plan) — "
        "JoinPerformance.sql:63-76",
)
def join_study_broadcast_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _star_agg(spark, sf_dir, None)


@register(
    "join_study_sort_merge",
    oracle=_STAR_AGG_ORACLE,
    tags=("joinstudy", "J12"),
    doc="Sort-merge-join flavor (merge hint → SortMergeJoin) — JoinPerformance.sql:41-54",
)
def join_study_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _star_agg(spark, sf_dir, "merge")


@register(
    "join_study_nested_loop",
    oracle=_STAR_AGG_ORACLE,
    tags=("joinstudy", "J11"),
    doc="Nested-loop flavor (JoinPerformance.sql:19-32, enable_nestloop): "
        "the dim_date probe is forced to BroadcastNestedLoopJoin via a "
        "degenerate non-equi band (key BETWEEN k AND k — Catalyst extracts "
        "no equi keys, so the broadcast side is nested-loop scanned per fact "
        "row, the closest Spark analog of the reference's index-NLJ inner "
        "scan). The 12-month bound is pushed into the broadcast dim before "
        "the loop, as Postgres pushes the date filter into the inner index "
        "scan. Identical oracle to the other three flavors — the study's "
        "correctness claim.",
)
def join_study_nested_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    bound = _min_date_bound(spark, sf_dir)
    dp = F.broadcast(s.dim_product.select("product_key", "stockcode"))
    dc = F.broadcast(s.dim_customer.select("customer_key"))
    dd = (
        s.dim_date.select(F.col("date_key").alias("d_date_key"), "full_date")
        .crossJoin(F.broadcast(bound))
        .filter(F.col("full_date") >= F.col("min_date"))
        .select("d_date_key")
    )
    nlj_cond = F.col("date_key").between(F.col("d_date_key"), F.col("d_date_key"))
    return (
        s.fact_sales.select("product_key", "date_key", "customer_key", "totalamount")
        .join(dp, "product_key")
        .join(dc, "customer_key")
        .join(F.broadcast(dd), nlj_cond)
        .groupBy("product_key", "stockcode")
        .agg(money_sum("totalamount").alias("revenue"))
        .orderBy(F.desc("revenue"), "product_key")
        .limit(50)
    )


@register(
    "join_study_shuffle_hash",
    oracle=_STAR_AGG_ORACLE,
    tags=("joinstudy", "J11"),
    doc="Shuffled-hash-join flavor (shuffle_hash hint): the fourth Spark "
        "strategy, alongside broadcast/merge/nested-loop — completes the "
        "JoinPerformance.sql study surface",
)
def join_study_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _star_agg(spark, sf_dir, "shuffle_hash")


@register(
    "dss_monthly_country",
    oracle=with_star("""
        SELECT strftime(date_trunc('month', d.full_date), '%Y-%m') AS month,
               COALESCE(c.country, 'UNKNOWN') AS country,
               {rev} AS revenue
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        LEFT JOIN dim_customer c USING (customer_key)
        GROUP BY 1, 2
        ORDER BY month DESC, revenue DESC, country
        LIMIT 100
    """.format(rev=o_money_sum("f.totalamount"))),
    tags=("joinstudy", "dss", "A7", "T2"),
    doc="DSS analytical aggregation (full fact scan, hash agg) — "
        "JoinPerformance.sql:85-98 (date filter removed per the reference's "
        "commentary: dataset is historical)",
)
def dss_monthly_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .join(F.broadcast(s.dim_date.select("date_key", "full_date")), "date_key")
        .join(F.broadcast(s.dim_customer.select("customer_key", "country")), "customer_key", "left")
        .groupBy(
            F.date_format(F.trunc("full_date", "month"), "yyyy-MM").alias("month"),
            F.coalesce("country", F.lit("UNKNOWN")).alias("country"),
        )
        .agg(money_sum("totalamount").alias("revenue"))
        .orderBy(F.desc("month"), F.desc("revenue"), "country")
        .limit(100)
    )


@register(
    "oltp_point_lookup",
    oracle=with_star("""
        SELECT f.sales_key, f.invoiceid,
               CAST(f.totalamount AS DOUBLE) AS totalamount,
               p.stockcode, c.customerid,
               strftime(d.full_date, '%Y-%m-%d') AS full_date
        FROM fact_sales f
        LEFT JOIN dim_date d USING (date_key)
        LEFT JOIN dim_product p USING (product_key)
        LEFT JOIN dim_customer c USING (customer_key)
        WHERE f.invoiceid = (SELECT MIN(invoiceid) FROM fact_sales)
    """),
    tags=("joinstudy", "oltp", "P6", "J9"),
    doc="OLTP point lookup by invoice (scalar subquery; MIN instead of the "
        "reference's nondeterministic LIMIT 1) — JoinPerformance.sql:103-110. "
        "Spark analog of the index scan: parquet row-group skipping on a "
        "date_key-sorted layout (plans/layout.py).",
)
def oltp_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    target = s.fact_sales.agg(F.min("invoiceid").alias("target_invoice"))
    return (
        s.fact_sales
        .crossJoin(F.broadcast(target))
        .filter(F.col("invoiceid") == F.col("target_invoice"))
        .join(F.broadcast(s.dim_date.select("date_key", "full_date")), "date_key", "left")
        .join(F.broadcast(s.dim_product.select("product_key", "stockcode")), "product_key", "left")
        .join(F.broadcast(s.dim_customer.select("customer_key", "customerid")), "customer_key", "left")
        .select(
            "sales_key",
            "invoiceid",
            F.col("totalamount").cast("double").alias("totalamount"),
            "stockcode",
            "customerid",
            F.date_format("full_date", "yyyy-MM-dd").alias("full_date"),
        )
    )


@register(
    "dss_vs_oltp_revenue",
    oracle=with_star("""
        , sample_invoices AS (
            SELECT DISTINCT invoiceid FROM fact_sales
            ORDER BY CAST(invoiceid AS BIGINT) LIMIT 1000
        )
        SELECT 'DSS' AS query_type, {rev} AS revenue
        FROM fact_sales f JOIN dim_date d USING (date_key)
        UNION ALL
        SELECT 'OLTP' AS query_type, {rev2} AS revenue
        FROM fact_sales f
        WHERE f.invoiceid IN (SELECT invoiceid FROM sample_invoices)
    """.format(rev=o_money_sum("f.totalamount"), rev2=o_money_sum("f.totalamount"))),
    tags=("joinstudy", "U2", "J8", "A11"),
    doc="DSS vs OLTP same-total cross-check: UNION ALL of labeled scalar "
        "aggregates; OLTP side is an IN-subquery → left-semi join "
        "(deterministic first-1000-invoices sample) — JoinPerformance.sql:116-127",
)
def dss_vs_oltp_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    dss = (
        s.fact_sales
        .join(s.dim_date.select("date_key").hint("broadcast"), "date_key")
        .agg(money_sum("totalamount").alias("revenue"))
        .select(F.lit("DSS").alias("query_type"), "revenue")
    )
    sample = (
        s.fact_sales.select("invoiceid").distinct()
        .orderBy(F.col("invoiceid").cast("long"))
        .limit(1000)
    )
    oltp = (
        s.fact_sales
        .join(F.broadcast(sample), "invoiceid", "left_semi")
        .agg(money_sum("totalamount").alias("revenue"))
        .select(F.lit("OLTP").alias("query_type"), "revenue")
    )
    return dss.unionByName(oltp)

"""MOLAP pre-aggregation queries 1-7 (Iteration 2/Group No.6_MOLAP.sql).

The reference materializes summary tables (molap_month_country,
molap_month_product, molap_customer_month) and queries them. Here the
*builders* are registered as queries returning the summary contents
(CTAS semantics, SURVEY S2); the gold-table materialization/refresh path
(write parquet + reread — the reference's "MOLAP cube" and the
Iteration-3 materialized view) lives in plans/layout.py.

Scale shape: one wide hash aggregation per cube — partial aggregation
map-side, a single shuffle on the grouping keys. The month helper
dimension (date_month, MOLAP.sql:11-13) is a temp view in the Spark path
to mirror the reference's TEMP TABLE (SURVEY S6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.star import StarSchema, with_star
from ._helpers import (
    int_sum,
    iso_date,
    money_sum,
    month_str,
    o_int_sum,
    o_money_sum,
)
from .catalog import register


def _month_dates(s: StarSchema) -> DataFrame:
    """date_month helper (MOLAP.sql:11-13) as a temp view (S6)."""
    dm = s.dim_date.select("date_key", F.trunc("full_date", "month").alias("month"))
    dm.createOrReplaceTempView("date_month")
    return dm


_O_MONTH_CTE = """
, date_month AS (
    SELECT date_key, date_trunc('month', full_date)::DATE AS month FROM dim_date
)
"""


@register(
    "molap_month_country",
    oracle=with_star(_O_MONTH_CTE + """
        SELECT strftime(dm.month, '%Y-%m') AS month,
               COALESCE(c.country, 'UNKNOWN') AS country,
               {rev} AS total_revenue,
               {qty} AS total_quantity,
               COUNT(DISTINCT f.invoiceid) AS order_count
        FROM fact_sales f
        JOIN date_month dm USING (date_key)
        LEFT JOIN dim_customer c USING (customer_key)
        GROUP BY dm.month, COALESCE(c.country, 'UNKNOWN')
    """.format(rev=o_money_sum("f.totalamount"), qty=o_int_sum("f.quantity"))),
    tags=("molap", "S2", "A3", "A6"),
    doc="MOLAP 1 monthly revenue by country cube — Group No.6_MOLAP.sql:19-30",
)
def molap_month_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    dm = _month_dates(s)
    return (
        s.fact_sales
        .join(dm, "date_key")
        .join(s.dim_customer.select("customer_key", "country"), "customer_key", "left")
        .groupBy(month_str("month").alias("month"), F.coalesce("country", F.lit("UNKNOWN")).alias("country"))
        .agg(
            money_sum("totalamount").alias("total_revenue"),
            int_sum("quantity").alias("total_quantity"),
            F.countDistinct("invoiceid").alias("order_count"),
        )
    )


@register(
    "molap_month_product",
    oracle=with_star(_O_MONTH_CTE + """
        SELECT strftime(dm.month, '%Y-%m') AS month,
               p.product_key, p.stockcode, p.description,
               {rev} AS revenue,
               {qty} AS total_qty,
               (CAST(SUM(f.unitprice) AS DOUBLE) / COUNT(f.unitprice)) AS avg_unitprice
        FROM fact_sales f
        JOIN date_month dm USING (date_key)
        JOIN dim_product p USING (product_key)
        GROUP BY 1, 2, 3, 4
    """.format(rev=o_money_sum("f.totalamount"), qty=o_int_sum("f.quantity"))),
    tags=("molap", "S2", "A4", "A6"),
    doc="MOLAP 2 monthly product summary cube — Group No.6_MOLAP.sql:39-52",
)
def molap_month_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    dm = _month_dates(s)
    return (
        s.fact_sales
        .join(dm, "date_key")
        .join(s.dim_product.select("product_key", "stockcode", "description"), "product_key")
        .groupBy(month_str("month").alias("month"), "product_key", "stockcode", "description")
        .agg(
            money_sum("totalamount").alias("revenue"),
            int_sum("quantity").alias("total_qty"),
            (F.sum("unitprice").cast("double") / F.count("unitprice")).alias("avg_unitprice"),
        )
    )


@register(
    "molap_customer_month",
    oracle=with_star(_O_MONTH_CTE + """
        SELECT strftime(dm.month, '%Y-%m') AS month,
               c.customer_key, c.customerid,
               {rev} AS revenue,
               COUNT(DISTINCT f.invoiceid) AS orders,
               {qty} AS total_quantity
        FROM fact_sales f
        JOIN date_month dm USING (date_key)
        JOIN dim_customer c USING (customer_key)
        GROUP BY 1, 2, 3
    """.format(rev=o_money_sum("f.totalamount"), qty=o_int_sum("f.quantity"))),
    tags=("molap", "S2", "A3", "A6"),
    doc="MOLAP 3 customer monthly revenue cube — Group No.6_MOLAP.sql:61-73",
)
def molap_customer_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    dm = _month_dates(s)
    return (
        s.fact_sales
        .join(dm, "date_key")
        .join(s.dim_customer.select("customer_key", "customerid"), "customer_key")
        .groupBy(month_str("month").alias("month"), "customer_key", "customerid")
        .agg(
            money_sum("totalamount").alias("revenue"),
            F.countDistinct("invoiceid").alias("orders"),
            int_sum("quantity").alias("total_quantity"),
        )
    )


@register(
    "molap_top10_products_last3m",
    oracle=with_star("""
        SELECT p.stockcode, p.description,
               {rev} AS revenue,
               {qty} AS qty_sold
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        JOIN dim_product p USING (product_key)
        WHERE d.full_date >= (
            (SELECT MAX(d2.full_date)
             FROM fact_sales f2 JOIN dim_date d2 ON f2.date_key = d2.date_key)
            - INTERVAL 3 MONTH)
        GROUP BY p.stockcode, p.description
        ORDER BY revenue DESC, p.stockcode
        LIMIT 10
    """.format(rev=o_money_sum("f.totalamount"), qty=o_int_sum("f.quantity"))),
    tags=("molap", "J9", "T2", "P11"),
    doc="MOLAP 4 top-10 products last 3 months (scalar-subquery lower bound) — "
        "Group No.6_MOLAP.sql:79-101; window anchored on max fact date per the "
        "reference's own comment 'use latest date in your fact table'",
)
def molap_top10_products_last3m(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    # Scalar subquery (J9) as a 1-row broadcast — stays fully lazy/distributed.
    bound = (
        s.fact_sales.select("date_key")
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .agg(F.add_months(F.max("full_date"), -3).alias("min_date"))
    )
    return (
        s.fact_sales
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .crossJoin(bound)
        .filter(F.col("full_date") >= F.col("min_date"))
        .join(s.dim_product.select("product_key", "stockcode", "description"), "product_key")
        .groupBy("stockcode", "description")
        .agg(money_sum("totalamount").alias("revenue"), int_sum("quantity").alias("qty_sold"))
        .orderBy(F.desc("revenue"), "stockcode")
        .limit(10)
    )


@register(
    "molap_daily_revenue_90d",
    oracle=with_star("""
        SELECT strftime(d.full_date, '%Y-%m-%d') AS full_date,
               {rev} AS daily_revenue
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        WHERE d.full_date >= (
            (SELECT MAX(d2.full_date)
             FROM fact_sales f2 JOIN dim_date d2 ON f2.date_key = d2.date_key)
            - INTERVAL 90 DAY)
        GROUP BY d.full_date
        ORDER BY d.full_date ASC
        LIMIT 30
    """.format(rev=o_money_sum("f.totalamount"))),
    tags=("molap", "J9", "T2"),
    doc="MOLAP 5 daily revenue trend, first 30 days of the 90-day window — "
        "Group No.6_MOLAP.sql:107-126",
)
def molap_daily_revenue_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    bound = (
        s.fact_sales.select("date_key")
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .agg(F.date_sub(F.max("full_date"), 90).alias("min_date"))
    )
    return (
        s.fact_sales.select("date_key", "totalamount")
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .crossJoin(bound)
        .filter(F.col("full_date") >= F.col("min_date"))
        .groupBy("full_date")
        .agg(money_sum("totalamount").alias("daily_revenue"))
        .orderBy("full_date")
        .limit(30)
        .select(iso_date("full_date").alias("full_date"), "daily_revenue")
    )


@register(
    "molap_cohort_recent12",
    oracle=with_star("""
        , customer_signup AS (
            SELECT f.customer_key,
                   MIN(date_trunc('month', d.full_date)::DATE) AS signup_month
            FROM fact_sales f JOIN dim_date d USING (date_key)
            GROUP BY f.customer_key
        ),
        customer_revenue AS (
            SELECT f.customer_key,
                   date_trunc('month', d.full_date)::DATE AS sale_month,
                   SUM(f.totalamount) AS revenue
            FROM fact_sales f JOIN dim_date d USING (date_key)
            GROUP BY 1, 2
        )
        SELECT strftime(s.signup_month, '%Y-%m') AS signup_month,
               CAST(ROUND(SUM(CASE WHEN r.sale_month = s.signup_month THEN r.revenue ELSE 0 END), 2) AS DOUBLE) AS month0_revenue,
               CAST(ROUND(SUM(CASE WHEN r.sale_month = (s.signup_month + INTERVAL 1 MONTH)::DATE THEN r.revenue ELSE 0 END), 2) AS DOUBLE) AS month1_revenue,
               CAST(ROUND(SUM(CASE WHEN r.sale_month = (s.signup_month + INTERVAL 2 MONTH)::DATE THEN r.revenue ELSE 0 END), 2) AS DOUBLE) AS month2_revenue
        FROM customer_signup s
        LEFT JOIN customer_revenue r ON r.customer_key = s.customer_key
        GROUP BY s.signup_month
        ORDER BY signup_month DESC
        LIMIT 12
    """),
    tags=("molap", "A8", "T2"),
    doc="MOLAP 6 cohort (12 most recent signup months; unconstrained cohort "
        "join per the reference) — Group No.6_MOLAP.sql:132-153",
)
def molap_cohort_recent12(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    fd = s.fact_sales.select("customer_key", "date_key", "totalamount").join(
        s.dim_date.select("date_key", "full_date"), "date_key"
    )
    sale_month = F.trunc("full_date", "month")
    signup = fd.groupBy("customer_key").agg(F.min(sale_month).alias("signup_month"))
    revenue = fd.groupBy("customer_key", sale_month.alias("sale_month")).agg(
        F.sum("totalamount").alias("revenue")
    )
    r, sg = revenue.alias("r"), signup.alias("s")
    joined = sg.join(r, F.col("r.customer_key") == F.col("s.customer_key"), "left")

    def bucket(k: int, name: str):
        cond = F.col("r.sale_month") == F.add_months(F.col("s.signup_month"), k)
        return F.round(F.sum(F.when(cond, F.col("r.revenue")).otherwise(F.lit(0))), 2).cast("double").alias(name)

    return (
        joined.groupBy(month_str(F.col("s.signup_month")).alias("signup_month"))
        .agg(bucket(0, "month0_revenue"), bucket(1, "month1_revenue"), bucket(2, "month2_revenue"))
        .orderBy(F.desc("signup_month"))
        .limit(12)
    )


@register(
    "molap_vs_olap_verification",
    oracle=with_star(_O_MONTH_CTE + """
        , molap AS (
            SELECT dm.month, COALESCE(c.country, 'UNKNOWN') AS country,
                   SUM(f.totalamount) AS total_revenue
            FROM fact_sales f
            JOIN date_month dm USING (date_key)
            LEFT JOIN dim_customer c USING (customer_key)
            GROUP BY 1, 2
        ),
        olap AS (
            SELECT date_trunc('month', d.full_date)::DATE AS month,
                   COALESCE(c.country, 'UNKNOWN') AS country,
                   SUM(f.totalamount) AS revenue
            FROM fact_sales f
            JOIN dim_date d USING (date_key)
            LEFT JOIN dim_customer c USING (customer_key)
            GROUP BY 1, 2
        )
        SELECT strftime(olap.month, '%Y-%m') AS month,
               olap.country,
               CAST(ROUND(olap.revenue, 2) AS DOUBLE) AS olap_revenue,
               CAST(ROUND(COALESCE(m.total_revenue, 0), 2) AS DOUBLE) AS molap_revenue,
               CAST(ROUND(COALESCE(m.total_revenue, 0) - olap.revenue, 2) AS DOUBLE) AS diff
        FROM olap
        LEFT JOIN molap m ON m.month = olap.month AND m.country = olap.country
        ORDER BY olap.month DESC, olap.country ASC
        LIMIT 20
    """),
    tags=("molap", "J10", "T2"),
    doc="MOLAP 7 MOLAP-vs-OLAP reconciliation with diff column — "
        "Group No.6_MOLAP.sql:158-179 (derived-table join of two aggregates)",
)
def molap_vs_olap_verification(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    dm = _month_dates(s)
    base = s.fact_sales.join(s.dim_customer.select("customer_key", "country"), "customer_key", "left")
    molap = (
        base.join(dm, "date_key")
        .groupBy("month", F.coalesce("country", F.lit("UNKNOWN")).alias("country"))
        .agg(F.sum("totalamount").alias("total_revenue"))
    )
    olap = (
        base.join(s.dim_date.select("date_key", "full_date"), "date_key")
        .groupBy(F.trunc("full_date", "month").alias("month"), F.coalesce("country", F.lit("UNKNOWN")).alias("country"))
        .agg(F.sum("totalamount").alias("revenue"))
    )
    m, o = molap.alias("m"), olap.alias("o")
    return (
        o.join(m, (F.col("m.month") == F.col("o.month")) & (F.col("m.country") == F.col("o.country")), "left")
        .select(
            month_str(F.col("o.month")).alias("month"),
            F.col("o.country").alias("country"),
            F.round(F.col("o.revenue"), 2).cast("double").alias("olap_revenue"),
            F.round(F.coalesce(F.col("m.total_revenue"), F.lit(0)), 2).cast("double").alias("molap_revenue"),
            F.round(F.coalesce(F.col("m.total_revenue"), F.lit(0)) - F.col("o.revenue"), 2).cast("double").alias("diff"),
        )
        .orderBy(F.desc("month"), F.asc("country"))
        .limit(20)
    )


@register(
    "molap_year_quarter_summary",
    oracle=with_star("""
        SELECT d.year, d.quarter,
               {rev} AS total_revenue,
               {qty} AS total_quantity,
               COUNT(DISTINCT f.invoiceid) AS order_count
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        GROUP BY d.year, d.quarter
    """.format(rev=o_money_sum("f.totalamount"), qty=o_int_sum("f.quantity"))),
    tags=("molap", "A6", "F11"),
    doc="Yearly/quarterly revenue summary cube — the remaining MOLAP "
        "rollup the reference README claims (README.md:92 'Yearly and "
        "quarterly revenue summaries'; quarter column from Schema.sql:53)",
)
def molap_year_quarter_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales.select("date_key", "totalamount", "quantity", "invoiceid")
        .join(s.dim_date.select("date_key", "year", "quarter"), "date_key")
        .groupBy("year", "quarter")
        .agg(
            money_sum("totalamount").alias("total_revenue"),
            int_sum("quantity").alias("total_quantity"),
            F.countDistinct("invoiceid").alias("order_count"),
        )
    )


@register(
    "olap_cube_year_mktsegment",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT) AS year,
               c_mktsegment AS mktsegment,
               CAST(GROUPING(year(o_orderdate)) AS INT) AS g_year,
               CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY CUBE (year(o_orderdate), c_mktsegment)
    """,
    tags=("molap", "cube", "A6"),
    doc="True OLAP CUBE over (year, mktsegment): all 4 grouping-set "
        "combinations incl. grand total, with GROUPING() flags — the "
        "reference discusses 'OLAP CUBE' only conceptually "
        "(Schema_Justification.sql:59, Final Report §4); Spark's cube() "
        "materializes it in one pass with partial aggregation per set",
)
def olap_cube_year_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderdate")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # raw customer grows with SF: the hint records the broadcast choice
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.year("o_orderdate").alias("year"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    return joined.cube("year", "mktsegment").agg(
        F.grouping("year").cast("int").alias("g_year"),
        F.grouping("mktsegment").cast("int").alias("g_seg"),
        money_sum("price").alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@register(
    "sketch_distinct_comparison",
    oracle="""
        SELECT 'customers_with_orders' AS entity,
               COUNT(DISTINCT o_custkey) AS exact_distinct,
               true AS sketch_within_5pct
        FROM orders
        UNION ALL
        SELECT 'invoices', COUNT(DISTINCT o_orderkey), true FROM orders
    """,
    tags=("molap", "sketch", "A3"),
    doc="HLL++ sketch vs exact distinct: approx_count_distinct(rsd=2%) "
        "must land within 5% of the exact count (the boolean IS the "
        "oracle contract — a drifting sketch fails the hash match). The "
        "sketch is the 100 TB path: mergeable, fixed memory, one pass, "
        "no exact-distinct shuffle",
)
def sketch_distinct_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    orders = read_table(spark, sf_dir, "orders")

    def row(entity: str, col: str) -> DataFrame:
        return orders.agg(
            F.countDistinct(col).alias("exact_distinct"),
            F.approx_count_distinct(col, rsd=0.02).alias("_approx"),
        ).select(
            F.lit(entity).alias("entity"),
            "exact_distinct",
            (
                F.abs(F.col("_approx") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("sketch_within_5pct"),
        )

    return row("customers_with_orders", "o_custkey").unionByName(row("invoices", "o_orderkey"))


@register(
    "sketch_quantile_comparison",
    oracle="""
        SELECT 'o_totalprice' AS metric,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY CAST(o_totalprice AS DOUBLE))
                   AS exact_p50,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY CAST(o_totalprice AS DOUBLE))
                   AS exact_p95,
               true AS sketch_p50_within_1pct,
               true AS sketch_p95_within_1pct
        FROM orders
    """,
    tags=("molap", "sketch", "A9"),
    doc="KLL-style quantile sketch vs exact order statistic: "
        "approx_percentile(accuracy=10000) must land within 1% of the "
        "exact percentile_disc value (the booleans ARE the oracle "
        "contract — sketch drift fails the hash match, exactly like the "
        "HLL entry). The sketch is the 100 TB path: mergeable partial "
        "sketches, fixed memory, one pass — where the exact order "
        "statistic needs a full sort or single-point aggregation.",
)
def sketch_quantile_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    amt = (
        read_table(spark, sf_dir, "orders")
        .select(F.col("o_totalprice").cast("double").alias("amt"))
    )
    agg = amt.agg(
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY amt)").alias("exact_p50"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY amt)").alias("exact_p95"),
        F.expr("approx_percentile(amt, array(0.50, 0.95), 10000)").alias("_ap"),
    )
    return agg.select(
        F.lit("o_totalprice").alias("metric"),
        "exact_p50",
        "exact_p95",
        (
            F.abs(F.element_at("_ap", 1) - F.col("exact_p50"))
            <= 0.01 * F.abs(F.col("exact_p50"))
        ).alias("sketch_p50_within_1pct"),
        (
            F.abs(F.element_at("_ap", 2) - F.col("exact_p95"))
            <= 0.01 * F.abs(F.col("exact_p95"))
        ).alias("sketch_p95_within_1pct"),
    )


@register(
    "molap_pivot_month_returnflag",
    oracle=with_star(_O_MONTH_CTE + """
        SELECT strftime(m.month, '%Y-%m') AS month,
               CAST(SUM(CASE WHEN f.returnflag = 'A' THEN f.quantity ELSE 0 END) AS BIGINT) AS qty_a,
               CAST(SUM(CASE WHEN f.returnflag = 'N' THEN f.quantity ELSE 0 END) AS BIGINT) AS qty_n,
               CAST(SUM(CASE WHEN f.returnflag = 'R' THEN f.quantity ELSE 0 END) AS BIGINT) AS qty_r
        FROM fact_sales f JOIN date_month m USING (date_key)
        GROUP BY 1
    """),
    tags=("molap", "A8", "pivot"),
    doc="Cross-tab via the explicit pivot operator: monthly quantity by "
        "return flag, pivoted to one column per flag. The value list is "
        "DECLARED (['A','N','R']) so the plan is a single pass with "
        "conditional partial aggregates — an undeclared pivot would "
        "first run a distinct scan to discover values, a second job the "
        "declared form avoids at 100 TB. Same semantics as the A8 "
        "conditional aggregation the cohort queries use; this entry "
        "pins the dedicated DataFrame.pivot API.",
)
def molap_pivot_month_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    months = s.dim_date.select(
        "date_key",
        F.date_format(F.date_trunc("month", "full_date"), "yyyy-MM").alias("month"),
    )
    pivoted = (
        s.fact_sales.join(months, "date_key")
        .groupBy("month")
        .pivot("returnflag", ["A", "N", "R"])
        .agg(F.sum("quantity"))
    )
    return pivoted.select(
        "month",
        *[
            F.coalesce(F.col(flag), F.lit(0)).cast("long").alias(f"qty_{flag.lower()}")
            for flag in ("A", "N", "R")
        ],
    )


@register(
    "sketch_mergeable_rollup",
    oracle=with_star(_O_MONTH_CTE + """
        SELECT strftime(dm.month, '%Y-%m') AS month,
               COUNT(DISTINCT f.customer_key) AS exact_distinct,
               true AS merged_sketch_within_5pct
        FROM fact_sales f
        JOIN date_month dm USING (date_key)
        GROUP BY 1
    """),
    tags=("molap", "sketch", "A3"),
    doc="Mergeable-sketch rollup: distinct counts CANNOT be summed "
        "across cube cells, which is why MOLAP rollups at scale carry "
        "sketches — build one HLL sketch per (month, country) cell "
        "(hll_sketch_agg, lgConfigK=14), union the cells up to per-month "
        "sketches (hll_union_agg), and gate the merged estimate within "
        "5% of the exact per-month distinct-customer count (the boolean "
        "IS the oracle contract). At 100 TB the cell sketches live in "
        "the gold cube and every coarser grain is a cheap union — no "
        "re-scan of the fact.",
)
def sketch_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    dm = _month_dates(s)
    base = (
        s.fact_sales
        .join(dm, "date_key")
        .join(
            s.dim_customer.select("customer_key", "country"),
            "customer_key",
            "left",
        )
        .select(
            month_str("month").alias("month"),
            F.coalesce("country", F.lit("UNKNOWN")).alias("country"),
            "customer_key",
        )
    )
    cells = base.groupBy("month", "country").agg(
        F.expr("hll_sketch_agg(customer_key, 14)").alias("sk")
    )
    rolled = cells.groupBy("month").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").alias("_approx")
    )
    exact = base.groupBy("month").agg(
        F.countDistinct("customer_key").alias("exact_distinct")
    )
    return exact.join(F.broadcast(rolled), "month").select(
        "month",
        "exact_distinct",
        (
            F.abs(F.col("_approx") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("merged_sketch_within_5pct"),
    )


@register(
    "sketch_heavy_hitters",
    oracle="""
        SELECT o_orderpriority AS key,
               CAST(COUNT(*) AS BIGINT) AS exact_count,
               true AS in_sketch
        FROM orders GROUP BY 1
        HAVING COUNT(*) > 0.1 * (SELECT COUNT(*) FROM orders)
    """,
    tags=("molap", "sketch", "heavy-hitters"),
    doc="Heavy-hitters sketch gate: DataFrame.stat.freqItems "
        "(single-pass, fixed-memory, mergeable Karp/Misra-Gries "
        "collection) at support=0.1 must contain EVERY key whose exact "
        "frequency exceeds the support — the sketch's formal guarantee, "
        "turned into the oracle contract (in_sketch must hash-match the "
        "oracle's literal true). Exact side is a key-cardinality "
        "groupBy; sketch side is one pass with no shuffle of the data "
        "rows — the 100 TB path for hot-key discovery feeding the "
        "salting/AQE-skew mitigations.",
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    orders = read_table(spark, sf_dir, "orders").select("o_orderpriority")
    sketch = orders.stat.freqItems(["o_orderpriority"], support=0.1)
    exact = orders.groupBy("o_orderpriority").agg(F.count("*").alias("cnt"))
    total = orders.agg(F.count("*").alias("n_total"))
    return (
        exact.crossJoin(total)
        .filter(F.col("cnt") > 0.1 * F.col("n_total"))
        # hint kept: the filtered side is a handful of rows too
        .crossJoin(F.broadcast(sketch))
        .select(
            F.col("o_orderpriority").alias("key"),
            F.col("cnt").cast("long").alias("exact_count"),
            F.array_contains("o_orderpriority_freqItems", F.col("o_orderpriority")).alias(
                "in_sketch"
            ),
        )
    )


@register(
    "molap_grouping_sets_country",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT) AS year,
               n_name AS country,
               CAST(GROUPING(year(o_orderdate)) AS INT) AS g_year,
               CAST(GROUPING(n_name) AS INT) AS g_country,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((year(o_orderdate), n_name),
                                (year(o_orderdate)), (n_name))
    """,
    tags=("molap", "grouping-sets", "A6"),
    doc="Explicit GROUPING SETS ((year,country),(year),(country)) — the "
        "asymmetric multi-grain shape that is neither ROLLUP (no "
        "hierarchy) nor CUBE (no grand total), completing the OLAP "
        "grouping trio next to olap_cube_year_mktsegment. GROUPING() "
        "flags disambiguate a NULL key from a rolled-up one. Spark 4's "
        "DataFrame.groupingSets expands all three grains in ONE pass "
        "with partial aggregation per set — never three scans.",
)
def molap_grouping_sets_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # raw customer grows with SF: the hint records the broadcast choice;
    # nation is 25 rows at every SF and broadcast unhinted
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select(
            F.year("o_orderdate").alias("year"),
            F.col("n_name").alias("country"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
    )
    return joined.groupingSets(
        [["year", "country"], ["year"], ["country"]], "year", "country"
    ).agg(
        F.grouping("year").cast("int").alias("g_year"),
        F.grouping("country").cast("int").alias("g_country"),
        money_sum("price").alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@register(
    "molap_rollup_year_quarter",
    oracle=with_star("""
        , j AS (
            SELECT d.year, d.quarter, f.totalamount
            FROM fact_sales f JOIN dim_date d USING (date_key)
        )
        SELECT year, quarter,
               CAST(GROUPING(year) AS INT) AS g_year,
               CAST(GROUPING(quarter) AS INT) AS g_quarter,
               {rev} AS revenue,
               COUNT(*) AS n_lines
        FROM j
        GROUP BY ROLLUP (year, quarter)
    """.format(rev=o_money_sum("totalamount"))),
    tags=("molap", "rollup", "A6"),
    doc="Hierarchical ROLLUP (year, quarter): leaf grain + per-year "
        "subtotals + grand total in ONE pass with GROUPING() flags — "
        "the calendar drill-up every quarterly dashboard needs, and the "
        "third leg of the grouping trio (CUBE: olap_cube_year_mktsegment; "
        "GROUPING SETS: molap_grouping_sets_country). Spark's rollup() "
        "expands the grains with partial aggregation, never three scans.",
)
def molap_rollup_year_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    j = (
        s.fact_sales.select("date_key", "totalamount")
        .join(s.dim_date.select("date_key", "year", "quarter"), "date_key")
        .select("year", "quarter", "totalamount")
    )
    return j.rollup("year", "quarter").agg(
        F.grouping("year").cast("int").alias("g_year"),
        F.grouping("quarter").cast("int").alias("g_quarter"),
        money_sum("totalamount").alias("revenue"),
        F.count("*").alias("n_lines"),
    )

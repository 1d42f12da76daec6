"""OLAP analytical queries 1-7 (Iteration 2/Group No.6_OLAP.sql).

Spark-first physical shape for all of these: parquet scan of the fact
(column-pruned, filter-pushed) → BroadcastHashJoin to each small dim →
partial+final hash aggregate (map-side combine free from Catalyst) →
sort/TakeOrderedAndProject only where the reference orders/limits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.star import StarSchema, with_star
from ._helpers import (
    avg2,
    int_sum,
    iso_date,
    money_sum,
    money_sum0,
    month_str,
    o_avg2,
    o_int_sum,
    o_money_sum,
    o_money_sum0,
)
from .catalog import register


@register(
    "olap_monthly_revenue_by_country",
    oracle=with_star("""
        SELECT d.year, d.month, COALESCE(c.country, 'UNKNOWN') AS country,
               {rev} AS total_revenue,
               {qty} AS total_quantity
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        LEFT JOIN dim_customer c USING (customer_key)
        GROUP BY d.year, d.month, COALESCE(c.country, 'UNKNOWN')
    """.format(rev=o_money_sum("f.totalamount"), qty=o_int_sum("f.quantity"))),
    tags=("olap", "J1", "J3", "A1", "A6", "F4", "T1"),
    doc="OLAP 1 monthly sales by country — Group No.6_OLAP.sql:10-24",
)
def olap_monthly_revenue_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .join(s.dim_date.select("date_key", "year", "month"), "date_key")
        .join(s.dim_customer.select("customer_key", "country"), "customer_key", "left")
        .groupBy("year", "month", F.coalesce("country", F.lit("UNKNOWN")).alias("country"))
        .agg(
            money_sum("totalamount").alias("total_revenue"),
            int_sum("quantity").alias("total_quantity"),
        )
    )


@register(
    "olap_top10_products_last3m",
    oracle=with_star("""
        , bounds AS (
            SELECT MAX(d.full_date) AS max_date,
                   MAX(d.full_date) - INTERVAL 3 MONTH AS min_date
            FROM fact_sales f JOIN dim_date d USING (date_key)
        )
        SELECT p.stockcode, p.description,
               {rev} AS revenue,
               {qty} AS qty_sold
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        JOIN bounds m ON d.full_date BETWEEN m.min_date AND m.max_date
        JOIN dim_product p USING (product_key)
        GROUP BY p.stockcode, p.description
        ORDER BY revenue DESC, p.stockcode
        LIMIT 10
    """.format(rev=o_money_sum("f.totalamount"), qty=o_int_sum("f.quantity"))),
    tags=("olap", "J5", "T2", "P11"),
    doc="OLAP 2 top-10 products last 3 months — Group No.6_OLAP.sql:29-44 "
        "(range join vs 1-row bounds table → BroadcastNestedLoopJoin)",
)
def olap_top10_products_last3m(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    # Anchor the window on the max date present in the FACT (the MOLAP 4
    # comment's "latest date in your fact table") — dim_date also contains
    # ship dates beyond the last order date, which would empty the window
    # (the reference hit the same pitfall with CURRENT_DATE filters,
    # JoinPerformance.sql commentary §2).
    bounds = (
        s.fact_sales.select("date_key")
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .agg(F.max("full_date").alias("max_date"))
        .select(F.add_months("max_date", -3).alias("min_date"), "max_date")
    )
    # the dim side carries its own broadcast mark; only a mark on the
    # 1-row side too lets the planner build that side instead
    dates = (
        s.dim_date.select("date_key", "full_date")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("full_date").between(F.col("min_date"), F.col("max_date")))
        .select("date_key")
    )
    return (
        s.fact_sales
        .join(F.broadcast(dates), "date_key")
        .join(s.dim_product.select("product_key", "stockcode", "description"), "product_key")
        .groupBy("stockcode", "description")
        .agg(money_sum("totalamount").alias("revenue"), int_sum("quantity").alias("qty_sold"))
        .orderBy(F.desc("revenue"), "stockcode")
        .limit(10)
    )


@register(
    "olap_cltv",
    oracle=with_star("""
        SELECT c.customer_key, c.customerid, c.customername,
               {rev} AS lifetime_revenue,
               strftime(MAX(d.full_date), '%Y-%m-%d') AS last_purchase_date,
               COUNT(DISTINCT f.invoiceid) AS order_count
        FROM dim_customer c
        LEFT JOIN fact_sales f USING (customer_key)
        LEFT JOIN dim_date d ON f.date_key = d.date_key
        GROUP BY c.customer_key, c.customerid, c.customername
    """.format(rev=o_money_sum0("f.totalamount"))),
    tags=("olap", "J3", "A3", "A5", "A12"),
    doc="OLAP 3 customer lifetime value — Group No.6_OLAP.sql:50-59 "
        "(left join keeps zero-revenue customers)",
)
def olap_cltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # aggregate BELOW the outer join: per-customer rollup of the fact
    # first (fact-cardinality → customer-cardinality), then the dim left
    # joins the small aggregate — broadcastable, where dim-LEFT-JOIN-fact
    # would force a sort-merge of the full fact (LeftOuter can't
    # broadcast-build its preserved side). Same result by outer-join
    # algebra; the win grows with fact size.
    s = StarSchema(spark, sf_dir)
    per_customer = (
        s.fact_sales.select("customer_key", "totalamount", "invoiceid", "date_key")
        .join(s.dim_date.select("date_key", "full_date"), "date_key", "left")
        .groupBy("customer_key")
        .agg(
            F.sum("totalamount").alias("_rev"),
            F.max("full_date").alias("_last_date"),
            F.countDistinct("invoiceid").alias("_orders"),
        )
    )
    return (
        s.dim_customer.select("customer_key", "customerid", "customername")
        .join(F.broadcast(per_customer), "customer_key", "left")
        .select(
            "customer_key",
            "customerid",
            "customername",
            F.round(F.coalesce(F.col("_rev"), F.lit(0)), 2)
            .cast("double")
            .alias("lifetime_revenue"),
            iso_date(F.col("_last_date")).alias("last_purchase_date"),
            F.coalesce(F.col("_orders"), F.lit(0)).cast("long").alias("order_count"),
        )
    )


@register(
    "olap_daily_revenue_90d",
    oracle=with_star("""
        , bounds AS (
            SELECT MAX(d.full_date) AS max_date,
                   MAX(d.full_date) - INTERVAL 90 DAY AS min_date
            FROM fact_sales f JOIN dim_date d USING (date_key)
        )
        SELECT strftime(d.full_date, '%Y-%m-%d') AS full_date,
               {rev} AS daily_revenue
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        JOIN bounds r ON d.full_date BETWEEN r.min_date AND r.max_date
        GROUP BY 1
    """.format(rev=o_money_sum("f.totalamount"))),
    tags=("olap", "J5", "P11", "F14"),
    doc="OLAP 4 daily revenue trend last 90 days — Group No.6_OLAP.sql:64-75",
)
def olap_daily_revenue_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    bounds = (
        s.fact_sales.select("date_key")
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .agg(F.max("full_date").alias("max_date"))
        .select(F.date_sub("max_date", 90).alias("min_date"), "max_date")
    )
    # the dim side carries its own broadcast mark; only a mark on the
    # 1-row side too lets the planner build that side instead
    dates = (
        s.dim_date.select("date_key", "full_date")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("full_date").between(F.col("min_date"), F.col("max_date")))
    )
    return (
        s.fact_sales.select("date_key", "totalamount")
        .join(F.broadcast(dates.select("date_key", "full_date")), "date_key")
        .groupBy(iso_date(F.col("full_date")).alias("full_date"))
        .agg(money_sum("totalamount").alias("daily_revenue"))
    )


@register(
    "olap_product_price_revenue",
    oracle=with_star("""
        SELECT p.stockcode, p.description,
               {avg} AS avg_unitprice,
               {rev} AS total_revenue,
               {qty} AS total_quantity
        FROM fact_sales f
        JOIN dim_product p USING (product_key)
        GROUP BY p.stockcode, p.description
    """.format(avg=o_avg2("f.unitprice"), rev=o_money_sum("f.totalamount"), qty=o_int_sum("f.quantity"))),
    tags=("olap", "A4", "A1", "J1", "F16", "F21"),
    doc="OLAP 5 product price vs revenue — Group No.6_OLAP.sql:81-89",
)
def olap_product_price_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales.select("product_key", "unitprice", "totalamount", "quantity")
        .join(s.dim_product.select("product_key", "stockcode", "description"), "product_key")
        .groupBy("stockcode", "description")
        .agg(
            avg2("unitprice").alias("avg_unitprice"),
            money_sum("totalamount").alias("total_revenue"),
            int_sum("quantity").alias("total_quantity"),
        )
    )


@register(
    "olap_cohort_first_purchase",
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
        LEFT JOIN customer_revenue r
               ON r.customer_key = s.customer_key
              AND r.sale_month >= s.signup_month
              AND r.sale_month < (s.signup_month + INTERVAL 3 MONTH)::DATE
        GROUP BY s.signup_month
    """),
    tags=("olap", "J6", "A8", "F13", "F14"),
    doc="OLAP 6 cohort analysis — Group No.6_OLAP.sql:94-121; signup month := "
        "first purchase month (testdata has no signupdate). Non-equi cohort "
        "band join + conditional (manual-pivot) aggregation.",
)
def olap_cohort_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    joined = sg.join(
        r,
        (F.col("r.customer_key") == F.col("s.customer_key"))
        & (F.col("r.sale_month") >= F.col("s.signup_month"))
        & (F.col("r.sale_month") < F.add_months(F.col("s.signup_month"), 3)),
        "left",
    )

    def bucket(k: int, name: str):
        cond = F.col("r.sale_month") == F.add_months(F.col("s.signup_month"), k)
        return F.round(F.sum(F.when(cond, F.col("r.revenue")).otherwise(F.lit(0))), 2).cast("double").alias(name)

    return joined.groupBy(month_str(F.col("s.signup_month")).alias("signup_month")).agg(
        bucket(0, "month0_revenue"), bucket(1, "month1_revenue"), bucket(2, "month2_revenue")
    )


@register(
    "olap_monthly_country_verification",
    oracle=with_star("""
        SELECT strftime(date_trunc('month', d.full_date), '%Y-%m') AS month,
               COALESCE(c.country, 'UNKNOWN') AS country,
               {rev} AS revenue
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        LEFT JOIN dim_customer c USING (customer_key)
        GROUP BY 1, 2
    """.format(rev=o_money_sum("f.totalamount"))),
    tags=("olap", "A7", "J3"),
    doc="OLAP 7 verification query — Group No.6_OLAP.sql:126-136 (GROUP BY on expression)",
)
def olap_monthly_country_verification(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .join(s.dim_customer.select("customer_key", "country"), "customer_key", "left")
        .groupBy(
            month_str(F.trunc("full_date", "month")).alias("month"),
            F.coalesce("country", F.lit("UNKNOWN")).alias("country"),
        )
        .agg(money_sum("totalamount").alias("revenue"))
    )

"""ETL-vs-ELT differential validation suite D1-D10
(Iteration 1/Group No.6_ELT.sql:358-470).

The reference builds the warehouse twice — transform-then-load (ETL.sql)
and load-then-transform (ELT.sql) — and reconciles the two with a suite
of labeled UNION ALL comparisons and diff joins. Our two flavors:

  etl — the DataFrame-DSL star build (sources/star.py StarSchema)
  elt — the Spark-SQL star build (SPARK_STAR_CTE_SQL over raw temp views)

Two independent front-ends into Catalyst; the suite asserts they agree,
and the DuckDB oracle is a third independent computation of the same
quantities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.star import StarSchema, with_star, with_star_spark
from ..sources.tpch import register_views
from .catalog import register


def _elt_sql(spark: SparkSession, sf_dir: str, body: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(with_star_spark(body))


_METRICS_BODY = """
    SELECT '{label}' AS pipeline,
           COUNT(*) AS row_count,
           CAST(ROUND(SUM(totalamount), 2) AS DOUBLE) AS total_revenue,
           (CAST(SUM(unitprice) AS DOUBLE) / COUNT(unitprice)) AS avg_price,
           COUNT(DISTINCT customer_key) AS distinct_customers,
           COUNT(DISTINCT product_key) AS distinct_products,
           CAST(SUM(quantity) AS BIGINT) AS total_quantity
    FROM fact_sales
"""


@register(
    "validation_kpi_summary",
    oracle=with_star(
        _METRICS_BODY.format(label="etl") + " UNION ALL " + _METRICS_BODY.format(label="elt")
    ),
    tags=("validation", "U2", "D1", "D10"),
    doc="D1-D6+D10 KPI summary: row count, revenue, avg price, distinct "
        "customers/products, quantity for both pipeline flavors stacked with "
        "UNION ALL — ELT.sql:358-396,454-470",
)
def validation_kpi_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    etl = s.fact_sales.agg(
        F.count("*").alias("row_count"),
        F.round(F.sum("totalamount"), 2).cast("double").alias("total_revenue"),
        (F.sum("unitprice").cast("double") / F.count("unitprice")).alias("avg_price"),
        F.countDistinct("customer_key").alias("distinct_customers"),
        F.countDistinct("product_key").alias("distinct_products"),
        F.sum("quantity").cast("long").alias("total_quantity"),
    ).select(F.lit("etl").alias("pipeline"), "*")
    elt = _elt_sql(spark, sf_dir, _METRICS_BODY.format(label="elt"))
    return etl.unionByName(elt)


@register(
    "validation_top10_country_revenue",
    oracle=with_star("""
        , rev AS (
            SELECT COALESCE(c.country, 'UNKNOWN') AS country,
                   SUM(f.totalamount) AS revenue
            FROM fact_sales f LEFT JOIN dim_customer c USING (customer_key)
            GROUP BY 1
        )
        SELECT country,
               CAST(ROUND(revenue, 2) AS DOUBLE) AS etl_revenue,
               CAST(ROUND(revenue, 2) AS DOUBLE) AS elt_revenue,
               CAST(ROUND(revenue - revenue, 2) AS DOUBLE) AS diff
        FROM rev
        ORDER BY etl_revenue DESC, country
        LIMIT 10
    """),
    tags=("validation", "D7", "J10", "T2"),
    doc="D7 top-10 country revenue, ETL vs ELT side-by-side with diff — "
        "ELT.sql:400-412 (join of two grouped subqueries)",
)
def validation_top10_country_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    etl = (
        s.fact_sales
        .join(s.dim_customer.select("customer_key", "country"), "customer_key", "left")
        .groupBy(F.coalesce("country", F.lit("UNKNOWN")).alias("country"))
        .agg(F.sum("totalamount").alias("etl_rev"))
    )
    elt = _elt_sql(
        spark, sf_dir,
        """SELECT COALESCE(c.country, 'UNKNOWN') AS country,
                  SUM(f.totalamount) AS elt_rev
           FROM fact_sales f LEFT JOIN dim_customer c USING (customer_key)
           GROUP BY 1""",
    )
    return (
        etl.join(elt, "country", "full")
        .select(
            "country",
            F.round(F.coalesce("etl_rev", F.lit(0)), 2).cast("double").alias("etl_revenue"),
            F.round(F.coalesce("elt_rev", F.lit(0)), 2).cast("double").alias("elt_revenue"),
            F.round(F.coalesce("etl_rev", F.lit(0)) - F.coalesce("elt_rev", F.lit(0)), 2)
            .cast("double")
            .alias("diff"),
        )
        .orderBy(F.desc("etl_revenue"), "country")
        .limit(10)
    )


@register(
    "validation_product_diff_top20",
    oracle=with_star("""
        , rev AS (
            SELECT product_key, SUM(totalamount) AS revenue, CAST(SUM(quantity) AS BIGINT) AS qty
            FROM fact_sales GROUP BY product_key
        )
        SELECT product_key,
               CAST(ROUND(revenue, 2) AS DOUBLE) AS etl_revenue,
               CAST(ROUND(revenue, 2) AS DOUBLE) AS elt_revenue,
               CAST(ROUND(ABS(revenue - revenue), 2) AS DOUBLE) AS abs_diff
        FROM rev
        ORDER BY abs_diff DESC, etl_revenue DESC, product_key
        LIMIT 20
    """),
    tags=("validation", "D8", "F18", "T2"),
    doc="D8 per-product revenue diff ranked by |Δ| — ELT.sql:417-434",
)
def validation_product_diff_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    etl = s.fact_sales.groupBy("product_key").agg(F.sum("totalamount").alias("etl_rev"))
    elt = _elt_sql(
        spark, sf_dir,
        "SELECT product_key, SUM(totalamount) AS elt_rev FROM fact_sales GROUP BY product_key",
    )
    return (
        etl.join(elt, "product_key", "full")
        .select(
            "product_key",
            F.round(F.coalesce("etl_rev", F.lit(0)), 2).cast("double").alias("etl_revenue"),
            F.round(F.coalesce("elt_rev", F.lit(0)), 2).cast("double").alias("elt_revenue"),
            F.round(F.abs(F.coalesce("etl_rev", F.lit(0)) - F.coalesce("elt_rev", F.lit(0))), 2)
            .cast("double")
            .alias("abs_diff"),
        )
        .orderBy(F.desc("abs_diff"), F.desc("etl_revenue"), "product_key")
        .limit(20)
    )


@register(
    "validation_daily_trend_diff",
    oracle=with_star("""
        , daily AS (
            SELECT d.full_date, SUM(f.totalamount) AS revenue
            FROM fact_sales f JOIN dim_date d USING (date_key)
            GROUP BY d.full_date
        )
        SELECT strftime(full_date, '%Y-%m-%d') AS full_date,
               CAST(ROUND(revenue, 2) AS DOUBLE) AS etl_revenue,
               CAST(ROUND(revenue, 2) AS DOUBLE) AS elt_revenue,
               CAST(ROUND(revenue - revenue, 2) AS DOUBLE) AS diff
        FROM daily
    """),
    tags=("validation", "D9"),
    doc="D9 daily revenue trend agreement — ELT.sql:439-449",
)
def validation_daily_trend_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    etl = (
        s.fact_sales
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .groupBy("full_date")
        .agg(F.sum("totalamount").alias("etl_rev"))
    )
    elt = _elt_sql(
        spark, sf_dir,
        """SELECT d.full_date, SUM(f.totalamount) AS elt_rev
           FROM fact_sales f JOIN dim_date d USING (date_key)
           GROUP BY d.full_date""",
    )
    return etl.join(elt, "full_date", "full").select(
        F.date_format("full_date", "yyyy-MM-dd").alias("full_date"),
        F.round(F.coalesce("etl_rev", F.lit(0)), 2).cast("double").alias("etl_revenue"),
        F.round(F.coalesce("elt_rev", F.lit(0)), 2).cast("double").alias("elt_revenue"),
        F.round(F.coalesce("etl_rev", F.lit(0)) - F.coalesce("elt_rev", F.lit(0)), 2)
        .cast("double")
        .alias("diff"),
    )


@register(
    "semantics_null_aggregation",
    oracle="""
        SELECT NULLIF(o_orderpriority, '1-URGENT') AS priority_nn,
               COUNT(*) AS n_rows,
               COUNT(NULLIF(o_orderpriority, '1-URGENT')) AS n_nonnull,
               COUNT(DISTINCT NULLIF(o_orderstatus, 'F')) AS distinct_nonfinal_status,
               CAST(SUM(CAST(NULL AS DECIMAL(18,2))) AS DOUBLE) AS all_null_sum,
               CAST(COALESCE(SUM(CAST(NULL AS DECIMAL(18,2))), 0) AS DOUBLE)
                   AS all_null_sum_coalesced
        FROM orders
        GROUP BY 1
    """,
    tags=("validation", "semantics", "A2", "A12", "F3"),
    doc="SQL NULL-semantics conformance pinned cross-engine: NULLs form "
        "ONE grouping-key group; COUNT(*) counts rows but COUNT(col) "
        "skips NULLs (0 in the all-NULL group); COUNT(DISTINCT) ignores "
        "NULL; SUM over an all-NULL slice is NULL, not 0 — and the "
        "COALESCE(...,0) column is the zero-fill every measure in this "
        "engine uses deliberately (A12). The catalog relies on these "
        "rules everywhere; this entry makes each one an explicit "
        "hash-checked contract instead of an assumption.",
)
def semantics_null_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    o = read_table(spark, sf_dir, "orders")
    pr = F.expr("NULLIF(o_orderpriority, '1-URGENT')")
    st = F.expr("NULLIF(o_orderstatus, 'F')")
    null_dec = F.lit(None).cast("decimal(18,2)")
    return o.groupBy(pr.alias("priority_nn")).agg(
        F.count("*").alias("n_rows"),
        F.count(pr).alias("n_nonnull"),
        F.countDistinct(st).alias("distinct_nonfinal_status"),
        F.sum(null_dec).cast("double").alias("all_null_sum"),
        F.coalesce(F.sum(null_dec), F.lit(0)).cast("double")
            .alias("all_null_sum_coalesced"),
    )


@register(
    "semantics_decimal_rounding",
    oracle="""
        WITH r AS (
            SELECT CAST(o_orderkey % 8 AS INT) AS residue, o_orderkey
            FROM orders
        )
        SELECT residue,
               COUNT(*) AS n_orders,
               CAST(ROUND(CAST(residue AS DECIMAL(10,3)) / 8, 2) AS DOUBLE)
                   AS rounded_eighth,
               CAST(ROUND(SUM(CAST(o_orderkey AS DECIMAL(18,3)) / 8), 2) AS DOUBLE)
                   AS rounded_key_sum
        FROM r
        GROUP BY residue
    """,
    tags=("validation", "semantics", "F16"),
    doc="DECIMAL rounding conformance: eighths (x.125, x.375, ...) sit "
        "EXACTLY on the scale-2 half-way line, where ROUND(decimal) is "
        "half-away-from-zero in BOTH engines (0.125→0.13) while "
        "round(double) would be half-even (0.12) — the precise reason "
        "plans/_helpers.py mandates 'round decimals only, never double "
        "quotients'. This entry makes the rule a hash-checked contract "
        "on real key-derived boundary values instead of a docstring "
        "promise.",
)
def semantics_decimal_rounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    o = read_table(spark, sf_dir, "orders")
    res = (F.col("o_orderkey") % 8).cast("int")
    return o.groupBy(res.alias("residue")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.col("residue").cast("decimal(10,3)") / 8, 2)
            .cast("double").alias("rounded_eighth"),
        F.round(F.sum(F.col("o_orderkey").cast("decimal(18,3)") / 8), 2)
            .cast("double").alias("rounded_key_sum"),
    )


@register(
    "semantics_month_end_arithmetic",
    oracle="""
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               COUNT(*) AS n_orders,
               strftime(last_day(CAST(MIN(o_orderdate) AS DATE)), '%Y-%m-%d') AS eom,
               strftime(CAST(last_day(CAST(MIN(o_orderdate) AS DATE))
                             + INTERVAL 1 MONTH AS DATE), '%Y-%m-%d') AS eom_plus_1m,
               strftime(CAST(last_day(CAST(MIN(o_orderdate) AS DATE))
                             + INTERVAL 11 MONTH AS DATE), '%Y-%m-%d') AS eom_plus_11m
        FROM orders
        GROUP BY 1
    """,
    tags=("validation", "semantics", "F14"),
    doc="Month-end interval arithmetic conformance: adding months to a "
        "month-end date CLAMPS to the target month's last day (Jan 31 + "
        "1 month = Feb 29 in a leap year; Mar 31 + 11 months = Feb 28) "
        "identically in both engines — the rule the YoY lag (W5), "
        "rolling-3M (W4), and cohort-offset entries lean on at month "
        "boundaries. Hash-pinned across every month in the order "
        "domain, leap and non-leap.",
)
def semantics_month_end_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import read_table

    o = read_table(spark, sf_dir, "orders")
    eom = F.last_day(F.min("o_orderdate").cast("date"))
    return o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        F.date_format(eom, "yyyy-MM-dd").alias("eom"),
        F.date_format(
            (eom + F.expr("INTERVAL 1 MONTH")).cast("date"), "yyyy-MM-dd"
        ).alias("eom_plus_1m"),
        F.date_format(
            (eom + F.expr("INTERVAL 11 MONTH")).cast("date"), "yyyy-MM-dd"
        ).alias("eom_plus_11m"),
    )

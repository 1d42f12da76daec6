"""Iteration-3 queries: index/partition study shapes, the materialized
view, and the complex insights queries
(Iteration 3/Group No.6_Indexing_Partitioning.sql).

The reference's optimizations (B-tree/bitmap/composite indexes, range
partitioning, MV) are physical-layout concerns; their Spark analogs are
parquet layout decisions exercised in plans/layout.py + tests. The
*query shapes* those optimizations serve are registered here — each one
written so Catalyst pushes the filter to the parquet scan (the
`PushedFilters` assertions live in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.star import StarSchema, with_star
from ._helpers import money_sum, o_money_sum
from .catalog import register


@register(
    "seqscan_sum_total",
    oracle=with_star(
        "SELECT {rev} AS total_revenue FROM fact_sales".format(rev=o_money_sum("totalamount"))
    ),
    tags=("insights", "A11"),
    doc="Full-scan scalar aggregate baseline — Indexing_Partitioning.sql:16-20. "
        "In Spark this reads exactly one column (totalamount) thanks to "
        "parquet column pruning — the reference's vertical-partitioning "
        "experiment (IP:424-456) built by hand what the format gives free.",
)
def seqscan_sum_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return s.fact_sales.agg(money_sum("totalamount").alias("total_revenue"))


@register(
    "range_filter_sum",
    oracle=with_star("""
        SELECT {rev} AS total_revenue
        FROM fact_sales
        WHERE date_key BETWEEN 19970101000000 AND 19971231235959
    """.format(rev=o_money_sum("totalamount"))),
    tags=("insights", "P5"),
    doc="Smart-key range filter (B-tree analog: parquet min/max row-group "
        "skipping + partition pruning on a date-sorted layout) — "
        "Indexing_Partitioning.sql:24-28, 96",
)
def range_filter_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .filter(F.col("date_key").between(19970101000000, 19971231235959))
        .agg(money_sum("totalamount").alias("total_revenue"))
    )


@register(
    "category_dummy_sales",
    oracle=with_star("""
        SELECT p.category,
               CAST(ROUND(SUM(p.unitprice * 100), 2) AS DOUBLE) AS dummy_sales
        FROM fact_sales f
        JOIN dim_product p USING (product_key)
        GROUP BY p.category
    """),
    tags=("insights", "A7"),
    doc="Low-cardinality grouped agg (bitmap-index analog: dictionary-encoded "
        "parquet column) — Indexing_Partitioning.sql:53-58",
)
def category_dummy_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales.select("product_key")
        .join(s.dim_product.select("product_key", "category", "unitprice"), "product_key")
        .groupBy("category")
        .agg(F.round(F.sum(F.col("unitprice") * 100), 2).cast("double").alias("dummy_sales"))
    )


@register(
    "point_lookup_customer",
    oracle=with_star("SELECT * FROM dim_customer WHERE customer_key = 1000"),
    tags=("insights", "P6"),
    doc="Primary-key point lookup — Indexing_Partitioning.sql:176-190",
)
def point_lookup_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return s.dim_customer.filter(F.col("customer_key") == 1000)


@register(
    "secondary_lookup_customername",
    oracle=with_star("""
        SELECT * FROM dim_customer
        WHERE customername = (SELECT MIN(customername) FROM dim_customer)
    """),
    tags=("insights", "P6", "J9"),
    doc="Secondary-index lookup on a non-key attribute — "
        "Indexing_Partitioning.sql:194-208 (deterministic MIN instead of a "
        "hardcoded name)",
)
def secondary_lookup_customername(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    target = s.dim_customer.agg(F.min("customername").alias("target_name"))
    return (
        s.dim_customer.crossJoin(target)
        .filter(F.col("customername") == F.col("target_name"))
        .drop("target_name")
    )


@register(
    "composite_filter_sum",
    oracle=with_star("""
        SELECT COUNT(*) AS n_rows, {rev} AS revenue
        FROM fact_sales
        WHERE product_key = 25
          AND date_key BETWEEN 19970101000000 AND 19971231235959
    """.format(rev=o_money_sum("totalamount"))),
    tags=("insights", "P5", "P6"),
    doc="Composite multi-column filter (composite-index analog: write-sort by "
        "(product_key, date_key) for correlated row-group skipping) — "
        "Indexing_Partitioning.sql:217-232",
)
def composite_filter_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .filter((F.col("product_key") == 25) & F.col("date_key").between(19970101000000, 19971231235959))
        .agg(F.count("*").alias("n_rows"), money_sum("totalamount").alias("revenue"))
    )


@register(
    "composite_filter_price_sum",
    oracle=with_star("""
        SELECT COUNT(*) AS n_rows, {rev} AS revenue
        FROM fact_sales
        WHERE customer_key = 101
          AND date_key BETWEEN 19970101000000 AND 19991231235959
          AND unitprice > 50
    """.format(rev=o_money_sum("totalamount"))),
    tags=("insights", "P5"),
    doc="Three-column composite filter incl. measure predicate — "
        "Indexing_Partitioning.sql:246-254",
)
def composite_filter_price_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .filter(
            (F.col("customer_key") == 101)
            & F.col("date_key").between(19970101000000, 19991231235959)
            & (F.col("unitprice") > 50)
        )
        .agg(F.count("*").alias("n_rows"), money_sum("totalamount").alias("revenue"))
    )


@register(
    "mv_monthly_category_sales",
    oracle=with_star("""
        SELECT strftime(date_trunc('month', d.full_datetime), '%Y-%m') AS month,
               p.category,
               {rev} AS monthly_revenue,
               (CAST(SUM(f.unitprice) AS DOUBLE) / COUNT(f.unitprice)) AS avg_unitprice,
               COUNT(DISTINCT f.customer_key) AS unique_customers
        FROM fact_sales f
        JOIN dim_product p USING (product_key)
        JOIN dim_date d USING (date_key)
        GROUP BY 1, 2
    """.format(rev=o_money_sum("f.totalamount"))),
    tags=("insights", "S7", "A3"),
    doc="Materialized view mv_monthly_category_sales content — "
        "Indexing_Partitioning.sql:148-158; the refresh/persist cycle is "
        "plans/layout.py::refresh_gold_table",
)
def mv_monthly_category_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .join(s.dim_product.select("product_key", "category", "unitprice").withColumnRenamed("unitprice", "p_unitprice"), "product_key")
        .join(s.dim_date.select("date_key", "full_datetime"), "date_key")
        .groupBy(F.date_format(F.date_trunc("month", "full_datetime"), "yyyy-MM").alias("month"), "category")
        .agg(
            money_sum("totalamount").alias("monthly_revenue"),
            (F.sum("unitprice").cast("double") / F.count("unitprice")).alias("avg_unitprice"),
            F.countDistinct("customer_key").alias("unique_customers"),
        )
    )


@register(
    "top5_customers_by_revenue",
    oracle=with_star("""
        SELECT c.customername, {rev} AS revenue
        FROM fact_sales f
        JOIN dim_customer c USING (customer_key)
        GROUP BY c.customername
        ORDER BY revenue DESC, c.customername
        LIMIT 5
    """.format(rev=o_money_sum("f.totalamount"))),
    tags=("insights", "T2"),
    doc="Top-5 customers by revenue — Indexing_Partitioning.sql:269-275 "
        "(TakeOrderedAndProject: no full sort)",
)
def top5_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales.select("customer_key", "totalamount")
        .join(s.dim_customer.select("customer_key", "customername"), "customer_key")
        .groupBy("customername")
        .agg(money_sum("totalamount").alias("revenue"))
        .orderBy(F.desc("revenue"), "customername")
        .limit(5)
    )


@register(
    "top5_products_monthly_trend",
    oracle=with_star("""
        SELECT p.description,
               strftime(date_trunc('month', d.full_datetime), '%Y-%m') AS month,
               {rev} AS monthly_revenue
        FROM fact_sales f
        JOIN dim_product p USING (product_key)
        JOIN dim_date d USING (date_key)
        GROUP BY 1, 2
        ORDER BY month DESC, monthly_revenue DESC, p.description
        LIMIT 10
    """.format(rev=o_money_sum("f.totalamount"))),
    tags=("insights", "T2"),
    doc="Top products by monthly revenue trend — Indexing_Partitioning.sql:278-291",
)
def top5_products_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .join(s.dim_product.select("product_key", "description"), "product_key")
        .join(s.dim_date.select("date_key", "full_datetime"), "date_key")
        .groupBy("description", F.date_format(F.date_trunc("month", "full_datetime"), "yyyy-MM").alias("month"))
        .agg(money_sum("totalamount").alias("monthly_revenue"))
        .orderBy(F.desc("month"), F.desc("monthly_revenue"), "description")
        .limit(10)
    )


@register(
    "revenue_share_by_category",
    oracle=with_star("""
        SELECT p.category,
               CAST(SUM(f.totalamount) AS DOUBLE)
                 / CAST(SUM(SUM(f.totalamount)) OVER () AS DOUBLE) AS revenue_share
        FROM fact_sales f
        JOIN dim_product p USING (product_key)
        GROUP BY p.category
    """),
    tags=("insights", "W2", "A10"),
    doc="Revenue share by category: grand-total window over an aggregate — "
        "Indexing_Partitioning.sql:295-301 (share left unrounded: engines "
        "disagree on round(double) half-way ties)",
)
def revenue_share_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    per_cat = (
        s.fact_sales.select("product_key", "totalamount")
        .join(s.dim_product.select("product_key", "category"), "product_key")
        .groupBy("category")
        .agg(F.sum("totalamount").alias("rev"))
    )
    grand = Window.partitionBy()
    return per_cat.select(
        "category",
        (F.col("rev").cast("double") / F.sum("rev").over(grand).cast("double")).alias("revenue_share"),
    )


@register(
    "hash_partition_distribution",
    oracle=with_star("""
        SELECT customer_key % 4 AS bucket, COUNT(*) AS n_rows
        FROM fact_sales
        GROUP BY 1
    """),
    tags=("insights", "layout"),
    doc="Hash-partition balance check (MODULUS 4 buckets) — "
        "Indexing_Partitioning.sql:387-413; Spark analog: repartition(4, col)/"
        "bucketBy in plans/layout.py",
)
def hash_partition_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    return (
        s.fact_sales
        .groupBy(F.pmod(F.col("customer_key"), F.lit(4)).alias("bucket"))
        .agg(F.count("*").alias("n_rows"))
    )


@register(
    "vertical_partition_rejoin",
    oracle=with_star("""
        SELECT h.category,
               CAST(SUM(h.unitprice) AS DOUBLE) / COUNT(h.unitprice) AS avg_price,
               COUNT(c.description) AS n_described
        FROM (SELECT product_key, category, unitprice FROM dim_product) h
        JOIN (SELECT product_key, description FROM dim_product) c USING (product_key)
        GROUP BY h.category
    """),
    tags=("insights", "J14"),
    doc="Hot/cold vertical-partition rejoin — Indexing_Partitioning.sql:424-456. "
        "Parquet is columnar, so the 'hot table' is just column pruning; this "
        "query demonstrates the rejoin shape.",
)
def vertical_partition_rejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    hot = s.dim_product.select("product_key", "category", "unitprice")
    cold = s.dim_product.select("product_key", "description")
    return (
        hot.join(cold, "product_key")
        .groupBy("category")
        .agg(
            (F.sum("unitprice").cast("double") / F.count("unitprice")).alias("avg_price"),
            F.count("description").alias("n_described"),
        )
    )

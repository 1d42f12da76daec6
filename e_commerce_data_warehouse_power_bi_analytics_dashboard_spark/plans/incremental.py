"""Incremental materialized-view maintenance: delta-combine refresh.

The reference refreshes its gold tables with a full recompute
(Iteration 3/Group No.6_Indexing_Partitioning.sql REFRESH MATERIALIZED
VIEW). At 100 TB a full recompute per refresh is the wrong plan: the
incremental algebra for distributive measures (SUM, COUNT) is to
aggregate ONLY the newly-arrived delta and group-wise combine it with
the stored MV — one scan of the delta instead of the whole fact.

``mv_incremental_refresh`` demonstrates exactly that and its oracle is
the FULL recompute: equality proves the delta-combine is lossless.
Because the per-group sums are exact DECIMAL, additive combination is
exact regardless of how the fact was split. (Non-distributive measures
— COUNT DISTINCT, percentiles — need sketch merges or partition-scoped
overwrite instead; see sketch_distinct_comparison for the HLL path.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.star import StarSchema, with_star
from ._helpers import o_money_sum
from .catalog import register

#: facts on/after this month arrive as "the delta batch" in the scenario
CUTOFF_MONTH = "2000-01"


@register(
    "mv_incremental_refresh",
    oracle=with_star("""
        SELECT strftime(date_trunc('month', d.full_datetime), '%Y-%m') AS month,
               p.category,
               {rev} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM fact_sales f
        JOIN dim_product p USING (product_key)
        JOIN dim_date d USING (date_key)
        GROUP BY 1, 2
    """.format(rev=o_money_sum("f.totalamount"))),
    tags=("layout", "S7", "MV", "incremental"),
    doc="Incremental MV refresh: base MV (months < %s) additively "
        "combined with the delta batch's aggregate via full-outer merge "
        "on the group key. Oracle = full recompute; equality proves the "
        "delta-combine is lossless." % CUTOFF_MONTH,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = StarSchema(spark, sf_dir)
    lines = (
        s.fact_sales
        .join(s.dim_product.select("product_key", "category"), "product_key")
        .join(s.dim_date.select("date_key", "full_datetime"), "date_key")
        .select(
            F.date_format(F.date_trunc("month", "full_datetime"), "yyyy-MM").alias("month"),
            "category",
            "totalamount",
        )
    )

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("month", "category").agg(
            F.sum("totalamount").alias("rev_dec"),
            F.count("*").cast("long").alias("n_lines"),
        )

    # the stored MV: everything before the cutoff (in production this is
    # the persisted gold table, not recomputed — see refresh_gold_table)
    base = agg(lines.filter(F.col("month") < CUTOFF_MONTH))
    # the newly-arrived batch: one scan of the delta only
    delta = agg(lines.filter(F.col("month") >= CUTOFF_MONTH))

    merged = base.alias("b").join(
        delta.alias("d"), ["month", "category"], "full_outer"
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return merged.select(
        "month",
        "category",
        F.round(
            F.coalesce(F.col("b.rev_dec"), zero) + F.coalesce(F.col("d.rev_dec"), zero), 2
        ).cast("double").alias("revenue"),
        (
            F.coalesce(F.col("b.n_lines"), F.lit(0))
            + F.coalesce(F.col("d.n_lines"), F.lit(0))
        ).cast("long").alias("n_lines"),
    )

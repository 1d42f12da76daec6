"""Aggregate rewrite to the MOLAP gold table (SURVEY §4 optional item).

The reference's analysts query the materialized summary instead of the
fact star when the question is answerable at monthly grain
(Indexing_Partitioning.sql:146-166's hand rewrite onto
mv_monthly_category_sales; the MOLAP cubes of MOLAP.sql:19-73 exist for
exactly this). A true Catalyst rewrite rule needs a JVM extension, so
the PySpark-native equivalent is a SEMANTIC ROUTER — the same contract
BI pre-aggregation layers implement: callers state a logical rollup
request (dims + measures), and the router serves it from the
session-materialized monthly gold parquet when every requested dim and
measure is derivable from the cube's grain, falling back to the fact
star otherwise. tests/test_rewrite.py proves (a) the routed and
unrewritten plans return identical rows and (b) the gold-served plan
never touches the fact tables (no lineitem/orders scan).

Determinism under re-aggregation: the gold cube stores total_revenue as
an exact 2-decimal value (decimal sum, terminal round) surfaced as
DOUBLE; rolling further up casts it BACK to DECIMAL(18,2) before
summing, so the rollup is order-independent and bit-identical to the
DuckDB oracle twin. order_count is additive across gold cells because
an invoice determines exactly one (month, country) cell: one order has
one o_orderdate (→ month) and one customer (→ country), so COUNT
DISTINCT at gold grain sums losslessly — the standard additivity
precondition for serving distinct counts from a pre-aggregate.

At 100 TB this routing is the difference between scanning the fact and
scanning a cube ~10⁴× smaller; the gold parquet is the same artifact
plans/layout.py's MV refresh maintains.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.star import StarSchema, with_star
from ._helpers import int_sum, money_sum, month_str, o_int_sum, o_money_sum
from .catalog import register
from .layout import ensure_layout, scratch_path
from .molap import _O_MONTH_CTE, molap_month_country

#: the gold cube's grain and the measures it can serve, with their
#: re-aggregation expressions (see module docstring for why each is
#: validly additive across cube cells)
GOLD_GRAIN = frozenset({"month", "country"})
GOLD_MEASURES = {
    "total_revenue": lambda: F.round(
        F.sum(F.col("total_revenue").cast("decimal(18,2)")), 2
    ).cast("double"),
    "total_quantity": lambda: F.sum("total_quantity").cast("long"),
    "order_count": lambda: F.sum("order_count").cast("long"),
}


def _gold_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the monthly gold cube once per session (the MOLAP
    CTAS, MOLAP.sql:19-30) and return its parquet path."""
    path = scratch_path(sf_dir, "gold_month_country")
    ensure_layout(
        spark, sf_dir, "gold_month_country",
        lambda: molap_month_country(spark, sf_dir).write.mode("overwrite").parquet(path),
    )
    return path


def can_serve_from_gold(dims: list[str], measures: list[str]) -> bool:
    return set(dims) <= GOLD_GRAIN and set(measures) <= set(GOLD_MEASURES)


def monthly_rollup(
    spark: SparkSession, sf_dir: str, dims: list[str], measures: list[str]
) -> tuple[DataFrame, str]:
    """Serve a monthly-grain-or-coarser rollup, routed to the gold cube
    when derivable. Returns (frame, source) with source in
    {"gold", "fact"} so callers/tests can assert the routing decision.
    """
    if not dims or not measures:
        raise ValueError("monthly_rollup needs at least one dim and one measure")
    unknown = set(measures) - set(GOLD_MEASURES)
    if unknown:
        raise ValueError(f"unknown measures: {sorted(unknown)}")
    if can_serve_from_gold(dims, measures):
        gold = spark.read.parquet(_gold_path(spark, sf_dir))
        aggs = [GOLD_MEASURES[m]().alias(m) for m in measures]
        return gold.groupBy(*dims).agg(*aggs), "gold"
    return _rollup_from_fact(spark, sf_dir, dims, measures), "fact"


#: dim name -> column builder over the joined star (fact ⋈ dims)
_FACT_DIMS = {
    "month": lambda: month_str(F.trunc("full_date", "month")).alias("month"),
    "country": lambda: F.coalesce("country", F.lit("UNKNOWN")).alias("country"),
    "mktsegment": lambda: F.col("mktsegment").alias("mktsegment"),
}

_FACT_MEASURES = {
    "total_revenue": lambda: money_sum("totalamount"),
    "total_quantity": lambda: int_sum("quantity"),
    "order_count": lambda: F.countDistinct("invoiceid"),
}


def _rollup_from_fact(
    spark: SparkSession, sf_dir: str, dims: list[str], measures: list[str]
) -> DataFrame:
    """The unrewritten path: same semantics straight off the star."""
    bad = set(dims) - set(_FACT_DIMS)
    if bad:
        raise ValueError(f"unknown dims: {sorted(bad)}")
    s = StarSchema(spark, sf_dir)
    joined = (
        s.fact_sales
        .join(s.dim_date.select("date_key", "full_date"), "date_key")
        .join(
            s.dim_customer.select("customer_key", "country", "mktsegment"),
            "customer_key",
            "left",
        )
    )
    dim_cols = [_FACT_DIMS[d]() for d in dims]
    aggs = [_FACT_MEASURES[m]().alias(m) for m in measures]
    return joined.groupBy(*dim_cols).agg(*aggs)


# ---------------------------------------------------------------------------
# catalog entries — routed rollups, oracle-checked
# ---------------------------------------------------------------------------

_O_GOLD_CTE = _O_MONTH_CTE + """
, gold AS (
    SELECT strftime(dm.month, '%Y-%m') AS month,
           COALESCE(c.country, 'UNKNOWN') AS country,
           {rev} AS total_revenue,
           {qty} AS total_quantity,
           COUNT(DISTINCT f.invoiceid) AS order_count
    FROM fact_sales f
    JOIN date_month dm USING (date_key)
    LEFT JOIN dim_customer c USING (customer_key)
    GROUP BY dm.month, COALESCE(c.country, 'UNKNOWN')
)
""".format(rev=o_money_sum("f.totalamount"), qty=o_int_sum("f.quantity"))


@register(
    "rewrite_country_rollup_from_gold",
    oracle=with_star(_O_GOLD_CTE + """
        SELECT country,
               CAST(ROUND(SUM(CAST(total_revenue AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS total_revenue,
               CAST(SUM(total_quantity) AS BIGINT) AS total_quantity,
               CAST(SUM(order_count) AS BIGINT) AS order_count
        FROM gold
        GROUP BY country
    """),
    tags=("rewrite", "molap", "S7"),
    doc="Country rollup ROUTED TO THE GOLD CUBE (monthly_rollup — the "
        "aggregate-rewrite analog of Indexing_Partitioning.sql:146-166): "
        "the oracle re-aggregates the cube exactly as the router does "
        "(decimal re-cast before the second-level sum); equality with the "
        "unrewritten fact path is asserted in tests/test_rewrite.py",
)
def rewrite_country_rollup_from_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, source = monthly_rollup(
        spark, sf_dir, ["country"], ["total_revenue", "total_quantity", "order_count"]
    )
    if source != "gold":
        # the routing decision IS this entry's claim (both paths return
        # equal rows, so the oracle alone can't catch a mis-route); a
        # bare assert would vanish under python -O
        raise RuntimeError(f"router served country rollup from {source!r}, expected gold")
    return df


@register(
    "rewrite_segment_rollup_fallback",
    oracle=with_star("""
        SELECT c.mktsegment AS mktsegment,
               {rev} AS total_revenue,
               COUNT(DISTINCT f.invoiceid) AS order_count
        FROM fact_sales f
        JOIN dim_date d USING (date_key)
        LEFT JOIN dim_customer c USING (customer_key)
        GROUP BY 1
    """.format(rev=o_money_sum("f.totalamount"))),
    tags=("rewrite", "molap"),
    doc="Segment rollup FALLING BACK to the fact star: mktsegment is not "
        "in the gold grain, so the router must take the unrewritten path "
        "(asserted in tests/test_rewrite.py) — the guard that the rewrite "
        "never serves a question the cube cannot answer",
)
def rewrite_segment_rollup_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, source = monthly_rollup(
        spark, sf_dir, ["mktsegment"], ["total_revenue", "order_count"]
    )
    if source != "fact":
        raise RuntimeError(f"router served segment rollup from {source!r}, expected fact")
    return df

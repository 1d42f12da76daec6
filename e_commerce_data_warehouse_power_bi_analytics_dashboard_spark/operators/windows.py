"""Time-intelligence window operators (DAX measures 8-13; SURVEY §2.5 W3-W6).

All four operate on an already-aggregated period grain (months/years),
so the global ``Window.orderBy`` single-partition constraint applies to
at most a few hundred rows — the expensive part (the fact aggregation)
is a fully parallel hash agg. This is the correct 100 TB shape: shrink
first, then window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def monthly_revenue(fact: DataFrame, dim_date: DataFrame) -> DataFrame:
    """Measure 10: revenue at month grain. Returns (month_start date, revenue decimal)."""
    return (
        fact.join(dim_date.select("date_key", "full_date"), "date_key")
        .groupBy(F.trunc("full_date", "month").alias("month_start"))
        .agg(F.sum("totalamount").alias("revenue"))
    )


def cumulative_revenue(monthly: DataFrame) -> DataFrame:
    """Measure 13 (W3): running total — DAX FILTER(ALL(dates), d <= MAX(d)).

    Exact decimal running sum over the month axis; one row per month so
    the frame is ROWS UNBOUNDED PRECEDING..CURRENT.
    """
    w = Window.orderBy("month_start").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        "month_start",
        F.round(F.sum("revenue").over(w), 2).cast("double").alias("cumulative_revenue"),
    )


def rolling_3m_revenue(monthly: DataFrame) -> DataFrame:
    """Measure 12 (W4): DAX DATESINPERIOD(..., -3, MONTH) trailing window.

    RANGE frame over a dense month index (year*12+month) so calendar gaps
    are respected — a ROWS frame would silently span gaps.
    """
    midx = (F.year("month_start") * 12 + F.month("month_start")).alias("midx")
    w = Window.orderBy("midx").rangeBetween(-2, 0)
    return (
        monthly.select("month_start", midx, "revenue")
        .select(
            "month_start",
            F.round(F.sum("revenue").over(w), 2).cast("double").alias("rolling_3m_revenue"),
        )
    )


def yoy_growth(fact: DataFrame, dim_date: DataFrame) -> DataFrame:
    """Measure 8 (W5): YoY growth % — DAX CALCULATE(rev, DATEADD(-1, YEAR)).

    Yearly agg then lag; growth left as a raw double quotient ×100.
    """
    yearly = (
        fact.join(dim_date.select("date_key", "year"), "date_key")
        .groupBy("year")
        .agg(F.sum("totalamount").alias("revenue"))
    )
    w = Window.orderBy("year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "year",
        F.round("revenue", 2).cast("double").alias("revenue"),
        (
            (F.col("revenue").cast("double") - prev.cast("double")) / prev.cast("double") * 100
        ).alias("yoy_growth_pct"),
    )


def top_region_label(fact: DataFrame, dim_customer: DataFrame) -> DataFrame:
    """Measure 9 (W6): TOPN(1, VALUES(country), [revenue]) rendered as a label.

    Deterministic tiebreak on country name; label formats the floored
    revenue with thousands separators (DAX FORMAT(x, "#,##0") analog).
    """
    per_country = (
        fact.join(dim_customer.select("customer_key", "country"), "customer_key")
        .groupBy("country")
        .agg(F.sum("totalamount").alias("revenue"))
        .orderBy(F.desc("revenue"), "country")
        .limit(1)
    )
    return per_country.select(
        "country",
        F.round("revenue", 2).cast("double").alias("revenue"),
        F.concat(
            F.col("country"),
            F.lit(" — "),
            F.format_number(F.floor("revenue").cast("long"), 0),
        ).alias("top_region_label"),
    )

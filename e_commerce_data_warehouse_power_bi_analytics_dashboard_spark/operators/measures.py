"""The 14-measure semantic registry (SURVEY §2.10).

The reference's DAX measure layer (Iteration 4/Group No.6_DAX.txt.docx
measures 1-7, Group No.6_AdvancedDAX.txt.docx measures 8-14) is its
"semantic UDF surface": named, filter-context-aware computations over the
star model. Here each measure is a Spark Column expression (or a
DataFrame-level function for the time-intelligence ones in
operators/windows.py) — no Python UDFs, zero serialization overhead.

Filter context is kept explicit (SURVEY §7 hard-part (c)): callers pass
``filters`` (applied to the fact before aggregation) and ``group_cols``
— we deliberately do not build a generic CALCULATE engine.

Numeric discipline: revenue is an exact decimal sum surfaced as a
rounded double; every ratio (DIVIDE) is a raw IEEE double quotient —
never a rounded one (cross-engine round(double) ties differ).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def safe_divide(n: Column, d: Column) -> Column:
    """DAX DIVIDE(a,b): null on division by zero (DAX measures 3,4,6,7)."""
    return F.when(d != 0, n / d)


def _revenue() -> Column:
    return F.round(F.sum("totalamount"), 2).cast("double")


#: measure name -> aggregate Column factory (single-pass measures).
#: DAX source: measure number per measures_view.png / SURVEY §2.10 table.
SCALAR_MEASURES: dict[str, Callable[[], Column]] = {
    # 1 Total Revenue = SUM(fact[Total Amount])
    "total_revenue": _revenue,
    # 2 Total Orders = DISTINCTCOUNT(fact[Invoice ID])
    "total_orders": lambda: F.countDistinct("invoiceid"),
    # 3 ARPO = DIVIDE([Total Revenue],[Total Orders])
    "arpo": lambda: safe_divide(_revenue(), F.countDistinct("invoiceid")),
    # 5 Total Quantity = SUM(fact[Quantity])
    "total_quantity": lambda: F.sum("quantity").cast("long"),
    # 6 ARPU = DIVIDE([Total Revenue],[Total Quantity])
    "arpu": lambda: safe_divide(_revenue(), F.sum("quantity").cast("long")),
    # 7 Revenue per Customer = DIVIDE([Total Revenue], DISTINCTCOUNT(fact[Customer Key]))
    "revenue_per_customer": lambda: safe_divide(_revenue(), F.countDistinct("customer_key")),
    # 11 High Value Sales = COUNTROWS(FILTER(fact, totalamount > 1000))
    "high_value_sales": lambda: F.count(F.when(F.col("totalamount") > 1000, 1)),
    # 14 Avg Order Size per Customer = AVERAGEX(VALUES(customer_key), SUM(qty))
    #    = total quantity / distinct customers in context (exact two-level agg)
    "avg_order_size_per_customer": lambda: safe_divide(
        F.sum("quantity").cast("double"), F.countDistinct("customer_key")
    ),
}


def evaluate(
    fact: DataFrame,
    measures: list[str] | None = None,
    group_cols: list[str] | None = None,
    filters: list[Column] | None = None,
    dim_customer: DataFrame | None = None,
) -> DataFrame:
    """Evaluate scalar measures under an explicit filter/group context.

    ``arpc`` (measure 4: revenue / DISTINCTCOUNT(customers[Customer ID]))
    counts the *customer dimension*, not fact keys, so it needs
    ``dim_customer``; it is appended via a 1-row broadcast cross-join when
    requested ungrouped.
    """
    measures = measures or list(SCALAR_MEASURES)
    wants_arpc = "arpc" in measures
    measures = [m for m in measures if m != "arpc"]

    # validate the whole measure list BEFORE constructing any plan so
    # every contract violation surfaces as the friendly ValueError, not
    # an unresolved-column AnalysisException from a half-built plan
    unknown = [m for m in measures if m not in SCALAR_MEASURES]
    if unknown:
        raise ValueError(f"unknown measures: {unknown}; available: {sorted(SCALAR_MEASURES)}")
    if wants_arpc:
        if dim_customer is None:
            raise ValueError("measure 'arpc' requires dim_customer")
        if group_cols:
            raise ValueError("arpc is defined against the whole customer dim; evaluate it ungrouped")
        if "total_revenue" not in measures:
            raise ValueError("arpc needs total_revenue in the same evaluation")

    for f in filters or []:
        fact = fact.filter(f)
    aggs = [SCALAR_MEASURES[m]().alias(m) for m in measures]
    out = fact.groupBy(*(group_cols or [])).agg(*aggs) if (group_cols or aggs) else fact
    if wants_arpc:
        n_cust = dim_customer.agg(F.countDistinct("customerid").alias("_n_customers"))
        out = (
            out.crossJoin(n_cust)
            .withColumn("arpc", safe_divide(F.col("total_revenue"), F.col("_n_customers")))
            .drop("_n_customers")
        )
    return out

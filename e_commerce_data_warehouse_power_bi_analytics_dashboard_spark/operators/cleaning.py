"""The cleaning operator library — the reference's ETL/ELT transform
semantics (Group No.6_ETL.sql:82-233, Group No.6_ELT.sql:83-264)
re-expressed as DataFrame operators over all-string staging inputs.

Load-bearing semantics preserved exactly (SURVEY §7 hard-part (d)):
  - TRIM/INITCAP/NULLIF string conforming (F1-F3)
  - regex-gated casts: currency stripping + numeric gate before cast
    (F5-F7; regexes avoid backslashes so Spark/Java and DuckDB/RE2 agree)
  - exact continuous median fallback for missing prices (A9,
    PERCENTILE_CONT — percentile(), not percentile_approx)
  - join-update price fix from the product dim (P9), totalamount
    recompute ROUND(qty*price,2) (P10)
  - two accepted timestamp formats, else NULL (F8), date_key default
    19700101000000 for unparseable timestamps (E:338, L:253)
  - blank business keys dropped (P2/P7), latest-wins dedup (W1)
  - reject capture with reason + JSON row payload (S8/J7, E:373-394)

Scale: every step is a narrow projection/filter (pipelined, no shuffle)
except the median (one tiny aggregate, broadcast back) and the dedup
window (one shuffle on the business key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import latest_wins

#: character-class regexes written without backslashes so the same text
#: means the same thing in Java regex (Spark) and RE2 (DuckDB oracle)
CURRENCY_STRIP = "[^0-9.-]"
NUMERIC_GATE = "^-?[0-9]+([.][0-9]+)?$"
INT_STRIP = "[^0-9-]"
INT_GATE = "^-?[0-9]+$"
ISO_TS_GATE = "^[0-9]{4}-[0-9]{2}-[0-9]{2}( [0-9]{2}:[0-9]{2}(:[0-9]{2})?)?$"
DMY_TS_GATE = "^[0-9]{2}/[0-9]{2}/[0-9]{4}( [0-9]{2}:[0-9]{2}(:[0-9]{2})?)?$"
NULL_DATE_KEY = 19700101000000


def _clean_str(c: str) -> F.Column:
    """INITCAP(NULLIF(TRIM(x), '')) — the universal string conformer."""
    return F.initcap(F.nullif(F.trim(F.col(c)), F.lit("")))


def parse_money(c: str) -> F.Column:
    """Regex-gated currency parse: strip symbols, cast if numeric, else NULL.

    try_cast, not cast: the gate checks SHAPE only — a shape-valid value
    can still overflow DECIMAL(12,2) (15-digit garbage), which must
    quarantine as NULL, not kill the job under ANSI casts.
    """
    stripped = F.regexp_replace(F.trim(F.col(c)), CURRENCY_STRIP, "")
    return F.when(stripped.rlike(NUMERIC_GATE), stripped.try_cast("decimal(12,2)"))


def parse_int(c: str) -> F.Column:
    stripped = F.regexp_replace(F.trim(F.col(c)), INT_STRIP, "")
    return F.when(stripped.rlike(INT_GATE), stripped.try_cast("int"))


def parse_ts(c: str) -> F.Column:
    """Two accepted formats (ISO and DD/MM/YYYY), gated by regex, else
    NULL. try_* variants: shape-valid inputs with impossible field
    values (month 45, hour 99) must yield NULL, not raise."""
    t = F.trim(F.col(c))
    return (
        F.when(t.rlike(ISO_TS_GATE), t.try_cast("timestamp"))
        .when(t.rlike(DMY_TS_GATE), F.try_to_timestamp(t, F.lit("dd/MM/yyyy HH:mm:ss")))
    )


def smart_date_key(ts: F.Column) -> F.Column:
    """BIGINT yyyyMMddHHmmss; NULL timestamp → 19700101000000 (E:338)."""
    return F.coalesce(
        F.date_format(ts, "yyyyMMddHHmmss").cast("long"), F.lit(NULL_DATE_KEY)
    )


def clean_customers(stg: DataFrame) -> DataFrame:
    """ETL.sql:83-107: conform strings, gated date cast, drop blank ids,
    latest-signup-wins dedup."""
    parsed = (
        stg.filter(F.coalesce(F.trim("customerid"), F.lit("")) != "")
        .select(
            F.trim("customerid").alias("customerid"),
            _clean_str("customername").alias("customername"),
            _clean_str("country").alias("country"),
            F.when(
                F.trim(F.col("signupdate")).rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
                F.trim(F.col("signupdate")).try_cast("date"),
            ).alias("signupdate"),
        )
    )
    return latest_wins(parsed, "customerid", "signupdate", "customerid")


def clean_products(stg: DataFrame) -> DataFrame:
    """ETL.sql:117-143: conform, currency-strip prices, DISTINCT, median
    fallback for unparseable prices. Output price is an unrounded double
    (decimal where parsed; interpolated-median double where not)."""
    cleaned = (
        stg.filter(F.coalesce(F.trim("stockcode"), F.lit("")) != "")
        .select(
            F.trim("stockcode").alias("stockcode"),
            _clean_str("description").alias("description"),
            _clean_str("category").alias("category"),
            _clean_str("brand").alias("brand"),
            parse_money("unitprice").alias("unitprice_raw"),
        )
        .distinct()
    )
    # exact continuous median, quantized to whole cents (floor) so the
    # fallback price is a true 2-decimal value — keeps every downstream
    # ROUND(qty*price, 2) exact and engine-agnostic
    median = cleaned.agg(
        (F.floor(F.expr("percentile(CAST(unitprice_raw AS DOUBLE), 0.5)") * 100) / 100.0)
        .alias("_median_price")
    )
    return (
        cleaned.crossJoin(median)
        .withColumn(
            "unitprice",
            F.coalesce(F.col("unitprice_raw").cast("double"), F.col("_median_price")),
        )
        .drop("unitprice_raw", "_median_price")
    )


def clean_sales(stg: DataFrame, products_clean: DataFrame) -> DataFrame:
    """ETL.sql:155-194: parse numerics/timestamps, fix bad unit prices
    from the product dim (P9), recompute totalamount (P10), delete rows
    with blank invoice/stockcode (P7)."""
    parsed = stg.select(
        F.trim("invoiceid").alias("invoiceid"),
        F.trim("stockcode").alias("stockcode"),
        _clean_str("description").alias("description"),
        F.trim("customerid").alias("customerid"),
        parse_ts("date").alias("dt_ts"),
        parse_int("quantity").alias("quantity_num"),
        parse_money("unitprice").cast("double").alias("unitprice_num"),
        parse_money("totalamount").cast("decimal(18,2)").alias("totalamount_num"),
    )
    deleted = parsed.filter(
        (F.coalesce(F.col("invoiceid"), F.lit("")) != "")
        & (F.coalesce(F.col("stockcode"), F.lit("")) != "")
    )
    p = F.broadcast(products_clean.select("stockcode", F.col("unitprice").alias("_p_price")))
    fixed_price = (
        deleted.join(p, "stockcode", "left")
        .withColumn(
            "unitprice_num",
            F.when(
                F.col("unitprice_num").isNull() | (F.col("unitprice_num") <= 0),
                F.col("_p_price"),
            ).otherwise(F.col("unitprice_num")),
        )
        .drop("_p_price")
    )
    return fixed_price.withColumn(
        "totalamount_num",
        F.when(
            (F.col("totalamount_num").isNull() | (F.col("totalamount_num") == 0))
            & F.col("quantity_num").isNotNull()
            & F.col("unitprice_num").isNotNull(),
            F.round(F.col("quantity_num") * F.col("unitprice_num"), 2).cast("decimal(18,2)"),
        ).otherwise(F.col("totalamount_num")),
    )


def build_dim_date(date_strings: DataFrame, sales_clean: DataFrame) -> DataFrame:
    """ETL.sql:202-233: UNION of the date-table domain and sales
    timestamps (U1), then second-granularity component extraction."""
    domain = (
        date_strings.select(parse_ts("date").alias("parsed_ts"))
        .union(sales_clean.select(F.col("dt_ts")))
        .filter(F.col("parsed_ts").isNotNull())
        .distinct()
    )
    t = F.col("parsed_ts")
    return domain.select(
        F.date_format(t, "yyyyMMddHHmmss").cast("long").alias("date_key"),
        t.alias("full_datetime"),
        t.cast("date").alias("full_date"),
        F.date_format(t, "HH:mm:ss").alias("full_time"),
        F.year(t).alias("year"),
        F.month(t).alias("month"),
        F.dayofmonth(t).alias("day"),
        F.hour(t).alias("hour"),
        F.minute(t).alias("minute"),
        F.floor(F.second(t)).cast("int").alias("second"),
        F.date_format(t, "EEEE").alias("weekday"),
        F.dayofweek(t).isin(1, 7).alias("is_weekend"),
        F.quarter(t).alias("quarter"),
    )


def build_fact_with_rejects(
    sales_clean: DataFrame, products_clean: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """ETL.sql:334-351 + ELT.sql:296-320: dimension lookup plus the
    classified error log.

    ``fact``: rows passing the product-dimension lookup load with the
    null-timestamp smart-key default and quantity coalesced to 0
    (ETL.sql:334-351).

    ``rejects``: the reference's error-log semantics — an INDEPENDENT
    classified log, not the set-complement of fact (ELT.sql:296-320
    logs any row whose product/date mapping fails or whose quantity is
    unparseable, even when the fact load still accepts it with a
    default). Reasons follow the reference's CASE priority
    (combined-miss first, then product, then date, then quantity), and
    each row carries a JSON payload of its business keys
    (to_json(struct(...)) ≙ to_jsonb(row), ETL.sql:385) plus a
    rejected_at audit timestamp.
    """
    p = F.broadcast(products_clean.select("stockcode").withColumn("_p_hit", F.lit(1)))
    joined = sales_clean.join(p, "stockcode", "left")
    fact = joined.filter(F.col("_p_hit").isNotNull()).select(
        "invoiceid",
        "stockcode",
        "customerid",
        smart_date_key(F.col("dt_ts")).alias("date_key"),
        F.coalesce("quantity_num", F.lit(0)).alias("quantity"),
        F.col("unitprice_num").cast("decimal(12,2)").alias("unitprice"),
        F.col("totalamount_num").alias("totalamount"),
        F.current_timestamp().alias("load_ts"),
    )
    p_miss = F.col("_p_hit").isNull()
    dt_miss = F.col("dt_ts").isNull()
    qty_miss = F.col("quantity_num").isNull()
    rejects = (
        joined.filter(p_miss | dt_miss | qty_miss)
        .withColumn(
            "reject_reason",
            F.when(p_miss & dt_miss, "Missing product AND date mapping")
            .when(p_miss, "Missing product mapping")
            .when(dt_miss, "Missing date mapping")
            .otherwise("Missing quantity"),
        )
        .drop("_p_hit")
        .select(
            "*",
            F.to_json(F.struct("invoiceid", "stockcode", "customerid")).alias("source_row"),
            F.current_timestamp().alias("rejected_at"),
        )
    )
    return fact, rejects

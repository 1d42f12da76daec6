"""Catalog entries for the cleaning/staging pipeline (SURVEY §2.2, §2.8).

The driver testdata is clean, so each entry first *dirties* it
deterministically (dialect-paired CTEs over part / lineitem⋈orders,
injecting exactly the FIXTURES.md §A dirt classes: whitespace, blanks,
currency symbols, two timestamp formats, garbage values, orphan keys) and
then runs the cleaning operators. The DuckDB oracle replicates both the
dirt and the reference cleaning semantics in SQL — a genuinely
independent reimplementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cleaning as C
from ..sources.artifacts import persisted
from ..sources.tpch import register_views
from .catalog import register

# ---------------------------------------------------------------------------
# dirty staging builders (dialect pair; kept textually parallel)
# ---------------------------------------------------------------------------

_PRICE = "CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS {str_t})"
_LPRICE = "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS {str_t})"
_LTOTAL = (
    "CAST(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2))), 2) AS DECIMAL(18,2)) AS {str_t})"
)

_STG_PRODUCTS = """
stg_products AS (
    SELECT
        CASE WHEN p_partkey % 19 = 0 THEN '   '
             ELSE concat('  P', CAST(p_partkey AS {str_t}), ' ') END AS stockcode,
        CASE WHEN p_partkey % 3 = 0 THEN upper(p_name) ELSE p_name END AS description,
        CASE WHEN p_partkey % 7 = 0 THEN concat('$', {price})
             WHEN p_partkey % 7 = 1 THEN 'N/A'
             WHEN p_partkey % 7 = 2 THEN concat({price}, ' USD')
             ELSE {price} END AS unitprice,
        p_type AS category,
        CASE WHEN p_partkey % 5 = 0 THEN lower(p_brand) ELSE upper(p_brand) END AS brand
    FROM part
)
"""

_STG_SALES = """
stg_sales AS (
    SELECT
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 23 = 0 THEN ' '
             ELSE CAST(l_orderkey AS {str_t}) END AS invoiceid,
        CASE WHEN l_partkey % 13 = 0 THEN concat('XX', CAST(l_partkey AS {str_t}))
             ELSE concat('P', CAST(l_partkey AS {str_t})) END AS stockcode,
        'item' AS description,
        CAST(o_custkey AS {str_t}) AS customerid,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 5 = 0 THEN {fmt_dmy}
             WHEN (l_orderkey * 10 + l_linenumber) % 5 = 1 THEN 'not a date'
             ELSE {fmt_iso} END AS date,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 11 = 0
                 THEN concat(CAST(CAST(FLOOR(l_quantity) AS INT) AS {str_t}), ' pcs')
             WHEN (l_orderkey * 10 + l_linenumber) % 11 = 1 THEN ''
             ELSE CAST(CAST(FLOOR(l_quantity) AS INT) AS {str_t}) END AS quantity,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 9 = 0 THEN '-1.00'
             WHEN (l_orderkey * 10 + l_linenumber) % 9 = 1 THEN ''
             ELSE {lprice} END AS unitprice,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 8 = 0 THEN '0'
             WHEN (l_orderkey * 10 + l_linenumber) % 8 = 1 THEN ''
             ELSE {ltotal} END AS totalamount
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
"""


def _dirty_products_sql(spark_dialect: bool) -> str:
    str_t = "STRING" if spark_dialect else "VARCHAR"
    return _STG_PRODUCTS.format(str_t=str_t, price=_PRICE.format(str_t=str_t))


def _dirty_sales_sql(spark_dialect: bool) -> str:
    str_t = "STRING" if spark_dialect else "VARCHAR"
    if spark_dialect:
        fmt_dmy = "date_format(o_orderdate, 'dd/MM/yyyy HH:mm:ss')"
        fmt_iso = "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')"
    else:
        fmt_dmy = "strftime(o_orderdate, '%d/%m/%Y %H:%M:%S')"
        fmt_iso = "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')"
    return _STG_SALES.format(
        str_t=str_t,
        fmt_dmy=fmt_dmy,
        fmt_iso=fmt_iso,
        lprice=_LPRICE.format(str_t=str_t),
        ltotal=_LTOTAL.format(str_t=str_t),
    )


def _stg_products_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(f"WITH {_dirty_products_sql(True)} SELECT * FROM stg_products")


def _stg_sales_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(f"WITH {_dirty_sales_sql(True)} SELECT * FROM stg_sales")


def _products_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persisted once per (session, sf_dir): the cleaning entries all
    # share the products/sales pipelines (the fact build alone
    # references products twice), which mirrors the reference's
    # materialized staging tables (ETL.sql's staging schema is
    # persisted, not recomputed per query).
    return persisted(
        spark, ("clean", sf_dir, "products"),
        lambda: C.clean_products(_stg_products_df(spark, sf_dir)).persist(),
    )


def _sales_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persisted like the products pipeline: five catalog entries (typed
    # view, dim_date build, fact build, rejects, reconciliation) share
    # this frame, and the regex parse of the fact-sized input is the
    # single most expensive projection in the repo (~5s at sf0.1).
    # Materializing it once per (session, sf_dir) mirrors the
    # reference's persisted staging.sales_clean table (ETL.sql:155-194
    # writes the cleaned staging ONCE; every downstream load reads it).
    return persisted(
        spark, ("clean", sf_dir, "sales"),
        lambda: C.clean_sales(
            _stg_sales_df(spark, sf_dir), _products_clean(spark, sf_dir)
        ).persist(),
    )


# ---------------------------------------------------------------------------
# DuckDB twins of the cleaning semantics
# ---------------------------------------------------------------------------


def _o_initcap(expr: str) -> str:
    """DuckDB 1.0 has no initcap: emulate word-wise."""
    return (
        f"array_to_string(list_transform(string_split({expr}, ' '),"
        f" w -> upper(w[1:1]) || lower(w[2:])), ' ')"
    )


def _o_clean_str(col: str) -> str:
    return f"{_o_initcap(f'nullif(trim({col}), ' + chr(39) * 2 + ')')}"


_O_CLEAN_PRODUCTS = f"""
products_base AS (
    SELECT DISTINCT
        trim(stockcode) AS stockcode,
        {_o_clean_str('description')} AS description,
        {_o_clean_str('category')} AS category,
        {_o_clean_str('brand')} AS brand,
        CASE WHEN regexp_replace(trim(unitprice), '{C.CURRENCY_STRIP}', '', 'g')
                  ~ '{C.NUMERIC_GATE}'
             THEN TRY_CAST(regexp_replace(trim(unitprice), '{C.CURRENCY_STRIP}', '', 'g')
                       AS DECIMAL(12,2)) END AS unitprice_raw
    FROM stg_products
    WHERE coalesce(trim(stockcode), '') <> ''
),
products_median AS (
    SELECT FLOOR(percentile_cont(0.5) WITHIN GROUP (
               ORDER BY CAST(unitprice_raw AS DOUBLE)) * 100) / 100.0 AS mp
    FROM products_base
),
products_clean AS (
    SELECT stockcode, description, category, brand,
           COALESCE(CAST(unitprice_raw AS DOUBLE), mp) AS unitprice
    FROM products_base, products_median
)
"""

_O_CLEAN_SALES = f"""
sales_parsed AS (
    SELECT
        trim(invoiceid) AS invoiceid,
        trim(stockcode) AS stockcode,
        trim(customerid) AS customerid,
        CASE WHEN trim(date) ~ '{C.ISO_TS_GATE}' THEN TRY_CAST(trim(date) AS TIMESTAMP)
             WHEN trim(date) ~ '{C.DMY_TS_GATE}' THEN try_strptime(trim(date), '%d/%m/%Y %H:%M:%S')
        END AS dt_ts,
        CASE WHEN regexp_replace(trim(quantity), '{C.INT_STRIP}', '', 'g') ~ '{C.INT_GATE}'
             THEN TRY_CAST(regexp_replace(trim(quantity), '{C.INT_STRIP}', '', 'g') AS INT)
        END AS quantity_num,
        CASE WHEN regexp_replace(trim(unitprice), '{C.CURRENCY_STRIP}', '', 'g') ~ '{C.NUMERIC_GATE}'
             THEN CAST(TRY_CAST(regexp_replace(trim(unitprice), '{C.CURRENCY_STRIP}', '', 'g')
                       AS DECIMAL(12,2)) AS DOUBLE)
        END AS unitprice_num,
        CASE WHEN regexp_replace(trim(totalamount), '{C.CURRENCY_STRIP}', '', 'g') ~ '{C.NUMERIC_GATE}'
             THEN TRY_CAST(regexp_replace(trim(totalamount), '{C.CURRENCY_STRIP}', '', 'g')
                       AS DECIMAL(18,2))
        END AS totalamount_num
    FROM stg_sales
    WHERE coalesce(trim(invoiceid), '') <> '' AND coalesce(trim(stockcode), '') <> ''
),
sales_pricefix AS (
    SELECT s.* REPLACE (
        CASE WHEN s.unitprice_num IS NULL OR s.unitprice_num <= 0
             THEN p.unitprice ELSE s.unitprice_num END AS unitprice_num)
    FROM sales_parsed s LEFT JOIN products_clean p USING (stockcode)
),
sales_clean AS (
    SELECT * REPLACE (
        CASE WHEN (totalamount_num IS NULL OR totalamount_num = 0)
                  AND quantity_num IS NOT NULL AND unitprice_num IS NOT NULL
             THEN CAST(ROUND(quantity_num * unitprice_num, 2) AS DECIMAL(18,2))
             ELSE totalamount_num END AS totalamount_num)
    FROM sales_pricefix
)
"""


def _oracle(body: str, *, products: bool = False, sales: bool = False) -> str:
    ctes = []
    if products or sales:
        ctes.append(_dirty_products_sql(False).strip())
        ctes.append(_O_CLEAN_PRODUCTS.strip())
    if sales:
        ctes.append(_dirty_sales_sql(False).strip())
        ctes.append(_O_CLEAN_SALES.strip())
    return "WITH " + ",\n".join(ctes) + "\n" + body


# ---------------------------------------------------------------------------
# catalog entries
# ---------------------------------------------------------------------------


@register(
    "clean_products_conform",
    oracle=_oracle("SELECT * FROM products_clean", products=True),
    tags=("cleaning", "P1", "P2", "P8", "F1", "F2", "F3", "F5", "F6", "F7", "A9", "A13", "S6"),
    doc="Product conforming pipeline: TRIM/INITCAP/NULLIF, currency-strip "
        "regex-gated cast, DISTINCT, exact-median fallback — ETL.sql:117-143",
)
def clean_products_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _products_clean(spark, sf_dir)


@register(
    "clean_sales_typed",
    oracle=_oracle("""
        SELECT invoiceid, stockcode, customerid,
               strftime(dt_ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
               quantity_num, unitprice_num,
               CAST(totalamount_num AS DOUBLE) AS totalamount_num
        FROM sales_clean
    """, sales=True),
    tags=("cleaning", "P3", "P4", "P7", "P9", "P10", "F8", "F19"),
    doc="Sales typing pipeline: dual-format timestamp parse, numeric gates, "
        "join-update price fix from product dim, totalamount recompute, "
        "blank-key deletes — ETL.sql:155-194",
)
def clean_sales_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    sales = _sales_clean(spark, sf_dir)
    return sales.select(
        "invoiceid",
        "stockcode",
        "customerid",
        F.date_format("dt_ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "quantity_num",
        "unitprice_num",
        F.col("totalamount_num").cast("double").alias("totalamount_num"),
    )


@register(
    "staging_dim_date_build",
    oracle=_oracle("""
        , ts_domain AS (
            SELECT DISTINCT dt_ts AS parsed_ts FROM sales_clean WHERE dt_ts IS NOT NULL
        )
        SELECT CAST(strftime(parsed_ts, '%Y%m%d%H%M%S') AS BIGINT) AS date_key,
               strftime(parsed_ts, '%Y-%m-%d %H:%M:%S') AS full_datetime,
               strftime(parsed_ts, '%Y-%m-%d') AS full_date,
               strftime(parsed_ts, '%H:%M:%S') AS full_time,
               CAST(year(parsed_ts) AS INT) AS year,
               CAST(month(parsed_ts) AS INT) AS month,
               CAST(day(parsed_ts) AS INT) AS day,
               CAST(hour(parsed_ts) AS INT) AS hour,
               CAST(minute(parsed_ts) AS INT) AS minute,
               CAST(FLOOR(second(parsed_ts)) AS INT) AS second,
               dayname(parsed_ts) AS weekday,
               isodow(parsed_ts) IN (6, 7) AS is_weekend,
               CAST(quarter(parsed_ts) AS INT) AS quarter
        FROM ts_domain
    """, sales=True),
    tags=("cleaning", "U1", "F9", "F10", "F11", "F12", "F13", "F17"),
    doc="dim_date build from parsed staging timestamps: second-granularity "
        "calendar with smart key, weekday, is_weekend — ETL.sql:202-233",
)
def staging_dim_date_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    sales = _sales_clean(spark, sf_dir)
    empty_dates = sales.select(F.lit(None).cast("string").alias("date")).limit(0)
    dim = C.build_dim_date(empty_dates, sales)
    return dim.select(
        "date_key",
        F.date_format("full_datetime", "yyyy-MM-dd HH:mm:ss").alias("full_datetime"),
        F.date_format("full_date", "yyyy-MM-dd").alias("full_date"),
        "full_time",
        "year", "month", "day", "hour", "minute", "second",
        "weekday", "is_weekend", "quarter",
    )


@register(
    "staging_fact_build",
    oracle=_oracle("""
        SELECT s.invoiceid, s.stockcode, s.customerid,
               COALESCE(CAST(strftime(s.dt_ts, '%Y%m%d%H%M%S') AS BIGINT), 19700101000000)
                   AS date_key,
               COALESCE(s.quantity_num, 0) AS quantity,
               CAST(CAST(s.unitprice_num AS DECIMAL(12,2)) AS DOUBLE) AS unitprice,
               CAST(s.totalamount_num AS DOUBLE) AS totalamount
        FROM sales_clean s
        JOIN products_clean p USING (stockcode)
    """, sales=True),
    tags=("cleaning", "S4", "J4", "F9", "A12", "F15"),
    doc="Fact load with dimension lookup and null-timestamp smart-key "
        "default 19700101000000 — ETL.sql:334-351 / ELT.sql:249-264",
)
def staging_fact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    products = _products_clean(spark, sf_dir)
    sales = _sales_clean(spark, sf_dir)
    fact, _ = C.build_fact_with_rejects(sales, products)
    return fact.select(
        "invoiceid",
        "stockcode",
        "customerid",
        "date_key",
        "quantity",
        F.col("unitprice").cast("double").alias("unitprice"),
        F.col("totalamount").cast("double").alias("totalamount"),
    )


@register(
    "staging_rejects",
    oracle=_oracle("""
        SELECT s.invoiceid, s.stockcode, s.customerid,
               CASE WHEN p.stockcode IS NULL AND s.dt_ts IS NULL
                        THEN 'Missing product AND date mapping'
                    WHEN p.stockcode IS NULL THEN 'Missing product mapping'
                    WHEN s.dt_ts IS NULL THEN 'Missing date mapping'
                    ELSE 'Missing quantity' END AS reject_reason,
               to_json(struct_pack(invoiceid := s.invoiceid,
                                   stockcode := s.stockcode,
                                   customerid := s.customerid))::VARCHAR AS source_row
        FROM sales_clean s
        LEFT JOIN products_clean p USING (stockcode)
        WHERE p.stockcode IS NULL OR s.dt_ts IS NULL OR s.quantity_num IS NULL
    """, sales=True),
    tags=("cleaning", "S8", "J7", "F20"),
    doc="Classified reject log: CASE-classified reason with the "
        "reference's priority (product-and-date / product / date / "
        "quantity) plus the to_json(struct(...)) source-row payload — "
        "ELT.sql:296-320, ETL.sql:373-394. An independent log, not the "
        "fact complement: a defaulted-date row loads AND is logged, "
        "exactly as the reference's error-log insert behaves.",
)
def staging_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    products = _products_clean(spark, sf_dir)
    sales = _sales_clean(spark, sf_dir)
    _, rejects = C.build_fact_with_rejects(sales, products)
    return rejects.select(
        "invoiceid", "stockcode", "customerid", "reject_reason", "source_row"
    )


@register(
    "staging_reconciliation",
    oracle=_oracle("""
        , fact AS (
            SELECT s.* FROM sales_clean s JOIN products_clean p USING (stockcode)
        ),
        rejects AS (
            SELECT s.* FROM sales_clean s LEFT JOIN products_clean p USING (stockcode)
            WHERE p.stockcode IS NULL
        )
        SELECT 'sales_clean' AS layer, COUNT(*) AS row_count,
               CAST(ROUND(SUM(totalamount_num), 2) AS DOUBLE) AS total_revenue FROM sales_clean
        UNION ALL
        SELECT 'fact', COUNT(*), CAST(ROUND(SUM(totalamount_num), 2) AS DOUBLE) FROM fact
        UNION ALL
        SELECT 'rejects', COUNT(*), CAST(ROUND(SUM(totalamount_num), 2) AS DOUBLE) FROM rejects
    """, sales=True),
    tags=("cleaning", "A2", "U2", "tests"),
    doc="Layer reconciliation: fact + rejects == cleaned staging, by rows and "
        "revenue (the reference's embedded validation, ETL.sql:355-363)",
)
def staging_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    products = _products_clean(spark, sf_dir)
    sales = _sales_clean(spark, sf_dir)
    fact, rejects = C.build_fact_with_rejects(sales, products)
    # the fact's set-complement is the product-dimension misses; the
    # wider reject log also carries date/quantity advisories for rows
    # the fact load accepted with defaults (ELT.sql error-log semantics)
    skipped = rejects.filter(F.col("reject_reason").startswith("Missing product"))

    def metrics(df: DataFrame, label: str, col: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("row_count"),
            F.round(F.sum(col), 2).cast("double").alias("total_revenue"),
        ).select(F.lit(label).alias("layer"), "row_count", "total_revenue")

    return (
        metrics(sales, "sales_clean", "totalamount_num")
        .unionByName(metrics(fact, "fact", "totalamount"))
        .unionByName(metrics(skipped, "rejects", "totalamount_num"))
    )

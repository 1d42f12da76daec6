"""Data-quality + interchange layer: declarative constraint audit over
the dirty staging feed, JSONL export/import roundtrip, small-file
compaction.

  - The constraint audit is the warehouse's "CHECK constraint report":
    one scan of the raw staging rows, every rule a conditional count in
    a single wide aggregate, unpivoted to (constraint, n_violations) —
    1 pass regardless of rule count (plans/profiling.py's discipline).
    Rules mirror what the reference's ETL rejects on
    (Iteration 1/Group No.6_ETL.sql:296-385): blank keys, unparseable
    timestamps, non-positive quantities, malformed prices.
  - JSONL is the lingua franca of training-data interchange; the
    roundtrip entry proves the sink+source preserve every column
    bit-for-bit (oracle reads the original parquet).
  - Compaction rewrites a deliberately-fragmented table into few large
    files — the small-files pathology is the #1 operational failure of
    100 TB parquet lakes (NameNode/listing pressure, per-file open
    cost, tiny row groups defeating min/max skipping).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ranking import top_k_ranked
from ..sources.star import StarSchema, with_star
from ..sources.tpch import read_table
from ._helpers import o_money_sum
from .catalog import register
from .cleaning_queries import _dirty_sales_sql, _stg_sales_df
from .layout import ensure_layout, scratch_path


@register(
    "dq_constraint_audit",
    oracle="WITH " + _dirty_sales_sql(False) + """
        , checks AS (
            SELECT
                CAST(SUM(CASE WHEN trim(invoiceid) = '' THEN 1 ELSE 0 END) AS BIGINT)
                    AS blank_invoiceid,
                CAST(SUM(CASE WHEN try_strptime(date, '%Y-%m-%d %H:%M:%S') IS NULL
                              AND try_strptime(date, '%d/%m/%Y %H:%M:%S') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS unparseable_date,
                CAST(SUM(CASE WHEN TRY_CAST(quantity AS INTEGER) IS NULL
                                OR TRY_CAST(quantity AS INTEGER) <= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS bad_quantity,
                CAST(SUM(CASE WHEN TRY_CAST(unitprice AS DECIMAL(12,2)) IS NULL
                                OR TRY_CAST(unitprice AS DECIMAL(12,2)) <= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS bad_unitprice,
                CAST(SUM(CASE WHEN NOT regexp_matches(stockcode, '^P[0-9]+$')
                         THEN 1 ELSE 0 END) AS BIGINT) AS malformed_stockcode,
                CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM stg_sales
        )
        SELECT u.constraint_name, u.n_violations, checks.n_rows
        FROM checks,
             LATERAL (VALUES ('blank_invoiceid', blank_invoiceid),
                             ('unparseable_date', unparseable_date),
                             ('bad_quantity', bad_quantity),
                             ('bad_unitprice', bad_unitprice),
                             ('malformed_stockcode', malformed_stockcode))
                 AS u(constraint_name, n_violations)
    """,
    tags=("quality", "A8", "P3", "F6"),
    doc="Declarative constraint audit of the dirty staging sales feed: "
        "every rule a conditional count in ONE wide aggregate, stack-"
        "unpivoted to (constraint, n_violations, n_rows). Mirrors the "
        "reject rules of ETL.sql:296-385 as an auditable report.",
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    stg = _stg_sales_df(spark, sf_dir)
    iso = F.expr("try_to_timestamp(date, 'yyyy-MM-dd HH:mm:ss')")
    dmy = F.expr("try_to_timestamp(date, 'dd/MM/yyyy HH:mm:ss')")
    qty = F.expr("try_cast(quantity AS INT)")
    price = F.expr("try_cast(unitprice AS DECIMAL(12,2))")
    one = stg.agg(
        F.sum((F.trim("invoiceid") == "").cast("long")).alias("blank_invoiceid"),
        F.sum((iso.isNull() & dmy.isNull()).cast("long")).alias("unparseable_date"),
        F.sum((qty.isNull() | (qty <= 0)).cast("long")).alias("bad_quantity"),
        F.sum((price.isNull() | (price <= 0)).cast("long")).alias("bad_unitprice"),
        F.sum((~F.col("stockcode").rlike("^P[0-9]+$")).cast("long")).alias(
            "malformed_stockcode"
        ),
        F.count("*").cast("long").alias("n_rows"),
    )
    names = [
        "blank_invoiceid",
        "unparseable_date",
        "bad_quantity",
        "bad_unitprice",
        "malformed_stockcode",
    ]
    stack = ", ".join(f"'{n}', {n}" for n in names)
    return one.select(
        F.expr(f"stack({len(names)}, {stack}) AS (constraint_name, n_violations)"),
        "n_rows",
    )


@register(
    "export_jsonl_roundtrip",
    oracle="""
        SELECT doc_id, lang, source,
               CAST(n_chars AS BIGINT) AS n_chars,
               md5(text) AS text_md5
        FROM documents
    """,
    tags=("quality", "S1", "sink"),
    doc="JSONL interchange roundtrip: documents written as JSON-lines "
        "(the training-data exchange format), read back with an explicit "
        "schema, every column proven identical to the parquet source "
        "(oracle reads the original). Write paid once per session.",
)
def export_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(sf_dir, "documents_jsonl")

    def write() -> None:
        read_table(spark, sf_dir, "documents").write.mode("overwrite").json(path)

    ensure_layout(spark, sf_dir, "documents_jsonl", write)
    back = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).json(path)
    return back.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


@register(
    "dq_key_skew_profile",
    oracle="""
        WITH per_key AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_custkey
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(n) AS BIGINT) AS max_n,
                   percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS median_n
            FROM per_key
        ),
        top3 AS (
            SELECT o_custkey, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, o_custkey) AS rk
            FROM per_key
        )
        SELECT t.rk AS rank, t.o_custkey AS hot_key, t.n AS n_rows,
               s.n_keys, s.max_n,
               CAST(s.max_n AS DOUBLE) / s.median_n AS skew_factor
        FROM top3 t, stats s
        WHERE t.rk <= 3
    """,
    tags=("quality", "skew", "A6", "W6"),
    doc="Join-key skew profiler: per-key counts of the fact join key, "
        "max/median skew factor, top-3 hottest keys — the diagnostic "
        "that decides whether a join needs salting (operators/skew.py) "
        "or AQE skew-split before it runs. One partial-aggregated "
        "groupBy on the key (the same shuffle the join itself would "
        "pay); the top-3 is TakeOrderedAndProject + a 3-row rank join "
        "(operators/ranking.py) — the profiler itself must not be "
        "skew-fragile, so no global window anywhere.",
)
def dq_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_key = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("n"))
        # referenced by stats and top3 — one shuffle, not two
        .persist()
    )
    stats = per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)").alias("median_n"),
    )
    top3 = top_k_ranked(per_key, [("n", "desc"), ("o_custkey", "asc")], 3, out="rk")
    # hint kept: the other side is small too, and unhinted the planner builds it
    return top3.crossJoin(F.broadcast(stats)).select(
        F.col("rk").alias("rank"),
        F.col("o_custkey").alias("hot_key"),
        F.col("n").alias("n_rows"),
        "n_keys",
        "max_n",
        (F.col("max_n").cast("double") / F.col("median_n")).alias("skew_factor"),
    )


@register(
    "export_orc_roundtrip",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date
        FROM orders
    """,
    tags=("quality", "S1", "sink", "orc"),
    doc="ORC interchange roundtrip: orders written as ORC (the second "
        "columnar lake format Spark ships a native vectorized reader "
        "for), read back and proven identical to the parquet source — "
        "incl. the timestamp column, the classic cross-format drift "
        "spot. Write paid once per session.",
)
def export_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(sf_dir, "orders_orc")

    def write() -> None:
        read_table(spark, sf_dir, "orders").write.mode("overwrite").orc(path)

    ensure_layout(spark, sf_dir, "orders_orc", write)
    back = spark.read.orc(path)
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


@register(
    "layout_compact_roundtrip",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS total_extended
        FROM lineitem
    """,
    tags=("quality", "layout", "compaction"),
    doc="Small-file compaction: lineitem deliberately fragmented into 64 "
        "files, then compacted to 4 large ones (read -> repartition -> "
        "rewrite, the OPTIMIZE/compact maintenance job of a parquet "
        "lake). Oracle proves the rewrite is lossless; "
        "tests/test_quality.py asserts the file-count collapse.",
)
def layout_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    frag = scratch_path(sf_dir, "lineitem_fragmented")
    compact = scratch_path(sf_dir, "lineitem_compacted")

    def write() -> None:
        li = read_table(spark, sf_dir, "lineitem")
        li.repartition(64).write.mode("overwrite").parquet(frag)
        spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)

    ensure_layout(spark, sf_dir, "lineitem_compaction", write)
    back = spark.read.parquet(compact)
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total_extended"),
    )


@register(
    "dq_observe_single_pass",
    oracle=with_star("""
        , gold AS (
            SELECT strftime(date_trunc('month', d.full_date), '%Y-%m') AS month,
                   {rev} AS revenue
            FROM fact_sales f JOIN dim_date d USING (date_key)
            GROUP BY 1
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS fact_rows,
                   CAST(COUNT(CASE WHEN totalamount <= 0 THEN 1 END) AS BIGINT)
                       AS nonpositive_amounts,
                   {tot} AS total_revenue
            FROM fact_sales
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM gold) AS out_rows,
               fact_rows, nonpositive_amounts, total_revenue,
               (SELECT {gr} FROM gold) AS out_revenue
        FROM m
    """.format(
        rev=o_money_sum("f.totalamount"),
        tot=o_money_sum("totalamount"),
        gr="CAST(ROUND(SUM(CAST(revenue AS DECIMAL(18,2))), 2) AS DOUBLE)",
    )),
    tags=("quality", "observe", "A2", "A11"),
    doc="Single-pass pipeline observability via DataFrame.observe: the "
        "monthly-revenue gold build runs ONCE with an Observation "
        "attached to its INPUT scan, piggybacking the audit metrics "
        "(row count, nonpositive-amount count, exact revenue total) on "
        "the same job — no second scan, the way a production pipeline "
        "collects DQ counters without paying an audit pass. The output "
        "row carries input metrics AND output reconciliation (out "
        "revenue == in revenue — the reference's staging↔DW revenue "
        "reconciliation, E:361-363, folded into one execution). At "
        "scale the observe aggregation is an AccumulatorV2 merged on "
        "task completion: zero extra shuffle.",
)
def dq_observe_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    s = StarSchema(spark, sf_dir)
    obs = Observation("dq")
    fact = s.fact_sales.observe(
        obs,
        F.count(F.lit(1)).alias("fact_rows"),
        F.count(F.when(F.col("totalamount") <= 0, 1)).alias("nonpositive_amounts"),
        F.round(F.sum("totalamount"), 2).cast("double").alias("total_revenue"),
    )
    gold = (
        fact.join(s.dim_date.select("date_key", "full_date"), "date_key")
        .groupBy(F.date_format(F.date_trunc("month", "full_date"), "yyyy-MM").alias("month"))
        .agg(F.round(F.sum("totalamount"), 2).cast("double").alias("revenue"))
    )
    # ONE action drives the gold build, its reconciliation aggregate AND
    # the observed input metrics (round-5 advisory: the previous
    # count()-then-agg() pair executed the fact scan twice and only the
    # first action fed Observation.get)
    out = gold.agg(
        F.count(F.lit(1)).cast("long").alias("out_rows"),
        F.round(F.sum(F.col("revenue").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("out_rev"),
    ).collect()[0]
    m = obs.get
    return spark.createDataFrame(
        [
            (
                out["out_rows"],
                m["fact_rows"],
                m["nonpositive_amounts"],
                m["total_revenue"],
                out["out_rev"],
            )
        ],
        "out_rows bigint, fact_rows bigint, nonpositive_amounts bigint, "
        "total_revenue double, out_revenue double",
    )

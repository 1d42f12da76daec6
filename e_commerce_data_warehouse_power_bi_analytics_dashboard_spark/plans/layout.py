"""Physical layout layer: partitioned writes + pruning, write-sort for
row-group skipping, bucketed co-located joins, and gold-table
("materialized view") refresh.

This is the Spark mapping of the reference's entire Iteration 3
(Group No.6_Indexing_Partitioning.sql): what PostgreSQL achieves with
B-tree/composite indexes, range/list/hash partitioning, vertical
partitioning, and REFRESH MATERIALIZED VIEW, a Parquet+Catalyst engine
achieves with (SURVEY §4):

  - ``partitionBy`` at write → Catalyst PartitionPruning, the analog of
    range/list partitioning + pruning (IP:77-119, IP:362-384);
  - range-repartition + ``sortWithinPartitions`` at write → Parquet
    min/max row-group skipping, the analog of the B-tree/composite index
    (IP:22-49, IP:214-232);
  - ``bucketBy`` on the join key → exchange-free joins, the analog of
    hash partitioning for co-location (IP:387-413);
  - explicit gold-table refresh, the analog of the materialized view
    (IP:146-166) and the MOLAP tables (MOLAP.sql:19-73).

At 100 TB these writers are the difference between scanning everything
and scanning one partition's row groups: the catalog entries below
round-trip a write+read so the correctness gate covers the layout path,
and tests/test_layout.py asserts the *plan* properties (PartitionFilters,
PushedFilters, no Exchange) that carry the scale win.

Scratch output lives under ``.scratch/`` in the repo root (gitignored);
every writer is overwrite-idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.zorder import zvalue  # shared with table-format OPTIMIZE
from ..sources.artifacts import scratch_root
from ..sources.star import StarSchema, with_star
from ..sources.tpch import read_table
from ._helpers import money_sum, o_money_sum
from .catalog import register

def scratch_path(sf_dir: str, name: str) -> str:
    return scratch_root("layout", sf_dir, name)


#: layouts already written this session, keyed (application, sf_dir, name).
#: The reference's Iteration 3 methodology builds each index/partition
#: layout ONCE and then times the queries against it
#: (Indexing_Partitioning.sql:77-119 — the EXPLAIN ANALYZE runs are
#: post-layout); this cache is the Spark analog, so the catalog fns (and
#: the bench) measure the pruned/sorted/bucketed READ, with the write
#: paid once per session. Correctness still covers the writer: the first
#: invocation in any session round-trips write+read.
_LAYOUT_DONE: set[tuple[str, str, str]] = set()


def ensure_layout(spark: SparkSession, sf_dir: str, name: str, write) -> None:
    """Run ``write()`` once per (session, sf_dir, layout name)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _LAYOUT_DONE:
        write()
        _LAYOUT_DONE.add(key)


# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], sort_cols: list[str] | None = None
) -> None:
    """Hive-partitioned parquet write; one shuffle groups rows per
    partition value so each partition directory holds few, large files
    (the small-files failure mode at scale), optionally sorted within
    files for row-group skipping on top of pruning."""
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_range_sorted(df: DataFrame, path: str, sort_cols: list[str], files: int = 8) -> None:
    """Globally range-sorted parquet: repartitionByRange + in-partition
    sort gives monotone min/max across files AND row groups, so a range
    predicate skips everything outside its window — the Parquet analog
    of the reference's B-tree/composite index (IP:22-49, 214-232)."""
    (
        df.repartitionByRange(files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame, table: str, path: str, bucket_col: str, n_buckets: int = 8
) -> None:
    """Bucketed external table: co-locates rows by hash(bucket_col) at
    write so later joins/aggs on that key need no exchange (the analog of
    IP:387-413's hash partitioning, but with the join benefit Spark
    actually exploits)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def refresh_gold_table(spark: SparkSession, sf_dir: str, path: str | None = None) -> str:
    """REFRESH MATERIALIZED VIEW mv_monthly_category_sales
    (IP:146-166): recompute the monthly×category aggregate and overwrite
    the gold parquet table. Returns the table path."""
    from .insights import mv_monthly_category_sales

    path = path or scratch_path(sf_dir, "mv_monthly_category_sales")
    mv_monthly_category_sales(spark, sf_dir).write.mode("overwrite").parquet(path)
    return path


# ---------------------------------------------------------------------------
# catalog entries — each round-trips its layout through disk
# ---------------------------------------------------------------------------


@register(
    "layout_partition_pruned_revenue",
    oracle="""
        SELECT CAST(month(o_orderdate) AS INT) AS month,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM orders
        WHERE year(o_orderdate) = 1995
        GROUP BY 1
    """,
    tags=("layout", "partitioning", "P5"),
    doc="Write orders hive-partitioned by year, read back one year "
        "(PartitionPruning scans 1/7 of the data) — the Spark analog of "
        "range partitioning, Indexing_Partitioning.sql:77-119",
)
def layout_partition_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(sf_dir, "orders_by_year")

    def _write() -> None:
        orders = read_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        write_partitioned(orders, path, ["o_year"], sort_cols=["o_orderdate"])

    ensure_layout(spark, sf_dir, "orders_by_year", _write)
    back = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    return back.groupBy(F.month("o_orderdate").alias("month")).agg(
        money_sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@register(
    "layout_list_partition_pruned",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT) AS year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY 1
    """,
    tags=("layout", "partitioning", "P6"),
    doc="LIST partitioning: write orders hive-partitioned by the "
        "low-cardinality o_orderpriority channel and read back exactly "
        "one partition — PartitionFilters prune 4/5 of the files at the "
        "file index, before any IO. The Spark analog of PARTITION BY "
        "LIST (Iteration 3/Group No.6_Indexing_Partitioning.sql:362-384); "
        "completes the partitioning matrix (range/list/hash/vertical).",
)
def layout_list_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(sf_dir, "orders_by_priority")

    def _write() -> None:
        orders = read_table(spark, sf_dir, "orders")
        write_partitioned(orders, path, ["o_orderpriority"])

    ensure_layout(spark, sf_dir, "orders_by_priority", _write)
    back = spark.read.parquet(path).filter(F.col("o_orderpriority") == "1-URGENT")
    return back.groupBy(F.year("o_orderdate").alias("year")).agg(
        F.count("*").alias("n_orders"),
        money_sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )


@register(
    "layout_dynamic_partition_pruned_join",
    oracle="""
        WITH yd AS (
            SELECT DISTINCT CAST(year(full_datetime) AS INT) AS o_year
            FROM (SELECT o_orderdate AS full_datetime FROM orders
                  UNION
                  SELECT l_shipdate FROM lineitem) t
            WHERE month(full_datetime) = 2 AND day(full_datetime) = 29
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue
        FROM orders o JOIN yd ON year(o.o_orderdate) = yd.o_year
    """,
    tags=("layout", "partitioning", "J1"),
    doc="DYNAMIC partition pruning over a real star dim (r5 — the r4 "
        "demo fabricated its year dim from r_regionkey+1995): the year "
        "partitions to read are not known at plan time — they are the "
        "LEAP years actually present in dim_date (a Feb-29 attribute "
        "filter on the date dimension, 2 of 7 years) — so Catalyst "
        "injects a dynamicpruning subquery that reuses the dim's "
        "broadcast to prune the fact's partition scan at runtime. The "
        "cluster-scale complement of the static pruning demo: at 100 TB "
        "this is what keeps star joins from scanning every partition "
        "when the filter lives on the dim. Plan pin in tests/"
        "test_layout.py asserts the dynamicpruning expression reaches "
        "PartitionFilters.",
)
def layout_dynamic_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(sf_dir, "orders_by_year")

    def _write() -> None:
        orders = read_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        write_partitioned(orders, path, ["o_year"], sort_cols=["o_orderdate"])

    ensure_layout(spark, sf_dir, "orders_by_year", _write)
    fact = spark.read.parquet(path)
    year_dim = (
        StarSchema(spark, sf_dir).dim_date
        .filter((F.col("month") == 2) & (F.col("day") == 29))
        .select(F.col("year").alias("o_year"))
        .distinct()
    )
    return fact.join(year_dim, "o_year").agg(
        F.count("*").cast("long").alias("n_orders"),
        money_sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )


@register(
    "layout_sorted_rowgroup_skip",
    oracle="""
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)
                   AS revenue,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
    """,
    tags=("layout", "write-sort", "P5"),
    doc="Write lineitem range-sorted by l_shipdate, read back a 3-month "
        "window (min/max row-group skipping ≙ the B-tree date index, "
        "Indexing_Partitioning.sql:22-49)",
)
def layout_sorted_rowgroup_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(sf_dir, "lineitem_by_shipdate")
    ensure_layout(
        spark, sf_dir, "lineitem_by_shipdate",
        lambda: write_range_sorted(read_table(spark, sf_dir, "lineitem"), path, ["l_shipdate"]),
    )
    back = spark.read.parquet(path).filter(
        F.col("l_shipdate").between("1995-01-01", "1995-03-31")
    )
    return back.agg(
        money_sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(4,2)"))
        ).alias("revenue"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        F.count("*").alias("n_rows"),
    )


@register(
    "layout_bucketed_join_agg",
    oracle="""
        SELECT c_mktsegment AS mktsegment,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    """,
    tags=("layout", "bucketing", "J1"),
    doc="Bucket orders and customer by custkey (8 buckets) and join "
        "without any exchange — hash-partitioning co-location, "
        "Indexing_Partitioning.sql:387-413; plan asserted shuffle-free "
        "in tests/test_layout.py",
)
def layout_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    ot, ct = f"orders_b_{tag}", f"customer_b_{tag}"

    def _write() -> None:
        write_bucketed(
            read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
            ot, scratch_path(sf_dir, "orders_bucketed"), "o_custkey",
        )
        write_bucketed(
            read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            ct, scratch_path(sf_dir, "customer_bucketed"), "c_custkey",
        )

    ensure_layout(spark, sf_dir, "bucketed_custkey", _write)
    # hint the large-large strategy bucketing exists for (at test scale
    # the planner would rightly broadcast the small side instead): with
    # matching bucket counts on the join key, SMJ runs with NO exchange
    joined = spark.table(ot).hint("merge").join(
        spark.table(ct).hint("merge"), F.col("o_custkey") == F.col("c_custkey")
    )
    return joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        money_sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@register(
    "layout_mv_refresh_roundtrip",
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
    tags=("layout", "S7", "MV"),
    doc="REFRESH MATERIALIZED VIEW + read-back: the persisted gold table "
        "equals the on-the-fly aggregate — Indexing_Partitioning.sql:146-166",
)
def layout_mv_refresh_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = refresh_gold_table(spark, sf_dir)
    return spark.read.parquet(path)


@register(
    "skew_salted_join_agg",
    oracle="""
        SELECT c_mktsegment AS mktsegment,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    """,
    tags=("layout", "skew", "salting", "J1"),
    doc="Skew-safe salted join (operators/skew.py): big side salted on "
        "pmod(hash(row), 8), small side replicated per salt, join on "
        "(key, salt) — result identical to the plain join, hot keys "
        "spread over 8 reducers. Oracle is the UNSALTED join: equality "
        "proves the rewrite is semantics-preserving.",
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(orders, customer, "c_custkey", n_salts=8)
    return joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        money_sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


#: deliberately skewed join key: 80% of orders collapse onto nation 0,
#: the rest spread over nations 1-24 — shared by the Spark entry, the
#: DuckDB oracle, and the salted-twin cross-check test.
SKEW_KEY_SQL = (
    "CASE WHEN o_orderkey % 10 < 8 THEN 0 ELSE CAST(o_custkey % 24 AS INT) + 1 END"
)


def skewed_orders_nation_join(
    spark: SparkSession, sf_dir: str, fan_mappers: int | None = None
) -> DataFrame:
    """The bare skewed join (no downstream agg): orders on the hot
    ``SKEW_KEY_SQL`` key ⋈ nation, sort-merge forced via the ``merge``
    hint so AQE's OptimizeSkewedJoin (skewJoin.enabled, on in
    session.py) can split the oversized partition at runtime.

    ``fan_mappers`` round-robins the fact side over N tasks first.
    AQE can only split a skewed reduce partition at MAPPER boundaries
    (``ShufflePartitionsUtil.createSkewPartitionSpecs`` returns None if
    one mapper wrote the whole partition) — a single-row-group test
    parquet has one effective mapper, so the split silently cannot
    happen, whereas a 100 TB fact table always has thousands. The test
    pin passes fan_mappers to emulate the real-scale mapper layout; the
    catalog entry leaves it None (no extra exchange in the plan).
    """
    orders = read_table(spark, sf_dir, "orders").select(
        F.expr(SKEW_KEY_SQL).alias("skew_key"), "o_totalprice"
    )
    if fan_mappers:
        orders = orders.repartition(fan_mappers)
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return orders.join(nation.hint("merge"), orders.skew_key == nation.n_nationkey)


@register(
    "skew_aqe_join_agg",
    oracle="""
        WITH skewed AS (
            SELECT CASE WHEN o_orderkey % 10 < 8 THEN 0
                        ELSE CAST(o_custkey % 24 AS INT) + 1 END AS skew_key,
                   o_totalprice
            FROM orders
        )
        SELECT n_name AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {rev} AS revenue
        FROM skewed JOIN nation ON n_nationkey = skew_key
        GROUP BY 1
    """.format(rev=o_money_sum("o_totalprice")),
    tags=("layout", "skew", "AQE", "J1"),
    doc="AQE skew-join twin of skew_salted_join_agg: the SAME hot-key "
        "problem handled by Spark's built-in runtime mitigation instead "
        "of a manual rewrite — sort-merge join on a key where 80% of "
        "rows hit one nation; adaptive skew-join splitting "
        "(spark.sql.adaptive.skewJoin) breaks the oversized partition "
        "into advisory-size pieces and replicates the matching dim rows. "
        "Results are config-independent (oracle is the plain join); the "
        "plan-level proof (skew=true SMJ marker under low thresholds) is "
        "pinned in tests/test_plans.py, and a twin test checks row-level "
        "equality against the salted rewrite.",
)
def skew_aqe_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = skewed_orders_nation_join(spark, sf_dir)
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n_orders"),
        money_sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )


def bloom_filtered_lineitem_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ urgent orders, shaped for runtime bloom-filter
    injection: a selective filter on the creation side (orders) and a
    shuffle join (merge hint) on the application side. With
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` Catalyst builds
    a bloom filter from the filtered o_orderkey set and injects
    ``might_contain(...)`` into the lineitem scan — rows that cannot
    join are dropped BEFORE the shuffle, the row-level complement of
    dynamic partition pruning (which needs a partitioned layout). The
    default application-side threshold (10 GB scanned) means the filter
    only appears at real scale; tests/test_plans.py pins the plan shape
    under a lowered threshold."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    urgent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    return li.join(urgent.hint("merge"), li.l_orderkey == urgent.o_orderkey)


@register(
    "bloom_runtime_filter_join",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               {rev} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
    """.format(rev=o_money_sum("l_extendedprice")),
    tags=("layout", "bloom", "runtime-filter", "J1"),
    doc="Runtime bloom-filter join pruning: revenue of urgent-order "
        "line items through a shuffle join whose application side is "
        "prunable by a bloom filter built from the selective dim "
        "filter at runtime — rows are dropped before the shuffle, "
        "complementing DPP for non-partitioned layouts. Results are "
        "config-independent (the filter only changes the plan); the "
        "might_contain/bloom_filter_agg plan pin lives in "
        "tests/test_plans.py.",
)
def bloom_runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = bloom_filtered_lineitem_join(spark, sf_dir)
    return j.agg(
        F.count("*").alias("n_lines"),
        money_sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton-curve) multi-dimensional clustering
# ---------------------------------------------------------------------------


def write_zordered(
    df: DataFrame, path: str, a: str, b: str, files: int = 8, bits: int = 16
) -> None:
    """Z-order-clustered parquet: range-partition + sort on the Morton
    value of (a, b) so row-group min/max stats are selective on both
    columns at once. ``a``/``b`` may be arbitrary SQL expressions —
    derived sort dimensions need never exist as columns in the written
    table."""
    z = df.withColumn("_z", zvalue(a, b, bits))
    (
        z.repartitionByRange(files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


@register(
    "layout_zorder_skip",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE o_custkey BETWEEN 100 AND 200
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
    """,
    tags=("layout", "zorder", "P5"),
    doc="Z-order clustering: orders rewritten sorted by the Morton value "
        "of (custkey, order-day), then a two-dimensional range predicate "
        "— row-group stats prune on BOTH columns, where a linear sort "
        "helps only its leading column. Oracle is the same query on the "
        "raw table: layout never changes results. Write paid once per "
        "session (ensure_layout), matching Iteration 3's "
        "build-once-then-measure methodology.",
)
def layout_zorder_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(sf_dir, "orders_zorder")

    def write() -> None:
        # the day ordinal is an inline sort expression, so the written
        # table keeps exactly the source orders schema; bits=21 covers
        # custkeys up to ~2M (sf10) — wider keys would alias onto their
        # low bits and quietly destroy clustering locality (see zvalue)
        orders = read_table(spark, sf_dir, "orders")
        write_zordered(
            orders, path,
            "o_custkey", "datediff(o_orderdate, DATE '1992-01-01')",
            bits=21,
        )

    ensure_layout(spark, sf_dir, "orders_zorder", write)
    orders = spark.read.parquet(path)
    return (
        orders.filter(
            F.col("o_custkey").between(100, 200)
            & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            money_sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )
    )


@register(
    "layout_schema_evolution_read",
    oracle="""
        WITH v1 AS (
            SELECT o_orderkey, o_totalprice,
                   CAST(NULL AS VARCHAR) AS o_orderpriority, 1 AS batch_v
            FROM orders WHERE year(o_orderdate) = 1995
        ),
        v2 AS (
            SELECT o_orderkey, o_totalprice, o_orderpriority, 2 AS batch_v
            FROM orders WHERE year(o_orderdate) = 1996
        ),
        u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        SELECT CAST(batch_v AS INT) AS batch_v,
               COALESCE(o_orderpriority, '<absent>') AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue
        FROM u GROUP BY 1, 2
    """,
    tags=("layout", "schema-evolution", "S4"),
    doc="Parquet schema evolution (r6): two batches written with "
        "DIFFERENT schemas (batch 2 adds o_orderpriority — the "
        "ingest-pipeline reality at 100 TB where producers upgrade "
        "mid-stream), read back through mergeSchema=true so the union "
        "schema reconciles from the footers and the pre-evolution rows "
        "surface NULLs; the aggregate proves no row is lost or "
        "misattributed across schema versions. Scale note: mergeSchema "
        "pays one footer read per file at planning — fine for "
        "append-style batch counts, but a 100 TB lake with millions of "
        "files wants the schema pinned in a table format "
        "(metastore/Delta) instead of inferred per query; the READ "
        "semantics exercised here are identical.",
)
def layout_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_path(sf_dir, "orders_evolving")

    def _write() -> None:
        orders = read_table(spark, sf_dir, "orders")
        (
            orders.filter(F.year("o_orderdate") == 1995)
            .select("o_orderkey", "o_totalprice", F.lit(1).alias("batch_v"))
            .write.mode("overwrite").parquet(base + "/b1")
        )
        (
            orders.filter(F.year("o_orderdate") == 1996)
            .select(
                "o_orderkey", "o_totalprice", "o_orderpriority",
                F.lit(2).alias("batch_v"),
            )
            .write.mode("overwrite").parquet(base + "/b2")
        )

    ensure_layout(spark, sf_dir, "orders_evolving", _write)
    back = spark.read.option("mergeSchema", "true").parquet(base + "/b1", base + "/b2")
    return back.groupBy(
        "batch_v",
        F.coalesce("o_orderpriority", F.lit("<absent>")).alias("priority"),
    ).agg(
        F.count("*").alias("n_orders"),
        money_sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
    )

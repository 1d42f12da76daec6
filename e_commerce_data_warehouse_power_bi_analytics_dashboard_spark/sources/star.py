"""Star-schema conformance layer over the TPC-H-ish testdata.

Reproduces the reference star schema (Iteration 1/Group No.6_Schema.sql:21-68)
from the driver's tables using the FIXTURES.md §C mapping:

  dim_customer  <- customer ⋈ nation ⋈ region   (country := nation name)
  dim_product   <- part                          (unitprice := retailprice)
  dim_date      <- distinct timestamps from orders.o_orderdate ∪ lineitem.l_shipdate
                   (second-granularity calendar: one row per distinct ts, S:40-54;
                    the domain union mirrors ETL.sql:202-214 / ELT.sql:178-188)
  fact_sales    <- lineitem ⋈ orders             (invoiceid := orderkey,
                   totalamount := round(extendedprice*(1-discount),2))

Every derivation here is *deterministic and ANSI-SQL expressible*, so the
DuckDB oracle (``STAR_CTE_SQL``) computes the identical star — that is the
correctness contract for the whole query catalog.

Determinism rules shared by both engines:
  - money is computed in DECIMAL (never float) then surfaced as DOUBLE only
    after a terminal ROUND — exact regardless of aggregation order;
  - double→int uses FLOOR (DuckDB CAST rounds, Spark CAST truncates);
  - surrogate keys are arithmetic on natural keys (sales_key =
    orderkey*10+linenumber), not monotonically_increasing_id — SURVEY §7
    "hard parts (b)".

Scale design: fact_sales is a projection+join of the two largest tables.
The orders side is joined on ``l_orderkey = o_orderkey``; at 100 TB both
sides would be bucketed/co-partitioned on orderkey (plans/layout.py).

Join policy, stated once here: every star query broadcasts the dims
(they are small by construction). ``StarSchema.dim_customer``,
``dim_product`` and ``dim_date`` come back marked for broadcast, so query
code joins them without a hint of its own. The mark survives
``select``/``filter`` and any other single-input step up to the next
join, and the plan still reads the cached dim. It sits at the source
rather than being left to the planner because, until a dim is cached,
Spark's size-only estimate for ``dim_customer`` multiplies the sizes of
its three join inputs: 177 GB at sf0.01 and 1.65 TB at sf0.1, against
122 KB and 1.24 MB once loaded (``dim_date`` reads 13 MB cold at sf0.1,
also over the 10 MB broadcast threshold). A cold, unmarked customer
join would plan a sort-merge that AQE demotes only after the fact has
been shuffled. To pick another strategy for one query, put the strategy
hint on the dim side, top-most: ``merge`` gives a sort-merge join and
``shuffle_hash`` a shuffled hash join (plans/joinstudy.py does both). A
hint on the fact side alone does not override the mark. Reading a dim
outside any join makes Spark log that the broadcast hint found no join;
that warning is expected.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifacts import persisted
from .tpch import read_table

# ---------------------------------------------------------------------------
# Canonical SQL (DuckDB dialect) — the oracle twin of the Spark builders.
# The driver pre-registers the raw tables as views with the same names.
# ---------------------------------------------------------------------------

STAR_CTE_SQL = """
dim_customer AS (
    SELECT
        c_custkey                       AS customer_key,
        CAST(c_custkey AS VARCHAR)      AS customerid,
        c_name                          AS customername,
        n_name                          AS country,
        r_name                          AS region,
        c_mktsegment                    AS mktsegment,
        CAST(c_acctbal AS DOUBLE)       AS acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
),
dim_product AS (
    SELECT
        p_partkey                       AS product_key,
        CAST(p_partkey AS VARCHAR)      AS stockcode,
        p_name                          AS description,
        CAST(p_retailprice AS DECIMAL(12,2)) AS unitprice,
        p_type                          AS category,
        p_brand                         AS brand,
        p_size                          AS size
    FROM part
),
_ts_domain AS (
    SELECT DISTINCT o_orderdate AS full_datetime FROM orders
    UNION
    SELECT DISTINCT l_shipdate FROM lineitem
),
dim_date AS (
    SELECT
        CAST(strftime(full_datetime, '%Y%m%d%H%M%S') AS BIGINT) AS date_key,
        full_datetime,
        CAST(full_datetime AS DATE)     AS full_date,
        strftime(full_datetime, '%H:%M:%S') AS full_time,
        CAST(year(full_datetime) AS INT)    AS year,
        CAST(month(full_datetime) AS INT)   AS month,
        CAST(day(full_datetime) AS INT)     AS day,
        CAST(hour(full_datetime) AS INT)    AS hour,
        CAST(minute(full_datetime) AS INT)  AS minute,
        CAST(FLOOR(second(full_datetime)) AS INT) AS second,
        dayname(full_datetime)          AS weekday,
        isodow(full_datetime) IN (6, 7) AS is_weekend,
        CAST(quarter(full_datetime) AS INT) AS quarter
    FROM _ts_domain
),
fact_sales AS (
    SELECT
        l_orderkey * 10 + l_linenumber  AS sales_key,
        CAST(strftime(o_orderdate, '%Y%m%d%H%M%S') AS BIGINT) AS date_key,
        l_partkey                       AS product_key,
        l_suppkey                       AS supplier_key,
        o_custkey                       AS customer_key,
        CAST(l_orderkey AS VARCHAR)     AS invoiceid,
        CAST(FLOOR(l_quantity) AS INT)  AS quantity,
        CAST(l_extendedprice AS DECIMAL(12,2)) AS unitprice,
        CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2))), 2) AS DECIMAL(18,2))
                                        AS totalamount,
        l_returnflag                    AS returnflag,
        l_linestatus                    AS linestatus
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
)
""".strip()


def with_star(body_sql: str) -> str:
    """Wrap a query body with the star-schema CTEs (DuckDB oracle dialect)."""
    return f"WITH {STAR_CTE_SQL}\n{body_sql}"


# Spark-SQL dialect twin of STAR_CTE_SQL — used by the "ELT" pipeline flavor
# (load-then-transform in SQL, ELT.sql's approach) so the ETL-vs-ELT
# validation suite compares two genuinely independent paths through the
# engine: DataFrame DSL vs SQL parser, both into Catalyst.
SPARK_STAR_CTE_SQL = (
    STAR_CTE_SQL
    .replace("strftime(full_datetime, '%Y%m%d%H%M%S')", "date_format(full_datetime, 'yyyyMMddHHmmss')")
    .replace("strftime(o_orderdate, '%Y%m%d%H%M%S')", "date_format(o_orderdate, 'yyyyMMddHHmmss')")
    .replace("strftime(full_datetime, '%H:%M:%S')", "date_format(full_datetime, 'HH:mm:ss')")
    .replace("dayname(full_datetime)", "date_format(full_datetime, 'EEEE')")
    .replace("isodow(full_datetime) IN (6, 7)", "dayofweek(full_datetime) IN (1, 7)")
    .replace("AS VARCHAR", "AS STRING")
)


def with_star_spark(body_sql: str) -> str:
    """Wrap a query body with the star CTEs in Spark-SQL dialect."""
    return f"WITH {SPARK_STAR_CTE_SQL}\n{body_sql}"


# ---------------------------------------------------------------------------
# Spark builders (DataFrame API — the engine-native path)
# ---------------------------------------------------------------------------


def _smart_date_key(ts_col: F.Column) -> F.Column:
    """BIGINT yyyyMMddHHmmss smart key (Schema.sql:41, ETL.sql:231)."""
    return F.date_format(ts_col, "yyyyMMddHHmmss").cast("long")


class StarSchema:
    """Conformed star-schema DataFrames over one scale-factor directory.

    Tables are lazily-built logical plans, persisted (memory+disk) on
    first use per (session, sf_dir, table) through
    ``artifacts.persisted``, so repeated queries don't rebuild the
    conformance layer. The reference's architecture loads the DW once
    and serves all OLAP/DAX queries from the loaded tables
    (README.md:25-42,170-173); this is the Spark analog — the
    conformance joins/distincts run once per session, every query after
    that reads persisted columnar batches. At 100 TB the same role is
    played by writing silver parquet via plans/layout.py writers; the
    query plans are identical either way.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    # -- raw ---------------------------------------------------------------
    def raw(self, name: str) -> DataFrame:
        return read_table(self.spark, self.sf_dir, name)

    # -- dims ----------------------------------------------------------------
    def _dim(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """The persisted dimension ``name``, marked for broadcast (see the
        module docstring for why the hint sits here)."""
        return F.broadcast(persisted(
            self.spark, ("star", self.sf_dir, name),
            lambda: build().persist(StorageLevel.MEMORY_AND_DISK),
        ))

    @property
    def dim_customer(self) -> DataFrame:
        return self._dim("dim_customer", self._dim_customer)

    def _dim_customer(self) -> DataFrame:
        c, n, r = self.raw("customer"), self.raw("nation"), self.raw("region")
        return (
            c.join(n, c.c_nationkey == n.n_nationkey)
            .join(r, n.n_regionkey == r.r_regionkey)
            .select(
                F.col("c_custkey").alias("customer_key"),
                F.col("c_custkey").cast("string").alias("customerid"),
                F.col("c_name").alias("customername"),
                F.col("n_name").alias("country"),
                F.col("r_name").alias("region"),
                F.col("c_mktsegment").alias("mktsegment"),
                F.col("c_acctbal").cast("double").alias("acctbal"),
            )
        )

    @property
    def dim_product(self) -> DataFrame:
        return self._dim("dim_product", self._dim_product)

    def _dim_product(self) -> DataFrame:
        return self.raw("part").select(
            F.col("p_partkey").alias("product_key"),
            F.col("p_partkey").cast("string").alias("stockcode"),
            F.col("p_name").alias("description"),
            F.col("p_retailprice").cast("decimal(12,2)").alias("unitprice"),
            F.col("p_type").alias("category"),
            F.col("p_brand").alias("brand"),
            F.col("p_size").alias("size"),
        )

    @property
    def dim_date(self) -> DataFrame:
        return self._dim("dim_date", self._dim_date)

    def _dim_date(self) -> DataFrame:
        # UNION (deduplicating) of the two timestamp domains — SURVEY §2.7 U1.
        ts = (
            self.raw("orders")
            .select(F.col("o_orderdate").alias("full_datetime"))
            .union(self.raw("lineitem").select(F.col("l_shipdate")))
            .distinct()
        )
        t = F.col("full_datetime")
        return ts.select(
            _smart_date_key(t).alias("date_key"),
            t,
            t.cast("date").alias("full_date"),
            F.date_format(t, "HH:mm:ss").alias("full_time"),
            F.year(t).alias("year"),
            F.month(t).alias("month"),
            F.dayofmonth(t).alias("day"),
            F.hour(t).alias("hour"),
            F.minute(t).alias("minute"),
            F.floor(F.second(t)).cast("int").alias("second"),
            F.date_format(t, "EEEE").alias("weekday"),
            # ISO dow 6,7 = Sat,Sun; Spark dayofweek: Sun=1, Sat=7 (SURVEY F12)
            F.dayofweek(t).isin(1, 7).alias("is_weekend"),
            F.quarter(t).alias("quarter"),
        )

    @property
    def fact_sales(self) -> DataFrame:
        # r13 (guide §2.4 bucketing / §6 layout — VERDICT r12 #5): the
        # fact is served from the invoiceid-bucketed on-disk silver
        # table (sources/silver.py), converging the r12 second
        # in-memory persist (a repartition of the base cache) onto the
        # scale-correct form — ONE layout write per scale dir, then
        # every scan is bucket-parallel and every groupBy/join on
        # invoiceid reads a partitioning that already satisfies its
        # clustering (exchange-free basket/graph edge builds), with no
        # second fact-sized cache copy resident. The scan stays
        # UNPERSISTED: the bucketed read is a 32-task columnar scan of
        # the OS-page-cached silver files.
        # The UN-partitioned fact plan stays persisted: several entries
        # (the ELT differential SQL, the staging reconciliation) build
        # the raw conformance join themselves, and CacheManager
        # substitutes a cached plan only on an EXACT canonical subtree
        # match (measured in r12: without it,
        # validation_kpi_summary 1.4s -> 2.9s). The silver write builds
        # FROM the base cache, so a cold load pays one cached-read pass
        # plus the bucketed write, once per scale dir.
        from .silver import ensure_bucketed

        base = persisted(
            self.spark, ("star", self.sf_dir, "fact_sales_base"),
            lambda: self._fact_sales().persist(StorageLevel.MEMORY_AND_DISK),
        )
        return ensure_bucketed(
            self.spark, self.sf_dir, "fact_sales", lambda: base, "invoiceid"
        )

    def _fact_sales(self) -> DataFrame:
        li, o = self.raw("lineitem"), self.raw("orders")
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        price = F.col("l_extendedprice").cast("decimal(12,2)")
        disc = F.col("l_discount").cast("decimal(4,2)")
        return joined.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("sales_key"),
            _smart_date_key(F.col("o_orderdate")).alias("date_key"),
            F.col("l_partkey").alias("product_key"),
            F.col("l_suppkey").alias("supplier_key"),
            F.col("o_custkey").alias("customer_key"),
            F.col("l_orderkey").cast("string").alias("invoiceid"),
            F.floor(F.col("l_quantity")).cast("int").alias("quantity"),
            price.alias("unitprice"),
            F.round(price * (F.lit(1) - disc), 2)
            .cast("decimal(18,2)")
            .alias("totalamount"),
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )

    def register_views(self, prefix: str = "") -> None:
        """Expose the star as temp views for the Spark-SQL query path."""
        self.dim_customer.createOrReplaceTempView(prefix + "dim_customer")
        self.dim_product.createOrReplaceTempView(prefix + "dim_product")
        self.dim_date.createOrReplaceTempView(prefix + "dim_date")
        self.fact_sales.createOrReplaceTempView(prefix + "fact_sales")

"""Table-lifecycle catalog entries: CSV bronze ingest, schema cloning,
upsert (ON CONFLICT DO UPDATE), and sample inspection — the SURVEY §2.1
rows (S1, S3, S5, S9/T3) not already exercised by the cleaning pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import latest_wins
from ..sources.ingest import clone_schema, read_staging_csv, write_staging_csv
from ..sources.tpch import read_table
from .catalog import register
from .layout import scratch_path


@register(
    "staging_csv_ingest",
    oracle="""
        SELECT CAST(p_partkey AS VARCHAR) AS stockcode,
               p_name AS description,
               CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) AS unitprice,
               p_type AS category
        FROM part
    """,
    tags=("lifecycle", "S1", "csv", "bronze"),
    doc="CSV bronze round-trip: write part as staging CSV, read back with "
        "an explicit all-string schema (no inference pass) — ETL.sql:22-62. "
        "Values survive the trip byte-exactly incl. NULL-vs-empty.",
)
def staging_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path(sf_dir, "stg_part_csv")
    part = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("stockcode"),
        F.col("p_name").alias("description"),
        F.col("p_retailprice").cast("decimal(12,2)").cast("string").alias("unitprice"),
        F.col("p_type").alias("category"),
    )
    write_staging_csv(part, path)
    return read_staging_csv(
        spark, path, ["stockcode", "description", "unitprice", "category"]
    )


@register(
    "schema_clone_columns",
    oracle="""
        SELECT column_name, lower(column_type) AS column_type
        FROM (DESCRIBE SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
              FROM lineitem)

    """,
    tags=("lifecycle", "S3"),
    doc="CREATE TABLE ... WITH NO DATA (ELT.sql:30-40): clone a schema "
        "without rows; returns the cloned (name, type) catalog so the "
        "oracle can verify the shape survived",
)
def schema_clone_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    empty = clone_schema(spark, src)
    # WITH NO DATA — plan-time guarantees, zero Spark jobs (r4 verdict
    # #8): the clone is an empty LocalRelation by construction, so the
    # schema identity check is the whole contract; counting it would
    # launch a job just to confirm a constant.
    assert empty.schema == src.schema
    # Spark simpleString → DuckDB DESCRIBE spelling
    type_map = {
        "bigint": "bigint", "long": "bigint", "int": "integer",
        "double": "double", "string": "varchar", "date": "date",
        "timestamp": "timestamp", "timestamp_ntz": "timestamp",
    }
    rows = [(f.name, type_map[f.dataType.simpleString()]) for f in empty.schema.fields]
    return spark.createDataFrame(rows, ["column_name", "column_type"])


@register(
    "upsert_dim_product",
    oracle="""
        WITH base AS (
            SELECT CAST(p_partkey AS VARCHAR) AS stockcode, p_name AS description,
                   CAST(p_retailprice AS DECIMAL(12,2)) AS unitprice, 1 AS version
            FROM part
        ),
        updates AS (
            SELECT stockcode, upper(description) AS description,
                   CAST(unitprice + 1 AS DECIMAL(12,2)) AS unitprice, 2 AS version
            FROM base WHERE CAST(stockcode AS BIGINT) % 10 = 0
        ),
        merged AS (
            SELECT *, row_number() OVER (PARTITION BY stockcode
                                         ORDER BY version DESC) AS rn
            FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
        )
        SELECT stockcode, description, CAST(unitprice AS DOUBLE) AS unitprice, version
        FROM merged WHERE rn = 1
    """,
    tags=("lifecycle", "S5", "W1", "T4"),
    doc="Upsert ON CONFLICT (stockcode) DO UPDATE (ETL.sql:304-315): "
        "last-write-wins merge of an update batch into the product dim via "
        "window dedup — the plain-parquet upsert strategy",
)
def upsert_dim_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("stockcode"),
        F.col("p_name").alias("description"),
        F.col("p_retailprice").cast("decimal(12,2)").alias("unitprice"),
        F.lit(1).alias("version"),
    )
    updates = base.filter(F.col("stockcode").cast("long") % 10 == 0).select(
        "stockcode",
        F.upper("description").alias("description"),
        (F.col("unitprice") + 1).cast("decimal(12,2)").alias("unitprice"),
        F.lit(2).alias("version"),
    )
    merged = latest_wins(base.unionByName(updates), "stockcode", "version", "version")
    return merged.withColumn("unitprice", F.col("unitprice").cast("double"))


@register(
    "sample_rows_inspection",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
        FROM orders
        ORDER BY o_orderkey
        LIMIT 5
    """,
    tags=("lifecycle", "S9", "T3"),
    doc="SELECT * ... LIMIT 5 spot check (ETL.sql:366-369, ELT.sql:62-65). "
        "Pinned to ORDER BY the key so the sample is deterministic and "
        "oracle-checkable; at scale the sort is TakeOrderedAndProject "
        "(per-partition top-5 merge), never a global sort.",
)
def sample_rows_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .orderBy("o_orderkey")
        .limit(5)
    )


@register(
    "pysource_synthetic_events",
    oracle="""
        WITH g AS (
            SELECT i AS event_id, (i * 131) % 997 AS user_id,
                   ['view', 'cart', 'purchase', 'refund'][(i % 4) + 1]
                       AS event_type,
                   ((i * 37) % 10000) / 100.0 AS value
            FROM range(0, 20000) t(i)
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
                   AS total_value
        FROM g GROUP BY event_type
    """,
    tags=("lifecycle", "S1", "connector", "python-datasource"),
    doc="Custom Python DataSource (Spark 4 pyspark.sql.datasource): a "
        "partition-parallel deterministic event generator registered via "
        "spark.dataSource.register and read through the normal "
        "spark.read.format path — the connector extension point for "
        "systems with no built-in source. 20k rows over 8 input splits; "
        "each split generates only its id slice executor-side "
        "(retry-idempotent pure function of the row id), and the DuckDB "
        "oracle regenerates identical rows from range() arithmetic — "
        "proving the connector's split/read contract, not just its "
        "schema. sources/pysource.py.",
)
def pysource_synthetic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pysource import SyntheticEventsDataSource

    # idempotent per session; re-registering the same class is a no-op
    spark.dataSource.register(SyntheticEventsDataSource)
    ev = (
        spark.read.format("ecdw_synthetic_events")
        .option("rows", "20000")
        .option("partitions", "8")
        .load()
    )
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@register(
    "cdc_apply_customer_feed",
    oracle="""
        WITH feed AS (
            SELECT user_id AS cust_id,
                   CASE WHEN event_type = 'signup' THEN 'I'
                        WHEN event_type = 'error'  THEN 'D'
                        ELSE 'U' END AS op,
                   CAST(value AS DECIMAL(12,2)) AS new_bal,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ), latest AS (
            SELECT cust_id, op, new_bal FROM feed WHERE rn = 1
        ), base AS (
            SELECT c_custkey AS cust_id, c_name AS name,
                   CAST(c_acctbal AS DECIMAL(12,2)) AS bal
            FROM customer
        )
        SELECT cust_id,
               COALESCE(b.name, '(new)') AS name,
               CAST(COALESCE(l.new_bal, b.bal) AS DOUBLE) AS acctbal,
               CASE WHEN l.cust_id IS NULL THEN 'base'
                    WHEN b.cust_id IS NULL THEN 'insert'
                    ELSE 'update' END AS src
        FROM base b FULL OUTER JOIN latest l USING (cust_id)
        WHERE COALESCE(l.op, '') <> 'D'
        ORDER BY cust_id
    """,
    tags=("lifecycle", "S5", "W1", "J3", "cdc"),
    doc="CDC change-feed apply — the generalization of the S5 upsert to "
        "a full MERGE with deletes and out-of-order arrival: the event "
        "stream is read as a change feed (signup=insert, error=delete, "
        "else update, sequenced by event time + id, NOT arrival order), "
        "collapsed to one winning operation per key, and applied to the "
        "customer snapshot — tombstones drop the row, inserts create "
        "'(new)' rows, updates rewrite the balance, untouched base rows "
        "carry forward. Scale shape: latest-wins is the W1 key-"
        "partitioned window over the feed (one key shuffle — the feed "
        "is never sorted globally), and the FULL OUTER apply join re-"
        "uses the same key partitioning; at 100 TB this is the standard "
        "snapshot+delta compaction plan, one shuffle each side, no "
        "driver involvement. Core: operators/cdc.py::apply_change_feed, "
        "equivalence-tested against a serial op-by-op replay on "
        "randomized shuffled feeds (tests/test_drift_properties.py).",
)
def cdc_apply_customer_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import apply_change_feed
    from ..sources.tpch import read_events

    feed = read_events(spark, sf_dir).select(
        F.col("user_id").alias("cust_id"),
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.col("value").cast("decimal(12,2)").alias("bal"),
        "ts",
        "event_id",
    )
    base = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
    )
    applied = apply_change_feed(
        base.select("cust_id", "bal"),
        feed,
        "cust_id",
        ["bal"],
        "ts",
        "event_id",
    )
    # the feed images balances only; names ride along from the snapshot
    # (insert keys get the placeholder) — one more co-partitioned join
    return (
        applied.join(base.select("cust_id", "name"), "cust_id", "left")
        .select(
            "cust_id",
            F.coalesce(F.col("name"), F.lit("(new)")).alias("name"),
            F.col("bal").cast("double").alias("acctbal"),
            "src",
        )
        .orderBy("cust_id")
    )


#: right-to-erasure tombstone selector (deterministic, both dialects)
_ERASE_MOD = 211


@register(
    "lifecycle_right_to_erasure",
    oracle=f"""
        WITH tombstones AS (
            SELECT c_custkey FROM customer WHERE c_custkey % {_ERASE_MOD} = 0
        ),
        fact AS (
            SELECT l_orderkey, o_custkey
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )
        SELECT
            CAST((SELECT COUNT(*) FROM tombstones) AS BIGINT) AS n_tombstones,
            CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS customers_before,
            CAST((SELECT COUNT(*) FROM customer
                  WHERE c_custkey NOT IN (SELECT c_custkey FROM tombstones))
                 AS BIGINT) AS customers_after,
            CAST((SELECT COUNT(*) FROM fact) AS BIGINT) AS facts_before,
            CAST((SELECT COUNT(*) FROM fact
                  WHERE o_custkey NOT IN (SELECT c_custkey FROM tombstones))
                 AS BIGINT) AS facts_after,
            CAST((SELECT COUNT(*) FROM fact
                  WHERE o_custkey IN (SELECT c_custkey FROM tombstones)
                    AND o_custkey NOT IN (SELECT c_custkey FROM tombstones))
                 AS BIGINT) AS orphans_remaining
    """,
    tags=("lifecycle", "gdpr", "J7", "A2"),
    doc="Right-to-erasure propagation report, SINGLE-PASS: the dimension "
        "and the fact are each scanned exactly once, with the purge "
        "expressed as conditional aggregates over a tombstone flag (a "
        "broadcast left join on the fact side, the selector predicate "
        "itself on the dimension side). orphans_remaining encodes the "
        "structural invariant of the purge predicate — a row cannot "
        "simultaneously survive the anti-join and carry a tombstone — "
        "rather than independently proving a materialized purge; the "
        "hash match pins that the flag wiring is consistent, not a "
        "re-audit of written output. At 100 TB the same flag drives a "
        "partition-rewrite writer (plans/layout.py compaction) instead "
        "of a count, and one-scan-per-table is the difference between "
        "one and three passes over the largest table in the house. The "
        "deletion-lifecycle companion to CDC deletes (operators/cdc.py) "
        "— those tombstone one key's FEED, this propagates erasure "
        "ACROSS tables.",
)
def lifecycle_right_to_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    is_tomb_c = (F.col("c_custkey") % _ERASE_MOD == 0).cast("long")
    cust_counts = cust.agg(
        F.sum(is_tomb_c).cast("long").alias("n_tombstones"),
        F.count("*").cast("long").alias("customers_before"),
        F.sum(F.lit(1) - is_tomb_c).cast("long").alias("customers_after"),
    )
    tomb = cust.filter(F.col("c_custkey") % _ERASE_MOD == 0).select(
        F.col("c_custkey").alias("_tomb_key")
    )
    fact = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .join(
            read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(tomb), F.col("o_custkey") == F.col("_tomb_key"), "left")
    )
    is_tomb_f = F.col("_tomb_key").isNotNull()
    survives = ~is_tomb_f
    fact_counts = fact.agg(
        F.count("*").cast("long").alias("facts_before"),
        F.coalesce(F.sum(F.when(survives, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("facts_after"),
        F.coalesce(F.sum(F.when(survives & is_tomb_f, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("orphans_remaining"),
    )
    # hint kept: the other side is small too, and unhinted the planner builds it
    return cust_counts.crossJoin(F.broadcast(fact_counts)).select(
        "n_tombstones", "customers_before", "customers_after",
        "facts_before", "facts_after", "orphans_remaining",
    )

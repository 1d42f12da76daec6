"""Raw parquet readers for the driver testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.

Scale note: ``spark.read.parquet`` gives splittable columnar scans with
predicate pushdown + column pruning for free; at 100 TB these would be
directories of many files (possibly hive-partitioned — see
plans/layout.py for the partitioned-write helpers), and the same reader
works unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: raw tables served from the bucketed silver layout (sources/silver.py
#: — r13, VERDICT r12 #7): the raw files are ONE parquet file with ONE
#: row group each, so a full scan is ONE task at any core count; the
#: fact-sized pair is re-laid once per scale dir, bucketed on its join
#: key, so scans parallelize across buckets and orderkey joins
#: (lineitem ⋈ orders — the conformance build, tpch q5/q9/q12/q21, the
#: tpcds fact) read co-bucketed sides. Content identical to the raw
#: file; dimension tables stay raw (a 1-task scan of a 0.3 MB file is
#: already right).
SILVER_ROUTED = {"lineitem": "l_orderkey", "orders": "o_orderkey"}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # every catalog query reads through here: pin the runtime confs the
    # engine's determinism contract needs (UTC date arithmetic — the
    # testdata timestamps are naive; a non-UTC caller session would shift
    # every derived date_key/window), independent of the caller's session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark rejects
        # unless nanos arrive as longs; set at runtime so the engine
        # works under any caller-provided session (the conf is a runtime
        # SQL conf, not a static one)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name in SILVER_ROUTED:
        from .silver import ensure_bucketed

        return ensure_bucketed(
            spark, sf_dir, name,
            lambda: spark.read.parquet(path), SILVER_ROUTED[name],
        )
    return spark.read.parquet(path)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to a proper TimestampType regardless of how the
    parquet file encoded it.  The testdata has drifted across driver
    rounds, so all three physical encodings are handled:

    - parquet TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong``
      the column arrives as nanosecond ``bigint``; integer-divide to
      micros (the same truncation DuckDB applies, so oracles agree).
    - parquet ``timestamp[us]`` with no zone: Spark 4 reads it as
      TIMESTAMP_NTZ (``inferTimestampNTZ``); the session timezone is
      pinned UTC at the read chokepoint, so ``cast("timestamp")`` is
      value-preserving.
    - already TIMESTAMP: pass through.

    Batch (``read_events``) and streaming (streaming/events.py) both go
    through this one helper so the two paths cannot drift.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if dtype == "timestamp":
        return df
    raise TypeError(f"events.ts arrived as unsupported dtype {dtype!r}")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as a proper TimestampType (see
    :func:`normalize_events_ts` for the encodings handled)."""
    return normalize_events_ts(read_table(spark, sf_dir, "events"))


def load_raw(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register each raw table as a temp view (for the Spark-SQL query path)."""
    for name in TABLES:
        df = read_events(spark, sf_dir) if name == "events" else read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(prefix + name)

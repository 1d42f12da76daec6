"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads),
but every conf here is chosen to also be the right default on a large
cluster:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  runtime demotion of sort-merge to broadcast) — replaces the reference's
  manual ``ANALYZE`` + planner-flag tuning
  (Iteration 2/Group No.6_JoinPerformance.sql:11-14,19-76).
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a
  real cluster AQE's coalescing makes the initial number mostly a cap.
- UTC session timezone so ``date_format``/date arithmetic is
  deterministic and matches the DuckDB oracle (naive timestamps).
- Arrow enabled for the few Pandas-UDF paths (multimodal/stubs); all hot
  paths stay JVM-side.
- The driver JVM's JIT follows the size of the warehouse the session
  serves (``sf_dir``; bytes on disk, symlinks followed):
  - up to ``C1_MAX_WAREHOUSE_BYTES``, or with no ``sf_dir``, C1 only
    (``-XX:TieredStopAtLevel=1``) with a 240 MB code cache. At sf0.01
    (1.6-1.9 MB) each query touches few rows, so C2, the optimizing
    JIT, does not pay back: its ~6.5k compiles in one process spread
    thin over Catalyst, Spark execution, the Janino-generated stage
    classes and Janino itself, and on 4 cores its threads burned more
    CPU than the executor tasks in set-up and in every dashboard
    refresh. The dashboard benchmark (``perfbench``) measures this
    side; it names no ``sf_dir`` (it starts the session before linking
    its sf0.01 inputs). The cost on this side: a process that lives
    long enough lets C2 pay back even at sf0.01; the test suite, one
    process of 25-30 minutes, ran 1360 s tiered against 1494-1756 s.
  - above it, the default tiered C1+C2 JIT. At sf0.1 (17 MB) C2 pays
    back inside one fresh process: with C1 only, ``bench.py``'s
    headline total ran 1.8x as long (median of 3 alternating pairs on
    4 cores, 82.6 -> 149.7 s) and 104-119 of its 122 entries were
    slower; its set-up, with the silver files already on disk, was
    not faster either (21.7 -> 22.9 s).
  The cut sits between the two measured scales; sizes in between were
  not measured.
- The code-cache size is needed with C1 only: the JVM then shrinks its
  default cache from 240 MB to 48 MB, which fills during the first
  dashboard refresh and leaves C1 recompiling, and the sweeper busy,
  on every later one. Tiered keeps its default 240 MB.
- In local mode this one JVM runs the driver and every executor. On a
  cluster the flags reach only the driver JVM; executor JVMs keep the
  default tiered JIT (``spark.executor.extraJavaOptions`` is not set).
  Whether C1 suits a cluster driver was not measured.

``extra_conf`` overrides any conf above, except
``spark.driver.extraJavaOptions``: the caller's string is appended
after the engine's options rather than replacing them, so the UTC
timezone and the JIT flags always stay.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TIMEZONE_OPTION = "-Duser.timezone=UTC"
C1_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
#: largest warehouse served with C1 only, bytes: between sf0.01, where
#: C1 measured faster, and sf0.1, where it measured slower
C1_MAX_WAREHOUSE_BYTES = 8 << 20


def warehouse_bytes(sf_dir: str) -> int:
    """Bytes of the files under ``sf_dir`` (0 when it does not exist)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(sf_dir, followlinks=True)
        for f in files
    )


def driver_java_options(sf_dir: str | None = None) -> str:
    """The driver JVM's options for a session serving ``sf_dir``."""
    if sf_dir is not None and warehouse_bytes(sf_dir) > C1_MAX_WAREHOUSE_BYTES:
        return TIMEZONE_OPTION
    return f"{TIMEZONE_OPTION} {C1_OPTIONS}"


def get_spark(
    app_name: str = "ecdw-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    sf_dir: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long and convert in sources.tpch.read_events
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    conf["spark.driver.extraJavaOptions"] = (
        driver_java_options(sf_dir) + " " + conf.get("spark.driver.extraJavaOptions", "")
    ).strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""Bucketed on-disk silver layout — the loaded warehouse's physical
table layout (r13; VERDICT r12 items #5/#7, guide §2.4 "bucketed tables
persist a partitioning across jobs" + §6 "file layout determines scan
parallelism").

Why: every raw testdata table is ONE parquet file with ONE row group,
so any full scan is ONE task regardless of ``maxPartitionBytes`` (Spark
can split a parquet file only at row-group boundaries), and every join
on the fact keys pays a shuffle per query. Both problems are storage
LAYOUT, not query shape (OPTIMIZATION_r12.md "deliberately left
alone"): the scale-correct fix is the silver table a warehouse load
writes once — bucketed so repeated joins/aggregations on the bucket key
skip their exchange and so the scan parallelizes across buckets.

This module is that layout job, one build-once artifact per table
(sources/artifacts.py). The in-memory catalog forgets bucketing metadata
across processes while the files persist, so a fresh process
re-registers the built files with ``CREATE TABLE ... CLUSTERED BY ...
LOCATION`` (DDL only, no rewrite). Build cost shows in the load phase
(bench.py ``load_sec``) on a cold run, like the index builds; the data
content is IDENTICAL to the raw file (same rows, same schema — only the
physical clustering changes), so every query computes from the same
inputs.

Bucket count is a FIXED layout constant (like any real table's bucket
spec), not derived from the session's core count: the table must be
readable by any session (the driver benches at 8 AND 32 cores against
the same layout), and a bucketed scan yields one task per bucket either
way. 32 buckets ≈ 19k rows/bucket at sf0.1; at 100 TB the layout job
would size buckets to the 128 MB-1 GB guide target instead (§6).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .artifacts import ensure, scratch_root

SILVER_KIND = "silver_v1"
SILVER_BUCKETS = 32


def _ident(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/")).replace(".", "_")


def table_name(sf_dir: str, name: str) -> str:
    return f"silver_{name}_{_ident(sf_dir)}"


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: "callable",
    bucket_col: str,
) -> DataFrame:
    """Return ``name`` as a bucketed catalog table for ``sf_dir``,
    writing it from ``build()`` on first use or registering files an
    earlier process wrote.

    The write repartitions on the bucket column first so each bucket is
    ONE file (otherwise every write task emits a file per bucket —
    tasks x buckets tiny files, guide §6's small-files trap).
    """
    tbl = table_name(sf_dir, name)

    def write(loc: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            build().repartition(SILVER_BUCKETS, bucket_col)
            .write.mode("overwrite")
            .option("path", loc)
            .bucketBy(SILVER_BUCKETS, bucket_col)
            .sortBy(bucket_col)
            .saveAsTable(tbl)
        )

    def register(loc: str) -> None:
        if spark.catalog.tableExists(tbl):
            return
        # schema from the builder's (never-executed) logical plan, so
        # the DDL always matches what the files were written with
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in build().schema.fields
        )
        spark.sql(
            f"CREATE TABLE {tbl} ({ddl}) USING parquet "
            f"CLUSTERED BY ({bucket_col}) INTO {SILVER_BUCKETS} BUCKETS "
            f"LOCATION '{loc}'"
        )

    ensure(spark, scratch_root(SILVER_KIND, sf_dir, name), write, register)
    return spark.table(tbl)

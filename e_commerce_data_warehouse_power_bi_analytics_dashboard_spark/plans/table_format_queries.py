"""ACID table-format entries: MERGE upsert, snapshot time travel, and
manifest audit over the versioned-manifest parquet table
(operators/table_format.py).

The reference's upsert is ``INSERT ... ON CONFLICT DO UPDATE`` on a
mutable heap table (ETL.sql:304-315); its time-travel analog is the SCD2
dimension history it rebuilds by hand. On an immutable parquet lake both
need a table format, and the engine's own docs kept pointing at one
(layout_schema_evolution_read: "pin the schema in a table format";
streaming/cdc.py's ``v=<epoch>`` dirs are a hand-rolled prefix of the
idea) — this module realizes it (VERDICT r7 "Next round" #3).

Demo table: dim_customer clustered on ``c_bucket = c_custkey % 4``,
three commits, all derived DETERMINISTICALLY from the customer table so
every entry has a closed-form DuckDB oracle that reconstructs each
version's state from ``customer`` alone:

  v0  CREATE  = customers with  c_custkey % 4 != 0       (the base)
  v1  MERGE   = U (%8==1): acctbal+1000, segment 'MERGED'
              + I (%8==4): first appearance of those keys
  v2  MERGE   = D (%16==3) + U (%16==5): acctbal-500, 'MERGED2'

The mod classes are disjoint where it matters (%8==1 vs %16==5 never
overlap; inserts %8==4 are even, deletes %16==3 odd), so version state
is pure CASE arithmetic — no replay needed oracle-side. Each demo table
is built once (sources/artifacts.py); entries then only READ — manifest
folds + pruned parquet scans, the actual serve path of a table format
at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import table_format as tf
from ..sources.artifacts import ensure, scratch_root
from ..sources.tpch import read_table
from ._helpers import money_sum, o_money_sum
from .catalog import register

#: payload columns of the demo table (key is c_custkey)
_PAYLOAD = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "c_bucket"]


def _ensure_table(spark: SparkSession, sf_dir: str, name: str, build) -> str:
    """Demo table ``name`` for ``sf_dir``, written once by ``build(root)``
    as a build-once artifact (sources/artifacts.py). A torn build is
    wiped, not built over, which would raise CommitConflict at version
    0 forever. Kind v2: manifests carry per-file footer stats +
    partition values + writer schema (r9); v1 tables are not reused."""
    return ensure(spark, scratch_root("table_format_v2", sf_dir, name), build)


def _with_bucket(df: DataFrame) -> DataFrame:
    """Add the cluster column and pin acctbal to DECIMAL(12,2) — the
    table's money type. All writers preserve it exactly, so every data
    file across every version shares ONE schema (a mixed-precision read
    would fail) and sums are partition-order-independent."""
    return df.withColumn(
        "c_bucket", (F.col("c_custkey") % 4).cast("int")
    ).withColumn("c_acctbal", F.col("c_acctbal").cast("decimal(12,2)"))


def _feed1(cust: DataFrame) -> DataFrame:
    """Version-1 change batch: updates for %8==1, inserts for %8==4."""
    upd = cust.filter(F.col("c_custkey") % 8 == 1).select(
        "c_custkey",
        F.lit("U").alias("op"),
        "c_name", "c_nationkey",
        (F.col("c_acctbal") + 1000).cast("decimal(12,2)").alias("c_acctbal"),
        F.lit("MERGED").alias("c_mktsegment"),
        "c_bucket",
    )
    ins = cust.filter(F.col("c_custkey") % 8 == 4).select(
        "c_custkey", F.lit("I").alias("op"), *_PAYLOAD
    )
    return (
        upd.unionByName(ins)
        .withColumn("seq", F.lit(1))
        .withColumn("tb", F.col("c_custkey"))
    )


def _feed2(cust: DataFrame) -> DataFrame:
    """Version-2 change batch: deletes %16==3, updates %16==5."""
    dele = cust.filter(F.col("c_custkey") % 16 == 3).select(
        "c_custkey", F.lit("D").alias("op"), *_PAYLOAD
    )
    upd = cust.filter(F.col("c_custkey") % 16 == 5).select(
        "c_custkey",
        F.lit("U").alias("op"),
        "c_name", "c_nationkey",
        (F.col("c_acctbal") - 500).cast("decimal(12,2)").alias("c_acctbal"),
        F.lit("MERGED2").alias("c_mktsegment"),
        "c_bucket",
    )
    return (
        dele.unionByName(upd)
        .withColumn("seq", F.lit(2))
        .withColumn("tb", F.col("c_custkey"))
    )


def ensure_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build the 3-commit demo table once."""

    def build(root: str) -> None:
        cust = _with_bucket(read_table(spark, sf_dir, "customer"))
        base = cust.filter(F.col("c_custkey") % 4 != 0).select("c_custkey", *_PAYLOAD)
        tf.create_table(spark, root, base, partition_by="c_bucket")
        tf.merge(spark, root, _feed1(cust), "c_custkey", _PAYLOAD, "seq", "tb")
        tf.merge(spark, root, _feed2(cust), "c_custkey", _PAYLOAD, "seq", "tb")

    return _ensure_table(spark, sf_dir, "dim_customer", build)


#: oracle CASE fragments reconstructing each version's state from customer
_O_V0 = "SELECT * FROM customer WHERE c_custkey % 4 != 0"
_O_V1 = """
    SELECT c_custkey,
           CAST(c_acctbal AS DECIMAL(12,2))
             + CASE WHEN c_custkey % 8 = 1 THEN 1000 ELSE 0 END
               AS c_acctbal,
           CASE WHEN c_custkey % 8 = 1 THEN 'MERGED'
                ELSE c_mktsegment END AS c_mktsegment,
           c_name, c_nationkey
    FROM customer
    WHERE c_custkey % 4 != 0 OR c_custkey % 8 = 4
"""
_O_V2 = """
    SELECT c_custkey,
           CAST(c_acctbal AS DECIMAL(12,2))
             + CASE WHEN c_custkey % 8 = 1 THEN 1000 ELSE 0 END
             - CASE WHEN c_custkey % 16 = 5 THEN 500 ELSE 0 END
               AS c_acctbal,
           CASE WHEN c_custkey % 16 = 5 THEN 'MERGED2'
                WHEN c_custkey % 8 = 1 THEN 'MERGED'
                ELSE c_mktsegment END AS c_mktsegment,
           c_name, c_nationkey
    FROM customer
    WHERE (c_custkey % 4 != 0 OR c_custkey % 8 = 4)
      AND c_custkey % 16 != 3
"""


@register(
    "tf_merge_snapshot",
    oracle=f"""
        WITH v2 AS ({_O_V2})
        SELECT c_custkey, c_name,
               CAST(c_nationkey AS INTEGER) AS nationkey,
               CAST(c_acctbal AS DOUBLE) AS acctbal,
               c_mktsegment AS segment
        FROM v2
    """,
    tags=("table_format", "merge", "S5", "acid"),
    doc="MERGE-into-table, the reference upsert (ETL.sql:304-315) on an "
        "immutable lake: two copy-on-write MERGE commits (upserts, "
        "inserts, deletes via operators/cdc.py change feeds) applied to "
        "a versioned-manifest parquet table, then the LATEST snapshot "
        "read back — a manifest fold plus a scan of only the active "
        "files. The oracle reconstructs the same end state from the raw "
        "customer table with closed-form CASE arithmetic, so the hash "
        "match proves the full commit/rewrite/carry-forward machinery "
        "preserved every row. COW at file granularity: each merge "
        "rewrites only the cluster files containing fed keys "
        "(tests/test_table_format.py pins bucket-2 files surviving "
        "both merges untouched); at 100 TB merge cost follows the "
        "change batch, never the table.",
)
def tf_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_demo_table(spark, sf_dir)
    return tf.read_version(spark, root).select(
        "c_custkey", "c_name",
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )


def ensure_sql_merge_table(spark: SparkSession, sf_dir: str) -> str:
    """The SAME 3-commit history as ensure_demo_table, but v1/v2 are
    produced by ``MERGE INTO`` STATEMENTS through the SQL router
    (tf.sql → _route_merge → copy-on-write merge) instead of Python
    change-feed calls — its own scratch root so the two builds can
    never half-match each other's commit logs. Because both histories
    end in the same state, the entry shares tf_merge_snapshot's
    closed-form oracle: a hash match proves statement routing compiles
    to the exact same commits the Python API produces."""

    def build(root: str) -> None:
        cust = _with_bucket(read_table(spark, sf_dir, "customer"))
        base = cust.filter(F.col("c_custkey") % 4 != 0).select("c_custkey", *_PAYLOAD)
        tf.create_table(spark, root, base, partition_by="c_bucket")
        cust.filter(
            (F.col("c_custkey") % 8 == 1) | (F.col("c_custkey") % 8 == 4)
        ).select("c_custkey", *_PAYLOAD).createOrReplaceTempView("tf_merge_src1")
        tf.sql(spark, {"dimc": root}, """
            MERGE INTO dimc AS t USING tf_merge_src1 AS s
            ON t.c_custkey = s.c_custkey
            WHEN MATCHED THEN UPDATE SET
                c_acctbal = CAST(s.c_acctbal + 1000 AS DECIMAL(12,2)),
                c_mktsegment = 'MERGED'
            WHEN NOT MATCHED THEN INSERT *
        """)
        cust.filter(
            (F.col("c_custkey") % 16 == 3) | (F.col("c_custkey") % 16 == 5)
        ).select("c_custkey", *_PAYLOAD).createOrReplaceTempView("tf_merge_src2")
        tf.sql(spark, {"dimc": root}, """
            MERGE INTO dimc AS t USING tf_merge_src2 AS s
            ON t.c_custkey = s.c_custkey
            WHEN MATCHED AND t.c_custkey % 16 = 3 THEN DELETE
            WHEN MATCHED THEN UPDATE SET
                c_acctbal = CAST(s.c_acctbal - 500 AS DECIMAL(12,2)),
                c_mktsegment = 'MERGED2'
        """)

    return _ensure_table(spark, sf_dir, "dim_customer_sqlmerge", build)


@register(
    "tf_merge_sql",
    oracle=f"""
        WITH v2 AS ({_O_V2})
        SELECT c_custkey, c_name,
               CAST(c_nationkey AS INTEGER) AS nationkey,
               CAST(c_acctbal AS DOUBLE) AS acctbal,
               c_mktsegment AS segment
        FROM v2
    """,
    tags=("table_format", "merge", "sql", "S5", "acid"),
    doc="MERGE INTO as a SQL STATEMENT (r10 — verdict #4): the same "
        "3-commit upsert history as tf_merge_snapshot, but v1/v2 are "
        "single MERGE INTO statements (WHEN MATCHED [AND] THEN "
        "UPDATE/DELETE, WHEN NOT MATCHED THEN INSERT *) routed through "
        "the table format's SQL resolver to the copy-on-write merge "
        "commit — the reference's ON CONFLICT upsert "
        "(ETL.sql:304-315) as the one statement a lake user actually "
        "types. First-match-wins clause guards (v2's DELETE clause "
        "shadows its UPDATE for %16==3 keys) compile to one change "
        "feed applied in one commit. Shares tf_merge_snapshot's "
        "closed-form oracle: the hash match proves statement routing "
        "and the Python change-feed API produce identical tables.",
)
def tf_merge_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_sql_merge_table(spark, sf_dir)
    return tf.read_version(spark, root).select(
        "c_custkey", "c_name",
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )


def ensure_full_sync_table(spark: SparkSession, sf_dir: str) -> str:
    """A third demo table for the FULL-SYNC dimension refresh (r11 —
    verdict #2): base = customers %4 != 0; one ``MERGE INTO`` statement
    with a COMPOUND ON (c_custkey AND c_bucket), strict cardinality
    mode, and all three clause categories — WHEN MATCHED UPDATE,
    WHEN NOT MATCHED INSERT *, and WHEN NOT MATCHED BY SOURCE
    DELETE/UPDATE (rows that vanished upstream are deleted when
    overdrawn, else flagged 'STALE' — the other half of the
    reference's ON CONFLICT dim-refresh semantics, ETL.sql:304-315).
    Own scratch root so no other demo's commit log can half-match."""

    def build(root: str) -> None:
        cust = _with_bucket(read_table(spark, sf_dir, "customer"))
        base = cust.filter(F.col("c_custkey") % 4 != 0).select("c_custkey", *_PAYLOAD)
        tf.create_table(spark, root, base, partition_by="c_bucket")
        # the upstream's CURRENT dimension image: %3 != 0 (drops a third of
        # the base keys, adds the %4==0 keys that also pass %3)
        cust.filter(F.col("c_custkey") % 3 != 0).select(
            "c_custkey", *_PAYLOAD
        ).createOrReplaceTempView("tf_fullsync_src")
        tf.sql(spark, {"dimc": root}, """
            MERGE INTO dimc AS t USING tf_fullsync_src AS s
            ON t.c_custkey = s.c_custkey AND t.c_bucket = s.c_bucket
            WHEN MATCHED THEN UPDATE SET
                c_acctbal = CAST(s.c_acctbal + 100 AS DECIMAL(12,2)),
                c_mktsegment = 'SYNC'
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND t.c_acctbal < 0 THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_mktsegment = 'STALE'
        """, strict_merge=True)

    return _ensure_table(spark, sf_dir, "dim_customer_fullsync", build)


@register(
    "tf_merge_full_sync",
    oracle="""
        SELECT c_custkey, c_name,
               CAST(c_nationkey AS INTEGER) AS nationkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2))
                    + CASE WHEN c_custkey % 4 != 0 AND c_custkey % 3 != 0
                           THEN 100 ELSE 0 END
                    AS DOUBLE) AS acctbal,
               CASE WHEN c_custkey % 3 != 0 AND c_custkey % 4 != 0
                    THEN 'SYNC'
                    WHEN c_custkey % 3 != 0 THEN c_mktsegment
                    ELSE 'STALE' END AS segment
        FROM customer
        WHERE c_custkey % 3 != 0
           OR (c_custkey % 4 != 0 AND c_acctbal >= 0)
    """,
    tags=("table_format", "merge", "sql", "S5", "acid"),
    doc="FULL-SYNC dimension refresh as ONE MERGE statement (r11 — "
        "verdict #2, completing the grammar): compound AND-of-"
        "equalities ON (c_custkey, c_bucket), strict cardinality mode "
        "(duplicate source keys raise — the Delta contract), WHEN "
        "MATCHED UPDATE / WHEN NOT MATCHED INSERT * / WHEN NOT MATCHED "
        "BY SOURCE DELETE-or-UPDATE with first-match-wins guards. BY "
        "SOURCE addresses the target rows whose key VANISHED upstream "
        "— the half of the reference's dim-refresh semantics "
        "(ETL.sql:304-315) that ON CONFLICT alone cannot express: "
        "overdrawn vanished rows are deleted, the rest flagged "
        "'STALE'. All three categories compile to one change feed and "
        "one copy-on-write commit, so cost stays file-granular. The "
        "closed-form oracle reconstructs the end state from customer "
        "with CASE arithmetic over the %3/%4 classes.",
)
def tf_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_full_sync_table(spark, sf_dir)
    return tf.read_version(spark, root).select(
        "c_custkey", "c_name",
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )


@register(
    "tf_time_travel_versions",
    oracle=f"""
        SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
               {o_money_sum('CAST(c_acctbal AS DECIMAL(12,2))')} AS sum_acctbal
        FROM ({_O_V0})
        UNION ALL
        SELECT 1, CAST(COUNT(*) AS BIGINT), {o_money_sum('c_acctbal')}
        FROM ({_O_V1})
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT), {o_money_sum('c_acctbal')}
        FROM ({_O_V2})
    """,
    tags=("table_format", "time_travel", "acid"),
    doc="Snapshot time travel: read the SAME table as of versions 0, 1 "
        "and 2 (each a fold of the commit log prefix + a scan of that "
        "version's active files — committed versions are immutable, so "
        "v0 still reads the original base after two merges rewrote "
        "parts of it) and report per-version row count and exact-"
        "decimal balance sum. The oracle recomputes each historical "
        "state independently from customer; matching all three rows "
        "proves reads are repeatable AND that merges never leaked into "
        "history — the isolation property, tested rather than claimed. "
        "The read path is what a 100 TB reproducible-training-snapshot "
        "pipeline pins its manifests to.",
)
def tf_time_travel_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_demo_table(spark, sf_dir)
    parts = [
        tf.read_version(spark, root, v).agg(
            F.lit(v).alias("version"),
            F.count("*").cast("long").alias("n_rows"),
            money_sum("c_acctbal").alias("sum_acctbal"),
        ).select("version", "n_rows", "sum_acctbal")
        for v in (0, 1, 2)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ensure_colmap_table(spark: SparkSession, sf_dir: str) -> str:
    """NON-ADDITIVE schema evolution demo (r11 — verdict #5): a
    COLUMN-MAPPED table (immutable physical names, logical names in the
    manifest) evolved across seven commits, four of them metadata-only:

      v0  CREATE  customers %4 != 0
          (c_custkey, c_name, c_acctbal DECIMAL(12,2), c_mktsegment)
      v1  RENAME  c_mktsegment -> segment        (same field id)
      v2  APPEND  the %4 == 0 customers          (current names)
      v3  WIDEN   c_acctbal -> DECIMAL(14,2)     (reads upcast old files)
      v4  DROP    c_name                          (bytes stay, unselected)
      v5  ADD     c_name STRING                   (NEW field id)
      v6  DELETE  c_custkey % 10 = 7              (MoR vectors)

    v5 re-adds the very name v4 dropped — the resurrection trap: the
    new field id maps to a physical column no existing file has, so
    every pre-v5 row MUST read NULL (the entry's oracle pins it)."""

    def build(root: str) -> None:
        cust = read_table(spark, sf_dir, "customer").withColumn(
            "c_acctbal", F.col("c_acctbal").cast("decimal(12,2)")
        )
        cols = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
        tf.create_table(
            spark, root,
            cust.filter(F.col("c_custkey") % 4 != 0).select(*cols),
            files=2, column_mapping=True,
        )
        tf.rename_column(root, "c_mktsegment", "segment")
        tf.append(
            spark, root,
            cust.filter(F.col("c_custkey") % 4 == 0).select(
                "c_custkey", "c_name", "c_acctbal",
                F.col("c_mktsegment").alias("segment"),
            ),
        )
        tf.widen_column(root, "c_acctbal", "decimal(14,2)")
        tf.drop_column(root, "c_name")
        tf.add_column(root, "c_name", "string")
        tf.delete_where(spark, root, "c_custkey % 10 = 7")

    return _ensure_table(spark, sf_dir, "dim_customer_colmap", build)


#: the demo's per-version oracle facts: (filter, name_nonnull rule,
#: sorted logical column list) — closed-form over customer
_COLMAP_VERSIONS = [
    (0, "c_custkey % 4 != 0", "rows", "c_acctbal,c_custkey,c_mktsegment,c_name"),
    (1, "c_custkey % 4 != 0", "rows", "c_acctbal,c_custkey,c_name,segment"),
    (2, "TRUE", "rows", "c_acctbal,c_custkey,c_name,segment"),
    (3, "TRUE", "rows", "c_acctbal,c_custkey,c_name,segment"),
    (4, "TRUE", "-1", "c_acctbal,c_custkey,segment"),
    (5, "TRUE", "0", "c_acctbal,c_custkey,c_name,segment"),
    (6, "c_custkey % 10 != 7", "0", "c_acctbal,c_custkey,c_name,segment"),
]


@register(
    "tf_column_mapping",
    oracle=" UNION ALL ".join(
        f"""
        SELECT {v} AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey,
               {o_money_sum('CAST(c_acctbal AS DECIMAL(14,2))')} AS acctbal_sum,
               CAST({'COUNT(*)' if nn == 'rows' else nn} AS BIGINT)
                   AS name_nonnull,
               '{colstr}' AS columns
        FROM customer WHERE {flt}
        """
        for v, flt, nn, colstr in _COLMAP_VERSIONS
    ) + " ORDER BY version",
    tags=("table_format", "schema_evolution", "column_mapping", "acid"),
    doc="COLUMN MAPPING — rename/drop/re-add/widen WITHOUT rewrites "
        "(r11 — verdict #5, the non-additive half of schema evolution; "
        "the Delta name-mode idea): columns live in files under "
        "immutable synthetic physical names, the manifest maps logical "
        "names per version, so rename (same id), drop (bytes stay, "
        "unselected), re-add (NEW id — old data can never resurrect) "
        "and int/decimal widening (schema-on-read upcast) are all "
        "METADATA commits. This entry time-travels all seven versions "
        "of the demo table and emits each version's row count, key "
        "sum, exact balance sum, non-null count of c_name (-1 when the "
        "column doesn't exist at that version; 0 after the re-add — "
        "the resurrection pin) and its sorted logical column list; the "
        "oracle states every row closed-form from customer. "
        "operators/table_format.py::rename_column/drop_column/"
        "add_column/widen_column.",
)
def tf_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_colmap_table(spark, sf_dir)
    parts = []
    for v, _, _, _ in _COLMAP_VERSIONS:
        d = tf.read_version(spark, root, v)
        has_name = "c_name" in d.columns
        parts.append(
            d.agg(
                F.lit(v).alias("version"),
                F.count("*").cast("long").alias("n_rows"),
                F.sum("c_custkey").cast("long").alias("sum_custkey"),
                money_sum(F.col("c_acctbal").cast("decimal(14,2)"))
                .alias("acctbal_sum"),
                (
                    F.sum(F.col("c_name").isNotNull().cast("long"))
                    if has_name else F.lit(-1)
                ).cast("long").alias("name_nonnull"),
                F.lit(",".join(sorted(d.columns))).alias("columns"),
            ).select(
                "version", "n_rows", "sum_custkey", "acctbal_sum",
                "name_nonnull", "columns",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


@register(
    "tf_column_mapping_cdf",
    oracle=f"""
        SELECT * FROM (
            SELECT 2 AS commit_version, 'insert' AS change_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey,
                   {o_money_sum('CAST(c_acctbal AS DECIMAL(14,2))')}
                       AS acctbal_sum
            FROM customer WHERE c_custkey % 4 = 0
            UNION ALL
            SELECT 6, 'delete',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(c_custkey) AS BIGINT),
                   {o_money_sum('CAST(c_acctbal AS DECIMAL(14,2))')}
            FROM customer WHERE c_custkey % 10 = 7
        ) ORDER BY commit_version
    """,
    tags=("table_format", "schema_evolution", "column_mapping", "cdf", "acid"),
    doc="CHANGE DATA FEED across column-mapping evolution (r11): the "
        "feed over the colmap demo's full history must stay consistent "
        "through a rename, a widen, a drop and a re-add — physical "
        "names are immutable, so every version's files resolve under "
        "the v_to mapping and a renamed column keeps its history while "
        "a re-added one reports NULL for rows written under the dead "
        "field id. Four metadata commits contribute NO change rows "
        "(nothing moved); the v2 append reports inserts, the v6 MoR "
        "delete reports pre-image deletes read back through the "
        "mapping. Closed-form oracle from customer.",
)
def tf_column_mapping_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_colmap_table(spark, sf_dir)
    cf = tf.change_feed(
        spark, root, "c_custkey", ["c_acctbal", "segment", "c_name"],
        v_from=0, v_to=6,
    )
    return (
        cf.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("c_custkey").cast("long").alias("sum_custkey"),
            money_sum(F.col("c_acctbal").cast("decimal(14,2)"))
            .alias("acctbal_sum"),
        )
        .orderBy("commit_version")
    )


def ensure_evo_table(spark: SparkSession, sf_dir: str) -> str:
    """A second demo table for ADDITIVE SCHEMA EVOLUTION: commit 0 is
    the same %4!=0 base (no loyalty_tier column); commit 1 APPENDS the
    remaining customers WITH a new loyalty_tier column. Own root so the
    merge/time-travel entries' snapshots stay untouched."""

    def build(root: str) -> None:
        cust = _with_bucket(read_table(spark, sf_dir, "customer"))
        base = cust.filter(F.col("c_custkey") % 4 != 0).select("c_custkey", *_PAYLOAD)
        tf.create_table(spark, root, base, partition_by="c_bucket")
        evolved = cust.filter(F.col("c_custkey") % 4 == 0).select(
            "c_custkey", *_PAYLOAD,
            (F.col("c_custkey") % 3).cast("int").alias("loyalty_tier"),
        )
        tf.append(spark, root, evolved)

    return _ensure_table(spark, sf_dir, "dim_customer_evo", build)


@register(
    "tf_append_schema_evolution",
    oracle="""
        SELECT c_custkey,
               CAST(c_acctbal AS DOUBLE) AS acctbal,
               CASE WHEN c_custkey % 4 = 0
                    THEN CAST(c_custkey % 3 AS INTEGER) END AS loyalty_tier
        FROM customer
    """,
    tags=("table_format", "S4", "schema_evolution", "acid"),
    doc="INSERT INTO + additive schema evolution on the table format: "
        "an append commit adds files carrying a NEW loyalty_tier "
        "column (no read, no rewrite — the cheapest table-format "
        "write); a merge_schema snapshot then unions file schemas, so "
        "pre-evolution rows surface the column as NULL. The oracle "
        "derives the same 1500-row frame from customer with CASE — "
        "the hash match pins both halves: appended rows carry their "
        "tier, original rows a real NULL (never a default). This is "
        "the in-format answer to layout_schema_evolution_read's "
        "100 TB note ('pin the schema in a table format'); type "
        "CHANGES still require a rewrite and are out of scope.",
)
def tf_append_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_evo_table(spark, sf_dir)
    return tf.read_version(spark, root, merge_schema=True).select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("loyalty_tier").cast("int").alias("loyalty_tier"),
    )


@register(
    "tf_manifest_audit",
    oracle="""
        SELECT 0 AS version, 'create' AS op,
               CAST((SELECT COUNT(*) FROM customer WHERE c_custkey % 4 != 0)
                    AS BIGINT) AS n_changes,
               CAST((SELECT COUNT(*) FROM customer WHERE c_custkey % 4 != 0)
                    AS BIGINT) AS rows_after
        UNION ALL
        SELECT 1, 'merge',
               CAST((SELECT COUNT(*) FROM customer WHERE c_custkey % 8 IN (1, 4))
                    AS BIGINT),
               CAST((SELECT COUNT(*) FROM customer
                     WHERE c_custkey % 4 != 0 OR c_custkey % 8 = 4) AS BIGINT)
        UNION ALL
        SELECT 2, 'merge',
               CAST((SELECT COUNT(*) FROM customer WHERE c_custkey % 16 IN (3, 5))
                    AS BIGINT),
               CAST((SELECT COUNT(*) FROM customer
                     WHERE (c_custkey % 4 != 0 OR c_custkey % 8 = 4)
                       AND c_custkey % 16 != 3) AS BIGINT)
    """,
    tags=("table_format", "audit", "acid"),
    doc="Commit-log audit: per version, the manifest's own op kind and "
        "row-level change count (metadata written AT commit time) "
        "joined against a live recount of that version's snapshot. The "
        "oracle derives every number independently from customer, so a "
        "manifest that lied about its change count — or a snapshot "
        "whose file fold drifted from what the commits recorded — "
        "breaks the hash. Manifests are driver-side JSON a few KB "
        "large at any table size (they name files, never rows); the "
        "recount is the only distributed work.",
)
def tf_manifest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_demo_table(spark, sf_dir)
    meta = [
        (m["version"], m["op"], int(m["n_changes"]))
        for m in tf.history(root)
    ]
    meta_df = spark.createDataFrame(
        meta, "version INT, op STRING, n_changes BIGINT"
    )
    counts = [
        tf.read_version(spark, root, v)
        .agg(F.lit(v).alias("version"), F.count("*").cast("long").alias("rows_after"))
        for v, _, _ in meta
    ]
    cnt = counts[0]
    for c in counts[1:]:
        cnt = cnt.unionByName(c)
    return meta_df.join(cnt, "version").select(
        "version", "op", "n_changes", "rows_after"
    )


#: exact-decimal v2 balance expression, bucket-1 restriction (see
#: tf_stats_pruned_read: bucket 1 ⊂ base, no deletes land there —
#: %16==3 keys are bucket 3 — so only the two update classes apply)
_O_BAL_V2 = """
    CAST(c_acctbal AS DECIMAL(12,2))
      + CASE WHEN c_custkey % 8 = 1 THEN 1000 ELSE 0 END
      - CASE WHEN c_custkey % 16 = 5 THEN 500 ELSE 0 END
"""


@register(
    "tf_stats_pruned_read",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {o_money_sum(_O_BAL_V2)} AS sum_acctbal,
               CAST(1 AS INTEGER) AS files_scanned,
               CAST(4 AS INTEGER) AS files_total,
               TRUE AS pruned
        FROM customer WHERE c_custkey % 4 = 1
    """,
    tags=("table_format", "data_skipping", "pruning", "acid"),
    doc="Manifest-stats DATA SKIPPING: the latest snapshot read with "
        "where c_bucket=(1,1) prunes every active file whose footer-"
        "recorded min/max for c_bucket is disjoint — 1 of 4 files "
        "survives (v2's bucket-1 rewrite; buckets 0/2/3 skipped), and "
        "the file counts are emitted AS COLUMNS with a literal oracle, "
        "so the hash match is a manifest-side proof that pruning "
        "happened AND returned exactly the rows of an unpruned filtered "
        "read. This is the reference's Iteration 3 indexing/partition-"
        "pruning thesis (Group No.6_Indexing_Partitioning.sql:35-119) "
        "realized on the lake surface: stats live in KB-sized manifests "
        "written from parquet FOOTERS at commit time (no scan), so at "
        "100 TB a key-localized query opens a handful of files instead "
        "of the table. The row filter still applies after the skip — "
        "pruning is a superset guarantee, pinned by the exact-decimal "
        "balance sum.",
)
def tf_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_demo_table(spark, sf_dir)
    where = {"c_bucket": (1, 1)}
    selected, total = tf.snapshot_files(root, None, where)
    snap = tf.read_version(spark, root, where=where)
    return (
        snap.filter(F.col("c_bucket") == 1)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            money_sum("c_acctbal").alias("sum_acctbal"),
        )
        .select(
            "n_rows", "sum_acctbal",
            F.lit(len(selected)).cast("int").alias("files_scanned"),
            F.lit(total).cast("int").alias("files_total"),
            F.lit(len(selected) < total).alias("pruned"),
        )
    )


@register(
    "tf_partitioned_merge",
    oracle="""
        SELECT CAST(0 AS INTEGER) AS version, 'create' AS op,
               CAST(3 AS INTEGER) AS files_added,
               CAST(0 AS INTEGER) AS files_removed,
               CAST(3 AS INTEGER) AS files_active,
               TRUE AS rewrite_bounded
        UNION ALL
        SELECT 1, 'merge', 2, 1, 4, TRUE
        UNION ALL
        SELECT 2, 'merge', 2, 2, 4, TRUE
    """,
    tags=("table_format", "partitioning", "merge", "acid"),
    doc="Partition-spec file accounting: the demo table is created with "
        "partition_by='c_bucket' (spec recorded in manifest 0; every "
        "data-writing commit lays files down hive-partitioned, with "
        "per-file partition values in the manifest), and each MERGE's "
        "copy-on-write rewrite touches ONLY the partitions containing "
        "fed keys. The per-version ledger — files added/removed/active "
        "— is deterministic key arithmetic (3 bucket files at create — "
        "the %4!=0 base has no bucket 0; merge 1 rewrites just the "
        "bucket-1 file, its %8==4 inserts land as a NEW bucket-0 file; "
        "merge 2 rewrites buckets 1 and 3), and rewrite_bounded pins "
        "files_removed < files_active "
        "before the commit at every merge — the 'rewrite fewer files "
        "than the table has' property that bounds MERGE cost by the "
        "change batch, not table size, at any scale. Literal oracle: "
        "any drift in placement, touch detection, or carry-forward "
        "breaks the hash.",
)
def tf_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_demo_table(spark, sf_dir)
    rows = []
    active = 0
    for m in tf.history(root):
        added, removed = len(m["adds"]), len(m["removes"])
        before = active
        active = active + added - removed
        rows.append((
            int(m["version"]), m["op"], added, removed, active,
            bool(removed == 0 or removed < before),
        ))
    return spark.createDataFrame(
        rows,
        "version INT, op STRING, files_added INT, files_removed INT, "
        "files_active INT, rewrite_bounded BOOLEAN",
    )


@register(
    "tf_time_travel_sql",
    oracle=f"""
        SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
               {o_money_sum('CAST(c_acctbal AS DECIMAL(12,2))')} AS sum_acctbal
        FROM ({_O_V0})
        UNION ALL
        SELECT 1, CAST(COUNT(*) AS BIGINT), {o_money_sum('c_acctbal')}
        FROM ({_O_V1})
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT), {o_money_sum('c_acctbal')}
        FROM ({_O_V2})
    """,
    tags=("table_format", "time_travel", "sql", "acid"),
    doc="SQL-surface time travel: the same three historical states as "
        "tf_time_travel_versions, but reached through the SQL resolver "
        "(operators/table_format.py sql()) — `dim_customer VERSION AS "
        "OF n` clauses are rewritten to snapshot temp views and the "
        "query runs through spark.sql, so a SQL-only user gets the "
        "Delta-style clause without touching the Python API. Same "
        "closed-form oracle as the API twin: matching proves the "
        "resolver binds each clause to exactly the right manifest "
        "fold.",
)
def tf_time_travel_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_demo_table(spark, sf_dir)
    q = """
        SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(ROUND(SUM(c_acctbal), 2) AS DOUBLE) AS sum_acctbal
        FROM dim_customer VERSION AS OF 0
        UNION ALL
        SELECT 1, CAST(COUNT(*) AS BIGINT),
               CAST(ROUND(SUM(c_acctbal), 2) AS DOUBLE)
        FROM dim_customer VERSION AS OF 1
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT),
               CAST(ROUND(SUM(c_acctbal), 2) AS DOUBLE)
        FROM dim_customer VERSION AS OF 2
    """
    return tf.sql(spark, {"dim_customer": root}, q)


@register(
    "tf_change_feed",
    oracle="""
        SELECT CAST(1 AS INT) AS commit_version, 'insert' AS change_type,
               c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
               c_mktsegment AS segment
        FROM customer WHERE c_custkey % 8 = 4
        UNION ALL
        SELECT 1, 'update_postimage', c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 1000 AS DOUBLE),
               'MERGED'
        FROM customer WHERE c_custkey % 8 = 1
        UNION ALL
        SELECT 2, 'delete', c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE),
               c_mktsegment
        FROM customer WHERE c_custkey % 16 = 3
        UNION ALL
        SELECT 2, 'update_postimage', c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) - 500 AS DOUBLE),
               'MERGED2'
        FROM customer WHERE c_custkey % 16 = 5
    """,
    tags=("table_format", "cdc", "change_feed", "acid"),
    doc="CHANGE DATA FEED between versions (r9): row-level inserts / "
        "update post-images / deletes for commits 1 and 2, derived by "
        "diffing ONLY each commit's removed files (pre-state) against "
        "its added files (post-state) — never whole snapshots, so feed "
        "cost follows the merges' touched files (the Delta "
        "table_changes surface computed from manifests, no stored CDC "
        "files). Rows the copy-on-write rewrite merely carried are "
        "dropped by null-safe payload comparison; the closed-form "
        "oracle reconstructs every change class from customer mod "
        "arithmetic, so one spurious or missing change row breaks the "
        "hash. This is what downstream incremental consumers (a "
        "streaming gold table, a cache invalidator) subscribe to at "
        "100 TB instead of re-diffing snapshots.",
)
def tf_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_demo_table(spark, sf_dir)
    ch = tf.change_feed(spark, root, "c_custkey", _PAYLOAD, v_from=0)
    return ch.select(
        F.col("_commit_version").cast("int").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )


def ensure_sorted_table(spark: SparkSession, sf_dir: str) -> str:
    """A third demo table for SORTED COMPACTION: commit 0 is the full
    customer set as ONE unsorted file (every range query must scan it);
    commit 1 is ``compact(files=4, sort_by='c_custkey')`` — OPTIMIZE +
    1-D ZORDER: four range-clustered files whose manifest stats carry
    DISJOINT c_custkey intervals."""

    def build(root: str) -> None:
        cust = read_table(spark, sf_dir, "customer").select(
            "c_custkey",
            F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal"),
            "c_mktsegment",
        )
        tf.create_table(spark, root, cust, files=1)
        tf.compact(spark, root, files=4, sort_by="c_custkey")

    return _ensure_table(spark, sf_dir, "dim_customer_sorted", build)


@register(
    "tf_sorted_range_skipping",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {o_money_sum('CAST(c_acctbal AS DECIMAL(12,2))')} AS sum_acctbal,
               CAST(4 AS INTEGER) AS files_total,
               TRUE AS pruned,
               CAST(1 AS INTEGER) AS unsorted_files_total
        FROM customer WHERE c_custkey BETWEEN 1 AND 100
    """,
    tags=("table_format", "data_skipping", "zorder", "compaction", "acid"),
    doc="OPTIMIZE with range clustering -> data skipping (r9): the "
        "sorted demo table's commit 1 is compact(files=4, "
        "sort_by=c_custkey) — rows range-partitioned into four sorted "
        "files, so the manifest's per-file c_custkey min/max are "
        "DISJOINT intervals and the key-range read where=(1,100) "
        "prunes to the overlapping file(s) (pruned column pins "
        "selected < total; at version 0 the same query must scan the "
        "single unsorted file — unsorted_files_total). The rows "
        "themselves hash-match a plain customer range scan, proving "
        "the cluster rewrite moved every row to exactly one file and "
        "lost none. This is the layout half of the reference's "
        "Iteration 3 range-index study (Group No.6_Indexing_"
        "Partitioning.sql:35-49) on the lake: ORDER the data once at "
        "OPTIMIZE time, then every range query reads a bounded file "
        "subset forever after.",
)
def tf_sorted_range_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_sorted_table(spark, sf_dir)
    where = {"c_custkey": (1, 100)}
    selected, total = tf.snapshot_files(root, None, where)
    sel_v0, total_v0 = tf.snapshot_files(root, 0, where)
    snap = tf.read_version(spark, root, where=where)
    return (
        snap.filter(F.col("c_custkey").between(1, 100))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            money_sum("c_acctbal").alias("sum_acctbal"),
        )
        .select(
            "n_rows", "sum_acctbal",
            F.lit(total).cast("int").alias("files_total"),
            F.lit(len(selected) < total).alias("pruned"),
            F.lit(total_v0).cast("int").alias("unsorted_files_total"),
        )
    )


def ensure_mor_table(spark: SparkSession, sf_dir: str) -> str:
    """A fourth demo table for MERGE-ON-READ deletes: commit 0 is the
    full customer set in 4 files; commits 1 and 2 are ``delete_where``
    vector commits (no data-file writes); commit 3 is a compact that
    applies + retires the vectors. Both delete predicates are
    closed-form over customer, so every version's state has a pure-SQL
    oracle:

      v0  CREATE  = all customers (4 files)
      v1  DELETE  = c_mktsegment = 'BUILDING'          (position vectors)
      v2  DELETE  = c_custkey % 10 = 7 (of remaining)  (position vectors)
      v3  COMPACT = rewrite, vectors retired
    """

    def build(root: str) -> None:
        cust = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name",
            F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal"),
            "c_mktsegment",
        )
        tf.create_table(spark, root, cust, files=4)
        tf.delete_where(spark, root, "c_mktsegment = 'BUILDING'")
        tf.delete_where(spark, root, "c_custkey % 10 = 7")
        tf.compact(spark, root, files=2)

    return _ensure_table(spark, sf_dir, "dim_customer_mor", build)


#: survivors after both MoR deletes (v2 == v3 state)
_O_MOR = """
    SELECT * FROM customer
    WHERE c_mktsegment != 'BUILDING' AND c_custkey % 10 != 7
"""


@register(
    "tf_mor_delete_read",
    oracle=f"""
        SELECT c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
               c_mktsegment AS segment
        FROM ({_O_MOR})
    """,
    tags=("table_format", "merge_on_read", "delete", "acid"),
    doc="MERGE-ON-READ DELETE (r9): two delete_where commits write "
        "POSITION-DELETE vectors — (file, row_index) pairs, the Iceberg "
        "v2 / Delta deletion-vector idea — and NO data files (pinned by "
        "tf_mor_vector_audit's literal ledger); this entry reads the "
        "vectored snapshot (version 2), where the scan subtracts the "
        "vectors with a broadcast anti-join on (file, position). The "
        "row-level oracle reconstructs the survivors from customer with "
        "the two delete predicates, so one resurrected or over-deleted "
        "row breaks the hash. At 100 TB this is the DELETE that writes "
        "KB instead of rewriting TB: cost = one pruned scan to find "
        "matches + a vector write; compaction (v3) amortizes the "
        "read-side anti-join away (tf_mor_compact_apply).",
)
def tf_mor_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_mor_table(spark, sf_dir)
    return tf.read_version(spark, root, 2).select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )


@register(
    "tf_mor_compact_apply",
    oracle=f"""
        WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                          {o_money_sum('CAST(c_acctbal AS DECIMAL(12,2))')}
                            AS sum_acctbal
                   FROM ({_O_MOR}))
        SELECT 'vectored' AS stage, n_rows, sum_acctbal, TRUE AS vectors_live
        FROM s
        UNION ALL
        SELECT 'compacted', n_rows, sum_acctbal, FALSE FROM s
    """,
    tags=("table_format", "merge_on_read", "compaction", "acid"),
    doc="Vector lifecycle: the SAME logical snapshot read twice — at "
        "version 2 (delete vectors live: every scan pays the broadcast "
        "anti-join) and at version 3 (after compact applied the vectors "
        "into a clean rewrite and RETIRED them via delete_removes). Row "
        "count and exact-decimal balance sum must be identical and the "
        "vectors_live flag flips TRUE->FALSE (read from the manifest "
        "fold, literal oracle). This pins the merge-on-read contract: "
        "deletes are logically immediate, physically deferred, and "
        "compaction is a pure layout change that resets read "
        "amplification to zero — the COW/MOR trade as real lakes run "
        "it, tested end to end.",
)
def tf_mor_compact_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_mor_table(spark, sf_dir)
    parts = []
    for stage, v in (("vectored", 2), ("compacted", 3)):
        parts.append(
            tf.read_version(spark, root, v).agg(
                F.lit(stage).alias("stage"),
                F.count("*").cast("long").alias("n_rows"),
                money_sum("c_acctbal").alias("sum_acctbal"),
            ).select(
                "stage", "n_rows", "sum_acctbal",
                F.lit(len(tf.active_delete_adds(root, v)) > 0)
                .alias("vectors_live"),
            )
        )
    return parts[0].unionByName(parts[1])


@register(
    "tf_mor_change_feed",
    oracle="""
        SELECT CAST(1 AS INT) AS commit_version, c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
               c_mktsegment AS segment
        FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT 2, c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE),
               c_mktsegment
        FROM customer
        WHERE c_mktsegment != 'BUILDING' AND c_custkey % 10 = 7
    """,
    tags=("table_format", "merge_on_read", "cdc", "change_feed", "acid"),
    doc="CDF over merge-on-read commits: each delete commit contributes "
        "the exact PRE-IMAGES of its vectored positions (read from only "
        "the referenced files via a broadcast semi-join on (file, "
        "position)), and the compact at v3 contributes NOTHING — its "
        "pre-state subtracts the vectors live at v2, so vector "
        "retirement is invisible to downstream consumers (no "
        "double-reported deletes; the v_from=0 feed is exercised "
        "ACROSS the compact). The oracle derives commit 1 = BUILDING "
        "rows and commit 2 = %10==7 of the remainder straight from "
        "customer; every change row is 'delete' so the type column is "
        "dropped in favor of the version split.",
)
def tf_mor_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_mor_table(spark, sf_dir)
    ch = tf.change_feed(
        spark, root, "c_custkey", ["c_name", "c_acctbal", "c_mktsegment"],
        v_from=0,
    )
    return ch.select(
        F.col("_commit_version").cast("int").alias("commit_version"),
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )


def ensure_zorder_table(spark: SparkSession, sf_dir: str) -> str:
    """A fifth demo table for 2-D OPTIMIZE ZORDER: commit 0 is orders
    (custkey, day-number, totalprice) as ONE unclustered file; commit 1
    is ``compact(files=8, zorder_by=(o_custkey, o_day))`` — Morton-
    interleaved range clustering, so every file's manifest stats carry
    a bounded RECTANGLE in (custkey, day) space."""

    def build(root: str) -> None:
        orders = read_table(spark, sf_dir, "orders").select(
            "o_custkey",
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
            .cast("int").alias("o_day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        )
        tf.create_table(spark, root, orders, files=1)
        tf.compact(spark, root, files=8, zorder_by=("o_custkey", "o_day"))

    return _ensure_table(spark, sf_dir, "orders_zorder", build)


@register(
    "tf_zorder_skip",
    oracle=f"""
        WITH cust AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {o_money_sum('CAST(o_totalprice AS DECIMAL(18,2))')} AS rev
            FROM orders WHERE o_custkey BETWEEN 1 AND 150
        ),
        dt AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {o_money_sum('CAST(o_totalprice AS DECIMAL(18,2))')} AS rev
            FROM orders
            WHERE o_orderdate BETWEEN DATE '1992-01-01' AND DATE '1992-06-29'
        )
        SELECT cust.n AS n_rows_cust, cust.rev AS rev_cust,
               dt.n AS n_rows_day, dt.rev AS rev_day,
               CAST(8 AS INTEGER) AS files_total,
               TRUE AS pruned_cust, TRUE AS pruned_day
        FROM cust, dt
    """,
    tags=("table_format", "zorder", "data_skipping", "compaction", "acid"),
    doc="OPTIMIZE ZORDER in the table format (r9): compact(files=8, "
        "zorder_by=(o_custkey, o_day)) rewrites the snapshot clustered "
        "on the Morton interleave of BOTH columns (operators/zorder.py "
        "— a pure JVM aggregate/shiftleft fold, codegen'd), so each "
        "file's footer min/max form a bounded rectangle in (custkey, "
        "day) space and the manifest prunes range predicates on EITHER "
        "dimension — the composite-index study of the reference "
        "(Iteration 3/Group No.6_Indexing_Partitioning.sql:51-75) "
        "realized as layout instead of a B-tree. The entry runs one "
        "stats-pruned read per dimension (where= custkey 1-150 / day "
        "0-180), pins pruned=TRUE for both (selected < 8 files), and "
        "hash-matches exact decimal revenue against plain orders scans "
        "— pruning is provably a superset, on two orthogonal "
        "predicates over ONE layout. A 1-D sort can only serve one of "
        "them; that asymmetry is the whole point of z-ordering at "
        "100 TB.",
)
def tf_zorder_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_zorder_table(spark, sf_dir)
    w_cust = {"o_custkey": (1, 150)}
    w_day = {"o_day": (0, 180)}
    sel_c, total = tf.snapshot_files(root, None, w_cust)
    sel_d, _ = tf.snapshot_files(root, None, w_day)
    cust = (
        tf.read_version(spark, root, where=w_cust)
        .filter(F.col("o_custkey").between(1, 150))
        .agg(F.count("*").cast("long").alias("n_rows_cust"),
             money_sum("o_totalprice").alias("rev_cust"))
    )
    day = (
        tf.read_version(spark, root, where=w_day)
        .filter(F.col("o_day").between(0, 180))
        .agg(F.count("*").cast("long").alias("n_rows_day"),
             money_sum("o_totalprice").alias("rev_day"))
    )
    return cust.crossJoin(day).select(
        "n_rows_cust", "rev_cust", "n_rows_day", "rev_day",
        F.lit(total).cast("int").alias("files_total"),
        F.lit(len(sel_c) < total).alias("pruned_cust"),
        F.lit(len(sel_d) < total).alias("pruned_day"),
    )


def ensure_upd_table(spark: SparkSession, sf_dir: str) -> str:
    """A sixth demo table for MERGE-ON-READ UPDATE: v0 is the full
    customer set (4 files); v1 is one ``update_where`` commit that
    vector-deletes the MACHINERY rows' positions and appends their
    updated images — no pre-existing file rewritten."""

    def build(root: str) -> None:
        cust = read_table(spark, sf_dir, "customer").select(
            "c_custkey",
            F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal"),
            "c_mktsegment",
        )
        tf.create_table(spark, root, cust, files=4)
        tf.update_where(
            spark, root, "c_mktsegment = 'MACHINERY'",
            {
                "c_acctbal": "CAST(c_acctbal + 250 AS DECIMAL(12,2))",
                "c_mktsegment": "'UPDATED'",
            },
        )

    return _ensure_table(spark, sf_dir, "dim_customer_upd", build)


@register(
    "tf_mor_update_read",
    oracle="""
        SELECT c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(12,2))
                    + CASE WHEN c_mktsegment = 'MACHINERY' THEN 250
                           ELSE 0 END AS DOUBLE) AS acctbal,
               CASE WHEN c_mktsegment = 'MACHINERY' THEN 'UPDATED'
                    ELSE c_mktsegment END AS segment,
               TRUE AS originals_intact
        FROM customer
    """,
    tags=("table_format", "merge_on_read", "update", "acid"),
    doc="MERGE-ON-READ UPDATE (r9): `UPDATE SET acctbal += 250, segment "
        "= 'UPDATED' WHERE segment = 'MACHINERY'` lands as ONE commit "
        "that position-vector-deletes the matched rows' old positions "
        "AND appends a small file of their updated images — no "
        "pre-existing data file is rewritten (originals_intact pins v0's "
        "adds all still active, read from the manifest fold; the oracle "
        "side is the literal TRUE). At 100 TB an UPDATE touching 0.1% "
        "of rows writes that 0.1% + KB of vectors, where copy-on-write "
        "would rewrite every FILE containing a match — cost follows "
        "matched rows, not matched files. The row-level oracle applies "
        "the same SET arithmetic to raw customer, so one stale/dropped/"
        "double-applied row breaks the hash; the CDF of the commit is "
        "pinned as update_postimage-only by "
        "tests/test_table_format.py.",
)
def tf_mor_update_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_upd_table(spark, sf_dir)
    v0_files = set(tf.active_files(root, 0))
    intact = v0_files <= set(tf.active_files(root))
    return tf.read_version(spark, root).select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(intact).alias("originals_intact"),
    )


_CHK = {
    "acctbal_floor": "c_acctbal >= -1000.0",
    "segment_not_null": "c_mktsegment IS NOT NULL",
}


def ensure_chk_table(spark: SparkSession, sf_dir: str) -> str:
    """A seventh demo table for CHECK constraints: created WITH two
    constraints (validated at create), then one constrained append."""

    def build(root: str) -> None:
        cust = read_table(spark, sf_dir, "customer").select(
            "c_custkey",
            F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal"),
            "c_mktsegment",
        )
        tf.create_table(
            spark, root, cust.filter(F.col("c_custkey") % 2 == 1), files=2,
            constraints=_CHK,
        )
        tf.append(spark, root, cust.filter(F.col("c_custkey") % 2 == 0), files=2)

    return _ensure_table(spark, sf_dir, "dim_customer_chk", build)


@register(
    "tf_check_constraints",
    oracle="""
        SELECT 'acctbal_floor' AS constraint_name,
               'c_acctbal >= -1000.0' AS expression,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_rows,
               CAST(0 AS BIGINT) AS n_violations, TRUE AS holds
        UNION ALL
        SELECT 'segment_not_null', 'c_mktsegment IS NOT NULL',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
               CAST(0 AS BIGINT), TRUE
    """,
    tags=("table_format", "constraints", "quality", "acid"),
    doc="CHECK constraints in the table format (r9): two constraints "
        "recorded at CREATE in the commit manifest, validated against "
        "the create's rows and every later write with ONE conditional-"
        "aggregate pass over only the written rows (SQL CHECK "
        "semantics: NULL passes, FALSE aborts the commit atomically — "
        "tests pin the reject path, snapshot-scan on add_constraint, "
        "and drop_constraint). The entry reads the live constraint set "
        "back from the manifest fold and RE-VALIDATES the full latest "
        "snapshot (n_violations recount), matching a literal oracle "
        "whose n_rows comes from raw customer — so the manifest round-"
        "trip, the enforcement inductive invariant ('every active file "
        "was validated by the write that introduced it'), and the "
        "snapshot row count are all pinned in one hash. The quality "
        "gate the reference runs as ad-hoc cleaning checks "
        "(Iteration 2 cleaning scripts) becomes a declared, "
        "write-time-enforced table property.",
)
def tf_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_chk_table(spark, sf_dir)
    live = tf.active_constraints(root)
    snap = tf.read_version(spark, root)
    parts = []
    for name in sorted(live):
        expr = live[name]
        parts.append(
            snap.agg(
                F.lit(name).alias("constraint_name"),
                F.lit(expr).alias("expression"),
                F.count("*").cast("long").alias("n_rows"),
                F.sum(
                    F.when(~F.coalesce(F.expr(expr), F.lit(True)), 1)
                    .otherwise(0)
                ).cast("long").alias("n_violations"),
            ).select(
                "constraint_name", "expression", "n_rows", "n_violations",
                (F.col("n_violations") == 0).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ----------------------------------------------- r12: REORG PURGE demo

def _build_purge_history(spark: SparkSession, sf_dir: str, root: str) -> None:
    """The erasure composition VERDICT r11 #3 asked for, as commits:

      v0  CREATE  column-mapped, customers %4 != 0, 2 files
          (c_custkey, c_name, c_acctbal DECIMAL(12,2), c_mktsegment)
      v1  DROP    c_name — metadata-only; col-2's bytes stay in both
                  v0 files ("drop" is not "erase")
      v2  APPEND  the %4 == 0 customers, 2 files — born WITHOUT col-2
      v3  DELETE  c_custkey % 10 = 7 — MoR vectors spanning stale v0
                  AND clean v2 files (purge must split them)
      v4  PURGE   rewrites ONLY the two v0 files; clean files untouched
    """
    cust = read_table(spark, sf_dir, "customer").withColumn(
        "c_acctbal", F.col("c_acctbal").cast("decimal(12,2)")
    )
    tf.create_table(
        spark, root,
        cust.filter(F.col("c_custkey") % 4 != 0).select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
        ),
        files=2, column_mapping=True,
    )
    tf.drop_column(root, "c_name")
    tf.append(
        spark, root,
        cust.filter(F.col("c_custkey") % 4 == 0).select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        ),
        files=2,
    )
    tf.delete_where(spark, root, "c_custkey % 10 = 7")
    tf.purge(spark, root)


def ensure_purge_table(spark: SparkSession, sf_dir: str) -> str:
    return _ensure_table(
        spark, sf_dir, "dim_customer_purge",
        lambda root: _build_purge_history(spark, sf_dir, root),
    )


def ensure_purge_vacuumed_table(spark: SparkSession, sf_dir: str) -> str:
    """The same history, then ``VACUUM RETAIN 1`` — the end state of
    the erasure story, where the dead bytes are physically gone.
    Vacuum publishes no commit, so the table is complete only once the
    marker written after the vacuum exists."""

    def build(root: str) -> None:
        _build_purge_history(spark, sf_dir, root)
        tf.vacuum(root, keep_versions=1, orphan_grace_sec=0.0)

    return _ensure_table(spark, sf_dir, "dim_customer_purge_vac", build)


def _purge_fact_columns(spark: SparkSession, root: str) -> tuple[list, list]:
    """Driver-side footer audit (KB-scale metadata reads): the physical
    columns the v0 mapping had but the current one dropped, probed
    against (a) the ACTIVE file set and (b) everything on disk."""
    import glob as g

    import pyarrow.parquet as pq

    cur = tf.column_mapping(root)
    v0m = tf.column_mapping(root, 0)
    dead = {f["physical"] for f in v0m["fields"]} - {
        f["physical"] for f in cur["fields"]
    }

    def carries_dead(abs_path: str) -> bool:
        return bool(set(pq.read_schema(abs_path).names) & dead)

    active = {
        os.path.join(root, a["path"]) for a in tf.active_adds(root)
    }
    on_disk = set(g.glob(
        os.path.join(root, "data", "**", "*.parquet"), recursive=True
    ))
    active_clean = int(not any(carries_dead(p) for p in active))
    stale_on_disk = int(any(carries_dead(p) for p in on_disk - active))
    return active_clean, stale_on_disk


_PURGE_FACT_DDL = "fact string, n bigint, k bigint"


@register(
    "tf_column_purge",
    oracle="""
        SELECT * FROM (
            SELECT 'snap_v0' AS fact, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c_custkey) AS BIGINT) AS k
            FROM customer WHERE c_custkey % 4 != 0
            UNION ALL
            SELECT 'snap_v2', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(c_custkey) AS BIGINT)
            FROM customer
            UNION ALL
            SELECT 'snap_v3', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(c_custkey) AS BIGINT)
            FROM customer WHERE c_custkey % 10 != 7
            UNION ALL
            SELECT 'snap_v4', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(c_custkey) AS BIGINT)
            FROM customer WHERE c_custkey % 10 != 7
            UNION ALL
            SELECT 'active_dead_clean', 1, 0
            UNION ALL
            SELECT 'stale_bytes_prevacuum', 1, 0
            UNION ALL
            SELECT 'cdf_insert_v2', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(c_custkey) AS BIGINT)
            FROM customer WHERE c_custkey % 4 = 0
            UNION ALL
            SELECT 'cdf_delete_v3', CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(c_custkey) AS BIGINT)
            FROM customer WHERE c_custkey % 10 = 7
            UNION ALL
            SELECT 'cdf_purge_rows', 0, 0
        ) ORDER BY fact
    """,
    tags=("table_format", "column_mapping", "purge", "gdpr", "acid",
          "lifecycle"),
    doc="REORG TABLE ... PURGE (r12 — verdict #3): drop_column is "
        "metadata-only, so the dropped column's bytes stay in every "
        "pre-drop file — this entry pins the pass that completes the "
        "right-to-erasure story. Demo: create mapped (2 files) → DROP "
        "c_name → append 2 born-clean files → MoR DELETE spanning "
        "stale and clean files → PURGE. Facts pinned against the "
        "closed-form customer oracle: every version's snapshot "
        "(time travel to pre-purge versions still correct — the purge "
        "rewrote the active set, not history), rows bit-identical "
        "across the purge, a driver-side FOOTER audit that no active "
        "file still carries the dead physical column while the stale "
        "bytes remain on disk for time travel until vacuum, and the "
        "change feed across the whole history: the purge commit "
        "contributes ZERO change rows (carried rows cancel — "
        "CDF-invisible like a compact), with the split delete-vector "
        "remainder still masking the clean-file deletes. "
        "operators/table_format.py::purge. Parity: Delta REORG TABLE "
        "... APPLY (PURGE); beyond the reference (no mapped tables "
        "there).",
)
def tf_column_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_purge_table(spark, sf_dir)
    parts = []
    for v, name in ((0, "snap_v0"), (2, "snap_v2"), (3, "snap_v3"),
                    (4, "snap_v4")):
        d = tf.read_version(spark, root, v)
        parts.append(d.agg(
            F.lit(name).alias("fact"),
            F.count("*").cast("long").alias("n"),
            F.sum("c_custkey").cast("long").alias("k"),
        ).select("fact", "n", "k"))
    active_clean, stale_on_disk = _purge_fact_columns(spark, root)
    parts.append(spark.createDataFrame(
        [("active_dead_clean", active_clean, 0),
         ("stale_bytes_prevacuum", stale_on_disk, 0)],
        _PURGE_FACT_DDL,
    ))
    cf = tf.change_feed(
        spark, root, "c_custkey", ["c_acctbal", "c_mktsegment"],
        v_from=0, v_to=4,
    )
    parts.append(
        cf.filter(
            (F.col("_commit_version") == 2)
            & (F.col("_change_type") == "insert")
        ).agg(
            F.lit("cdf_insert_v2").alias("fact"),
            F.count("*").cast("long").alias("n"),
            F.sum("c_custkey").cast("long").alias("k"),
        ).select("fact", "n", "k")
    )
    parts.append(
        cf.filter(
            (F.col("_commit_version") == 3)
            & (F.col("_change_type") == "delete")
        ).agg(
            F.lit("cdf_delete_v3").alias("fact"),
            F.count("*").cast("long").alias("n"),
            F.sum("c_custkey").cast("long").alias("k"),
        ).select("fact", "n", "k")
    )
    parts.append(
        cf.filter(F.col("_commit_version") == 4).agg(
            F.lit("cdf_purge_rows").alias("fact"),
            F.count("*").cast("long").alias("n"),
            F.coalesce(F.sum("c_custkey"), F.lit(0)).cast("long").alias("k"),
        ).select("fact", "n", "k")
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fact")


@register(
    "tf_purge_erasure_vacuum",
    oracle="""
        SELECT * FROM (
            SELECT 'snap_current' AS fact, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c_custkey) AS BIGINT) AS k
            FROM customer WHERE c_custkey % 10 != 7
            UNION ALL
            SELECT 'bytes_gone', 1, 0
            UNION ALL
            SELECT 'stale_on_disk', 0, 0
            UNION ALL
            SELECT 'tt_prepurge_expired', 1, 0
        ) ORDER BY fact
    """,
    tags=("table_format", "column_mapping", "purge", "gdpr", "vacuum",
          "lifecycle"),
    doc="The END of the erasure story (r12 — verdict #3): the same "
        "drop → purge history followed by VACUUM RETAIN 1. Facts: the "
        "current snapshot still exact (closed-form customer oracle), a "
        "FOOTER walk over every parquet file remaining under the table "
        "root proving NO file — active or not — carries the dead "
        "physical column (the bytes are provably gone, which 'DROP "
        "COLUMN' alone never achieves), and time travel to the "
        "pre-purge version now fails fast with VersionExpired (the "
        "retention trade every real format documents). "
        "operators/table_format.py::purge + vacuum.",
)
def tf_purge_erasure_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ensure_purge_vacuumed_table(spark, sf_dir)
    snap = tf.read_version(spark, root).agg(
        F.lit("snap_current").alias("fact"),
        F.count("*").cast("long").alias("n"),
        F.sum("c_custkey").cast("long").alias("k"),
    ).select("fact", "n", "k")
    active_clean, stale_on_disk = _purge_fact_columns(spark, root)
    try:
        tf.read_version(spark, root, 3)
        expired = 0
    except tf.VersionExpired:
        expired = 1
    facts = spark.createDataFrame(
        [("bytes_gone", active_clean, 0),
         ("stale_on_disk", stale_on_disk, 0),
         ("tt_prepurge_expired", expired, 0)],
        _PURGE_FACT_DDL,
    )
    return snap.unionByName(facts).orderBy("fact")

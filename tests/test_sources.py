"""Testdata-drift guards for the raw readers (VERDICT r3 item 1).

The driver regenerates /root/testdata between rounds and the physical
encoding of events.ts has already drifted once (TIMESTAMP(NANOS)-as-long
-> timestamp[us]-as-NTZ), crashing a whole bench round.  Pin the reader
contract: whatever the file stores, ``read_events`` (and therefore the
streaming twin, which shares ``normalize_events_ts``) must surface a
proper TimestampType with sane values.
"""

from __future__ import annotations

import inspect
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.star import (
    StarSchema,
)
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.tpch import (
    normalize_events_ts,
    read_events,
)

from .conftest import SF_SMOKE


def test_read_events_ts_is_timestamp(spark):
    df = read_events(spark, SF_SMOKE)
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    lo, hi = df.agg(F.min("ts"), F.max("ts")).first()
    # sane epoch range: not 1970 (the nanos-misread failure mode), not far future
    assert lo.year >= 2000 and hi.year <= 2100


def test_normalize_events_ts_bigint_nanos(spark):
    # legacy encoding: nanosecond longs (spark.sql.legacy.parquet.nanosAsLong)
    nanos = 1_600_000_000 * 1_000_000_000
    df = spark.createDataFrame([(nanos,)], "ts long")
    out = normalize_events_ts(df)
    assert isinstance(out.schema["ts"].dataType, TimestampType)
    assert out.first().ts.year == 2020


def test_normalize_events_ts_rejects_unknown(spark):
    df = spark.createDataFrame([("x",)], "ts string")
    with pytest.raises(TypeError, match="unsupported dtype"):
        normalize_events_ts(df)


def test_pysource_split_slicing_covers_exactly_once():
    """The reader's input splits must tile [0, rows) exactly — no gaps,
    no overlaps — for adversarial rows/splits combinations."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.pysource import (
        SyntheticEventsReader,
    )

    for rows, splits in [(0, 8), (1, 8), (7, 8), (8, 8), (9, 8), (20000, 8), (5, 1)]:
        r = SyntheticEventsReader({"rows": str(rows), "partitions": str(splits)})
        seen = []
        for p in r.partitions():
            seen.extend(range(p.start, p.end))
        assert seen == list(range(rows)), (rows, splits)


def test_pysource_rows_are_pure_functions_of_id():
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.pysource import (
        row_for,
    )

    assert row_for(0) == (0, 0, "view", 0.0)
    assert row_for(5) == (5, 655, "cart", 1.85)
    # retry idempotence: same id, same row
    assert row_for(123456) == row_for(123456)


def test_artifact_ensure_lifecycle_contract(spark, tmp_path):
    """sources/artifacts.ensure: a torn root is wiped before its build, a
    marked root is reused without building, a build that raises leaves
    no marker (the next call rebuilds), and attach runs once per
    session."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import (
        table_format as tf,
    )
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources import (
        artifacts as A,
    )

    assert A.scratch_root("silver_v1", "/data/sf0.01/", "orders").endswith(
        os.path.join(".scratch", "silver_v1", "sf0.01", "orders")
    )

    def never(root):
        raise AssertionError(f"complete root {root} rebuilt")

    # torn: a demo-table build that crashed after v0 — building over it
    # would raise CommitConflict at version 0 forever
    torn = str(tmp_path / "torn")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    tf.create_table(spark, torn, df, files=1)
    A.ensure(spark, torn, lambda root: tf.create_table(spark, root, df, files=1))
    assert tf.list_versions(torn) == [0]
    assert os.path.exists(os.path.join(torn, A.MARKER))
    assert A.ensure(spark, torn, never) == torn  # memoized

    failed, built, attached = str(tmp_path / "failed"), [], []
    with pytest.raises(ZeroDivisionError):
        A.ensure(spark, failed, lambda root: (os.makedirs(root), 1 / 0))
    assert os.path.isdir(failed) and not os.listdir(failed)  # no marker
    for _ in range(2):
        A.ensure(spark, failed, lambda r: built.append(os.path.exists(r)),
                 attached.append)
    assert built == [False] and attached == [failed]  # leftovers wiped

    # complete on disk from another process, not yet seen by this session
    (tmp_path / "other").mkdir()
    (tmp_path / "other" / A.MARKER).touch()
    for _ in range(2):
        A.ensure(spark, str(tmp_path / "other"), never, attached.append)
    assert attached == [failed, str(tmp_path / "other")]


def _top_join(df) -> str:
    """The outermost join line of ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return next(line for line in plan.splitlines() if "Join" in line)


def test_star_dims_broadcast_before_they_are_cached(spark, tmp_path):
    """A fresh star's dims are the broadcast side of a star join even
    while the planner's only size estimate for them is the cold one: for
    dim_customer, the product of its three join inputs' file sizes, far
    over the broadcast threshold. A strategy hint on the dim still wins."""
    # a path this session has never loaded, so no dim of it is cached
    sf_dir = str(tmp_path / "sf")
    os.symlink(SF_SMOKE, sf_dir)
    dim = StarSchema(spark, sf_dir).dim_customer.select("customer_key", "country")
    estimate = int(dim._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    threshold = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold").rstrip("b"))
    assert estimate > threshold
    small = spark.range(3).withColumnRenamed("id", "customer_key")
    top = _top_join(small.join(dim, "customer_key"))
    assert "BroadcastHashJoin" in top and "BuildRight" in top, top
    assert "SortMergeJoin" in _top_join(small.join(dim.hint("merge"), "customer_key"))


def test_no_call_site_broadcasts_a_star_dim():
    """StarSchema marks its dims for broadcast; a call-site broadcast of
    one restates that policy. Only the plan-pinned join study wraps them."""
    pkg = Path(inspect.getfile(StarSchema)).parents[1]
    wrap = re.compile(r"F\.broadcast\(\s*(?:s|star)\.dim_")
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "plans/joinstudy.py":
            continue
        text = path.read_text()
        hits += [f"{rel}:{text.count(chr(10), 0, m.start()) + 1}" for m in wrap.finditer(text)]
    assert not hits, f"call-site broadcast of a star dim: {hits}"

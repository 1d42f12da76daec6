"""Table-format invariants the oracle entries can't express: file-level
copy-on-write, commit atomicity/conflict, concurrent-writer data-file
isolation, snapshot immutability, vacuum retention + in-flight grace,
schema-evolution safety of merge/compact, stats-based data skipping.
The data-level correctness of the same table is pinned by the tf_*
catalog entries (tests/test_catalog_oracle.py)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import (
    table_format as tf,
)
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators.cdc import (
    apply_change_feed,
)
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans import (
    table_format_queries as tfq,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def demo_root(spark):
    return tfq.ensure_demo_table(spark, SF_SMOKE)


def _adds(manifest: dict) -> list[str]:
    return [tf._norm_add(a)["path"] for a in manifest["adds"]]


def _bucket_of(relpath: str) -> int:
    for part in relpath.split(os.sep):
        if part.startswith("_p_c_bucket="):
            return int(part.split("=", 1)[1])
    raise AssertionError(f"no _p_c_bucket= component in {relpath}")


def test_cow_rewrites_only_touched_buckets(spark, demo_root):
    """Feed 1's update keys (%8==1) live only in the bucket-1 file (its
    %8==4 inserts are NOT in the table, so they touch nothing); feed 2
    touches {3 (D %16==3), 1 (U %16==5)}. Buckets 0 and 2 of the base
    must survive BOTH merges by reference — the copy-on-write property."""
    h = tf.history(demo_root)
    assert [m["op"] for m in h] == ["create", "merge", "merge"]
    assert {_bucket_of(f) for f in h[1]["removes"]} == {1}
    assert {_bucket_of(f) for f in _adds(h[1])} == {0, 1}
    assert {_bucket_of(f) for f in h[2]["removes"]} == {1, 3}
    assert {_bucket_of(f) for f in _adds(h[2])} == {1, 3}
    base_untouched = {f for f in _adds(h[0]) if _bucket_of(f) in (0, 2)}
    assert base_untouched, "base must have bucket-0/2 files"
    assert base_untouched <= set(tf.active_files(demo_root)), (
        "untouched base files must be carried forward by reference"
    )


def test_snapshot_equals_serial_change_feed_replay(spark, demo_root):
    """read_version(2) == apply_change_feed(apply_change_feed(v0, feed1),
    feed2) — the table format adds file bookkeeping, never row drift."""
    cust = tfq._with_bucket(
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    )
    base = cust.filter(F.col("c_custkey") % 4 != 0).select(
        "c_custkey", *tfq._PAYLOAD
    )
    s1 = apply_change_feed(
        base, tfq._feed1(cust), "c_custkey", tfq._PAYLOAD, "seq", "tb"
    ).select("c_custkey", *tfq._PAYLOAD)
    s2 = apply_change_feed(
        s1, tfq._feed2(cust), "c_custkey", tfq._PAYLOAD, "seq", "tb"
    ).select("c_custkey", *tfq._PAYLOAD)
    got = sorted(map(tuple, tf.read_version(spark, demo_root)
                     .select("c_custkey", *tfq._PAYLOAD).collect()))
    want = sorted(map(tuple, s2.collect()))
    assert got == want


def test_time_travel_versions_immutable(spark, demo_root):
    """v0 read after two merges == the original base — committed
    versions never change."""
    n0 = tf.read_version(spark, demo_root, 0).count()
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    assert n0 == cust.filter(F.col("c_custkey") % 4 != 0).count()
    v0_files = tf.active_files(demo_root, 0)
    assert all(
        f.startswith(os.path.join("data", "v=0-")) for f in v0_files
    )


def test_commit_conflict_second_writer_loses(demo_root, tmp_path):
    root = str(tmp_path / "t")
    tf._publish(root, 0, {"version": 0, "op": "create", "adds": [],
                          "removes": [], "n_changes": 0})
    with pytest.raises(tf.CommitConflict):
        tf._publish(root, 0, {"version": 0, "op": "create", "adds": [],
                              "removes": [], "n_changes": 0})
    # the losing attempt leaves no temp debris
    assert os.listdir(tf._commit_dir(root)) == ["00000000.json"]


def test_vacuum_keeps_latest_drops_history(spark, demo_root, tmp_path):
    root = str(tmp_path / "vac")
    shutil.copytree(demo_root, root)
    before = tf.read_version(spark, root).count()
    latest_live = set(tf.active_files(root))
    deleted = tf.vacuum(root, keep_versions=1)
    assert deleted, "two merges must strand at least one rewritten file"
    assert not latest_live & set(deleted)
    for relp in deleted:
        assert not os.path.exists(os.path.join(root, relp))
    assert tf.read_version(spark, root).count() == before


def test_vacuum_expired_version_fails_fast(spark, demo_root, tmp_path):
    """Time travel past vacuum's retention floor raises a clean
    VersionExpired at resolve time, never a mid-scan FileNotFound."""
    root = str(tmp_path / "vacx")
    shutil.copytree(demo_root, root)
    tf.vacuum(root, keep_versions=1)
    assert tf.earliest_readable(root) == 2
    with pytest.raises(tf.VersionExpired):
        tf.read_version(spark, root, 0)
    # latest still reads
    assert tf.read_version(spark, root).count() > 0


def test_vacuum_grace_protects_inflight_writer(demo_root, tmp_path):
    """A data file in NO manifest is a possibly in-flight writer's
    pre-commit output: vacuum must keep it inside the grace window and
    may reclaim it only once it is old enough."""
    root = str(tmp_path / "vacg")
    shutil.copytree(demo_root, root)
    orphan_dir = os.path.join(root, "data", "v=99-deadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1fake")
    deleted = tf.vacuum(root, keep_versions=1)  # default 24h grace
    rel = os.path.relpath(orphan, root)
    assert rel not in deleted and os.path.exists(orphan)
    os.utime(orphan, (1, 1))  # now ancient
    deleted = tf.vacuum(root, keep_versions=1, orphan_grace_sec=3600)
    assert rel in deleted and not os.path.exists(orphan)


def test_racing_writers_never_clobber_data(spark, demo_root, tmp_path):
    """THE r8-advice race: two writers both compute new_v = latest+1 and
    write data files BEFORE the manifest race is decided. Attempt-unique
    data directories mean the loser can never erase the winner's files:
    exactly one commit lands, its snapshot is intact, and the loser's
    files survive as orphans until vacuum's grace expires."""
    import threading

    root = str(tmp_path / "race")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    tf.create_table(spark, root, base, files=2)
    results = []
    barrier = threading.Barrier(2)

    def writer(i):
        batch = spark.range(1000 * (i + 1), 1000 * (i + 1) + 10).select(
            F.col("id").alias("k"), F.lit(i).cast("long").alias("v")
        )
        barrier.wait()
        try:
            results.append(("ok", i, tf.append(spark, root, batch)))
        except tf.CommitConflict:
            results.append(("conflict", i, None))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    outcomes = sorted(r[0] for r in results)
    assert outcomes == ["conflict", "ok"]
    # the winner's snapshot is complete and readable (no missing files)
    snap = tf.read_version(spark, root)
    assert snap.count() == 110
    # the loser's data files exist on disk but are referenced nowhere
    all_parquet = {
        os.path.relpath(p, root)
        for p in __import__("glob").glob(
            os.path.join(root, "data", "**", "*.parquet"), recursive=True
        )
    }
    referenced = set()
    for v in tf.list_versions(root):
        referenced |= set(_adds(tf.read_manifest(root, v)))
    orphans = all_parquet - referenced
    assert orphans, "loser must have written orphan files"
    # grace protects them now; zero-grace vacuum reclaims them
    assert not set(tf.vacuum(root, keep_versions=2)) & orphans
    deleted = tf.vacuum(root, keep_versions=2, orphan_grace_sec=-1.0)
    assert orphans <= set(deleted)
    assert tf.read_version(spark, root).count() == 110


def test_read_version_empty_after_full_delete(spark, tmp_path):
    """A merge whose feed deletes every row leaves an empty active set:
    read_version must return an empty frame with the recorded schema,
    not throw on a path-less parquet read."""
    root = str(tmp_path / "empty")
    base = spark.range(0, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("long").alias("v")
    )
    tf.create_table(spark, root, base, files=1)
    feed = base.select(
        "k", F.lit("D").alias("op"), "v",
        F.lit(1).alias("seq"), F.col("k").alias("tb"),
    )
    tf.merge(spark, root, feed, "k", ["v"], "seq", "tb", files=1)
    snap = tf.read_version(spark, root)
    assert snap.count() == 0
    assert set(snap.columns) == {"k", "v"}
    # and a subsequent merge re-inserts into the empty table
    feed2 = spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit("I").alias("op"),
        F.lit(7).cast("long").alias("v"),
        F.lit(2).alias("seq"), F.col("id").alias("tb"),
    ).select("k", "op", "v", "seq", "tb")
    tf.merge(spark, root, feed2, "k", ["v"], "seq", "tb", files=1)
    assert tf.read_version(spark, root).count() == 3


def test_mor_read_through_symlinked_root(spark, tmp_path):
    """Reading a MoR snapshot through a SYMLINKED root must still
    subtract the delete vectors: _tf_file is derived by stripping the
    root prefix from the scan's reported file_path, and a symlink makes
    the literal prefix differ from the resolved one (the /tmp ->
    /private/tmp class of bug, where rows silently RESURRECT). The
    provenance extractor matches both spellings and fails loudly on
    neither-matches instead of emitting ''."""
    real = tmp_path / "real"
    real.mkdir()
    root = str(real / "t")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("long").alias("v")
    )
    tf.create_table(spark, root, base, files=2)
    tf.delete_where(spark, root, "v = 1")  # MoR vectors, no rewrite
    link = tmp_path / "link"
    os.symlink(str(real), str(link))
    via_link = str(link / "t")
    got = tf.read_version(spark, via_link)
    assert got.count() == 15
    assert got.filter(F.col("v") == 1).count() == 0


def test_merge_rejects_payload_missing_evolved_column(spark, tmp_path):
    """MERGE on a schema-evolved table whose payload omits the evolved
    column must fail loudly (a rewrite would silently drop its data —
    the r8-advice corruption), never proceed."""
    evo = tfq.ensure_evo_table(spark, SF_SMOKE)
    root = str(tmp_path / "evo")
    shutil.copytree(evo, root)
    cust = tfq._with_bucket(spark.read.parquet(f"{SF_SMOKE}/customer.parquet"))
    feed = tfq._feed1(cust)
    with pytest.raises(ValueError, match="loyalty_tier"):
        tf.merge(spark, root, feed, "c_custkey", tfq._PAYLOAD, "seq", "tb")


def test_compact_preserves_evolved_column(spark, tmp_path):
    """OPTIMIZE on an evolved table reads under the MERGED schema, so
    the rewrite keeps loyalty_tier (old rows materialize their NULLs —
    the exact values a merge_schema read produced before)."""
    evo = tfq.ensure_evo_table(spark, SF_SMOKE)
    root = str(tmp_path / "evoc")
    shutil.copytree(evo, root)
    before = sorted(map(tuple, tf.read_version(
        spark, root, merge_schema=True
    ).select("c_custkey", "c_acctbal", "loyalty_tier").collect()))
    tf.compact(spark, root)
    after = sorted(map(tuple, tf.read_version(spark, root)
                       .select("c_custkey", "c_acctbal", "loyalty_tier")
                       .collect()))
    assert after == before


def test_compact_preserves_rows_and_unifies_files(spark, demo_root, tmp_path):
    """OPTIMIZE: post-compaction snapshot is row-identical; every
    previously-active file is removed from the manifest (still on disk
    for time travel until vacuum); active files shrink to one per
    partition value."""
    root = str(tmp_path / "opt")
    shutil.copytree(demo_root, root)
    before = sorted(map(tuple, tf.read_version(spark, root).collect()))
    pre_active = set(tf.active_files(root))
    v = tf.compact(spark, root)
    after = sorted(map(tuple, tf.read_version(spark, root).collect()))
    assert after == before
    m = tf.read_manifest(root, v)
    assert set(m["removes"]) == pre_active
    post = tf.active_files(root)
    assert len(post) <= 4 and all(
        f.startswith(f"data{os.sep}v={v}-") for f in post
    )
    # history before the compaction is still readable
    assert tf.read_version(spark, root, 0).count() > 0
    # and vacuum now reclaims every pre-compaction file
    deleted = tf.vacuum(root, keep_versions=1)
    assert pre_active <= set(deleted)
    assert sorted(map(tuple, tf.read_version(spark, root).collect())) == before


def test_append_commits_remove_nothing(spark):
    """INSERT-INTO commits add files only; every prior file stays live
    (nothing for vacuum to reclaim at latest)."""
    root = tfq.ensure_evo_table(spark, SF_SMOKE)
    h = tf.history(root)
    assert [m["op"] for m in h] == ["create", "append"]
    assert h[1]["removes"] == [] and h[1]["adds"]
    assert set(tf.active_files(root)) == set(_adds(h[0])) | set(_adds(h[1]))


def test_evolved_append_nulls_only_on_old_rows(spark):
    """merge_schema read: the new column is NULL exactly on
    pre-evolution rows."""
    root = tfq.ensure_evo_table(spark, SF_SMOKE)
    df = tf.read_version(spark, root, merge_schema=True)
    bad = df.filter(
        (F.col("loyalty_tier").isNull()) != (F.col("c_custkey") % 4 != 0)
    ).count()
    assert bad == 0


def test_manifest_records_partition_and_stats(demo_root):
    """Every data-writing commit records per-file partition values and
    footer min/max for the stat-extractable columns — the metadata data
    skipping folds over."""
    for m in tf.history(demo_root):
        for a in m["adds"]:
            rec = tf._norm_add(a)
            assert rec["partition"]["c_bucket"] == str(
                _bucket_of(rec["path"])
            )
            st = rec["stats"]
            assert st["c_bucket"]["min"] == st["c_bucket"]["max"]
            assert st["c_custkey"]["min"] <= st["c_custkey"]["max"]
            assert rec["rows"] > 0
    assert tf.read_manifest(demo_root, 0)["partition_by"] == ["c_bucket"]


def test_stats_pruning_selects_only_overlapping_files(demo_root):
    """Data skipping: a bucket-equality bound keeps exactly the files
    whose recorded min/max overlap; an all-covering bound prunes
    nothing; a disjoint bound prunes everything."""
    sel, total = tf.snapshot_files(demo_root, None, {"c_bucket": (1, 1)})
    assert total == 4 and len(sel) == 1
    assert _bucket_of(sel[0]) == 1
    sel_all, _ = tf.snapshot_files(demo_root, None, {"c_bucket": (0, 3)})
    assert len(sel_all) == total
    sel_none, _ = tf.snapshot_files(demo_root, None, {"c_bucket": (7, 9)})
    assert sel_none == []


def test_pruned_read_equals_filtered_unpruned_read(spark, demo_root):
    """Superset guarantee end-to-end: pruned-scan + row filter ==
    full-scan + row filter, row for row."""
    pruned = (
        tf.read_version(spark, demo_root, where={"c_bucket": (1, 1)})
        .filter(F.col("c_bucket") == 1)
    )
    full = tf.read_version(spark, demo_root).filter(F.col("c_bucket") == 1)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_sql_version_as_of_binds_each_clause(spark, demo_root):
    """The SQL resolver rewrites VERSION AS OF clauses independently and
    binds bare names to latest."""
    out = tf.sql(
        spark, {"dim_customer": demo_root},
        "SELECT (SELECT COUNT(*) FROM dim_customer VERSION AS OF 0) AS n0, "
        "(SELECT COUNT(*) FROM dim_customer VERSION AS OF 2) AS n2, "
        "(SELECT COUNT(*) FROM dim_customer) AS nl",
    ).collect()[0]
    assert out.n2 == out.nl and out.n0 != out.n2


def test_concurrent_writers_exactly_one_commit_wins(spark, demo_root, tmp_path):
    """Optimistic concurrency under a REAL race: N threads publish the
    same next version concurrently; exactly one manifest lands, every
    loser gets CommitConflict, and no temp debris survives."""
    import threading

    root = str(tmp_path / "race")
    tf._publish(root, 0, {"version": 0, "op": "create", "adds": [],
                          "removes": [], "n_changes": 0})
    results = []
    barrier = threading.Barrier(8)

    def writer(i):
        barrier.wait()
        try:
            tf._publish(root, 1, {"version": 1, "op": "merge",
                                  "adds": [f"w{i}"], "removes": [],
                                  "n_changes": i})
            results.append(("ok", i))
        except tf.CommitConflict:
            results.append(("conflict", i))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sum(1 for r, _ in results if r == "ok") == 1
    assert sum(1 for r, _ in results if r == "conflict") == 7
    assert sorted(os.listdir(tf._commit_dir(root))) == [
        "00000000.json", "00000001.json"
    ]
    winner = [i for r, i in results if r == "ok"][0]
    assert tf.read_manifest(root, 1)["adds"] == [f"w{winner}"]


def test_change_feed_classes_match_mod_arithmetic(spark, demo_root):
    """CDF row classes per commit match the feeds' mod classes exactly
    (data values are oracle-gated by the tf_change_feed entry; this
    pins the per-commit partitioning of the classes)."""
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    n = {
        k: cust.filter(F.col("c_custkey") % m == r).count()
        for k, (m, r) in {
            "ins1": (8, 4), "upd1": (8, 1), "del2": (16, 3), "upd2": (16, 5)
        }.items()
    }
    ch = tf.change_feed(spark, demo_root, "c_custkey", tfq._PAYLOAD)
    got = {
        (r["_commit_version"], r["_change_type"]): r["cnt"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("cnt")).collect()
    }
    assert got == {
        (1, "insert"): n["ins1"], (1, "update_postimage"): n["upd1"],
        (2, "delete"): n["del2"], (2, "update_postimage"): n["upd2"],
    }
    # windowed feed: only commit 2's changes
    ch2 = tf.change_feed(spark, demo_root, "c_custkey", tfq._PAYLOAD, v_from=1)
    assert ch2.select("_commit_version").distinct().collect()[0][0] == 2


def test_sorted_compact_stats_are_disjoint_intervals(spark):
    """compact(sort_by) range-clusters: the four files' c_custkey
    manifest intervals are pairwise disjoint, and a low range prunes
    to one file (at v0 the single unsorted file can never prune)."""
    root = tfq.ensure_sorted_table(spark, SF_SMOKE)
    adds = tf.active_adds(root)
    assert len(adds) == 4
    iv = sorted(
        (a["stats"]["c_custkey"]["min"], a["stats"]["c_custkey"]["max"])
        for a in adds
    )
    for (lo1, hi1), (lo2, hi2) in zip(iv, iv[1:]):
        assert hi1 < lo2, f"overlapping intervals {iv}"
    # selection must be EXACTLY the overlapping-interval files (fewer
    # than all 4 — the first interval alone covers well under half the
    # keyspace), and at v0 the single unsorted file can never prune
    lo_q, hi_q = 1, min(a["stats"]["c_custkey"]["max"] for a in adds)
    want = {
        a["path"] for a in adds
        if a["stats"]["c_custkey"]["min"] <= hi_q
        and a["stats"]["c_custkey"]["max"] >= lo_q
    }
    sel, total = tf.snapshot_files(root, None, {"c_custkey": (lo_q, hi_q)})
    assert total == 4 and set(sel) == want and len(sel) == 1
    sel0, total0 = tf.snapshot_files(root, 0, {"c_custkey": (lo_q, hi_q)})
    assert total0 == 1 and len(sel0) == 1


def test_change_feed_replay_rebuilds_snapshot(spark, demo_root):
    """Completeness: applying the CDF (mapped to I/U/D ops, sequenced by
    commit version) onto the v0 snapshot rebuilds the v2 snapshot
    row-for-row — the property an incremental downstream consumer
    relies on."""
    ch = tf.change_feed(spark, demo_root, "c_custkey", tfq._PAYLOAD)
    feed = ch.select(
        "c_custkey",
        F.when(F.col("_change_type") == "insert", "I")
        .when(F.col("_change_type") == "delete", "D")
        .otherwise("U").alias("op"),
        *tfq._PAYLOAD,
        F.col("_commit_version").alias("seq"),
        F.col("c_custkey").alias("tb"),
    )
    base = tf.read_version(spark, demo_root, 0)
    rebuilt = apply_change_feed(
        base, feed, "c_custkey", tfq._PAYLOAD, "seq", "tb"
    ).select("c_custkey", *tfq._PAYLOAD)
    want = sorted(map(tuple, tf.read_version(spark, demo_root)
                      .select("c_custkey", *tfq._PAYLOAD).collect()))
    got = sorted(map(tuple, rebuilt.collect()))
    assert got == want


# ---------------------------------------------------------------- MoR deletes


def _mor_base(spark):
    return spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).cast("int").alias("b"),
        (F.col("id") * 2).alias("val"),
    )


def test_mor_delete_writes_vectors_not_data(spark, tmp_path):
    """delete_where is MERGE-ON-READ: the commit adds NO data files —
    only a position-delete vector — yet the snapshot subtracts exactly
    the matched rows, and time travel to v0 still sees them."""
    root = str(tmp_path / "mor")
    df = _mor_base(spark)
    tf.create_table(spark, root, df, files=4)
    tf.delete_where(spark, root, "k % 7 = 0")
    m = tf.read_manifest(root, 1)
    assert m["op"] == "delete" and m["adds"] == [] and m["n_changes"] == 15
    assert m["removes"] == []  # no file fully matched
    assert len(m["delete_adds"]) == 1
    assert m["delete_adds"][0]["rows"] == 15
    snap = tf.read_version(spark, root)
    exp = df.filter(~(F.col("k") % 7 == 0))
    assert snap.exceptAll(exp).count() == 0
    assert exp.exceptAll(snap).count() == 0
    assert tf.read_version(spark, root, 0).count() == 100


def test_mor_repeated_deletes_never_duplicate_positions(spark, tmp_path):
    """A second delete matches against the ALREADY-SUBTRACTED snapshot,
    so vectors never record a position twice and n_changes sums to the
    true deleted-row total."""
    root = str(tmp_path / "mor2")
    df = _mor_base(spark)
    tf.create_table(spark, root, df, files=4)
    tf.delete_where(spark, root, "k % 7 = 0")       # 15 rows
    tf.delete_where(spark, root, "k % 5 = 1")       # 20 rows, minus overlap
    n1 = tf.read_manifest(root, 1)["n_changes"]
    n2 = tf.read_manifest(root, 2)["n_changes"]
    left = tf.read_version(spark, root).count()
    assert n1 + n2 + left == 100
    # overlap k in {35, 56, ...}? k%7==0 and k%5==1: k ≡ 21 (mod 35) → 21,56,91
    assert n2 == 20 - 3


def test_mor_whole_file_match_removes_file_without_vector(spark, tmp_path):
    """When every row of a data file matches, the commit removes the
    file outright — no vector entries for it (the partition-delete
    fast path)."""
    root = str(tmp_path / "mor3")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("b")
    )
    tf.create_table(spark, root, df, partition_by="b")
    tf.delete_where(spark, root, "b = 2")
    m = tf.read_manifest(root, 1)
    assert m["removes"] and m["delete_adds"] == []
    assert tf.read_version(spark, root).count() == 30


def test_mor_compact_applies_and_retires_vectors(spark, tmp_path):
    """compact rewrites the delete-applied snapshot and retires every
    live vector (delete_removes); the rows are unchanged and the CDF
    across the compact commit is empty — vector retirement is not a
    row-level change."""
    root = str(tmp_path / "mor4")
    df = _mor_base(spark)
    tf.create_table(spark, root, df, files=4)
    tf.delete_where(spark, root, "k % 7 = 0")
    exp = df.filter(~(F.col("k") % 7 == 0))
    assert tf.active_delete_adds(root) != []
    tf.compact(spark, root, files=2)
    assert tf.active_delete_adds(root) == []
    snap = tf.read_version(spark, root)
    assert snap.exceptAll(exp).count() == 0
    assert exp.exceptAll(snap).count() == 0
    ch = tf.change_feed(spark, root, "k", ["b", "val"], v_from=1)
    assert ch.count() == 0


def test_mor_change_feed_emits_vectored_preimages_once(spark, tmp_path):
    """The delete commit's CDF rows are the exact pre-images of the
    vectored positions; a later compact does not re-report them."""
    root = str(tmp_path / "mor5")
    df = _mor_base(spark)
    tf.create_table(spark, root, df, files=4)
    tf.delete_where(spark, root, "k % 7 = 0")
    ch = tf.change_feed(spark, root, "k", ["b", "val"], v_from=0)
    rows = ch.collect()
    assert all(r["_change_type"] == "delete" for r in rows)
    assert sorted(r["k"] for r in rows) == list(range(0, 100, 7))
    assert all(r["val"] == r["k"] * 2 for r in rows)
    tf.compact(spark, root, files=2)
    ch2 = tf.change_feed(spark, root, "k", ["b", "val"], v_from=0)
    assert ch2.count() == len(rows)


def test_mor_merge_cannot_resurrect_deleted_rows(spark, tmp_path):
    """A copy-on-write MERGE that rewrites a file carrying vector-deleted
    rows reads the delete-APPLIED state, and the rewritten file's fresh
    path means stale vector entries never apply to it."""
    root = str(tmp_path / "mor6")
    df = _mor_base(spark)
    tf.create_table(spark, root, df, files=2)
    tf.delete_where(spark, root, "k = 10")
    feed = spark.createDataFrame(
        [(11, "U", 1, 999, 1, 0)],
        "k long, op string, b int, val long, seq int, tb int",
    )
    tf.merge(spark, root, feed, "k", ["b", "val"], "seq", "tb")
    snap = tf.read_version(spark, root)
    assert snap.filter(F.col("k") == 10).count() == 0
    assert snap.filter(F.col("k") == 11).select("val").first()[0] == 999
    assert snap.count() == 99


def test_mor_vacuum_keeps_live_vectors(spark, tmp_path):
    """vacuum must treat live delete vectors as referenced files: after
    a zero-grace vacuum the snapshot still subtracts them; once compact
    retires them, vacuum reclaims the vector files."""
    root = str(tmp_path / "mor7")
    df = _mor_base(spark)
    tf.create_table(spark, root, df, files=2)
    tf.delete_where(spark, root, "k % 7 = 0")
    deleted = tf.vacuum(root, keep_versions=1, orphan_grace_sec=0.0)
    assert not any(p.startswith("deletes/") for p in deleted)
    assert tf.read_version(spark, root).count() == 85
    tf.compact(spark, root, files=1)
    deleted = tf.vacuum(root, keep_versions=1, orphan_grace_sec=0.0)
    assert any(p.startswith("deletes/") for p in deleted)
    assert tf.read_version(spark, root).count() == 85


def test_mor_delete_all_rows_yields_empty_snapshot(spark, tmp_path):
    """Deleting every row leaves an empty active set readable with the
    recorded schema (whole-file removes, no vectors)."""
    root = str(tmp_path / "mor8")
    df = _mor_base(spark)
    tf.create_table(spark, root, df, files=2)
    tf.delete_where(spark, root, "k >= 0")
    m = tf.read_manifest(root, 1)
    assert m["delete_adds"] == [] and len(m["removes"]) == 2
    snap = tf.read_version(spark, root)
    assert snap.count() == 0
    assert set(snap.columns) == {"k", "b", "val"}


# ---------------------------------------------------------- OPTIMIZE ZORDER


def test_zorder_compact_prunes_both_dimensions(spark, tmp_path):
    """compact(zorder_by=(x, y)) over a dense 64x64 grid: the manifest's
    per-file min/max become bounded rectangles, so a range where= on
    EITHER dimension selects strictly fewer than all files — the 2-D
    property a 1-D sort cannot provide."""
    root = str(tmp_path / "z")
    grid = spark.range(0, 64 * 64).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
        F.col("id").alias("v"),
    )
    tf.create_table(spark, root, grid, files=1)
    tf.compact(spark, root, files=8, zorder_by=("x", "y"))
    sel_x, total = tf.snapshot_files(root, None, {"x": (0, 7)})
    sel_y, _ = tf.snapshot_files(root, None, {"y": (0, 7)})
    assert total == 8
    assert len(sel_x) < total and len(sel_y) < total
    # skipping is a superset: the pruned read still returns every row
    got = (
        tf.read_version(spark, root, where={"x": (0, 7)})
        .filter(F.col("x") <= 7).count()
    )
    assert got == 8 * 64
    m = tf.read_manifest(root, 1)
    assert m["zorder_by"] == ["x", "y"]


def test_zorder_rejects_partitioned_tables(spark, tmp_path):
    root = str(tmp_path / "zp")
    df = spark.range(0, 40).select(
        (F.col("id") % 4).cast("int").alias("b"),
        F.col("id").alias("x"), F.col("id").alias("y"),
    )
    tf.create_table(spark, root, df, partition_by="b")
    with pytest.raises(ValueError, match="unpartitioned"):
        tf.compact(spark, root, files=4, zorder_by=("x", "y"))


# ------------------------------------------------------------- MoR UPDATE


def test_mor_update_vectors_plus_updated_images(spark, tmp_path):
    """update_where = one commit: position-vectors for the matched old
    rows + a small file of updated images. Unmatched rows untouched,
    matched rows transformed, no pre-existing file rewritten."""
    root = str(tmp_path / "upd")
    df = _mor_base(spark)
    tf.create_table(spark, root, df, files=4)
    before_files = set(tf.active_files(root))
    tf.update_where(
        spark, root, "k % 10 = 3",
        {"val": "val + 1000", "b": "CAST(99 AS INT)"},
    )
    m = tf.read_manifest(root, 1)
    assert m["op"] == "update" and m["n_changes"] == 10
    assert m["adds"] and m["delete_adds"] and m["removes"] == []
    assert before_files <= set(tf.active_files(root))  # nothing rewritten
    snap = tf.read_version(spark, root)
    assert snap.count() == 100
    hits = snap.filter(F.col("k") % 10 == 3)
    assert hits.count() == 10
    assert hits.filter(
        (F.col("val") == F.col("k") * 2 + 1000) & (F.col("b") == 99)
    ).count() == 10
    rest = snap.filter(F.col("k") % 10 != 3)
    assert rest.filter(
        (F.col("val") == F.col("k") * 2) & (F.col("b") == F.col("k") % 10)
    ).count() == 90


def test_mor_update_change_feed_postimages_only(spark, tmp_path):
    """An update commit's CDF rows are update_postimage of exactly the
    matched rows — never delete+insert pairs — in both the batch feed
    and the streaming source."""
    root = str(tmp_path / "updcf")
    tf.create_table(spark, root, _mor_base(spark), files=2)
    tf.update_where(spark, root, "k < 5", {"val": "val * 3"})
    ch = tf.change_feed(spark, root, "k", ["b", "val"], v_from=0).collect()
    assert {r["_change_type"] for r in ch} == {"update_postimage"}
    assert sorted(r["k"] for r in ch) == [0, 1, 2, 3, 4]
    assert all(r["val"] == r["k"] * 6 for r in ch)
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.streaming.table_source import (
        commit_changes,
    )
    got = sorted(commit_changes(root, 1, "k", ["b", "val"]))
    want = sorted((r["k"], r["b"], r["val"], "update_postimage", 1) for r in ch)
    assert got == want


def test_mor_update_then_compact_then_update_roundtrip(spark, tmp_path):
    """Vectors from an update retire at compact; a second update after
    compact sees the post-update state (no double application)."""
    root = str(tmp_path / "upd2")
    tf.create_table(spark, root, _mor_base(spark), files=2)
    tf.update_where(spark, root, "k = 7", {"val": "val + 1"})
    tf.compact(spark, root, files=1)
    assert tf.active_delete_adds(root) == []
    tf.update_where(spark, root, "k = 7", {"val": "val + 1"})
    got = tf.read_version(spark, root).filter(F.col("k") == 7).first()
    assert got["val"] == 16
    assert tf.read_version(spark, root).count() == 100


def test_mor_update_rejects_unknown_assignment(spark, tmp_path):
    root = str(tmp_path / "updbad")
    tf.create_table(spark, root, _mor_base(spark), files=1)
    with pytest.raises(ValueError, match="unknown columns"):
        tf.update_where(spark, root, "k = 1", {"nope": "1"})


# --------------------------------------------------------- CHECK constraints


def test_constraint_rejects_violating_append_atomically(spark, tmp_path):
    """A violating append raises ConstraintViolation and publishes
    NOTHING — no new version, snapshot unchanged."""
    root = str(tmp_path / "chk")
    tf.create_table(
        spark, root, _mor_base(spark), files=2,
        constraints={"val_nonneg": "val >= 0", "b_domain": "b BETWEEN 0 AND 9"},
    )
    bad = spark.createDataFrame([(200, 3, -5)], "k long, b int, val long")
    with pytest.raises(tf.ConstraintViolation, match="val_nonneg"):
        tf.append(spark, root, bad)
    assert tf.list_versions(root) == [0]
    assert tf.read_version(spark, root).count() == 100
    ok = spark.createDataFrame([(200, 3, 5)], "k long, b int, val long")
    tf.append(spark, root, ok, files=1)
    assert tf.read_version(spark, root).count() == 101


def test_constraint_null_passes_sql_check_semantics(spark, tmp_path):
    """SQL CHECK: a NULL predicate result PASSES (only FALSE violates)."""
    root = str(tmp_path / "chknull")
    base = spark.createDataFrame(
        [(1, 10), (2, None)], "k long, val long"
    )
    tf.create_table(spark, root, base, files=1, constraints={"pos": "val > 0"})
    assert tf.read_version(spark, root).count() == 2


def test_add_constraint_validates_snapshot_then_guards_writes(spark, tmp_path):
    """add_constraint scans the CURRENT snapshot once (rejecting if it
    already violates) and guards later merges/updates."""
    root = str(tmp_path / "chkadd")
    tf.create_table(spark, root, _mor_base(spark), files=2)
    with pytest.raises(tf.ConstraintViolation):
        tf.add_constraint(spark, root, "impossible", "val > 100000")
    v = tf.add_constraint(spark, root, "val_cap", "val < 1000")
    assert tf.active_constraints(root) == {"val_cap": "val < 1000"}
    with pytest.raises(tf.ConstraintViolation, match="val_cap"):
        tf.update_where(spark, root, "k = 1", {"val": "val + 99999"})
    feed = spark.createDataFrame(
        [(1, "U", 1, 99999, 1, 0)],
        "k long, op string, b int, val long, seq int, tb int",
    )
    with pytest.raises(tf.ConstraintViolation, match="val_cap"):
        tf.merge(spark, root, feed, "k", ["b", "val"], "seq", "tb")
    assert tf.list_versions(root) == [0, v]
    tf.drop_constraint(spark, root, "val_cap")
    assert tf.active_constraints(root) == {}
    tf.update_where(spark, root, "k = 1", {"val": "val + 99999"})
    assert tf.read_version(spark, root).filter(
        F.col("k") == 1
    ).first()["val"] == 100001


def test_constraint_alter_commits_invisible_to_change_feed(spark, tmp_path):
    root = str(tmp_path / "chkcf")
    tf.create_table(spark, root, _mor_base(spark), files=1)
    tf.add_constraint(spark, root, "nonneg", "val >= 0")
    tf.drop_constraint(spark, root, "nonneg")
    assert tf.change_feed(spark, root, "k", ["b", "val"], v_from=0).count() == 0
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.streaming.table_source import (
        commit_changes,
    )
    assert list(commit_changes(root, 1, "k", ["b", "val"])) == []


# ------------------------------------------------- SQL surface: meta + DML


def test_sql_timestamp_as_of_resolves_latest_at_or_before(spark, tmp_path):
    import json as _json

    root = str(tmp_path / "ts")
    tf.create_table(spark, root, _mor_base(spark), files=1)
    tf.append(
        spark, root,
        spark.createDataFrame([(500, 1, 9)], "k long, b int, val long"),
        files=1,
    )
    # pin distinct commit times (hand-edit the manifests: committed_at
    # is data the resolver reads, not behavior it computes)
    for v, at in ((0, 1000.0), (1, 2000.0)):
        p = tf._commit_path(root, v)
        m = _json.load(open(p))
        m["committed_at"] = at
        _json.dump(m, open(p, "w"))
    assert tf.version_as_of_timestamp(root, 1500.0) == 0
    assert tf.version_as_of_timestamp(root, 2000.0) == 1
    with pytest.raises(ValueError, match="no commit"):
        tf.version_as_of_timestamp(root, 999.0)
    got = tf.sql(
        spark, {"t": root},
        "SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF 1500.0",
    ).first()["n"]
    assert got == 100
    got = tf.sql(
        spark, {"t": root},
        "SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF 2500.5",
    ).first()["n"]
    assert got == 101


def test_sql_metadata_tables(spark, tmp_path):
    root = str(tmp_path / "meta")
    tf.create_table(
        spark, root, _mor_base(spark), files=2,
        constraints={"nonneg": "val >= 0"},
    )
    tf.delete_where(spark, root, "k < 10")
    h = tf.sql(
        spark, {"t": root},
        "SELECT version, op, files_added, vector_files_added "
        "FROM t$history ORDER BY version",
    ).collect()
    assert [(r[0], r[1]) for r in h] == [(0, "create"), (1, "delete")]
    assert h[0]["files_added"] == 2 and h[1]["vector_files_added"] == 1
    f = tf.sql(
        spark, {"t": root},
        "SELECT COUNT(*) AS n, SUM(rows) AS total FROM t$files",
    ).first()
    assert (f["n"], f["total"]) == (2, 100)
    c = tf.sql(
        spark, {"t": root},
        "SELECT constraint_name, expression FROM t$constraints",
    ).collect()
    assert [(r[0], r[1]) for r in c] == [("nonneg", "val >= 0")]


def test_sql_dml_routes_to_merge_on_read(spark, tmp_path):
    root = str(tmp_path / "dml")
    tf.create_table(spark, root, _mor_base(spark), files=2)
    receipt = tf.sql(
        spark, {"t": root}, "DELETE FROM t WHERE k % 10 = 0"
    ).first()
    assert (receipt["op"], receipt["version"], receipt["n_changes"]) == (
        "delete", 1, 10,
    )
    receipt = tf.sql(
        spark, {"t": root},
        "UPDATE t SET val = val + least(5, 10), b = CAST(7 AS INT) "
        "WHERE k = 11",
    ).first()
    assert (receipt["op"], receipt["version"], receipt["n_changes"]) == (
        "update", 2, 1,
    )
    snap = tf.sql(spark, {"t": root}, "SELECT * FROM t")
    assert snap.count() == 90
    row = snap.filter(F.col("k") == 11).first()
    assert (row["val"], row["b"]) == (27, 7)
    # the comma inside least(...) must not split the assignment list
    assert tf._split_assignments("a = f(x, y), b = 'p,q', c = 1") == {
        "a": "f(x, y)", "b": "'p,q'", "c": "1",
    }


# --------------------------------------- MoR on partitioned tables


def test_mor_partial_vectors_on_partitioned_table(spark, tmp_path):
    """Position vectors are path-addressed, so they compose with a
    partition spec: a partial delete inside one partition leaves every
    data file intact, prunes still work, and the vectored rows are
    subtracted from the right files."""
    root = str(tmp_path / "morp")
    df = spark.range(0, 80).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("b"),
        (F.col("id") * 3).alias("val"),
    )
    tf.create_table(spark, root, df, partition_by="b")
    tf.delete_where(spark, root, "b = 1 AND k < 20")  # partial in partition 1
    m = tf.read_manifest(root, 1)
    assert m["removes"] == [] and m["delete_adds"], m
    snap = tf.read_version(spark, root)
    assert snap.count() == 80 - 5  # k in {1,5,9,13,17}
    assert snap.filter((F.col("b") == 1) & (F.col("k") < 20)).count() == 0
    # partition pruning still applies on the vectored snapshot
    sel, total = tf.snapshot_files(root, None, {"b": (1, 1)})
    assert len(sel) < total
    pruned = tf.read_version(spark, root, where={"b": (1, 1)}).filter(
        F.col("b") == 1
    )
    assert pruned.count() == 20 - 5


def test_mor_update_on_partitioned_table_respects_spec(spark, tmp_path):
    """update_where on a partitioned table writes its updated images
    under the spec (hive dirs), so later partition-pruned reads see
    them; the partition column itself may be reassigned (rows MOVE
    partitions — the vector+append design makes this free, where a
    COW-in-place rewrite would strand them)."""
    root = str(tmp_path / "updp")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("b"),
        (F.col("id") * 3).alias("val"),
    )
    tf.create_table(spark, root, df, partition_by="b")
    tf.update_where(
        spark, root, "b = 2", {"b": "CAST(3 AS INT)", "val": "val + 1"}
    )
    m = tf.read_manifest(root, 1)
    # updated images landed hive-partitioned under the NEW value
    assert all(a.get("partition", {}).get("b") == "3" for a in m["adds"])
    snap = tf.read_version(spark, root)
    assert snap.filter(F.col("b") == 2).count() == 0
    assert snap.filter(F.col("b") == 3).count() == 20
    moved = snap.filter((F.col("b") == 3) & (F.col("val") % 3 == 1))
    assert moved.count() == 10  # the movers carry val+1
    # pruning to b=3 sees both natives and movers
    pruned = tf.read_version(spark, root, where={"b": (3, 3)}).filter(
        F.col("b") == 3
    )
    assert pruned.count() == 20


def test_streaming_source_reads_partitioned_mor_commits(spark, tmp_path):
    """The streaming CDF source's pyarrow diff handles hive-partitioned
    files + vectors: stream rows == batch change_feed rows."""
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.streaming.table_source import (
        commit_changes,
    )

    root = str(tmp_path / "srcp")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("b"),
        (F.col("id") * 3).alias("val"),
    )
    tf.create_table(spark, root, df, partition_by="b")
    tf.delete_where(spark, root, "b = 1 AND k < 10")
    tf.update_where(spark, root, "k = 22", {"val": "val + 5"})
    for v in (1, 2):
        got = sorted(commit_changes(root, v, "k", ["b", "val"]))
        want = sorted(
            tuple(r) + (v,)
            for r in tf.change_feed(
                spark, root, "k", ["b", "val"], v_from=v - 1, v_to=v
            ).drop("_commit_version").collect()
        )
        # batch rows are (k, b, val, type); stream rows append version
        assert [g[:4] for g in got] == [w[:4] for w in want]


# ----------------------------------------- randomized MoR lifecycle model


def test_mor_lifecycle_random_ops_match_model(spark, tmp_path):
    """Model-based randomized check: a random interleaving of
    append / MoR delete / MoR update / compact / vacuum must keep the
    snapshot equal to a trivial driver-side model after EVERY op, and
    keep retained time travel exact. Catches cross-op interactions no
    single-op test covers (vectors over appended files, updates of
    vector-deleted survivors, compaction mid-sequence, vacuum of
    retired vectors)."""
    import random

    rng = random.Random(20260816)
    for trial in range(4):
        root = str(tmp_path / f"model{trial}")
        rows = {k: (k % 7, k * 2) for k in range(60)}  # k -> (b, val)
        df = spark.createDataFrame(
            [(k, b, v) for k, (b, v) in rows.items()],
            "k long, b int, val long",
        )
        tf.create_table(spark, root, df, files=3)
        next_key = 1000
        # model snapshots indexed by DATA-CHANGING commit count (compact
        # and vacuum change layout, never rows)
        change_states = [dict(rows)]
        for _step in range(6):
            op = rng.choice(["append", "delete", "update", "compact", "vacuum"])
            if op == "append":
                new = {next_key + i: ((next_key + i) % 7, rng.randrange(500))
                       for i in range(rng.randrange(1, 6))}
                next_key += 10
                tf.append(spark, root, spark.createDataFrame(
                    [(k, b, v) for k, (b, v) in new.items()],
                    "k long, b int, val long"), files=1)
                rows.update(new)
            elif op == "delete":
                m = rng.randrange(2, 9)
                r = rng.randrange(m)
                tf.delete_where(spark, root, f"k % {m} = {r}")
                rows = {k: bv for k, bv in rows.items() if k % m != r}
            elif op == "update":
                m = rng.randrange(2, 9)
                r = rng.randrange(m)
                add = rng.randrange(1, 50)
                tf.update_where(
                    spark, root, f"k % {m} = {r}", {"val": f"val + {add}"}
                )
                rows = {
                    k: (b, v + add if k % m == r else v)
                    for k, (b, v) in rows.items()
                }
            elif op == "compact":
                tf.compact(spark, root, files=2)
            else:
                tf.vacuum(root, keep_versions=2, orphan_grace_sec=3600)
            if op in ("append", "delete", "update"):
                change_states.append(dict(rows))
            got = sorted(
                (r["k"], r["b"], r["val"])
                for r in tf.read_version(spark, root).collect()
            )
            want = sorted((k, b, v) for k, (b, v) in rows.items())
            assert got == want, f"trial {trial} after {op}"
        # retained time travel: the two latest versions replay exactly
        versions = tf.list_versions(root)
        floor = tf.earliest_readable(root)
        for v in [x for x in versions if x >= floor][-2:]:
            # compact/vacuum never change rows, so the model at a
            # version is history[<number of data-changing commits <= v>]
            changing = [
                x for x in versions
                if x <= v and tf.read_manifest(root, x)["op"]
                in ("create", "append", "delete", "update")
            ]
            want = sorted(
                (k, b, val)
                for k, (b, val) in change_states[len(changing) - 1].items()
            )
            got = sorted(
                (r["k"], r["b"], r["val"])
                for r in tf.read_version(spark, root, v).collect()
            )
            assert got == want, f"trial {trial} time travel v{v}"


def test_parse_ts_naive_iso_is_utc():
    """Naive ISO timestamps resolve as UTC regardless of host TZ (the
    engine pins the Spark session to UTC and committed_at is a UTC
    epoch) — tz-aware strings keep their own offset."""
    assert tf._parse_ts("'1970-01-01T00:00:10'") == 10.0
    assert tf._parse_ts("1970-01-01T01:00:00+01:00") == 0.0
    assert tf._parse_ts("123.5") == 123.5


def test_merge_into_sql_statement_routes_to_cow_merge(spark, tmp_path):
    """MERGE INTO through the SQL resolver: first-match-wins clause
    guards (the DELETE shadows the UPDATE for even matched keys), the
    VALUES insert path, and the routed-DML receipt frame."""
    root = str(tmp_path / "msql")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("long").alias("v")
    )
    tf.create_table(spark, root, base, files=1)
    spark.range(5, 15).select(
        F.col("id").alias("k"), F.lit(99).cast("long").alias("v")
    ).createOrReplaceTempView("msql_src")
    rec = tf.sql(spark, {"t": root}, """
        MERGE INTO t USING msql_src AS s
        ON t.k = s.k
        WHEN MATCHED AND t.k % 2 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v + t.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
    """).collect()[0]
    assert (rec.op, rec.version, rec.n_changes) == ("merge", 1, 10)
    got = {r.k: r.v for r in tf.read_version(spark, root).collect()}
    expect = {i: 2 * i for i in range(0, 5)}          # untouched
    expect.update({i: 99 + 2 * i for i in (5, 7, 9)})  # updated
    expect.update({i: 99 for i in range(10, 15)})      # inserted
    assert got == expect  # 6, 8 deleted by the shadowing clause


def test_merge_into_sql_rejects_malformed(spark, tmp_path):
    root = str(tmp_path / "msqlbad")
    tf.create_table(
        spark, root,
        spark.range(0, 3).select(F.col("id").alias("k"), F.col("id").alias("v")),
        files=1,
    )
    spark.range(0, 3).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).createOrReplaceTempView("msql_src2")
    with pytest.raises(ValueError, match="alias-qualified equalities"):
        tf.sql(spark, {"t": root}, """
            MERGE INTO t USING msql_src2 AS s ON t.k < s.k
            WHEN MATCHED THEN DELETE
        """)
    with pytest.raises(ValueError, match="alias-qualified equalities"):
        tf.sql(spark, {"t": root}, """
            MERGE INTO t USING msql_src2 AS s ON t.k = s.k AND t.v < s.v
            WHEN MATCHED THEN DELETE
        """)
    with pytest.raises(ValueError, match="unknown columns"):
        tf.sql(spark, {"t": root}, """
            MERGE INTO t USING msql_src2 AS s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET nope = s.v
        """)
    with pytest.raises(ValueError, match="not valid for"):
        tf.sql(spark, {"t": root}, """
            MERGE INTO t USING msql_src2 AS s ON t.k = s.k
            WHEN NOT MATCHED THEN DELETE
        """)


def test_insert_optimize_vacuum_sql_statements(spark, tmp_path):
    """The maintenance half of the SQL surface: INSERT INTO (VALUES and
    SELECT with positional schema alignment), OPTIMIZE [ZORDER BY], and
    VACUUM [RETAIN n VERSIONS] route to append/compact/vacuum with the
    routed-DML receipt contract."""
    root = str(tmp_path / "tsql")
    base = spark.range(0, 8).select(
        F.col("id").alias("k"), (F.col("id") * 3).cast("long").alias("v")
    )
    tf.create_table(spark, root, base, files=2)
    t = {"t": root}

    rec = tf.sql(spark, t, "INSERT INTO t VALUES (100, 1), (101, 2)").first()
    assert (rec.op, rec.version, rec.n_changes) == ("insert", 1, 2)
    # SELECT source resolves through the same resolver (reads t itself)
    rec = tf.sql(
        spark, t, "INSERT INTO t SELECT k + 200, v FROM t WHERE k < 2"
    ).first()
    assert (rec.op, rec.version, rec.n_changes) == ("insert", 2, 2)
    assert tf.read_version(spark, root).count() == 12
    # positional cast: ints land as the table's long columns
    kinds = dict(tf.read_version(spark, root).dtypes)
    assert kinds == {"k": "bigint", "v": "bigint"}
    with pytest.raises(ValueError, match="source columns"):
        tf.sql(spark, t, "INSERT INTO t VALUES (1, 2, 3)")

    rec = tf.sql(spark, t, "OPTIMIZE t").first()
    assert rec.op == "optimize" and rec.version == 3
    assert len(tf.active_files(root)) == 1  # bin-packed
    assert tf.read_version(spark, root).count() == 12

    rec = tf.sql(spark, t, "OPTIMIZE t ZORDER BY (k, v)").first()
    assert rec.op == "optimize"
    assert tf.read_manifest(root, rec.version)["zorder_by"] == ["k", "v"]

    rec = tf.sql(spark, t, "VACUUM t RETAIN 1 VERSIONS").first()
    assert rec.op == "vacuum" and rec.n_changes > 0  # history reclaimed
    assert tf.read_version(spark, root).count() == 12


def test_selective_compact_rewrites_one_partition(spark, tmp_path):
    """OPTIMIZE ... WHERE: only the selected partition's files rewrite;
    other partitions — and the delete vectors referencing only them —
    carry untouched; a vector file MIXING selected and unselected
    references is split so MoR deletes on untouched partitions survive
    exactly; the change feed reports nothing for the compact commit."""
    root = str(tmp_path / "selopt")
    base = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("p"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    tf.create_table(spark, root, base, files=2, partition_by="p")
    # small-file accumulation in BOTH partitions
    tf.append(spark, root, spark.range(100, 110).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("p"),
        (F.col("id") * 10).cast("long").alias("v"),
    ))
    # one MoR delete whose vector file references BOTH partitions
    tf.delete_where(spark, root, "k IN (4, 5)")
    before = sorted(tuple(r) for r in tf.read_version(spark, root).collect())
    files_before = set(tf.active_files(root))
    p0_before = {f for f in files_before if "_p_p=0" in f}

    v = tf.compact(spark, root, files=1, where={"p": 1})
    m = tf.read_manifest(root, v)
    assert m["op"] == "compact" and m["partition_where"] == {"p": "1"}
    # rows identical, deletes (k=4 in p0, k=5 in p1) still applied
    after = sorted(tuple(r) for r in tf.read_version(spark, root).collect())
    assert after == before
    ks = {r[0] for r in after}
    assert 4 not in ks and 5 not in ks
    # partition-0 files carried by reference; every removed file was p1
    assert p0_before <= set(tf.active_files(root))
    assert all("_p_p=1" in f for f in m["removes"])
    # the mixed vector file was split: remainder references only p0
    assert m["delete_removes"], "the mixed vector must be retired"
    rem = tf.active_delete_adds(root)
    assert rem, "the unselected remainder vector must survive"
    import pyarrow.parquet as pq
    for d in rem:
        refs = pq.read_table(
            os.path.join(root, d["path"])
        ).column("_tf_dfile").to_pylist()
        assert all("_p_p=0" in f for f in refs)
    # change feed: the selective compact is layout-only — no changes
    feed = tf.change_feed(spark, root, "k", ["p", "v"], v_from=v - 1, v_to=v)
    assert feed.count() == 0
    # WHERE with no matching files: no-op, no commit
    assert tf.compact(spark, root, where={"p": 7}) == v
    with pytest.raises(ValueError, match="non-partition"):
        tf.compact(spark, root, where={"v": 1})


def test_optimize_where_sql_routing(spark, tmp_path):
    root = str(tmp_path / "seloptsql")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("p"),
        F.col("id").alias("v"),
    )
    tf.create_table(spark, root, base, files=2, partition_by="p")
    rec = tf.sql(spark, {"t": root}, "OPTIMIZE t WHERE p = 0").first()
    assert rec.op == "optimize"
    m = tf.read_manifest(root, rec.version)
    assert m["partition_where"] == {"p": "0"}
    assert all("_p_p=0" in f for f in m["removes"])
    with pytest.raises(ValueError, match="partition equalities"):
        tf.sql(spark, {"t": root}, "OPTIMIZE t WHERE p > 0")


def test_insert_select_from_time_travel_clause(spark, tmp_path):
    """INSERT INTO whose SELECT source uses a time-travel clause: the
    source resolves through the same SQL resolver, so restoring a
    historical slice into the current table is one statement."""
    root = str(tmp_path / "ttins")
    tf.create_table(
        spark, root,
        spark.range(0, 6).select(F.col("id").alias("k"), F.col("id").alias("v")),
        files=1,
    )
    tf.sql(spark, {"t": root}, "DELETE FROM t WHERE k >= 3")
    assert tf.read_version(spark, root).count() == 3
    rec = tf.sql(
        spark, {"t": root},
        "INSERT INTO t SELECT k, v FROM t VERSION AS OF 0 WHERE k >= 3",
    ).first()
    assert (rec.op, rec.n_changes) == ("insert", 3)
    got = sorted(r.k for r in tf.read_version(spark, root).collect())
    assert got == [0, 1, 2, 3, 4, 5]  # the deleted slice restored


# ------------------------------------------------- r11: column mapping


def test_column_mapping_lifecycle_and_no_resurrection(spark, tmp_path):
    """rename/drop/re-add/widen as metadata commits: per-version names
    and types are the mapping's, a re-added name can never resurrect
    dropped data (new field id), widening upcasts old narrow files
    schema-on-read, and time travel sees each version's own names even
    after a compaction rewrote the current snapshot."""
    root = str(tmp_path / "cm")
    tf.create_table(
        spark, root,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "k long, name string, v int",
        ),
        files=1, column_mapping=True,
    )
    assert tf.rename_column(root, "v", "value") == 1
    tf.append(spark, root, spark.createDataFrame(
        [(4, "d", 40)], "k long, name string, value int"))
    assert tf.widen_column(root, "value", "bigint") == 3
    assert tf.drop_column(root, "name") == 4
    assert tf.add_column(root, "name", "string") == 5
    tf.append(spark, root, spark.createDataFrame(
        [(5, 50, "E")], "k long, value bigint, name string"))

    cur = tf.read_version(spark, root)
    assert dict(cur.dtypes)["value"] == "bigint"  # old int files upcast
    rows = {r.k: (r.value, r.name) for r in cur.collect()}
    assert rows == {1: (10, None), 2: (20, None), 3: (30, None),
                    4: (40, None), 5: (50, "E")}  # no resurrection
    # per-version names + types
    v0 = tf.read_version(spark, root, 0)
    assert sorted(v0.columns) == ["k", "name", "v"]
    assert dict(v0.dtypes)["v"] == "int"
    assert {r.name for r in v0.collect()} == {"a", "b", "c"}  # pre-drop id
    v4 = tf.read_version(spark, root, 4)
    assert sorted(v4.columns) == ["k", "value"]
    # physical file columns are synthetic
    import glob

    import pyarrow.parquet as pq

    f = glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                  recursive=True)[0]
    phys = set(pq.ParquetFile(f).schema_arrow.names)
    assert all(c.startswith("col-") for c in phys), phys
    # compaction rewrites the CURRENT mapping; history stays readable
    tf.compact(spark, root, files=1)
    assert sorted(tf.read_version(spark, root, 0).columns) == ["k", "name", "v"]
    assert tf.read_version(spark, root).count() == 5
    # stats-pruned read on a mapped table translates logical -> physical
    pruned = tf.read_version(spark, root, where={"k": (5, 5)})
    assert pruned.filter("k = 5").count() == 1


def test_column_mapping_guards(spark, tmp_path):
    root = str(tmp_path / "cmg")
    df = spark.createDataFrame([(1, "a", 10)], "k long, name string, v int")
    with pytest.raises(ValueError, match="unpartitioned"):
        tf.create_table(spark, str(tmp_path / "cmp"), df,
                        partition_by="k", column_mapping=True)
    tf.create_table(spark, root, df, files=1, column_mapping=True)
    with pytest.raises(ValueError, match="no column"):
        tf.rename_column(root, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        tf.rename_column(root, "v", "name")
    with pytest.raises(ValueError, match="already exists"):
        tf.add_column(root, "name", "string")
    with pytest.raises(ValueError, match="not a value-preserving"):
        tf.widen_column(root, "v", "string")
    with pytest.raises(ValueError, match="not a value-preserving"):
        tf.widen_column(root, "v", "smallint")
    with pytest.raises(ValueError, match="match its\n"
                                         ".*current logical schema|logical schema"):
        tf.append(spark, root, spark.createDataFrame(
            [(2, "b")], "k long, name string"))
    # unmapped tables reject mapping ops with a pointer to the opt-in
    plain = str(tmp_path / "plain")
    tf.create_table(spark, plain, df, files=1)
    with pytest.raises(ValueError, match="no column mapping"):
        tf.rename_column(plain, "v", "value")
    # nothing above published a commit on the mapped table
    assert tf.list_versions(root) == [0]


def test_column_mapping_change_feed_uses_vto_names(spark, tmp_path):
    """CDF across a rename reports history under the v_to logical name
    (same field id); a MoR delete's pre-images read back through the
    mapping."""
    root = str(tmp_path / "cmc")
    tf.create_table(
        spark, root,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v int"),
        files=1, column_mapping=True,
    )
    tf.rename_column(root, "v", "value")
    tf.append(spark, root, spark.createDataFrame([(3, 30)], "k long, value int"))
    tf.delete_where(spark, root, "k = 1")
    cf = tf.change_feed(spark, root, "k", ["value"], v_from=0, v_to=3)
    got = sorted((r.k, r.value, r._change_type, r._commit_version)
                 for r in cf.collect())
    assert got == [(1, 10, "delete", 3), (3, 30, "insert", 2)]


def test_column_mapping_alter_table_sql_routing(spark, tmp_path):
    """The column-mapping DDL as statements: ALTER TABLE RENAME/DROP/
    ADD COLUMN and ALTER COLUMN TYPE route to the metadata-only mapping
    commits and return the routed-DDL receipt frame."""
    root = str(tmp_path / "cmsql")
    tf.create_table(
        spark, root,
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)],
                              "k long, name string, v int"),
        files=1, column_mapping=True,
    )
    t = {"demo": root}
    rec = tf.sql(spark, t, "ALTER TABLE demo RENAME COLUMN v TO value").first()
    assert (rec.op, rec.version) == ("alter", 1)
    rec = tf.sql(spark, t, "ALTER TABLE demo ALTER COLUMN value TYPE bigint").first()
    assert (rec.op, rec.version) == ("alter", 2)
    rec = tf.sql(spark, t, "ALTER TABLE demo DROP COLUMN name").first()
    assert (rec.op, rec.version) == ("alter", 3)
    rec = tf.sql(spark, t, "ALTER TABLE demo ADD COLUMN name string").first()
    assert (rec.op, rec.version) == ("alter", 4)
    cur = tf.read_version(spark, root)
    assert sorted(cur.columns) == ["k", "name", "value"]
    assert dict(cur.dtypes)["value"] == "bigint"
    assert cur.filter("name IS NOT NULL").count() == 0  # no resurrection
    # SELECT through the resolver sees the evolved logical schema
    got = tf.sql(spark, t, "SELECT k, value FROM demo ORDER BY k").collect()
    assert [(r.k, r.value) for r in got] == [(1, 10), (2, 20)]
    # non-widening ALTER COLUMN TYPE raises through the route
    with pytest.raises(ValueError, match="not a value-preserving"):
        tf.sql(spark, t, "ALTER TABLE demo ALTER COLUMN value TYPE int")


def test_column_mapping_merge_and_mor_compose(spark, tmp_path):
    """COW merge, MoR update and CDF all compose with a mapped table:
    writers route through the mapping (files stay physical-named),
    readers come back logical — including after a rename between the
    commits."""
    root = str(tmp_path / "cmm")
    tf.create_table(
        spark, root,
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k long, v long, w string",
        ),
        files=2, column_mapping=True,
    )
    tf.rename_column(root, "v", "value")
    feed = spark.createDataFrame(
        [(1, "U", 111, "zz", 1, 1), (9, "I", 99, "nn", 1, 9),
         (2, "D", 0, "", 1, 2)],
        "k long, op string, value long, w string, seq int, tb long",
    )
    tf.merge(spark, root, feed, "k", ["value", "w"], "seq", "tb")
    got = {r.k: (r.value, r.w) for r in tf.read_version(spark, root).collect()}
    assert got == {1: (111, "zz"), 3: (30, "c"), 9: (99, "nn")}
    tf.update_where(spark, root, "k = 3", {"value": "value + 5"})
    assert tf.read_version(spark, root).filter("k = 3").first().value == 35
    # files under the mapping stay physical-named after every writer
    import glob

    import pyarrow.parquet as pq

    for f in glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                       recursive=True):
        assert all(
            c.startswith("col-")
            for c in pq.ParquetFile(f).schema_arrow.names
        ), f
    cf = tf.change_feed(spark, root, "k", ["value", "w"], v_from=1)
    kinds = {(r.k, r._change_type) for r in cf.collect()}
    assert (9, "insert") in kinds and (2, "delete") in kinds
    assert (1, "update_postimage") in kinds
    assert (3, "update_postimage") in kinds


def test_column_mapping_add_column_validates_type(spark, tmp_path):
    root = str(tmp_path / "cmt")
    tf.create_table(
        spark, root,
        spark.createDataFrame([(1,)], "k long"), files=1,
        column_mapping=True,
    )
    with pytest.raises(ValueError, match="invalid column type"):
        tf.add_column(root, "x", "not_a_type(")
    assert tf.list_versions(root) == [0]


def test_add_column_validates_without_active_session(spark, tmp_path, monkeypatch):
    """add_column is a path-only API; with no active SparkSession the
    eager type check falls back to a local grammar instead of raising a
    confusing internal error (ADVICE r11 #4): simple types validate,
    obvious typos still raise ValueError, and exotic nested types
    publish unvalidated."""
    from pyspark.sql import SparkSession

    root = str(tmp_path / "nosess")
    tf.create_table(
        spark, root,
        spark.createDataFrame([(1,)], "k long"), files=1,
        column_mapping=True,
    )
    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    assert tf.add_column(root, "a", "decimal(10,2)") == 1
    assert tf.add_column(root, "b", "array<struct<x:int>>") == 2
    with pytest.raises(ValueError, match="invalid column type"):
        tf.add_column(root, "c", "not_a_type(")
    assert tf.list_versions(root) == [0, 1, 2]


def test_column_mapping_composes_with_clustered_writes(spark, tmp_path):
    """sort_by / zorder_by are LOGICAL names on a mapped table; the
    writer translates them to the physical columns (they would
    otherwise fail resolution after the physical rename), and the
    stats-pruned read still works through the logical 'where'."""
    root = str(tmp_path / "cms")
    df = spark.range(0, 400).selectExpr(
        "id AS k", "CAST(id % 7 AS INT) AS x", "id * 2 AS y"
    )
    tf.create_table(spark, root, df, files=4, sort_by="k",
                    column_mapping=True)
    sel, total = tf.snapshot_files(root, where={"col-1": (5, 5)})
    assert 0 < len(sel) < total  # physical stats landed per sorted file
    pruned = tf.read_version(spark, root, where={"k": (5, 5)})
    assert pruned.filter("k = 5").count() == 1
    tf.rename_column(root, "k", "key")
    v = tf.compact(spark, root, files=4, sort_by="key")
    assert v == 2
    assert tf.read_version(spark, root).count() == 400
    pruned2 = tf.read_version(spark, root, where={"key": (7, 7)})
    assert pruned2.filter("key = 7").count() == 1
    # 2-D z-order on mapped logical names
    v = tf.compact(spark, root, files=4, zorder_by=("x", "y"))
    assert v == 3 and tf.read_version(spark, root).count() == 400


def test_epoch_index_survives_table_recreation(spark, tmp_path):
    """The per-root epoch replay index must RESET when a table is
    deleted and recreated at the same root (the clear-and-rebuild
    recovery pattern) — a stale high-water mark would silently skip
    the new table's commits and return versions of the dead table."""
    import shutil

    root = str(tmp_path / "er")
    df = spark.createDataFrame(
        [(1, "I", 10, 1, 1)], "k long, op string, v long, seq int, tb long"
    )
    tf.merge_compacted(spark, root, df, "k", ["v"], "seq", "tb", epoch=0)
    tf.merge_compacted(spark, root, df, "k", ["v"], "seq", "tb", epoch=5)
    assert tf.merge_compacted(
        spark, root, df, "k", ["v"], "seq", "tb", epoch=5
    ) == 1  # replay short-circuits to the recorded version
    shutil.rmtree(root)
    # fresh table at the same root: epoch 5 must COMMIT, not be
    # swallowed by the dead table's cached index
    tf.merge_compacted(spark, root, df, "k", ["v"], "seq", "tb", epoch=7)
    v = tf.merge_compacted(spark, root, df, "k", ["v"], "seq", "tb", epoch=5)
    assert v == 1 and tf.read_manifest(root, 1)["epoch"] == 5
    # and the mapping cache resets the same way
    tf2 = spark.createDataFrame([(1, 2)], "a long, b long")
    root2 = str(tmp_path / "mr")
    tf.create_table(spark, root2, tf2, files=1, column_mapping=True)
    assert tf.column_mapping(root2) is not None
    shutil.rmtree(root2)
    tf.create_table(spark, root2, tf2, files=1)  # UNMAPPED this time
    assert tf.column_mapping(root2) is None


def test_log_fold_one_glob_per_op_each_manifest_parsed_once(
    spark, tmp_path, monkeypatch
):
    """Every public op resolves the commit log ONCE: one glob of the
    commit directory, and — manifests being immutable — no manifest is
    parsed twice in the process, however many ops fold it."""
    from collections import Counter

    globs, parses = [], Counter()
    list_versions, read_manifest = tf.list_versions, tf.read_manifest
    monkeypatch.setattr(
        tf, "list_versions", lambda r: globs.append(r) or list_versions(r)
    )
    monkeypatch.setattr(
        tf, "read_manifest",
        lambda r, v: parses.update([(r, v)]) or read_manifest(r, v),
    )
    root = str(tmp_path / "fold")
    tf.create_table(spark, root, _mor_base(spark), files=2, partition_by="b")
    feed = spark.createDataFrame(
        [(11, "U", 1, 999, 1, 0), (500, "I", 3, 7, 1, 0)],
        "k long, op string, b int, val long, seq int, tb int",
    )

    def one_glob(op, *args, **kw):
        globs.clear()
        out = op(spark, root, *args, **kw)
        assert len(globs) == 1, f"{op.__name__} globbed {len(globs)} times"
        return out

    one_glob(tf.merge, feed, "k", ["b", "val"], "seq", "tb")
    one_glob(tf.compact, files=1)
    one_glob(tf.delete_where, "k < 5")
    one_glob(tf.update_where, "k = 20", {"val": "val + 1"})
    assert one_glob(tf.read_version).count() == 96
    # whole range: merge 1 update + 1 insert, compact nothing, delete
    # 5 rows, update 1 post-image
    assert one_glob(tf.change_feed, "k", ["b", "val"]).count() == 8
    assert sorted(parses) == [(root, v) for v in range(5)]
    assert set(parses.values()) == {1}


def test_purge_sheds_dead_physical_columns(spark, tmp_path):
    """REORG PURGE (r12 — verdict #3): after a metadata-only DROP, the
    dead column's bytes sit in every pre-drop file; purge rewrites ONLY
    those files (clean files byte-untouched), keeps rows identical, is
    invisible to the change feed, splits MoR vectors that span stale
    and clean files, leaves time travel intact until vacuum — and after
    vacuum the bytes are provably gone from every remaining footer."""
    import glob as g

    import pyarrow.parquet as pq

    root = str(tmp_path / "purge")
    tf.create_table(
        spark, root,
        spark.createDataFrame(
            [(i, i * 10, f"w{i}") for i in range(1, 9)],
            "k long, v long, w string",
        ),
        files=2, column_mapping=True,
    )
    assert tf.drop_column(root, "w") == 1  # col-3 dead in the v0 files
    tf.append(
        spark, root,
        spark.createDataFrame(
            [(i, i * 10) for i in range(9, 17)], "k long, v long"
        ),
        files=2,
    )  # v2: born without col-3
    assert tf.delete_where(spark, root, "k % 5 = 0") == 3  # MoR vectors
    want = sorted(
        (r.k, r.v) for r in tf.read_version(spark, root).collect()
    )
    assert want == [(i, i * 10) for i in range(1, 17) if i % 5 != 0]

    def tree(sub):
        return {
            p: (os.path.getmtime(p), os.path.getsize(p))
            for p in g.glob(os.path.join(root, sub, "**", "*.parquet"),
                            recursive=True)
        }

    def dead_files(paths):
        return [p for p in paths if "col-3" in pq.read_schema(p).names]

    data_before = tree("data")
    stale = dead_files(data_before)
    assert len(stale) == 2  # exactly the v0 files carry the dead bytes
    assert tf.purge(spark, root) == 4
    data_after = tree("data")
    # clean files byte-untouched; stale files removed from the active
    # set but still on disk (time travel)
    for p, st in data_before.items():
        assert data_after.get(p) == st, f"purge touched {p}"
    active = [os.path.join(root, a["path"]) for a in tf.active_adds(root)]
    assert not dead_files(active)  # no active footer carries col-3
    got = sorted((r.k, r.v) for r in tf.read_version(spark, root).collect())
    assert got == want  # bit-identical rows across the purge
    # pre-purge versions still read the dead column until expiry
    v0 = tf.read_version(spark, root, 0)
    assert sorted(r.w for r in v0.select("w").collect()) == [
        f"w{i}" for i in range(1, 9)
    ]
    # CDF-invisible: the purge commit contributes no change rows
    cf = tf.change_feed(spark, root, "k", ["v"], v_from=0, v_to=4)
    assert cf.filter(F.col("_commit_version") == 4).count() == 0
    # idempotent: nothing stale left -> no-op, no commit
    assert tf.purge(spark, root) == 4
    # the split vector remainder still masks the clean-file delete
    assert 10 not in {k for k, _ in got} and 15 not in {k for k, _ in got}
    # REORG SQL routing (drop another column first so there is work)
    tf.drop_column(root, "v")
    rec = tf.sql(spark, {"demo": root}, "REORG TABLE demo APPLY (PURGE)").first()
    assert (rec.op, rec.version) == ("purge", 6)
    active = [os.path.join(root, a["path"]) for a in tf.active_adds(root)]
    assert not [
        p for p in active if "col-2" in pq.read_schema(p).names
    ]
    # after retention + vacuum the dead bytes are PROVABLY gone
    tf.vacuum(root, keep_versions=1, orphan_grace_sec=0.0)
    remaining = tree("data")
    assert not dead_files(remaining)
    assert not [
        p for p in remaining if "col-2" in pq.read_schema(p).names
    ]
    with pytest.raises(tf.VersionExpired):
        tf.read_version(spark, root, 3)
    assert sorted(r.k for r in tf.read_version(spark, root).collect()) == [
        k for k, _ in want
    ]


def test_purge_requires_column_mapping(spark, tmp_path):
    root = str(tmp_path / "nomap")
    tf.create_table(
        spark, root, spark.createDataFrame([(1, 2)], "k long, v long"),
        files=1,
    )
    with pytest.raises(ValueError, match="column-mapped"):
        tf.purge(spark, root)

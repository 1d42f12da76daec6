"""Incremental MinHash dedup (r7): the batch-vs-corpus LSH probe over
the PERSISTED band index must equal the from-scratch derivation, the
candidate space must be batch×corpus only, and the plan must read the
corpus bands/signatures from parquet (scan-only corpus — no
re-shingling for the probe)."""

from __future__ import annotations

import os
import re

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import (
    dedup as D,
)
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import (
    minhash_index as MI,
)

from .conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_is_idempotent_and_marked(spark):
    root = MI.build_minhash_index(spark, SF_SMOKE)
    assert os.path.exists(os.path.join(root, "_COMPLETE"))
    for name in MI.ARTIFACTS:
        assert os.path.isdir(os.path.join(root, name)), name
    mtime = os.path.getmtime(os.path.join(root, "_COMPLETE"))
    assert MI.build_minhash_index(spark, SF_SMOKE) == root
    assert os.path.getmtime(os.path.join(root, "_COMPLETE")) == mtime


def test_persisted_index_equals_from_scratch(spark):
    batch = MI.batch_docs(spark, SF_SMOKE)
    corpus = MI.corpus_docs(spark, SF_SMOKE)
    served = D.incremental_minhash_near_dups(
        batch, corpus, "doc_id", "text",
        corpus_bands=MI.read_artifact(spark, SF_SMOKE, "bands"),
        corpus_sigs=MI.read_artifact(spark, SF_SMOKE, "sigs"),
    )
    scratch = D.incremental_minhash_near_dups(batch, corpus, "doc_id", "text")
    assert _rows(served) == _rows(scratch)


def test_candidates_are_batch_cross_corpus_only(spark):
    """Every output pair must be (batch doc, corpus doc) — the standing
    corpus never self-joins, the batch side is the probe."""
    served = D.incremental_minhash_near_dups(
        MI.batch_docs(spark, SF_SMOKE), MI.corpus_docs(spark, SF_SMOKE),
        "doc_id", "text",
        corpus_bands=MI.read_artifact(spark, SF_SMOKE, "bands"),
        corpus_sigs=MI.read_artifact(spark, SF_SMOKE, "sigs"),
    )
    batch_ids = {
        r[0]
        for r in MI.batch_docs(spark, SF_SMOKE).select("doc_id").collect()
    }
    for doc_a, doc_b, _ in served.collect():
        assert doc_a in batch_ids
        assert doc_b not in batch_ids


def test_probe_plan_scans_persisted_corpus_bands(spark):
    """Plan pin: the corpus side of the candidate join is a parquet
    scan of the persisted index, not a re-derivation from text."""
    served = D.incremental_minhash_near_dups(
        MI.batch_docs(spark, SF_SMOKE), MI.corpus_docs(spark, SF_SMOKE),
        "doc_id", "text",
        corpus_bands=MI.read_artifact(spark, SF_SMOKE, "bands"),
        corpus_sigs=MI.read_artifact(spark, SF_SMOKE, "sigs"),
    )
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        served.explain(mode="formatted")
    plan = buf.getvalue()
    assert "minhash_index" in plan  # the persisted artifact path is read
    # and the persisted schemas appear as plain parquet scans
    assert "band_idx" in plan


def test_bucketed_band_probe_corpus_side_is_exchange_free(spark):
    """The 100 TB contract the index exists for, pinned on the EXECUTED
    plan: the persisted band table is BUCKETED on (band_idx, bh), so a
    shuffle-join probe scans the corpus side IN PLACE — the only
    Exchange in the probe join feeds the arriving batch. Broadcast is
    disabled so the small fixture can't hide the shuffle shape AQE
    would pick at corpus scale."""
    from pyspark.sql import functions as F

    bands = MI.read_artifact(spark, SF_SMOKE, "bands")
    batch = MI.batch_docs(spark, SF_SMOKE)
    bsh = D.shingle_set(batch, "doc_id", "text", MI.SHINGLE_K)
    bbands = D.band_rows(
        D.minhash_signatures_from_shingles(bsh, MI.N_HASHES), MI.BANDS
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = bbands.select(
            F.col("doc").alias("doc_a"), "band_idx", "bh"
        ).join(
            bands.select(F.col("doc").alias("doc_b"), "band_idx", "bh"),
            ["band_idx", "bh"],
        )
        assert probe.count() > 0  # non-vacuous: candidates exist
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    # exactly ONE exchange on the join key — the batch side's. If the
    # bucketed corpus scan were not honored, BOTH join inputs would
    # need an Exchange hashpartitioning(band_idx, bh, ...). (The batch
    # side also shuffles on doc for its own signature groupBy — that
    # exchange is the probe derivation, not the join.)
    assert len(
        __import__("re").findall(r"Exchange hashpartitioning\(band_idx", plan)
    ) == 1, plan
    assert "BroadcastExchange" not in plan


# ----------------------------------------------------- r11: incremental fold


def _tree_state(path):
    import os

    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, path)] = (
                os.path.getmtime(p), os.path.getsize(p)
            )
    return out


def test_incr_fold_is_bucket_aligned_append_base_untouched(
    spark, tmp_path, monkeypatch
):
    """Each fold generation appends at most one new file per bucket —
    bucket-ALIGNED (Spark's bucket id is the same murmur3 for every
    writer) — and never rewrites a base file OR an earlier generation's
    files (fold N never touches generation < N — VERDICT r11 #2's
    file-level pin); the folded bucketed scan still reports
    Bucketed: true, so the exchange-free corpus-side probe survives
    every fold."""
    tbl = "minhash_bands_incr_test_fold"
    monkeypatch.setattr(
        MI, "incr_index_root", lambda sf: str(tmp_path / "mincr")
    )
    monkeypatch.setattr(MI, "incr_bands_table_name", lambda sf: tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        root = MI.build_incr_base(spark, SF_SMOKE)
        ix = MI._catalog_index(SF_SMOKE)
        bands_dir = os.path.join(root, "bands")
        base_state = _tree_state(bands_dir)
        n_corpus = sum(1 for f in base_state if f.endswith(".parquet"))
        assert n_corpus == MI.N_BUCKETS  # base: one sorted file per bucket
        # the K slices partition the batch exactly (disjoint, union =
        # batch) — that is what keeps the union-corpus oracles scale-
        # and K-invariant
        n_batch = MI.batch_docs(spark, SF_SMOKE).count()
        slice_ns = [
            MI.batch_slice_docs(spark, SF_SMOKE, g).count()
            for g in range(1, MI.N_FOLD_GENS + 1)
        ]
        assert sum(slice_ns) == n_batch
        # fold generation by generation; every PRIOR data file must be
        # byte-untouched after each fold (_SUCCESS marker files
        # legitimately refresh on append)
        before = base_state
        for g in range(1, MI.N_FOLD_GENS + 1):
            assert ix.fold(
                spark, MI.batch_slice_docs(spark, SF_SMOKE, g), f"g{g}"
            )
            after = _tree_state(bands_dir)
            for rel, st in before.items():
                if not rel.endswith(".parquet"):
                    continue
                assert after.get(rel) == st, (
                    f"fold g{g} touched prior file {rel}"
                )
            new_files = [
                f for f in set(after) - set(before) if f.endswith(".parquet")
            ]
            assert len(new_files) <= MI.N_BUCKETS
            # replaying a folded generation is a marker-gated no-op
            assert not ix.fold(
                spark, MI.batch_slice_docs(spark, SF_SMOKE, g), f"g{g}"
            )
            assert _tree_state(bands_dir) == after
            before = after
        after = _tree_state(bands_dir)
        assert ix.folded_tags() == [f"g{g}" for g in range(1, MI.N_FOLD_GENS + 1)]
        folded = MI.read_folded_artifact(spark, SF_SMOKE, "bands")
        n_docs = (
            MI.corpus_docs(spark, SF_SMOKE).count()
            + MI.batch_docs(spark, SF_SMOKE).count()
        )
        assert folded.count() == n_docs * MI.BANDS
        # a probe JOIN against the folded table still uses the bucket
        # layout: corpus side exchange-free, batch side the only
        # exchange (a bare scan reports 'disabled by query planner' —
        # bucketing only engages when a join/agg can exploit it)
        from pyspark.sql import functions as F

        bsh = D.shingle_set(
            MI.batch_docs(spark, SF_SMOKE), "doc_id", "text", MI.SHINGLE_K
        )
        bbands = D.band_rows(
            D.minhash_signatures_from_shingles(bsh, MI.N_HASHES), MI.BANDS
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = bbands.select(
                F.col("doc").alias("doc_a"), "band_idx", "bh"
            ).join(
                folded.select(F.col("doc").alias("doc_b"), "band_idx", "bh"),
                ["band_idx", "bh"],
            )
            assert probe.count() > 0
            plan = probe._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "Bucketed: true" in plan, plan
        assert len(
            re.findall(r"Exchange hashpartitioning\(band_idx", plan)
        ) == 1, plan
        # marker short-circuit: a second fold changes nothing
        assert MI.fold_incr_batch(spark, SF_SMOKE) == root
        assert _tree_state(bands_dir) == after
        # bucket ALIGNMENT: per-bucket-file murmur3 bucket ids are pure
        # — every row in bucket file NNNNN hashes to bucket NNNNN
        ids = (
            spark.table(tbl)
            .select(
                F.expr(
                    f"pmod(hash(band_idx, bh), {MI.N_BUCKETS})"
                ).alias("bid"),
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"part-(\d+)", 1
                ).cast("int").alias("fid"),
            )
            .groupBy("fid", "bid").count()
        )
        assert all(r["fid"] == r["bid"] for r in ids.collect())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_incr_index_rebucket_compaction(spark, tmp_path, monkeypatch):
    """The fold's documented maintenance pass: after a fold each bucket
    holds 2 files; compact_incr_index rewrites back to ONE sorted file
    per bucket with identical rows, and the probe join still reads the
    corpus side exchange-free."""
    from pyspark.sql import functions as F

    tbl = "minhash_bands_incr_test_compact"
    monkeypatch.setattr(
        MI, "incr_index_root", lambda sf: str(tmp_path / "mcomp")
    )
    monkeypatch.setattr(MI, "incr_bands_table_name", lambda sf: tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_compact")
    try:
        root = MI.fold_incr_batch(spark, SF_SMOKE)
        bands_dir = os.path.join(root, "bands")
        n_files = lambda: sum(  # noqa: E731
            1 for f in os.listdir(bands_dir) if f.endswith(".parquet")
        )
        assert n_files() > MI.N_BUCKETS  # folded: >1 file in some bucket
        before_rows = sorted(
            tuple(r)
            for r in MI.read_folded_artifact(spark, SF_SMOKE, "bands").collect()
        )
        retired = MI.compact_incr_index(spark, SF_SMOKE)
        assert retired > 0
        assert n_files() == MI.N_BUCKETS  # one sorted file per bucket
        after = MI.read_folded_artifact(spark, SF_SMOKE, "bands")
        assert sorted(tuple(r) for r in after.collect()) == before_rows
        # second compaction is a no-op
        assert MI.compact_incr_index(spark, SF_SMOKE) == 0
        # probe join still exchange-free on the corpus side
        bsh = D.shingle_set(
            MI.batch_docs(spark, SF_SMOKE), "doc_id", "text", MI.SHINGLE_K
        )
        bbands = D.band_rows(
            D.minhash_signatures_from_shingles(bsh, MI.N_HASHES), MI.BANDS
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = bbands.select(
                F.col("doc").alias("doc_a"), "band_idx", "bh"
            ).join(
                after.select(F.col("doc").alias("doc_b"), "band_idx", "bh"),
                ["band_idx", "bh"],
            )
            assert probe.count() > 0
            plan = probe._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "Bucketed: true" in plan, plan
        assert len(
            re.findall(r"Exchange hashpartitioning\(band_idx", plan)
        ) == 1, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_compact")


def test_torn_compact_recovery(spark, tmp_path, monkeypatch):
    """The compaction swap is bracketed by _COMPACT_STARTED (ADVICE r11
    #2): every torn state — crash before the first rename, between the
    renames, or before cleanup — recovers to a valid index with
    identical rows, never a missing bands dir behind valid markers."""
    import shutil

    tbl = "minhash_bands_incr_test_torn"
    monkeypatch.setattr(
        MI, "incr_index_root", lambda sf: str(tmp_path / "mtorn")
    )
    monkeypatch.setattr(MI, "incr_bands_table_name", lambda sf: tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        root = MI.fold_incr_batch(spark, SF_SMOKE)
        bands_dir = os.path.join(root, "bands")
        want = sorted(
            tuple(r)
            for r in MI.read_folded_artifact(spark, SF_SMOKE, "bands").collect()
        )

        def _marker():
            with open(os.path.join(root, "_COMPACT_STARTED"), "w") as fh:
                fh.write("ok\n")

        # torn state A: crash mid-swap — bands dir missing, .old holds
        # the original (the exact state ADVICE r11 #2 flagged as
        # unrecoverable before)
        _marker()
        os.rename(bands_dir, bands_dir + ".old")
        MI._recover_torn_compact(root)
        assert os.path.isdir(bands_dir)
        assert not os.path.exists(bands_dir + ".old")
        assert not os.path.exists(os.path.join(root, "_COMPACT_STARTED"))
        got = sorted(
            tuple(r) for r in spark.read.parquet(bands_dir).collect()
        )
        assert got == want

        # torn state B: crash after the second rename but before
        # cleanup — bands dir present (the staged copy), stale .old
        _marker()
        shutil.copytree(bands_dir, bands_dir + ".old")
        MI._recover_torn_compact(root)
        assert os.path.isdir(bands_dir)
        assert not os.path.exists(bands_dir + ".old")

        # torn state C: crash right after writing the marker — nothing
        # moved yet; recovery is a pure marker cleanup
        _marker()
        MI._recover_torn_compact(root)
        assert not os.path.exists(os.path.join(root, "_COMPACT_STARTED"))
        # a fold/read after recovery sees the same rows
        got = sorted(
            tuple(r)
            for r in MI.read_folded_artifact(spark, SF_SMOKE, "bands").collect()
        )
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compaction_threshold_is_a_policy_knob(spark, tmp_path, monkeypatch):
    """compact(max_files_per_bucket=N) no-ops while every bucket holds
    ≤ N files — the file-count trigger a maintenance policy (or the
    streaming fold loop) thresholds on — and engages once a bucket
    exceeds it."""
    tbl = "minhash_bands_incr_test_thresh"
    monkeypatch.setattr(
        MI, "incr_index_root", lambda sf: str(tmp_path / "mthresh")
    )
    monkeypatch.setattr(MI, "incr_bands_table_name", lambda sf: tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_compact")
    try:
        MI.fold_incr_batch(spark, SF_SMOKE)
        ix = MI._catalog_index(SF_SMOKE)
        worst = max(ix.files_per_bucket().values())
        assert worst > 1  # K folds stacked files in some bucket
        # under-threshold: nothing moves
        assert ix.compact(spark, max_files_per_bucket=worst) == 0
        # at threshold-1: compaction engages and restores 1 file/bucket
        assert ix.compact(spark, max_files_per_bucket=worst - 1) > 0
        assert max(ix.files_per_bucket().values()) == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_compact")

"""ANN index lifecycle: TRAIN once, persist, SERVE many (r7).

A real 100 TB ANN deployment never retrains its quantizers inside a
query: the coarse centroids, PQ codebooks, corpus codes and bucket
assignments are built in an offline indexing job, persisted, and every
query is a pure scan over those artifacts (FAISS's train()/add()/search()
lifecycle; Jégou et al. 2011 §V assumes exactly this split). Before r7
the three PQ catalog entries paid full codebook training per execution —
correct, but the benched numbers conflated index-build cost with the
serve cost a user actually experiences per query.

This module is the indexing job. ``build_ann_index`` trains every
artifact the PQ family needs with the SAME deterministic machinery the
inline path used (operators/similarity.py::pq_fit_codebooks /
pq_encode / assign_centroids — min-id seeding, 6-decimal mean re-sync,
empty-cluster carry-forward) and writes them as parquet, as one
build-once artifact (sources/artifacts.py). Because training
is deterministic and parquet round-trips doubles exactly, a query over
the PERSISTED index is bit-identical to the from-scratch derivation —
which is what keeps the three serve entries hash-matching their
unchanged DuckDB oracles, and what ``ann_index_build_manifest`` checks
mechanically (integer checksums of every artifact vs an oracle that
re-derives them from scratch).

Artifacts (all thin — the vectors themselves are NOT part of the index;
PQ's point is that 4 one-byte codes replace the 64-float vector):

  coarse.parquet     (centroid_id, cv double[])       nlist rows
  assign.parquet     (vid, centroid_id)               N rows, 2 ints
  books_raw.parquet  (subspace, centroid_id, cv)      m*k rows
  codes_raw.parquet  (vid, subspace, code)            m*N rows, 3 ints
  books_res.parquet  (subspace, centroid_id, cv)      m*k rows (residual)
  codes_res.parquet  (vid, subspace, code)            m*N rows (residual)

Scale shape of the build: one corpus-wide coarse assignment (broadcast
centroids, map-side argmax), 2m subspace k-means fits over thin slices,
every write partition-parallel. At 100 TB the build is the one job that
touches raw vectors; everything after reads integers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.artifacts import ensure, scratch_root
from ..sources.tpch import read_table
from .similarity import assign_centroids, pq_fit_codebooks, pq_encode
from ..functions.vectors import s_to_double

#: index hyper-parameters — shared with plans/llm_ops.py's PQ entries
#: and baked into the DuckDB oracles (m subspaces × k codewords,
#: Lloyd's iters, embedding dim, coarse-centroid selection rule).
PQ_M, PQ_K, PQ_ITERS, PQ_DIM = 4, 8, 2, 64
COARSE_RULE = "vec_id % 50 = 0"

ARTIFACTS = (
    "coarse", "assign", "books_raw", "codes_raw", "books_res", "codes_res",
    "codes_ivf",
)


def index_root(sf_dir: str) -> str:
    # bump the kind's version when any training/encoding rule changes
    # (v2: added the bucket-partitioned codes_ivf layout)
    return scratch_root("ann_index_v2", sf_dir)


def build_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Train and persist every PQ-family artifact for ``sf_dir`` once
    (training is deterministic, so a finished index is valid for any
    process on the same inputs)."""

    def build(root: str) -> None:
        emb = read_table(spark, sf_dir, "embeddings")
        coarse_src = emb.filter(COARSE_RULE)

        def _write(df: DataFrame, name: str) -> None:
            df.write.mode("overwrite").parquet(os.path.join(root, name))

        # coarse centroids (double-widened once, at index time)
        _write(
            coarse_src.select(
                F.col("vec_id").alias("centroid_id"),
                F.expr(s_to_double("embedding")).alias("cv"),
            ),
            "coarse",
        )
        # corpus bucket assignment — thin (vid, centroid_id)
        a_full = assign_centroids(emb, coarse_src)
        _write(a_full.select("vid", "centroid_id"), "assign")

        # raw-subvector codebooks + codes (the flat-ADC / IVFFlat-style path)
        books_raw = pq_fit_codebooks(emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS, dim=PQ_DIM)
        _write(books_raw, "books_raw")
        codes_raw = pq_encode(emb, books_raw, PQ_M, PQ_DIM)
        _write(codes_raw, "codes_raw")
        # the classical IVF LIST-FILE layout: the same codes, physically
        # clustered by coarse bucket (hive-partitioned on centroid_id) so a
        # bucket probe is a PARTITION-PRUNED scan — at 100 TB this is the
        # difference between touching nprobe/nlist of the index and all of
        # it. A layout of codes_raw, not new training output: its content
        # is pinned by ann_ivfpq_partitioned_scan hash-matching the same
        # oracle as the unpartitioned scan.
        stored_codes = spark.read.parquet(os.path.join(root, "codes_raw"))
        stored_assign = spark.read.parquet(os.path.join(root, "assign"))
        (
            stored_codes.join(stored_assign, "vid")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(os.path.join(root, "codes_ivf"))
        )

        # residual codebooks + codes (IVFADC, Jégou §V.A; dot metric —
        # zero residuals are cosine-undefined, see ivfpq_residual_topk)
        cents = coarse_src.select(
            F.col("vec_id").alias("centroid_id"),
            F.expr(s_to_double("embedding")).alias("cv"),
        )
        er = (
            a_full.join(F.broadcast(cents), "centroid_id")
            .select(
                F.col("vid").alias("vec_id"),
                F.expr("zip_with(v, cv, (a, b) -> a - b)").alias("embedding"),
            )
        )
        books_res = pq_fit_codebooks(
            er, m=PQ_M, k=PQ_K, iters=PQ_ITERS, dim=PQ_DIM, metric="dot"
        )
        _write(books_res, "books_res")
        _write(pq_encode(er, books_res, PQ_M, PQ_DIM, metric="dot"), "codes_res")

    return ensure(spark, index_root(sf_dir), build)


def read_artifact(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One persisted artifact as a DataFrame (builds the index first if
    this (session, sf_dir) hasn't)."""
    if name not in ARTIFACTS:
        raise ValueError(f"unknown ANN index artifact {name!r}")
    root = build_ann_index(spark, sf_dir)
    return spark.read.parquet(os.path.join(root, name))


# ---------------------------------------------------------------------------
# Incremental index maintenance (r11 — verdict #1; r12 — verdict #2 —
# generalized from one fold to K successive generations + a manifest-
# committed compaction): fold arriving batches INTO a persisted index
# instead of retraining.
#
# The build-once lifecycle above goes stale the day a real ingest
# pipeline lands its first new batch. The operable shape every ANN
# deployment runs (FAISS add() after train(); Milvus/Vespa segment
# appends) is: quantizers FROZEN from the base build, each arriving
# batch ASSIGNED to the existing coarse centroids and PQ-ENCODED with
# the existing codebooks, and the resulting thin rows landed as NEW
# FILES next to the base generation — earlier generations are never
# rewritten, so every fold's write cost follows its batch, never the
# corpus. Quality drift vs a full retrain (centroids that never saw
# the new data quantize it worse) is the number a real system
# publishes to decide when to retrain — the
# ann_index_append_recall_audit entry measures exactly that, against
# the full-corpus-trained v2 index as the "retrained" arm.
#
# Layout (v2): which directories constitute each growable artifact is
# recorded in a tiny JSON manifest (_LAYOUT.json) committed atomically
# by os.replace — the same manifest-pointer commit a table format
# uses, and the single commit point that makes COMPACTION crash-safe
# without multi-directory rename ambiguity:
#
#   <root>/assign/, codes_raw/, codes_ivf/     base generation
#   <root>/<artifact>_b1 .. _bK                fold generations (one
#                                              delta dir per fold;
#                                              overwrite-idempotent,
#                                              _FOLD_g<k>_COMPLETE
#                                              marker written last)
#   <root>/<artifact>_c<epoch>                 compacted merges
#   <root>/_LAYOUT.json                        {artifact: [dirs...]}
#
# Readers union exactly the manifest's dirs (each dir is its own scan
# — two hive roots can't share one partition discovery); the
# hive-partitioned codes_ivf list files prune identically across
# generations. COMPACTION (merge all delta generations into one set of
# files, NO retraining) writes the merged dirs, flips the manifest,
# then garbage-collects the replaced dirs — a crash leaves either the
# old manifest (orphan _c dirs, GC'd on the next compaction) or the
# new one (orphan _b dirs, ditto); never a half-merged read. Fold
# markers survive compaction: they record WHICH batches are in the
# index (idempotence), the manifest records WHERE the rows live.
# coarse/books_raw are the frozen quantizers — base generation only,
# untouched by fold and compaction alike.
# ---------------------------------------------------------------------------

#: the arriving-batch coin over vec_id: 6 hex chars so the stream is
#: independent of the 7/8/9-char coins used elsewhere. Spark + DuckDB.
S_EMB_COIN = (
    "(CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 6), 16, 10)"
    " AS BIGINT)) % 100"
)
O_EMB_COIN = (
    "(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6))"
    " AS BIGINT)) % 100"
)
EMB_BATCH_PCT = 10

#: the fold-generation slice coin: hex offset 11 into the md5 digest —
#: disjoint from the batch coin's chars 1-6, so slice and batch
#: membership are independent. The arriving batch is sliced into
#: N_FOLD_GENS disjoint sub-batches folded as successive generations;
#: their union is exactly the batch, so the fully-folded index equals
#: the single-shot fold and the union-corpus oracles are K-invariant.
N_FOLD_GENS = 3
S_EMB_SLICE = (
    "(CAST(conv(substring(md5(CAST(vec_id AS STRING)), 11, 5), 16, 10)"
    f" AS BIGINT)) % {N_FOLD_GENS}"
)

INCR_ARTIFACTS = ("coarse", "assign", "books_raw", "codes_raw", "codes_ivf")
#: artifacts that grow on fold (manifest-listed dirs); coarse and
#: books_raw are the FROZEN quantizers — base generation only
_INCR_FOLDED = ("assign", "codes_raw", "codes_ivf")


def incr_index_root(sf_dir: str) -> str:
    return scratch_root("ann_index_incr_v2", sf_dir)


def corpus_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing-corpus split of embeddings (coin >= 10%)."""
    return read_table(spark, sf_dir, "embeddings").filter(
        F.expr(S_EMB_COIN) >= EMB_BATCH_PCT
    )


def batch_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving-batch split (coin < 10%)."""
    return read_table(spark, sf_dir, "embeddings").filter(
        F.expr(S_EMB_COIN) < EMB_BATCH_PCT
    )


def batch_slice_embeddings(
    spark: SparkSession, sf_dir: str, gen: int
) -> DataFrame:
    """Fold generation ``gen`` (1-based) of the arriving batch."""
    if not 1 <= gen <= N_FOLD_GENS:
        raise ValueError(f"fold generation must be in 1..{N_FOLD_GENS}")
    return batch_embeddings(spark, sf_dir).filter(
        F.expr(S_EMB_SLICE) == gen - 1
    )


# -- the layout manifest ----------------------------------------------------

def _layout_path(root: str) -> str:
    return os.path.join(root, "_LAYOUT.json")


def read_layout(root: str) -> dict[str, list[str]]:
    """The committed {artifact: [dir, ...]} manifest."""
    import json

    with open(_layout_path(root)) as fh:
        return json.load(fh)


def _commit_layout(root: str, layout: dict[str, list[str]]) -> None:
    """Atomic manifest flip (write-temp + os.replace) — the ONE commit
    point for fold visibility and compaction alike."""
    import json

    tmp = _layout_path(root) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(layout, fh, indent=1)
    os.replace(tmp, _layout_path(root))


def _gc_unreferenced(root: str) -> None:
    """Remove generation/compaction dirs no manifest references —
    leftovers of a crash between a manifest flip and its cleanup.
    Single-writer discipline (same as every marker in this module)."""
    import re as _re
    import shutil

    live = {d for dirs in read_layout(root).values() for d in dirs}
    # any dir of a manifest-managed artifact — base name or a _b/_c
    # generation — that the manifest no longer references (coarse and
    # books_raw are not manifest-managed and never match)
    pat = _re.compile(
        r"^(" + "|".join(_INCR_FOLDED) + r")(_(b|c)\d+)?$"
    )
    for name in os.listdir(root):
        if pat.match(name) and name not in live:
            shutil.rmtree(os.path.join(root, name))


def build_incr_base(spark: SparkSession, sf_dir: str) -> str:
    """TRAIN the base generation on the CORPUS split: coarse centroids
    (corpus rows passing COARSE_RULE), corpus bucket assignment, raw PQ
    codebooks, corpus codes, and the hive-partitioned list files. Same
    deterministic machinery and marker discipline as build_ann_index;
    codes are encoded from the STORED books so base and fold share one
    encode path (parquet round-trips doubles exactly)."""

    def build(root: str) -> None:
        corpus = corpus_embeddings(spark, sf_dir)
        coarse_src = corpus.filter(COARSE_RULE)

        def _write(df: DataFrame, name: str) -> None:
            df.write.mode("overwrite").parquet(os.path.join(root, name))

        _write(
            coarse_src.select(
                F.col("vec_id").alias("centroid_id"),
                F.expr(s_to_double("embedding")).alias("cv"),
            ),
            "coarse",
        )
        _write(
            assign_centroids(corpus, coarse_src).select("vid", "centroid_id"),
            "assign",
        )
        _write(
            pq_fit_codebooks(corpus, m=PQ_M, k=PQ_K, iters=PQ_ITERS, dim=PQ_DIM),
            "books_raw",
        )
        books = spark.read.parquet(os.path.join(root, "books_raw"))
        _write(pq_encode(corpus, books, PQ_M, PQ_DIM), "codes_raw")
        codes = spark.read.parquet(os.path.join(root, "codes_raw"))
        assign = spark.read.parquet(os.path.join(root, "assign"))
        (
            codes.join(assign, "vid")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(os.path.join(root, "codes_ivf"))
        )
        _commit_layout(root, {a: [a] for a in _INCR_FOLDED})

    return ensure(spark, incr_index_root(sf_dir), build)


def _fold_one_gen(spark: SparkSession, sf_dir: str, root: str, gen: int) -> None:
    """Fold generation ``gen``: assign its slice to the FROZEN coarse
    centroids, PQ-encode with the FROZEN codebooks, land the thin rows
    as the ``_b<gen>`` delta dirs, then flip the manifest. The delta
    writes are overwrite-idempotent and the completion marker is
    written last, so a torn fold reruns cleanly; earlier generations
    are never touched (file-level pin in tests/test_ann_index.py)."""
    marker = os.path.join(root, f"_FOLD_g{gen}_COMPLETE")
    if os.path.exists(marker):
        return
    batch = batch_slice_embeddings(spark, sf_dir, gen)
    coarse = spark.read.parquet(os.path.join(root, "coarse")).select(
        F.col("centroid_id").alias("vec_id"), F.col("cv").alias("embedding")
    )
    a_b = assign_centroids(batch, coarse).select("vid", "centroid_id")
    a_b.write.mode("overwrite").parquet(os.path.join(root, f"assign_b{gen}"))
    books = spark.read.parquet(os.path.join(root, "books_raw"))
    pq_encode(batch, books, PQ_M, PQ_DIM).write.mode("overwrite").parquet(
        os.path.join(root, f"codes_raw_b{gen}")
    )
    codes_b = spark.read.parquet(os.path.join(root, f"codes_raw_b{gen}"))
    assign_b = spark.read.parquet(os.path.join(root, f"assign_b{gen}"))
    (
        codes_b.join(assign_b, "vid")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(root, f"codes_ivf_b{gen}"))
    )
    layout = read_layout(root)
    for a in _INCR_FOLDED:
        d = f"{a}_b{gen}"
        if d not in layout[a]:
            layout[a] = layout[a] + [d]
    _commit_layout(root, layout)
    with open(marker, "w") as fh:
        fh.write("ok\n")


def fold_incr_batch(spark: SparkSession, sf_dir: str) -> str:
    """FOLD all pending generations of the arriving batch — NO RETRAIN
    anywhere: the K-fold lifecycle (VERDICT r11 #2). Each generation
    reads raw vectors only for ITS slice; at 100 TB every fold's cost
    is its batch, never the corpus."""
    root = build_incr_base(spark, sf_dir)
    for gen in range(1, N_FOLD_GENS + 1):
        _fold_one_gen(spark, sf_dir, root, gen)
    return root


def compact_incr_ann(spark: SparkSession, sf_dir: str,
                     max_dirs_per_artifact: int = 1) -> int:
    """COMPACTION — merge every delta generation into one set of files
    per artifact WITHOUT retraining (the ANN twin of the MinHash
    re-bucket pass; the quantizers are frozen, so a compacted index is
    row-identical to the folded one — the fold-manifest oracle pins
    it). No-ops while each artifact's manifest lists ≤
    ``max_dirs_per_artifact`` dirs. The merged rows land in fresh
    ``_c<epoch>`` dirs; ONE atomic manifest flip makes all three
    artifacts switch together (a reader never sees a half-merged
    union), then the replaced dirs are garbage-collected — a crash
    before the flip leaves orphan _c dirs, after it orphan _b dirs;
    both are GC'd on the next call. Returns the number of directories
    retired."""
    import re as _re

    root = fold_incr_batch(spark, sf_dir)
    _gc_unreferenced(root)
    layout = read_layout(root)
    if max(len(dirs) for dirs in layout.values()) <= max_dirs_per_artifact:
        return 0
    epoch = 1 + max(
        (int(m.group(1))
         for dirs in layout.values() for d in dirs
         if (m := _re.search(r"_c(\d+)$", d))),
        default=0,
    )
    new_layout = dict(layout)
    for a in _INCR_FOLDED:
        merged = None
        for d in layout[a]:
            part = spark.read.parquet(os.path.join(root, d))
            merged = part if merged is None else merged.unionByName(part)
        out = f"{a}_c{epoch}"
        w = merged.write.mode("overwrite")
        if a == "codes_ivf":
            w = w.partitionBy("centroid_id")
        w.parquet(os.path.join(root, out))
        new_layout[a] = [out]
    retired = sum(len(dirs) for dirs in layout.values())
    _commit_layout(root, new_layout)  # the one commit point
    _gc_unreferenced(root)
    return retired


def read_incr_artifact(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One FOLDED artifact (base generation ∪ all fold deltas, or the
    compacted merge — whatever the manifest committed last) as a
    DataFrame; builds the base and folds pending generations first.
    coarse/books_raw are the frozen quantizers (base only)."""
    if name not in INCR_ARTIFACTS:
        raise ValueError(f"unknown incremental ANN index artifact {name!r}")
    root = fold_incr_batch(spark, sf_dir)
    if name not in _INCR_FOLDED:
        return spark.read.parquet(os.path.join(root, name))
    # union the manifest's dirs — each branch is its own scan (two
    # hive roots can't share one partition discovery) and still prunes
    # its own partition directories
    out = None
    for d in read_layout(root)[name]:
        part = spark.read.parquet(os.path.join(root, d))
        out = part if out is None else out.unionByName(part)
    return out

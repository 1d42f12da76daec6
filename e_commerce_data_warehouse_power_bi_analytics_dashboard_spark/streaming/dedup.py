"""Streaming incremental near-dup dedup (r7 — the 12th streaming
surface): arriving document batches probe the PERSISTED corpus MinHash
band index per micro-batch, emitting verified batch×corpus near-dup
pairs — the continuously-ingesting twin of the batch entry
``dedup_incremental_minhash``.

Per micro-batch the work is exactly the batch operator
(operators/dedup.py::incremental_minhash_near_dups): shingle/sign ONLY
the batch, LSH-probe the stored bands (corpus side is a columnar scan,
never re-shingled for the probe), signature-agreement prefilter, exact
Jaccard verify against candidate-matched corpus docs. Each doc's pairs
depend only on that doc and the (static) corpus, so the per-epoch
outputs are independent and the union over any batch split equals the
one-shot batch answer — no cross-batch state at all, which is why this
surface needs foreachBatch only for the sink, not for merging.

Exactly-once under retries: epoch outputs land in ``epoch_id=<n>``
partitions via dynamic partition overwrite (the gold-sink discipline,
streaming/events.py::run_gold_delta_sink) — a replayed batch replaces
itself.

At 100 TB: the band table is bucketed on (band_idx, bh) so every
micro-batch's probe is exchange-free on the corpus side; corpus text is
touched only for candidate-matched docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import incremental_minhash_near_dups


def run_incremental_minhash_stream(
    batch_stream: DataFrame,
    corpus: DataFrame,
    corpus_bands: DataFrame,
    corpus_sigs: DataFrame,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    n_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> None:
    """Consume a stream of document batches; write verified
    (doc_a = batch doc, doc_b = corpus doc, jaccard) pairs per epoch."""

    def probe(batch: DataFrame, epoch_id: int) -> None:
        pairs = incremental_minhash_near_dups(
            batch, corpus, id_col, text_col,
            k=k, n_hashes=n_hashes, bands=bands, threshold=threshold,
            corpus_bands=corpus_bands, corpus_sigs=corpus_sigs,
        ).withColumn("epoch_id", F.lit(int(epoch_id)))
        (
            pairs.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(out_path)
        )

    q = (
        batch_stream.writeStream.foreachBatch(probe)
        .trigger(availableNow=True)
        .option("checkpointLocation", out_path + "_chk")
        .start()
    )
    q.awaitTermination()


def read_near_dup_pairs(spark: SparkSession, out_path: str) -> DataFrame:
    """All pairs found so far, epoch partitioning dropped."""
    return spark.read.parquet(out_path).select("doc_a", "doc_b", "jaccard")


# ---------------------------------------------------------------------------
# Online fold-probe lifecycle (r12 — verdict #7): the FULL online shape
# a continuously-ingesting pipeline runs. The surface above probes a
# STATIC corpus index; here every micro-batch (1) probes the index as
# folded so far — base corpus plus every previously accepted epoch —
# then (2) FOLDS itself in (bucket-aligned band append via
# operators/minhash_index.py::IncrMinhashIndex), and (3) triggers the
# re-bucket compaction once any bucket's file count exceeds the policy
# threshold. Later epochs therefore dedup against earlier epochs, not
# just the bootstrap corpus — the property the static surface cannot
# provide and the one a real ingest loop needs.
#
# Exactly-once under epoch replay, ordered so every step is either
# idempotent or marker-gated:
#   1. pairs land in epoch_id=<n> partitions via dynamic partition
#      overwrite (replay replaces itself);
#   2. the epoch's raw docs land in docs/epoch=<n> the same way (the
#      probe reads docs with epoch < n, so a half-written partition
#      from a crashed attempt can never self-match);
#   3. the index fold runs LAST inside its _FOLD_e<n> marker bracket —
#      a replayed epoch whose fold completed skips wholesale; one
#      whose fold never started recomputes pairs against the UNCHANGED
#      index and re-folds. A fold torn mid-append (STARTED without
#      COMPLETE) is rebuilt from the docs store — the docs partitions
#      are the durable source of truth, the index is derived state.
# ---------------------------------------------------------------------------


class OnlineMinhashDedup:
    """A fold-probe dedup loop bound to one index root + docs store.

    ``index`` is an operators.minhash_index.IncrMinhashIndex; the docs
    store lives at ``<root>/docs`` partitioned by ``epoch`` (bootstrap
    corpus = epoch -1). ``compact_files_per_bucket`` is the maintenance
    policy: after each fold, any bucket holding more files triggers the
    content-preserving re-bucket compaction."""

    def __init__(
        self,
        spark: SparkSession,
        index,
        out_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 2,
        n_hashes: int = 32,
        bands: int = 16,
        threshold: float = 0.5,
        compact_files_per_bucket: int = 4,
    ):
        self.spark, self.index, self.out_path = spark, index, out_path
        self.id_col, self.text_col = id_col, text_col
        self.k, self.n_hashes, self.bands = k, n_hashes, bands
        self.threshold = threshold
        self.compact_files_per_bucket = compact_files_per_bucket

    @property
    def docs_path(self) -> str:
        import os

        return os.path.join(self.index.root, "docs")

    def bootstrap(self, corpus: DataFrame) -> None:
        """Build the base generation from the bootstrap corpus and land
        it as docs/epoch=-1. Caller gates idempotence (the catalog
        binding runs the base build through sources/artifacts.ensure)."""
        self.index.build_base(self.spark, corpus)
        (
            corpus.withColumn("epoch", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .parquet(self.docs_path)
        )

    def _docs_before(self, epoch_id: int) -> DataFrame:
        return (
            self.spark.read.parquet(self.docs_path)
            .filter(F.col("epoch") < int(epoch_id))
            .drop("epoch")
        )

    def process_epoch(self, batch: DataFrame, epoch_id: int) -> None:
        """One micro-batch through the probe → land → fold → maybe-
        compact sequence (the foreachBatch body; callable directly for
        deterministic tests)."""
        from ..operators.minhash_index import _recover_torn_compact

        tag = f"e{int(epoch_id)}"
        if self.index.fold_complete(tag):
            return  # fully processed epoch replayed after checkpoint loss
        _recover_torn_compact(self.index.root)
        if self.index.torn_fold_tag() is not None:
            # a fold died mid-append: rebuild the derived index from
            # the durable docs store (everything before this epoch)
            self.index.destroy(self.spark)
            self.index.build_base(self.spark, self._docs_before(epoch_id))
        corpus = self._docs_before(epoch_id)
        pairs = incremental_minhash_near_dups(
            batch, corpus, self.id_col, self.text_col,
            k=self.k, n_hashes=self.n_hashes, bands=self.bands,
            threshold=self.threshold,
            corpus_bands=self.index.attach_bands(self.spark),
            corpus_sigs=self.index.sigs(self.spark),
        ).withColumn("epoch_id", F.lit(int(epoch_id)))
        (
            pairs.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(self.out_path)
        )
        (
            batch.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(self.docs_path)
        )
        self.index.fold(self.spark, batch, tag)
        per_bucket = self.index.files_per_bucket()
        if per_bucket and max(per_bucket.values()) > self.compact_files_per_bucket:
            self.index.compact(
                self.spark,
                max_files_per_bucket=self.compact_files_per_bucket,
            )

    def run(self, batch_stream: DataFrame) -> None:
        """Consume the stream with availableNow semantics (the batch
        catch-up trigger); each epoch probes-then-folds exactly once."""
        q = (
            batch_stream.writeStream.foreachBatch(self.process_epoch)
            .trigger(availableNow=True)
            .option("checkpointLocation", self.out_path + "_chk")
            .start()
        )
        q.awaitTermination()

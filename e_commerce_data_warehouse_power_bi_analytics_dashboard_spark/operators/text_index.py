"""Persisted BM25 inverted index (r7): the text-retrieval member of the
train/serve index family (ann_index.py, minhash_index.py).

A retrieval deployment never re-tokenizes its corpus per query: the
inverted index — postings with term frequencies and document lengths,
per-term document frequencies, corpus scalars — is built once at ingest
and every query is a pruned scan of it. Before r7 `bm25_topk_search`
re-derived all of that per execution (mitigated only by a session-level
tokenization cache); this module persists the real artifacts:

  postings.parquet    (term, doc_id, tf, dl)  — sorted by term within
                      partitions so parquet row-group min/max stats
                      prune non-query terms at scan time (the literal
                      IN-list pushes down; at 100 TB this plus
                      term-bucketing makes a query touch only its
                      terms' row groups)
  term_stats.parquet  (term, df)              — vocabulary-sized
  stats.parquet       (n_docs, avgdl)         — one row

Deterministic derivation (tokenizer + exact counts), so persisted ==
recomputed: `bm25_index_manifest` pins that with integer checksums
against a from-scratch DuckDB oracle, and the serve entry hash-matches
the SAME oracle the inline entry uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import s_tokens
from ..sources.artifacts import ensure, scratch_root
from ..sources.tpch import read_table

ARTIFACTS = ("postings", "term_stats", "stats")


def index_root(sf_dir: str) -> str:
    return scratch_root("bm25_index_v1", sf_dir)


def build_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """Tokenize the documents corpus once and persist the inverted
    index (a build-once artifact, sources/artifacts.py)."""

    def build(root: str) -> None:
        docs = read_table(spark, sf_dir, "documents")
        tokd = (
            docs.select("doc_id", F.expr(s_tokens("text")).alias("toks"))
            .select("doc_id", F.size("toks").alias("dl"), "toks")
        )
        postings = (
            tokd.select("doc_id", "dl", F.explode("toks").alias("term"))
            .groupBy("term", "doc_id", "dl")
            .agg(F.count("*").alias("tf"))
            .select("term", "doc_id", "tf", "dl")
        )
        # term-clustered physical layout: row-group min/max on `term` make
        # the serve-time IN-list scan skip everything but the query's terms
        (
            postings.repartition("term")
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .parquet(os.path.join(root, "postings"))
        )
        stored = spark.read.parquet(os.path.join(root, "postings"))
        (
            stored.groupBy("term")
            .agg(F.count("*").cast("double").alias("df"))
            .write.mode("overwrite")
            .parquet(os.path.join(root, "term_stats"))
        )
        (
            tokd.select(
                F.count("*").cast("double").alias("n_docs"),
                F.avg("dl").alias("avgdl"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(root, "stats"))
        )

    return ensure(spark, index_root(sf_dir), build)


def read_artifact(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in ARTIFACTS:
        raise ValueError(f"unknown BM25 index artifact {name!r}")
    root = build_bm25_index(spark, sf_dir)
    return spark.read.parquet(os.path.join(root, name))


def bm25_serve_topk(
    postings: DataFrame, term_stats: DataFrame, stats: DataFrame,
    terms: tuple[str, ...], k: int = 10,
    k1: float = 1.2, b: float = 0.75,
) -> DataFrame:
    """BM25 top-k as a pure index scan: postings pruned to the query's
    terms by a literal IN-list (pushed to the parquet row-group stats of
    the term-sorted layout), per-term df and corpus scalars joined
    broadcast. No tokenization, no corpus-wide aggregation — the only
    data-sized work is the doc-keyed score sum over matched postings."""
    tf = postings.filter(F.col("term").isin(*terms))
    df_ = F.broadcast(term_stats.filter(F.col("term").isin(*terms)))
    st = F.broadcast(stats)
    scored = (
        tf.join(df_, "term")
        .crossJoin(st)
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(k)

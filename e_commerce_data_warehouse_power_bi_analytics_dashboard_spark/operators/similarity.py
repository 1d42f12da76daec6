"""Similarity search over embedding columns (LLM-data-pipeline
extensions; BASELINE.json north star).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set against the corpus — a single pass over the embeddings, fully
parallel, no shuffle except the final per-query top-k (TakeOrdered on k
rows per query after a window filter). The scale path is IVF: assign
every vector to its nearest coarse centroid once (a broadcast of the
centroid table), then search only the query's bucket — at 100 TB with
nlist=√N centroids this cuts the scan per query by ~√N while staying a
plain DataFrame plan (bucket equi-join, partition-prunable if the corpus
is written partitioned by centroid id — plans/layout.py).

All math is JVM-side double folds (functions/vectors.py) — bit-identical
to the DuckDB oracle. ``brute_force_topk_arrow`` is the numpy/Arrow GEMM
variant for large query batches: one BLAS matmul per Arrow batch plus a
per-partition top-k combiner; its scores differ from the fold only by
float summation order, so it is equivalence-tested against the JVM path
and its catalog entry hashes ids/ranks (deterministic) rather than raw
scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.vectors import (
    s_cosine_prenorm,
    s_dot,
    s_norm,
    s_plane_array,
    s_to_double,
    srp_planes,
)


def _with_dvec(
    emb: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str,
    norm_col: str | None = None,
) -> DataFrame:
    """id + double-widened vector (+ optionally its precomputed norm —
    hoisting the norm out of pair loops is the main cosine cost lever,
    see functions/vectors.py::s_cosine_prenorm)."""
    cols = [F.col(id_col).alias(out_id), F.expr(s_to_double(vec_col)).alias(out_vec)]
    if norm_col:
        cols.append(F.expr(s_norm(s_to_double(vec_col))).alias(norm_col))
    return emb.select(*cols)


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``queries`` against ``emb`` (self excluded).

    Returns (query_id, neighbor_id, rank, score), rank 1..k by
    (score desc, neighbor_id) — fully deterministic.
    """
    corpus = _with_dvec(emb, id_col, vec_col, "neighbor_id", "nv", norm_col="nn")
    qs = _with_dvec(queries, id_col, vec_col, "query_id", "qv", norm_col="qn")
    scored = (
        corpus.join(F.broadcast(qs), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.expr(s_cosine_prenorm("qv", "nv", "qn", "nn")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def brute_force_topk_arrow(
    emb: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/numpy GEMM variant of ``brute_force_topk``: the query
    matrix is broadcast to every partition and each Arrow batch of the
    corpus scores against ALL queries in one ``corpus_batch @ Q.T``
    matmul (BLAS), then per-query top-k is reduced exactly as in the
    JVM path.

    This is the batch-friendly trade documented in the module header:
    the JVM fold evaluates one pair per expression call, the GEMM
    amortizes memory traffic over the whole query batch — it wins once
    |queries| is large enough to pay for Arrow transfer (hundreds+).
    Scores differ from the JVM/DuckDB fold only by float summation
    order (BLAS accumulates pairwise), so this variant is equivalence-
    tested against ``brute_force_topk`` (same ids/ranks, scores within
    1e-9) rather than oracle-hashed; use the JVM path where
    bit-reproducibility against the oracle matters.
    """
    q_rows = queries.select(id_col, vec_col).collect()  # query set is small by contract
    if not q_rows:
        return brute_force_topk(emb, queries, k, id_col, vec_col)
    q_ids = [r[0] for r in q_rows]
    q_mat = [[float(x) for x in r[1]] for r in q_rows]
    sc = emb.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat))

    from collections.abc import Iterator

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        ids, mat = bq.value
        Q = np.asarray(mat, dtype=np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        qid_arr = np.asarray(ids, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            scores = Cn @ Qn.T  # (batch, nq) — one GEMM per Arrow batch
            nid = pdf[id_col].to_numpy(dtype=np.int64)
            rows = {
                "query_id": np.repeat(qid_arr, len(nid)),
                "neighbor_id": np.tile(nid, len(qid_arr)),
                "score": scores.T.reshape(-1),
            }
            out = pd.DataFrame(rows)
            out = out[out.query_id != out.neighbor_id]
            # per-partition pre-reduction: only each query's local top-k
            # survives Arrow → JVM (the classic combiner for top-k)
            out = (
                out.sort_values(["query_id", "score", "neighbor_id"],
                                ascending=[True, False, True])
                .groupby("query_id", sort=False)
                .head(k)
            )
            out["rank"] = 0  # final rank assigned JVM-side after the merge
            yield out[["query_id", "neighbor_id", "rank", "score"]]

    partial = emb.select(id_col, vec_col).mapInPandas(score_batches, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def assign_centroids(
    emb: DataFrame, centroids: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """IVF coarse quantization: nearest centroid per vector
    (cosine by default, deterministic tiebreak on centroid id;
    ``metric="dot"`` switches to inner-product argmax — division-free,
    so zero vectors score 0 everywhere and tie to the min centroid id
    instead of tripping the ANSI divide-by-zero). One broadcast join,
    then a map-side-combinable max_by argmax over the thin score frame
    and a single vid-keyed join to reattach the vectors — output
    (vid, v, vn, centroid_id) with the norm precomputed for downstream
    pair work."""
    vecs = _with_dvec(emb, id_col, vec_col, "vid", "v", norm_col="vn")
    cents = _with_dvec(centroids, id_col, vec_col, "centroid_id", "cv", norm_col="cn")
    # argmax via max_by over a THIN (vid, centroid_id, cos) frame: the
    # N×k scores partial-aggregate map-side (near-zero shuffle), and the
    # wide vector column rides only the final N-row vid join — versus a
    # window that would shuffle all N×k rows WITH their vectors.
    # max(struct(cos, -centroid_id)) == orderBy(cos DESC, centroid_id
    # ASC) limit 1: same deterministic tiebreak as the old window.
    score = (
        s_cosine_prenorm("v", "cv", "vn", "cn")
        if metric == "cosine"
        else s_dot("v", "cv")
    )
    best = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vid", "centroid_id", F.expr(score).alias("cos"))
        .groupBy("vid")
        .agg(
            F.expr(
                "max_by(centroid_id, struct(cos AS c, -centroid_id AS nc))"
            ).alias("centroid_id")
        )
    )
    return vecs.join(best, "vid").select("vid", "v", "vn", "centroid_id")


def ivf_topk(
    emb: DataFrame, centroids: DataFrame, query_pred: str, k: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding", nprobe: int = 1,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: search the query's ``nprobe`` nearest centroid
    buckets (nprobe=1 = classic IVF; higher nprobe trades scan volume for
    recall — the standard knob at scale).

    ``query_pred`` is a SQL predicate over the id column selecting the
    query set (kept as a predicate so the assignment pass is shared).
    The predicate is always applied on a frame that still carries the
    original ``id_col`` name — never via string surgery on the predicate
    text, which would corrupt any predicate where the id name occurs as
    a substring of another identifier or inside a literal.

    Train/serve split: pass the persisted bucket ``assigned``
    (vid, centroid_id — operators/ann_index.py) to skip the
    N×nlist coarse argmax at query time; the raw vectors are joined
    back by vid (IVFFlat keeps raw vectors for in-bucket scoring).
    """
    if assigned is not None:
        vecs_all = _with_dvec(emb, id_col, vec_col, "vid", "v", norm_col="vn")
        assigned = vecs_all.join(
            assigned.select("vid", "centroid_id"), "vid"
        ).select("vid", "v", "vn", "centroid_id")
    else:
        assigned = assign_centroids(emb, centroids, id_col, vec_col)
    if nprobe <= 1:
        # evaluate the predicate on the ORIGINAL frame (it may reference
        # any emb column), then semi-join the ids into the assignment
        q_ids = emb.filter(F.expr(query_pred)).select(F.col(id_col).alias("vid"))
        qs = assigned.join(F.broadcast(q_ids), "vid").select(
            F.col("vid").alias("query_id"), F.col("v").alias("qv"),
            F.col("vn").alias("qn"), F.col("centroid_id"),
        )
    else:
        vecs = _with_dvec(emb.filter(F.expr(query_pred)), id_col, vec_col, "vid", "v", norm_col="vn")
        cents = _with_dvec(centroids, id_col, vec_col, "centroid_id", "cv", norm_col="cn")
        w = Window.partitionBy("vid").orderBy(F.desc(F.col("cos")), F.asc("centroid_id"))
        qs = (
            vecs.crossJoin(F.broadcast(cents))
            .select(
                "vid", "v", "vn", "centroid_id",
                F.expr(s_cosine_prenorm("v", "cv", "vn", "cn")).alias("cos"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= nprobe)
            .select(
                F.col("vid").alias("query_id"), F.col("v").alias("qv"),
                F.col("vn").alias("qn"), "centroid_id",
            )
        )
    scored = (
        assigned.join(F.broadcast(qs), "centroid_id")
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            "query_id", F.col("vid").alias("neighbor_id"),
            F.expr(s_cosine_prenorm("qv", "v", "qn", "vn")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def kmeans_fit(
    emb: DataFrame, k: int = 8, iters: int = 3, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Lloyd's k-means over the embedding column → (centroid_id,
    centroid double[], n_members). Cosine assignment by default (the
    same ``assign_centroids`` argmax the IVF path uses; ``metric="dot"``
    is the division-free inner-product argmax — required when inputs
    can be exactly zero, e.g. coarse residuals), element-wise-mean
    update. Returns the trained centroid table for IVF / SemDeDup.

    Iterative-algorithm pattern (like the CC dedup loop): a bounded
    driver loop of ``iters`` rounds; each round is one distributed
    assignment (broadcast centroids, map-side argmax) plus one
    dimension-keyed mean — the update posexplodes to THIN
    (centroid, pos, value) rows so the shuffle carries N×dim scalars
    with map-side partial aggregation, never grouped vector arrays.
    The new centroid table (k×dim values) is ``localCheckpoint``ed per
    round to cut the growing lineage. Seeding is deterministic (first
    ``k`` vectors by id) and each iteration's means are rounded to 6
    decimals, which re-synchronizes float reduction order — so the fit
    is reproducible run-to-run AND cross-engine: the catalog entry
    (plans/llm_ops.py::kmeans_train_clusters) hash-matches a DuckDB
    oracle that unrolls the same iterations as chained CTEs. The
    pytest invariants (monotone objective, size conservation) cover
    the training dynamics.
    """
    # deterministic seed: the k smallest ids (TakeOrdered — never a
    # full-data sort); the seed vector's own id doubles as centroid_id
    # so no single-partition window is needed to number the centroids
    #
    # r12 note (OPTIMIZATION_r12.md): the driver-state round pattern
    # applied to the pca/lr fits was TRIED here too (centroids are
    # metadata-grain) and reverted after measurement — interleaved
    # fresh-process A/B read it at parity-to-slightly-slower (the
    # per-round cost is plan analysis + codegen, which the pattern does
    # not remove, and the collect adds a round-trip the checkpoint
    # pipeline overlaps better). Kept the checkpoint shape.
    seeds = (
        emb.select(id_col, vec_col).orderBy(id_col).limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.expr(s_to_double(vec_col)).alias("cv"),
        )
    )
    centroids = seeds.localCheckpoint(eager=True)
    vecs = _with_dvec(emb, id_col, vec_col, "vid", "v", norm_col="vn").localCheckpoint(
        eager=True
    )
    _km_score = (
        s_cosine_prenorm("v", "cv", "vn", "cn")
        if metric == "cosine"
        else s_dot("v", "cv")
    )
    for _ in range(iters):
        cents = centroids.select(
            "centroid_id", "cv", F.expr(s_norm("cv")).alias("cn")
        )
        best = (
            vecs.crossJoin(F.broadcast(cents))
            .select("vid", "centroid_id", F.expr(_km_score).alias("cos"))
            .groupBy("vid")
            .agg(
                F.expr(
                    "max_by(centroid_id, struct(cos AS c, -centroid_id AS nc))"
                ).alias("centroid_id")
            )
        )
        # element-wise mean over thin (centroid, pos, value) rows
        assigned = vecs.join(best, "vid")
        dims = assigned.select("centroid_id", F.posexplode("v").alias("pos", "val"))
        # means rounded to 6 decimals at each iteration boundary: the
        # raw double means are reduction-order dependent (engines and
        # partitionings differ at ~1e-13), and an ITERATIVE algorithm
        # amplifies any divergence — rounding re-synchronizes the
        # iteration inputs so the whole fit is reproducible and
        # cross-engine oracle-checkable
        means = (
            dims.groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.expr("transform(pm, x -> x.m)").alias("cv"),
            )
        )
        # empty-cluster carry-forward: ``means`` only contains centroids
        # with >= 1 member, so without this a centroid whose member set
        # goes empty (possible with duplicate seed vectors — cosine ties
        # break to the smaller centroid_id) would VANISH and silently
        # shrink the trained k. Keep its previous vector instead: k is
        # conserved, and the oracle unrolls the identical left-join rule.
        means = (
            centroids.select("centroid_id", F.col("cv").alias("prev_cv"))
            .join(means.withColumnRenamed("cv", "new_cv"), "centroid_id", "left")
            .select(
                "centroid_id", F.coalesce("new_cv", "prev_cv").alias("cv")
            )
        )
        centroids = means.localCheckpoint(eager=True)
    sizes = (
        vecs.crossJoin(
            F.broadcast(
                centroids.select("centroid_id", "cv", F.expr(s_norm("cv")).alias("cn"))
            )
        )
        .select("vid", "centroid_id", F.expr(_km_score).alias("cos"))
        .groupBy("vid")
        .agg(
            F.expr("max_by(centroid_id, struct(cos AS c, -centroid_id AS nc))").alias(
                "centroid_id"
            )
        )
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_members"))
    )
    return centroids.join(sizes, "centroid_id", "left").select(
        "centroid_id", "cv", F.coalesce("n_members", F.lit(0)).alias("n_members")
    )


def _sub_slice(vec_col: str, s: int, sub_dim: int) -> str:
    """Spark SQL: double-widened subvector of subspace ``s`` (1-based
    slice, matching the DuckDB oracle's ``v[a:b]``)."""
    return f"slice({s_to_double(vec_col)}, {s * sub_dim + 1}, {sub_dim})"


def pq_fit_codebooks(
    emb: DataFrame, m: int = 4, k: int = 8, iters: int = 2, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the ``dim``-dim
    embedding into ``m`` contiguous subspaces and train an independent
    ``k``-centroid codebook per subspace by reusing :func:`kmeans_fit`
    on the subvectors. Returns (subspace, centroid_id, cv).

    Deviation from the classical recipe, documented: assignment is the
    same deterministic cosine argmax the IVF/k-means path uses (not
    L2) — for the near-unit-norm embeddings this corpus carries the
    orderings agree, and it keeps every stage bit-reproducible against
    the unrolled-CTE oracle. Each subspace fit is the full Lloyd's
    machinery (min-id seeding, 6-decimal mean re-sync, empty-cluster
    carry-forward), so codebooks are cross-engine stable.

    Scale shape: m driver-loop fits, each the kmeans_fit pattern
    (broadcast centroids, thin (centroid,pos,value) mean shuffle,
    localCheckpoint per round); codebooks total m·k rows — broadcast
    material for everything downstream.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub_dim = dim // m
    books: DataFrame | None = None
    for s in range(m):
        sub = emb.select(
            F.col(id_col).alias("vec_id"),
            F.expr(_sub_slice(vec_col, s, sub_dim)).alias("embedding"),
        )
        fit = kmeans_fit(sub, k=k, iters=iters, dim=sub_dim, metric=metric)
        b = fit.select(F.lit(s).alias("subspace"), "centroid_id", "cv")
        books = b if books is None else books.unionAll(b)
    # materialize the m·k-row codebook table once: kmeans_fit's returned
    # plan embeds the final N×k membership-count join, and downstream
    # (encode + LUT) references the codebooks 2m times — without this
    # cut each reference re-executes every subspace's assignment pass
    return books.localCheckpoint(eager=True)


def pq_encode(
    emb: DataFrame, codebooks: DataFrame, m: int = 4, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """PQ encoding: each vector compresses to ``m`` code ids — the
    nearest codebook centroid per subspace (cosine argmax, deterministic
    min-id tiebreak). Returns (vid, subspace, code): m·N thin rows, the
    8-byte-per-subspace representation that replaces the raw vectors in
    the 100 TB index."""
    sub_dim = dim // m
    out: DataFrame | None = None
    for s in range(m):
        sub = emb.select(
            F.col(id_col).alias("vec_id"),
            F.expr(_sub_slice(vec_col, s, sub_dim)).alias("embedding"),
        )
        cb = codebooks.filter(F.col("subspace") == s).select(
            F.col("centroid_id").alias("vec_id"), F.col("cv").alias("embedding")
        )
        a = assign_centroids(sub, cb, metric=metric)
        part = a.select(
            "vid", F.lit(s).alias("subspace"), F.col("centroid_id").alias("code")
        )
        out = part if out is None else out.unionAll(part)
    return out


def _pq_lut(
    q: DataFrame, codebooks: DataFrame,
    m: int, dim: int, id_col: str, vec_col: str,
) -> DataFrame:
    """ADC lookup table: each query subvector's dot with every codebook
    centroid -> (query_id, subspace, code, lut). |Q|·m·k rows —
    broadcast material shared by the flat-ADC and IVF+ADC scans.
    ``q`` is the ALREADY-FILTERED query frame (callers apply their
    query predicate on a frame that still carries the original column
    names — never via string surgery on the predicate text)."""
    sub_dim = dim // m
    lut: DataFrame | None = None
    for s in range(m):
        qs = q.select(
            F.col(id_col).alias("query_id"),
            F.expr(_sub_slice(vec_col, s, sub_dim)).alias("qv"),
        )
        cb = codebooks.filter(F.col("subspace") == s).select(
            F.col("centroid_id").alias("code"), "cv"
        )
        # pin the k-row codebook side as broadcast: when the query side
        # is a derived tree with no size estimate (the residual path)
        # the planner otherwise degrades this cross join to a true
        # CartesianProduct instead of a BroadcastNestedLoopJoin
        part = qs.crossJoin(F.broadcast(cb)).select(
            "query_id", F.lit(s).alias("subspace"), "code",
            F.expr(s_dot("qv", "cv")).alias("lut"),
        )
        lut = part if lut is None else lut.unionAll(part)
    return lut


def _adc_topk(
    rows: DataFrame, m: int, k: int, qc: DataFrame | None = None
) -> DataFrame:
    """The ADC scan's shared tail: ``rows`` holds one (query_id, vid,
    subspace, lut) row per candidate and subspace. Each subspace's LUT
    value lands in its own conditional-sum slot ``_l{s}`` and the m slots
    are added in fixed textual order, so adc_score is bit-identical to
    the oracles, never an order-dependent float SUM across subspaces.
    When a ``qc`` frame (query_id, qc) is given, the score is
    ``qc + (_l0 + ... + _l{m-1})``.
    Returns the top ``k`` (query_id, neighbor_id, rank, adc_score) per
    query, ties broken by neighbor_id."""
    slots = rows.groupBy("query_id", "vid").agg(
        *[
            F.sum(F.when(F.col("subspace") == s, F.col("lut"))).alias(f"_l{s}")
            for s in range(m)
        ]
    )
    score = F.expr(" + ".join(f"_l{s}" for s in range(m)))
    if qc is not None:
        slots = slots.join(F.broadcast(qc), "query_id")
        score = F.col("qc") + score
    scored = slots.select(
        "query_id", F.col("vid").alias("neighbor_id"), score.alias("adc_score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_score")
    )


def pq_adc_topk(
    emb: DataFrame, codebooks: DataFrame, query_pred: str, k: int = 5,
    m: int = 4, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over the PQ index:
    dot(q, x) = Σ_s dot(q_s, x_s) ≈ Σ_s LUT[q, s, code_s(x)] where the
    lookup table holds each query subvector's dot with every codebook
    centroid. Returns (query_id, neighbor_id, rank, adc_score).

    Scale shape: the corpus is touched only through its m·N thin code
    rows; the LUT (|Q|·m·k rows) broadcasts, so scoring is a map-side
    broadcast join + an (query, vid)-keyed aggregation — no vector
    arithmetic per corpus row at query time, the whole point of PQ.
    Determinism: the slot-per-subspace sum of :func:`_adc_topk`.

    Train/serve split: pass prebuilt ``codes`` (the persisted PQ index,
    operators/ann_index.py) to skip corpus re-encoding — the serve-time
    plan then touches the raw vectors only for the |Q| query rows.
    """
    if codes is None:
        codes = pq_encode(emb, codebooks, m, dim, id_col, vec_col)
    lut = _pq_lut(emb.filter(F.expr(query_pred)), codebooks, m, dim,
                  id_col, vec_col)
    return _adc_topk(
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("vid") != F.col("query_id")),
        m, k,
    )


def ivfpq_adc_topk(
    emb: DataFrame, coarse: DataFrame, codebooks: DataFrame,
    query_pred: str, k: int = 5, m: int = 4, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
    assigned: DataFrame | None = None, codes: DataFrame | None = None,
) -> DataFrame:
    """The full IVF+PQ index scan (Jégou et al. 2011 §V): a coarse
    quantizer prunes the corpus to the query's centroid bucket
    (nprobe=1), then only the surviving candidates are ADC-scored
    through their PQ codes. This is the classical billion-scale ANN
    layout — the bucket prune bounds candidates at ~N/n_centroids per
    query and the PQ codes mean no raw-vector arithmetic at query time.

    Honest deviation from the classical recipe, documented: codes are
    trained on the RAW subvectors, not the coarse-residuals (IVFFlat-
    style codebooks) — residual encoding would break the shared-
    codebook reuse with the flat ADC entry and adds nothing to the
    plan shape being demonstrated; recall impact is audited by the
    recall entries.

    Scale shape: ONE corpus-wide coarse assignment (broadcast
    centroids, map-side argmax), codes joined candidate-side only;
    the (query_id, centroid_id) probe frame and the LUT both
    broadcast. Shuffles: the candidate equi-join on centroid_id and
    the (query, vid)-keyed ADC sum — both candidate-bounded, never
    corpus × queries.

    Train/serve split: pass prebuilt ``assigned`` (vid, centroid_id)
    and ``codes`` (the persisted IVF+PQ index, operators/ann_index.py)
    to skip the corpus-wide coarse assignment and re-encoding — the
    serve-time plan never touches a corpus vector, only its 4 thin
    code rows and its bucket id.
    """
    if assigned is None:
        assigned = assign_centroids(emb, coarse, id_col, vec_col)
    if codes is None:
        codes = pq_encode(emb, codebooks, m, dim, id_col, vec_col)
    lut = _pq_lut(emb.filter(F.expr(query_pred)), codebooks, m, dim,
                  id_col, vec_col)
    q_ids = emb.filter(F.expr(query_pred)).select(F.col(id_col).alias("vid"))
    qbuckets = assigned.join(F.broadcast(q_ids), "vid").select(
        F.col("vid").alias("query_id"), "centroid_id"
    )
    cand = (
        assigned.select("vid", "centroid_id")
        .join(F.broadcast(qbuckets), "centroid_id")
        .filter(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid")
    )
    return _adc_topk(
        cand.join(codes, "vid")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"]),
        m, k,
    )


def ivfpq_partitioned_scan(
    emb: DataFrame, codes_ivf: DataFrame, codebooks: DataFrame,
    assigned: DataFrame, query_pred: str, k: int = 5, m: int = 4,
    dim: int = 64, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ serve over the LIST-FILE layout: semantically identical to
    :func:`ivfpq_adc_topk` on prebuilt artifacts, but the codes are read
    from ``codes_ivf`` — the persisted code table hive-partitioned on
    ``centroid_id`` (operators/ann_index.py) — and the bucket probe is
    an equi-join on the PARTITION column against the broadcast query
    buckets, so Catalyst's dynamic partition pruning restricts the scan
    to the probed buckets' files (plan-pinned in
    tests/test_ann_index.py). This is the classical inverted-list scan:
    at 100 TB with nlist=√N buckets a query touches nprobe/nlist of the
    index, not all of it — and it falls out of the LAYOUT, not a custom
    reader.

    Shuffle budget: zero on the corpus side (broadcast probe + DPP-
    pruned scan); the (query, vid) ADC sum is candidate-bounded.
    """
    lut = _pq_lut(emb.filter(F.expr(query_pred)), codebooks, m, dim,
                  id_col, vec_col)
    q_ids = emb.filter(F.expr(query_pred)).select(F.col(id_col).alias("vid"))
    qb = (
        assigned.select("vid", "centroid_id")
        .join(F.broadcast(q_ids), "vid")
        .select(F.col("vid").alias("query_id"), "centroid_id")
    )
    return _adc_topk(
        codes_ivf.join(F.broadcast(qb), "centroid_id")
        .filter(F.col("vid") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "subspace", "code"]),
        m, k,
    )


def kmeans_objective(emb: DataFrame, centroids: DataFrame,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> float:
    """Mean cosine of each vector to its nearest trained centroid —
    the (maximization) objective Lloyd's improves monotonically;
    used by the invariant tests."""
    vecs = _with_dvec(emb, id_col, vec_col, "vid", "v", norm_col="vn")
    cents = centroids.select(
        "centroid_id", "cv", F.expr(s_norm("cv")).alias("cn")
    )
    best = (
        vecs.crossJoin(F.broadcast(cents))
        .select(F.expr(s_cosine_prenorm("v", "cv", "vn", "cn")).alias("cos"), "vid")
        .groupBy("vid")
        .agg(F.max("cos").alias("best"))
    )
    return best.agg(F.avg("best")).collect()[0][0]


def similar_pairs(
    emb: DataFrame, threshold: float, block_col: str = "label",
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocking groups.

    Blocking (label / coarse-centroid / LSH bucket) keeps the self-join
    quadratic only within blocks — the standard all-pairs guard at scale.
    """
    base = emb.select(
        F.col(id_col), F.col(block_col).alias("blk"),
        F.expr(s_to_double(vec_col)).alias("v"),
        F.expr(s_norm(s_to_double(vec_col))).alias("n"),
    )
    a = base.select(F.col(id_col).alias("id_a"), "blk", F.col("v").alias("va"), F.col("n").alias("na"))
    b = base.select(F.col(id_col).alias("id_b"), "blk", F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.expr(s_cosine_prenorm("va", "vb", "na", "nb")).alias("score"))
        .filter(F.col("score") >= threshold)
    )


def _exact_cluster_drops(assigned: DataFrame, threshold: float) -> DataFrame:
    """Exact within-cluster drop set: every vid with a smaller-id
    near-dup (cosine >= threshold) in its cluster. Quadratic WITHIN each
    cluster — callers must bound cluster size (see semdedup_keep)."""
    a = assigned.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("vn").alias("na"),
        "centroid_id",
    )
    b = assigned.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("vn").alias("nb"),
        "centroid_id",
    )
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(s_cosine_prenorm("va", "vb", "na", "nb")) >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )


def semdedup_capped_frames(
    assigned: DataFrame, threshold: float, max_cluster_size: int,
    nbits: int = 32, dim: int = 64, max_hamming: int = 8,
) -> dict[str, DataFrame]:
    """The capped SemDeDup pipeline over an ``assign_centroids`` output,
    exposed stage-by-stage so the hot-cluster property test can assert
    the candidate-pair volume is o(n²). Returns frames:

      small_drops — exact drops inside clusters of size <= cap
      drop_a      — representative-screen drops inside oversized clusters
      survivors   — oversized-cluster members that survived stage A
      candidates  — stage-B pigeonhole candidate pairs (pre-verify)
      dropped     — the union drop set (what semdedup_keep consumes)

    Stage A (linear): within an oversized cluster, group members by
    their FULL SRP signature; each group's min-id member is the
    representative, and every other member is verified against the
    representative only — near-identical mass (the exact case SemDeDup
    targets: identical vectors share signatures deterministically) is
    eliminated with |cluster| comparisons, not |cluster|².

    Stage B (pigeonhole-bounded): stage-A survivors pair up only through
    the (centroid, block, value) pigeonhole buckets of their signatures
    (lossless for hamming <= max_hamming), then exact-cosine verify.
    Survivors of a duplicate-heavy cluster are few (one rep per
    signature group), so the bucket join stays small; on a diverse
    oversized cluster the hamming screen spreads members across bucket
    values. Residual worst case, documented: dissimilar vectors that
    COLLIDE on the full signature all survive stage A into one bucket —
    a ~2^-nbits-probability event per pair for spread-out embeddings.

    Recall trade vs the exact rule (documented, mirrored by the oracle):
    inside an oversized cluster a member is dropped only via its
    signature-group representative or a surviving hamming-close
    neighbor, so a near-dup pair that is signature-distant AND whose
    smaller member was itself rep-screened away is kept. Both stages
    are deterministic (the planes are hash-derived), so the whole
    capped pipeline is cross-engine oracle-checkable.
    """
    # query-internal pins (pins.py registry — released by the next pinned
    # invocation): the N×k assignment argmax and the signature frame feed
    # MANY branches below (size split, rep screen, survivors, verify
    # joins), and Catalyst does not dedupe common subtrees — unpinned,
    # each branch re-executes the full broadcast-cosine assignment
    # (measured 6.7s → ~2s at sf0.1 for the catalog entry)
    from .pins import fresh_pins, pin

    fresh_pins()
    assigned = pin(assigned)
    sizes = assigned.groupBy("centroid_id").agg(F.count("*").alias("_csize"))
    sized = assigned.join(sizes, "centroid_id")
    small = sized.filter(F.col("_csize") <= max_cluster_size).drop("_csize")
    big = sized.filter(F.col("_csize") > max_cluster_size).drop("_csize")

    small_drops = _exact_cluster_drops(small, threshold)

    sigs = srp_signatures(
        big.select("vid", "v"), nbits, dim, id_col="vid", vec_col="v"
    ).withColumnRenamed("doc", "vid")
    bigs = pin(big.join(sigs, "vid"))

    # stage A: per (cluster, signature) group, verify members against
    # the group's min-id representative only — one comparison per member
    reps = bigs.groupBy("centroid_id", "srp_sig").agg(
        F.min("vid").alias("rep_id")
    )
    repv = bigs.select(
        F.col("vid").alias("rep_id"), F.col("v").alias("rv"),
        F.col("vn").alias("rn"),
    )
    drop_a = (
        bigs.join(reps, ["centroid_id", "srp_sig"])
        .filter(F.col("vid") != F.col("rep_id"))
        .join(repv, "rep_id")
        .filter(F.expr(s_cosine_prenorm("rv", "v", "rn", "vn")) >= threshold)
        .select("vid")
        .distinct()
    )

    # stage B: survivors pair through pigeonhole blocks within cluster
    survivors = pin(bigs.join(drop_a, "vid", "left_anti"))
    blocks = _hamming_block_table(
        survivors.select(F.col("vid").alias("doc"), "srp_sig"), nbits, max_hamming
    ).join(
        survivors.select(F.col("vid").alias("doc"), "centroid_id"), "doc"
    )
    a = blocks.select(
        F.col("doc").alias("id_a"), F.col("srp_sig").alias("sig_a"),
        "centroid_id", "blk", "val",
    )
    b = blocks.select(
        F.col("doc").alias("id_b"), F.col("srp_sig").alias("sig_b"),
        "centroid_id", "blk", "val",
    )
    candidates = (
        a.join(b, ["centroid_id", "blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    sv = survivors.select("vid", "v", "vn")
    drop_b = (
        candidates
        .join(sv.withColumnsRenamed({"vid": "id_a", "v": "va", "vn": "na"}), "id_a")
        .join(sv.withColumnsRenamed({"vid": "id_b", "v": "vb", "vn": "nb"}), "id_b")
        .filter(F.expr(s_cosine_prenorm("va", "vb", "na", "nb")) >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    dropped = small_drops.union(drop_a).union(drop_b).distinct()
    return {
        "small_drops": small_drops,
        "drop_a": drop_a,
        "survivors": survivors,
        "candidates": candidates,
        "dropped": dropped,
    }


def semdedup_keep(
    emb: DataFrame, centroids: DataFrame, threshold: float,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    nbits: int = 32, dim: int = 64, max_hamming: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embeddings (nearest member of
    ``centroids``, cosine), then WITHIN each cluster drop every vector
    that has a semantic near-duplicate (cosine >= threshold) with a
    smaller id. Returns (id, centroid_id, keep).

    Scale shape: the quadratic pair search is confined to clusters
    (the paper's core trick — k ≈ √N clusters make expected cluster
    size √N, so pair work is N^1.5 not N², and embarrassingly parallel
    per cluster); the corpus is shuffled once on centroid_id and never
    all-pairs joined. The N^1.5 claim assumes BALANCED clusters, and
    embedding clusters are exactly where skew lives — one mega-cluster
    of boilerplate near-identicals re-introduces the quadratic. That is
    what ``max_cluster_size`` bounds (the 100 TB path; ``None`` keeps
    the paper-exact rule for bounded inputs): clusters over the cap
    route through :func:`semdedup_capped_frames` — an SRP
    representative screen that kills near-identical mass linearly, then
    a pigeonhole-blocked hamming screen + exact-cosine verify for the
    survivors. The hot-cluster property test
    (tests/test_dedup_properties.py) asserts the candidate-pair volume
    stays o(n²).

    Deviation from the paper, documented: the paper keeps the example
    with LOWEST similarity to its centroid inside each duplicate group;
    this implementation keeps the smallest id — deterministic,
    oracle-checkable, and the same canonical-selection rule the text
    dedup entries use.
    """
    assigned = assign_centroids(emb, centroids, id_col, vec_col)
    if max_cluster_size is None:
        dropped = _exact_cluster_drops(assigned, threshold)
    else:
        dropped = semdedup_capped_frames(
            assigned, threshold, max_cluster_size, nbits, dim, max_hamming
        )["dropped"]
    return (
        assigned.join(dropped.withColumn("_dropped", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "centroid_id",
            F.col("_dropped").isNull().alias("keep"),
        )
    )


def srp_signatures(
    emb: DataFrame, nbits: int = 32, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Signed-random-projection (SRP) LSH signature per vector:
    (doc, srp_sig) with bit b = [v · plane_b >= 0].

    P[bits agree] = 1 - angle(u,v)/π, so hamming distance over the
    signature estimates cosine — the embedding analog of SimHash. Planes
    are deterministic ±1 Rademacher rows (functions/vectors.py::
    srp_planes), and each dot product is the same sequential zip_with
    fold the exact-cosine path uses, so signatures are bit-identical to
    the DuckDB oracle. All JVM-side; at very large batch sizes a
    numpy-matmul Pandas UDF computes all nbits projections in one GEMM,
    but the codegen path wins until memory bandwidth dominates.
    """
    if not 1 <= nbits <= 63:
        # bit b contributes 1 << b; b = 63 overflows the signed BIGINT
        # signature word (and 1..63 distinct powers sum to 2^63 - 1, the
        # BIGINT max, so 63 is the exact single-word ceiling)
        raise ValueError(f"nbits={nbits} must be in [1, 63] for a single BIGINT signature")
    planes = srp_planes(nbits, dim)
    # row-level width assert: a vector shorter/longer than the planes
    # would null-pad the zip_with dot product and every affected bit
    # would silently resolve to 0 — fail the job loudly instead. JVM-side
    # per-row check, no extra action, so it also holds at full scale.
    width_ok = (
        f"IF(size({vec_col}) = {dim}, {s_to_double(vec_col)}, "
        f"raise_error(concat('srp_signatures: embedding width ', "
        f"CAST(size({vec_col}) AS STRING), "
        f"' != dim {dim} for {id_col}=', CAST({id_col} AS STRING))))"
    )
    sig = " + ".join(
        f"(CASE WHEN ({s_dot('v', s_plane_array(p))}) >= 0 THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    return emb.select(
        F.col(id_col).alias("doc"), F.expr(width_ok).alias("v")
    ).select("doc", F.expr(f"CAST({sig} AS BIGINT)").alias("srp_sig"))


def _hamming_block_table(sig: DataFrame, bits: int, max_hamming: int) -> DataFrame:
    """Single-word pigeonhole blocks (doc, srp_sig, blk, val): two sigs
    within the radius must agree on >= 1 of the max_hamming+1 blocks."""
    n_blocks = max_hamming + 1
    base, extra = divmod(bits, n_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright("srp_sig", offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("val"),
            )
            for i in range(n_blocks)
        ]
    )
    return sig.select("doc", "srp_sig", F.explode(blocks).alias("b")).select(
        "doc", "srp_sig", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )


def srp_near_pairs(
    emb: DataFrame, nbits: int = 32, dim: int = 64,
    max_hamming: int = 8, threshold: float = 0.4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via SRP-LSH: pigeonhole-blocked hamming
    screen (lossless for the radius — never all-pairs) + exact-cosine
    verify. Output (id_a, id_b, hamming, score).

    The hamming screen is itself approximate w.r.t. cosine: radius 8 of
    32 bits accepts pair angles up to ~45° with high probability, so at
    a production near-dup threshold (cos >= 0.9, E[hamming] ≈ 4.6) recall
    is near-1 while the candidate floor stays ~0.3% of all pairs. On a
    corpus of weakly-similar vectors (this testdata: max cos ≈ 0.51) the
    same radius intentionally keeps only the hamming-closest slice of
    τ=0.4 pairs — the precision/recall knob is max_hamming, and the
    exact-cosine verify makes every emitted pair exact.
    """
    sigs = srp_signatures(emb, nbits, dim, id_col, vec_col)
    ex = _hamming_block_table(sigs, nbits, max_hamming)
    a = ex.select(F.col("doc").alias("id_a"), F.col("srp_sig").alias("sig_a"), "blk", "val")
    b = ex.select(F.col("doc").alias("id_b"), F.col("srp_sig").alias("sig_b"), "blk", "val")
    cands = (
        a.join(b, ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    v = emb.select(
        F.col(id_col).alias("vid"),
        F.expr(s_to_double(vec_col)).alias("vv"),
        F.expr(s_norm(s_to_double(vec_col))).alias("vn"),
    )
    return (
        cands.join(v.withColumnsRenamed({"vid": "id_a", "vv": "va", "vn": "na"}), "id_a")
        .join(v.withColumnsRenamed({"vid": "id_b", "vv": "vb", "vn": "nb"}), "id_b")
        .select(
            "id_a", "id_b", F.col("hamming").cast("int").alias("hamming"),
            F.expr(s_cosine_prenorm("va", "vb", "na", "nb")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _round_half_up_6(x: float) -> float:
    """Driver-side twin of Spark's ``F.round(col, 6)``: Spark's Round
    on DoubleType goes through ``BigDecimal.valueOf(double)`` — i.e.
    ``Double.toString``, the SHORTEST round-trip decimal — then
    setScale(6, HALF_UP). Python's ``repr(float)`` is the same shortest
    round-trip string, so ``Decimal(repr(x))`` + HALF_UP quantize is
    bit-identical (pinned against F.round on a halfway-point grid in
    tests/test_r12_optimizations.py; the exact-binary-expansion
    ``Decimal(x)`` variant is NOT — it reads 0.1234565 as ...649999...
    and rounds down where the JVM rounds up)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _gram_matrix(
    emb: DataFrame, quant: int, id_col: str, vec_col: str,
) -> tuple[DataFrame, "list[int]", int]:
    """Exact-integer scaled-covariance build shared by the PCA fits:
    returns (A frame localCheckpoint-ed as (i, j, aij BIGINT), the
    per-coordinate quantized sums S as a Python list, n).

    r12 optimization (guide §2.5/§1.2 — measured BEFORE numbers in
    OPTIMIZATION_r12.md): the dim² map-side pair expansion used to run
    at the parquet scan's parallelism — ONE task for a single-file
    embeddings table, so the whole n·dim² explode+partial-agg was
    single-threaded. The rows are repartitioned to the session's
    default parallelism first: the exchange carries n·dim quantized
    longs ONCE (1/dim of the downstream expansion work, so the trade
    holds at any corpus size), and the expansion then scales with the
    machine. S and n are exact BIGINTs, collected at metadata grain
    (dim values — the same bytes the old broadcast-join plan shipped
    through a BroadcastExchange anyway) and inlined as literals, which
    removes two broadcast joins from the A-build job."""
    spark = emb.sparkSession
    qarr = F.expr(
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {quant} + 0.5) AS BIGINT))"
    )
    rows = emb.select(F.col(id_col).alias("vid"), qarr.alias("q")).repartition(
        spark.sparkContext.defaultParallelism
    )
    rows = rows.localCheckpoint(eager=True)
    cells = rows.select(
        "vid", F.posexplode("q").alias("pos0", "qv")
    ).select("vid", (F.col("pos0") + 1).alias("i"), "qv")
    stats = cells.groupBy("i").agg(F.sum("qv").alias("s")).collect()
    n = rows.count()
    dim = len(stats)
    s = [0] * dim
    for r in stats:
        s[r["i"] - 1] = r["s"]
    s_lit = F.array(*[F.lit(x).cast("long") for x in s])
    pairs = rows.select(
        F.explode(
            F.expr(
                "flatten(transform(q, (x, i) -> "
                "transform(q, (y, j) -> struct(i + 1 AS i, j + 1 AS j, x * y AS p))))"
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.p")
    g = pairs.groupBy("i", "j").agg(F.sum("p").alias("g"))
    a = g.select(
        "i",
        "j",
        (
            F.lit(n).cast("long") * F.col("g")
            - F.element_at(s_lit, F.col("i")) * F.element_at(s_lit, F.col("j"))
        ).alias("aij"),
    ).localCheckpoint(eager=True)
    return a, s, n


def _power_rounds(
    a: DataFrame, val: str, dim: int, iters: int,
    ortho: "list[float] | None" = None,
) -> "list[float]":
    """Power-iteration rounds over the checkpointed dim²-cell matrix
    with the eigvec as DRIVER state (r12): the eigvec is metadata-grain
    (dim doubles — the old per-round BroadcastExchange collected the
    very same values to the driver before re-shipping them), so each
    round is ONE distributed agg (u_i = Σ_j aij·v_j with v inlined as
    an array literal, collected at dim rows) instead of a
    localCheckpoint job + a broadcast job + a duplicated u subtree.
    Normalization/rounding run in the driver with the identical IEEE
    ops; the 6-decimal HALF_UP re-sync absorbs reduction-order drift
    exactly as it did distributed (same tolerance class, oracle-checked
    at both scales)."""
    v = [round(1.0 / (dim ** 0.5), 6)] * dim
    for _ in range(iters):
        vlit = F.array(*[F.lit(x) for x in v])
        urows = (
            a.groupBy("i")
            .agg(F.sum(F.col(val) * F.element_at(vlit, F.col("j"))).alias("u"))
            .collect()
        )
        u = [0.0] * dim
        for r in urows:
            u[r["i"] - 1] = r["u"]
        if ortho is not None:
            # Gram-Schmidt against the fixed first component each round
            # (orthogonal iteration): u' = u - (u.v1) v1
            p = sum(ui * oi for ui, oi in zip(u, ortho))
            u = [ui - p * oi for ui, oi in zip(u, ortho)]
        nrm = (sum(ui * ui for ui in u)) ** 0.5
        v = [_round_half_up_6(ui / nrm) for ui in u]
    return v


def _rayleigh_ratio(
    a: DataFrame, val: str, v: "list[float]", trace: int,
) -> float:
    """round(vᵀAv / (vᵀv · trace), 6) with v as literals — one
    distributed agg over the checkpointed matrix, the division and the
    final HALF_UP round in the driver (same IEEE ops as the old
    crossJoin-of-scalar-frames plan, minus three jobs)."""
    vlit = F.array(*[F.lit(x) for x in v])
    num = a.agg(
        F.sum(
            F.element_at(vlit, F.col("i"))
            * F.col(val)
            * F.element_at(vlit, F.col("j"))
        ).alias("num")
    ).collect()[0]["num"]
    den = sum(x * x for x in v)
    return _round_half_up_6(num / (den * trace))


def pca_top_component(
    emb: DataFrame, iters: int = 4, dim: int = 64, quant: int = 10_000,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component of the embedding cloud by power iteration
    over the EXACT-INTEGER scaled covariance matrix.

    Determinism recipe (the k-means/PageRank family, third member):
      1. coordinates quantize map-side to ``quant``-scaled integers
         (floor(x*quant + 0.5) — identical in both engines: float ->
         double promotion, one multiply, one floor, all correctly
         rounded IEEE ops);
      2. the scaled covariance  A_ij = n*G_ij - S_i*S_j  is pure BIGINT
         arithmetic on exact sums (G = gram matrix of quantized coords,
         S = coordinate sums) — order-independent, so Spark's
         distributed aggregation matches any serial twin bit-for-bit
         (|A| <= n^2*(quant*|x|max)^2 must stay < 2^53 so the later
         int->double read is exact: fine to ~1e6 rows at |x|<=0.5 —
         beyond that raise the scale into DECIMAL or drop quant);
      3. each power-iteration round re-synchronizes the eigvec to 6
         decimals after L2 normalization (u = A v; v' = round(u/||u||))
         — the k-means rounding trick that makes the ITERATIVE fit
         oracle-checkable: per-round float drift (~1e-14 relative from
         summation order) dies at the 6th decimal.

    Scale shape: ONE map-side pair expansion (dim^2 structs per row,
    partially aggregated before the 4096-cell shuffle, repartitioned to
    machine width first — guide §2.5) builds A; A is localCheckpoint-ed
    once and every round is ONE distributed agg over the 4096-row A
    with the dim-double eigvec inlined as a literal (r12: the eigvec is
    metadata-grain driver state — see _power_rounds) — no further
    corpus scans. Sign convention: v0 = all-positive uniform, so the
    returned component's sign is fixed by the iteration, not by chance.

    Returns (pos, loading, explained_ratio): 1-based coordinate, the
    6-dec eigvec entry, and the (repeated) Rayleigh-quotient share of
    total variance — scale-free, so safe to hash (the raw scaled
    eigenvalue is ~1e12 where 6-dec rounding would NOT absorb float
    drift; the ratio is O(1) where it does).
    """
    spark = emb.sparkSession
    a, _s, _n = _gram_matrix(emb, quant, id_col, vec_col)
    v = _power_rounds(a, "aij", dim, iters)
    trace = a.filter(F.col("i") == F.col("j")).agg(F.sum("aij").alias("t")).collect()[0]["t"]
    ratio = _rayleigh_ratio(a, "aij", v, trace)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i + 1, v[i], ratio) for i in range(dim)], 1
        ),
        schema="pos int, loading double, explained_ratio double",
    )


def pca_top2_components(
    emb: DataFrame, iters: int = 4, dim: int = 64, quant: int = 10_000,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Top TWO principal components by power iteration + Hotelling
    deflation — the rank-2 extension of :func:`pca_top_component`,
    sharing its determinism recipe (exact-integer scaled covariance,
    6-decimal eigvec re-sync per round; see that docstring).

    Deflation step: after the first component v₁ converges, the second
    iteration runs on  A₂ = A − λ₁ v₁ v₁ᵀ  where λ₁ is recovered from
    the ROUNDED Rayleigh ratio times the exact-integer trace (two
    deterministic doubles, one multiply), and each A₂ cell is one fixed
    IEEE expression over the exact aij and the 6-dec v₁ entries —
    cross-engine reproducible, no float accumulation enters the matrix.
    Per-round drift in the second iteration dies at the same 6th
    decimal as the first.

    Both explained ratios are shares of the SAME total variance
    (trace of A), so ratio₁ + ratio₂ is the cumulative top-2 share.
    Scale shape: identical to the top-1 fit — one dim² map-side pair
    expansion (machine-width repartitioned), then every round is ONE
    distributed agg over the localCheckpoint-ed 4096-cell matrix with
    the eigvec as a driver-literal (r12 — see _power_rounds); the
    deflated matrix is checkpointed once, so the second fit re-scans
    nothing.

    Returns (pos, loading1, loading2, ratio1, ratio2), 64 rows.
    """
    spark = emb.sparkSession
    a, _s, _n = _gram_matrix(emb, quant, id_col, vec_col)
    trace = a.filter(F.col("i") == F.col("j")).agg(F.sum("aij").alias("t")).collect()[0]["t"]

    v1 = _power_rounds(a, "aij", dim, iters)
    r1 = _rayleigh_ratio(a, "aij", v1, trace)
    # λ₁ from the ROUNDED ratio × exact trace: both engines compute the
    # identical pair of doubles, so the deflated cells are reproducible
    lam1 = r1 * trace
    v1_lit = F.array(*[F.lit(x) for x in v1])
    a2 = a.select(
        "i",
        "j",
        (
            F.col("aij")
            - F.lit(lam1)
            * F.element_at(v1_lit, F.col("i"))
            * F.element_at(v1_lit, F.col("j"))
        ).alias("a2ij"),
    ).localCheckpoint(eager=True)
    # Gram-Schmidt against the fixed first component each round
    # (orthogonal iteration): orthogonality holds BY CONSTRUCTION (to
    # the 6-dec rounding), not by convergence, which power iteration
    # cannot promise on a near-isotropic cloud
    v2 = _power_rounds(a2, "a2ij", dim, iters, ortho=v1)
    r2 = _rayleigh_ratio(a2, "a2ij", v2, trace)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i + 1, v1[i], v2[i], r1, r2) for i in range(dim)], 1
        ),
        schema="pos int, loading1 double, loading2 double, "
               "ratio1 double, ratio2 double",
    )


def ivfpq_residual_topk(
    emb: DataFrame, coarse: DataFrame, query_pred: str, k: int = 5,
    m: int = 4, kk: int = 8, iters: int = 2, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
    assigned: DataFrame | None = None,
    books: DataFrame | None = None, codes: DataFrame | None = None,
) -> DataFrame:
    """The classical IVFADC with RESIDUAL encoding (Jégou et al. 2011
    §V.A, the part ivfpq_adc_topk deliberately skipped): every vector is
    PQ-encoded as its residual x − c(x) from its coarse centroid, the
    codebooks are trained on those residuals, and a query's lookup table
    is built from ITS residual q − c(q) — so within the probed bucket
    (nprobe=1: candidates share the query's centroid)

        dot(q, x) = dot(q, c) + dot(q, x − c) ≈ qc + Σ_s LUT[q, s, code_s]

    with qc = dot(q, c) a per-query constant added back for a faithful
    score. Residuals concentrate near the origin, which is exactly what
    a small codebook quantizes well — the recall argument for residual
    over raw encoding.

    Metric note: residual codebook training/encoding use the
    DIVISION-FREE inner-product argmax (``metric="dot"`` — the metric
    ADC approximates anyway), because a vector that IS a coarse
    centroid has residual exactly zero, whose cosine is 0/0 (an
    ANSI-mode error). Under dot, the zero residual scores 0 against
    every codeword and ties to the min centroid id — deterministic in
    both engines, its LUT contribution exactly 0.

    Scale shape: one corpus-wide coarse assignment (broadcast argmax),
    residuals computed map-side (zip_with), the m codebook fits see only
    thin subvector frames, and query-time work is the candidate bucket
    equi-join + broadcast LUT join — identical exchanges to the raw-code
    scan, no extra shuffle for the residual step.

    Train/serve split: pass prebuilt ``assigned`` (vid, centroid_id),
    ``books`` and ``codes`` (the persisted residual index,
    operators/ann_index.py) to skip training entirely — serve-time then
    computes residuals only for the |Q| query rows (one broadcast join)
    and the corpus is touched through its thin code/bucket rows alone.
    """
    cents = coarse.select(
        F.col(id_col).alias("centroid_id"),
        F.expr(s_to_double(vec_col)).alias("cv"),
    )
    if assigned is None or books is None or codes is None:
        a_full = assign_centroids(emb, coarse, id_col, vec_col)
        assigned = a_full.select("vid", "centroid_id")
        er = (
            a_full.join(F.broadcast(cents), "centroid_id")
            .select(
                F.col("vid").alias(id_col),
                F.expr("zip_with(v, cv, (a, b) -> a - b)").alias(vec_col),
            )
        )
        books = pq_fit_codebooks(er, m=m, k=kk, iters=iters, dim=dim,
                                 id_col=id_col, vec_col=vec_col, metric="dot")
        codes = pq_encode(er, books, m, dim, id_col, vec_col, metric="dot")
    # Query-side residuals: evaluate query_pred on the ORIGINAL frame
    # (exact column names — never string surgery on the predicate),
    # then attach each query's bucket + centroid via one broadcast join.
    q = emb.filter(F.expr(query_pred)).select(
        F.col(id_col).alias("vid"), F.expr(s_to_double(vec_col)).alias("v")
    )
    qa = (
        assigned.select("vid", "centroid_id")
        .join(F.broadcast(q), "vid")
        .join(F.broadcast(cents), "centroid_id")
    )
    er_q = qa.select(
        F.col("vid").alias(id_col),
        F.expr("zip_with(v, cv, (a, b) -> a - b)").alias(vec_col),
    )
    lut = _pq_lut(er_q, books, m, dim, id_col, vec_col)
    qb = qa.select(
        F.col("vid").alias("query_id"),
        "centroid_id",
        F.expr(s_dot("v", "cv")).alias("qc"),
    )
    cand = (
        assigned.select("vid", "centroid_id")
        .join(F.broadcast(qb.select("query_id", "centroid_id")), "centroid_id")
        .filter(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid")
    )
    return _adc_topk(
        cand.join(codes, "vid")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"]),
        m, k, qc=qb.select("query_id", "qc"),
    )

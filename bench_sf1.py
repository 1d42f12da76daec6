"""sf1 scale rehearsal (r10 — verdict #5): one measured DECADE for the
scale-sensitive families.

All correctness and plan evidence runs at sf0.01/sf0.1; the 100x scale
claims deserve at least one measured 10x step. This harness

  1. DERIVES a deterministic ~sf1 dataset (10x sf0.1) under
     ``.scratch/sf1/`` by unioning K=10 key-shifted copies of every
     sf0.1 table: all join keys shift by per-table strides so
     referential integrity holds copy-wise; nation/region stay single
     (conformed dims — a bigger warehouse shares them); document TEXT
     is token-salted per copy so cross-copy Jaccard is ZERO — a larger
     crawl has proportionally MORE near-dup clusters, not 10x denser
     ones, so the dedup workload scales the honest way.
  2. RUNS the rehearsal entries (dedup LSH / incremental / substring,
     ANN serve, table-format merge/MoR/CDF, three OLAP headliners) at
     BOTH sf0.1 and sf1 in one session (32 shuffle partitions + AQE
     coalescing at both scales), median of 3 noop-sink materializations
     each, scratch-index/table builds amortized into an untimed warm-up
     (the load-phase analog bench.py uses).
  3. WRITES ``BENCH_SF1.json``: per-entry t_sf0.1 / t_sf1 / ratio,
     result-row counts at both scales (the LSH-linearity evidence:
     salted copies make row counts scale exactly 10x when candidate
     generation is linear), and the executed-plan cartesian check at
     sf1. tests/test_artifacts.py gates the recorded ratios.

Usage: python bench_sf1.py   (~10-15 min; rerun-safe — the derived
dataset is built once and reused through its ``_COMPLETE`` marker).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans import get_catalog
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.session import get_spark
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.artifacts import ensure

HERE = os.path.dirname(os.path.abspath(__file__))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(HERE, ".scratch", "sf1")
K = 10  # copies of sf0.1

#: per-table key strides (well above every sf0.1 max key).
#: customer's stride is CONTIGUOUS (exactly the sf0.1 row count, keys
#: 0..149_999 — the population a real sf1 warehouse has) because the
#: ER blocking keys derive from the NAME's digit payload: a sparse
#: 1e6 stride would alias every copy onto the same low-6-digit suffix
#: block (suffix = key MOD 1e6), manufacturing 10x-denser blocks and a
#: fake quadratic decade (r12: 23.9x measured) that no real 10x
#: warehouse exhibits — more customers means NEW key digits, not ten
#: clones per block.
_CS, _OS, _PS, _SS = 15_000, 10_000_000, 1_000_000, 100_000
_ES, _US, _DS, _VS = 10_000_000, 1_000_000, 1_000_000, 1_000_000

#: rehearsal set: (entry, family) — family picks the ratio bound the
#: gate asserts (see tests/test_artifacts.py)
ENTRIES = [
    ("olap_monthly_revenue_by_country", "olap"),
    ("tpch_q1_pricing_summary", "olap"),
    ("basket_product_pairs", "olap"),
    ("dedup_minhash_lsh", "dedup"),
    ("dedup_incremental_minhash", "dedup"),
    ("dedup_substring_spans", "dedup"),
    ("ann_cosine_topk", "ann"),
    ("ann_ivfpq_topk", "ann"),
    ("tf_merge_snapshot", "table_format"),
    ("tf_mor_delete_read", "table_format"),
    ("tf_change_feed", "table_format"),
    # r11 (verdict #3): the highest quadratic/fan-out-risk families —
    # blocking fan-out, iterative joins with hub skew, segment-hash
    # groups, postings skew, connected-components convergence
    ("er_customer_linkage", "er"),
    ("pagerank_copurchase", "graph"),
    ("graph_triangle_count", "graph"),
    ("curation_line_dedup", "curation"),
    ("bm25_index_serve_topk", "bm25"),
    ("dedup_cluster_components", "dedup"),
    # r12: the new window-over-preaggregate family (series cells grow
    # ~linearly; both windows off one exchange) and the purge pass
    # (footer-probe + stale-file rewrite must follow the stale set,
    # never the table)
    ("tpcds_q47_store_lag_deviation", "olap"),
    ("tf_column_purge", "table_format"),
]


def ensure_sf1(spark) -> str:
    """The derived ~sf1 dataset under ``SF1``, built once (the
    ``sources/artifacts.py`` lifecycle: marked complete last, a torn
    build is wiped and rebuilt)."""
    return ensure(spark, SF1, lambda root: _build_sf1(spark, root))


def _build_sf1(spark, root: str) -> None:
    from pyspark.sql import functions as F

    rd = lambda t: spark.read.parquet(f"{SF01}/{t}.parquet")  # noqa: E731

    def write(name, df):
        df.write.mode("overwrite").parquet(f"{root}/{name}.parquet")

    # conformed dims: shared, single copy
    write("region", rd("region"))
    write("nation", rd("nation"))

    def fan(df, shifts: dict):
        parts = []
        for i in range(K):
            p = df
            for col, stride in shifts.items():
                p = p.withColumn(col, F.col(col) + F.lit(i * stride))
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # customer names must FOLLOW the shifted key (TPC-H invariant:
    # c_name = 'Customer#%09d' % c_custkey) — the ER fixture blocks on
    # the name's digits, so verbatim name clones would collide every
    # copy into the same blocks (see the stride note above)
    write("customer", fan(rd("customer"), {"c_custkey": _CS}).withColumn(
        "c_name", F.format_string("Customer#%09d", F.col("c_custkey"))
    ))
    write("supplier", fan(rd("supplier"), {"s_suppkey": _SS}))
    write("part", fan(rd("part"), {"p_partkey": _PS}))
    write("orders", fan(rd("orders"), {"o_orderkey": _OS, "o_custkey": _CS}))
    write("lineitem", fan(rd("lineitem"), {
        "l_orderkey": _OS, "l_partkey": _PS, "l_suppkey": _SS,
    }))
    write("events", fan(rd("events"), {"event_id": _ES, "user_id": _US}))
    write("embeddings", fan(rd("embeddings"), {"vec_id": _VS}))
    # documents: shift ids AND salt every token per copy (copy 0 stays
    # verbatim) — cross-copy shingle spaces are disjoint, so near-dup
    # structure replicates linearly instead of densifying 10x
    parts = []
    for i in range(K):
        p = rd("documents").withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * _DS)
        )
        if i:
            p = p.withColumn(
                "text",
                F.array_join(F.transform(
                    F.split(F.col("text"), " "),
                    lambda x: F.when(
                        F.length(x) > 0, F.concat(x, F.lit(str(i)))
                    ).otherwise(x),
                ), " "),
            ).withColumn("n_chars", F.length("text").cast("long"))
        parts.append(p)
    docs = parts[0]
    for p in parts[1:]:
        docs = docs.unionByName(p)
    write("documents", docs)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from harness_util import git_head, wait_for_quiet

    waited_quiet = wait_for_quiet()  # r12 — verdict #4
    load1_start = round(os.getloadavg()[0], 2)
    spark = get_spark(app_name="ecdw-bench-sf1", shuffle_partitions=32, sf_dir=SF01)
    catalog = get_catalog()
    ensure_sf1(spark)
    reps = int(os.environ.get("SPARK_GRAFT_SF1_REPS", "3"))
    out: dict[str, dict] = {}
    for name, family in ENTRIES:
        row: dict = {"family": family}
        for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
            df = catalog[name].fn(spark, sf_dir)
            _materialize(df)  # untimed: builds scratch indexes/tables
            samples = []
            for _ in range(reps):
                t0 = time.perf_counter()
                _materialize(df)
                samples.append(time.perf_counter() - t0)
            row[f"t_{label}"] = round(statistics.median(samples), 3)
            row[f"rows_{label}"] = df.count()
            if label == "sf1":
                plan = df._jdf.queryExecution().executedPlan().toString()
                row["cartesian_sf1"] = plan.count("CartesianProduct")
        row["ratio"] = round(row["t_sf1"] / max(row["t_sf0.1"], 1e-9), 2)
        row["rows_ratio"] = round(
            row["rows_sf1"] / max(row["rows_sf0.1"], 1), 2
        )
        out[name] = row
        print(name, row, flush=True)
    with open(os.path.join(HERE, "BENCH_SF1.json"), "w") as f:
        json.dump({
            "sf01_dir": SF01, "sf1_dir": SF1, "copies": K, "reps": reps,
            "shuffle_partitions": 32, "entries": out,
            "load1": round(os.getloadavg()[0], 2),
            # contention tag (r11 — verdict #7): time-ratio gates skip
            # on contended runs (rows_ratio/cartesian gates never do —
            # they are load-independent)
            "contended": load1_start > 1.5,
            "load1_start": load1_start,
            "waited_for_quiet_sec": waited_quiet,
            "git_head": git_head(),
        }, f, indent=1, sort_keys=True)
    print(json.dumps({
        "metric": "sf1_rehearsal",
        "worst_ratio": max(r["ratio"] for r in out.values()),
        "entries": len(out),
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()

"""Per-entry profiler: isolate catalog entries with the noop sink
(guide §1.4), bench-identical methodology (warm-up rep, internal-cache
eviction, median of N), and capture ``explain("formatted")`` to
plans/profile/<name>_<tag>.txt, plus the JVM's JIT facts
(``harness_util.jvm_facts``: flags, compile time, code cache) at the end
of the run in plans/profile/jvm_<tag>.json. (Not named ``profile.py``: a script
directory on ``sys.path`` would shadow the stdlib ``profile`` module
that ``cProfile``, and through it pyspark, imports.)

Usage:
    python profile_entries.py <tag> <entry> [<entry> ...]
    SPARK_GRAFT_PROF_REPS=3 python profile_entries.py before er_customer_linkage

Prints one line per entry: median + per-rep samples. The tag names the
plan files (before/after). Not part of the driver contract — a
developer tool only.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans import get_catalog
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.session import (
    DEFAULT_SF_DIR,
    get_spark,
)

from bench import evict_rdds, materialize, persistent_rdd_ids
from harness_util import jvm_facts


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    reps = int(os.environ.get("SPARK_GRAFT_PROF_REPS", "3"))
    spark = get_spark(
        app_name="ecdw-profile",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "8")),
        sf_dir=sf_dir,
    )
    catalog = get_catalog()
    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "profile")
    os.makedirs(plans_dir, exist_ok=True)
    # warm the same session artifacts bench.py declares warm, but only
    # the cheap universal ones; entries that need the index builds
    # should be profiled via bench.py itself
    materialize(catalog["olap_monthly_revenue_by_country"].fn(spark, "/root/testdata/sf0.001"))
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.llm_ops import (
        _doc_shingles,
    )
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans.text_mining import (
        tokenized_docs,
    )
    from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.star import (
        StarSchema,
    )

    star = StarSchema(spark, sf_dir)
    for t in (star.dim_customer, star.dim_product, star.dim_date, star.fact_sales):
        materialize(t)
    materialize(_doc_shingles(spark, sf_dir))
    materialize(tokenized_docs(spark, sf_dir))

    for name in names:
        entry = catalog[name]
        base_ids = persistent_rdd_ids(spark)
        rebuild = "iterative" in entry.tags
        spark.sparkContext.setJobDescription(f"profile:{name}")
        df = entry.fn(spark, sf_dir)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        if os.environ.get("SPARK_GRAFT_PROF_EXPLAIN_ONLY") == "1":
            evict_rdds(spark, persistent_rdd_ids(spark) - base_ids)
            print(f"{name}: plan captured ({tag})", flush=True)
            continue
        materialize(df)  # warm-up
        samples = []
        for _ in range(reps):
            evict_rdds(spark, persistent_rdd_ids(spark) - base_ids)
            t0 = time.perf_counter()
            if rebuild:
                df = entry.fn(spark, sf_dir)
            materialize(df)
            samples.append(round(time.perf_counter() - t0, 3))
        evict_rdds(spark, persistent_rdd_ids(spark) - base_ids)
        print(
            f"{name}: median={statistics.median(samples):.3f}s samples={samples}",
            flush=True,
        )
    with open(os.path.join(plans_dir, f"jvm_{tag}.json"), "w") as f:
        json.dump(jvm_facts(spark), f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()

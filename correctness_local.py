"""Full-catalog correctness artifact: runs EVERY catalog entry on Spark
AND its DuckDB oracle at sf0.01 and writes ``CORRECTNESS_LOCAL.json`` in
the driver's CORRECTNESS_r{N}.json format (rows/schema/hash verdicts).

The driver samples ~50 of the catalog per round; this artifact carries
the machine-readable verdict for the rest (VERDICT r4 "What's missing"
#1 / "Next round" #3). Refresh as part of the round's verify sweep:

    python correctness_local.py            # sf0.01, all entries
    SPARK_GRAFT_TEST_SF=/root/testdata/sf0.1 python correctness_local.py

INCREMENTAL MODE (r11 — verdict #6): the dual-scale sweep grows
linearly with the catalog and was becoming the round bottleneck.
``--changed-only`` fingerprints each entry (sha256 of its NORMALIZED
analyzed-plan text — expression ids stripped, so the hash is stable
across sessions — plus the oracle SQL plus a digest of ALL package
source: the plan alone cannot see inside Arrow-UDF bodies or
scratch-table builders, so any engine code change conservatively
re-verifies everything) against the fingerprints recorded in
the existing artifact, and re-runs the oracle comparison ONLY for
entries whose fingerprint moved, was never recorded, or previously
failed; unchanged-and-green entries carry forward — the accelerator
for entry additions and oracle edits, never for code edits. Building
every entry's DataFrame is still required (the fingerprint needs the
plan), so only the collect + DuckDB oracle (the expensive half) is
skipped. A full run (no flag) is still required at the round freeze.

Comparison semantics are IDENTICAL to tests/conftest.py's
assert_matches_oracle (column-name-sorted, order-insensitive multiset of
normalized cell tokens) — the same gate pytest enforces; this script
just emits the per-entry result as JSON instead of asserting.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans import get_catalog
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.session import get_spark
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.tpch import TABLES
from tests.conftest import rows_to_multiset

OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    os.environ.get("SPARK_GRAFT_CORR_OUT", "CORRECTNESS_LOCAL.json"),
)

#: analyzed-plan noise that varies run-to-run without a semantic change
_EXPR_ID = re.compile(r"#\d+L?")
_VIEW_ID = re.compile(r"__v\d+")  # time-travel temp-view version tags


def _normalize_plan(plan: str) -> str:
    """Strip per-session expression ids (#123 / #123L) so the same
    logical plan fingerprints identically across sessions."""
    return _VIEW_ID.sub("__v", _EXPR_ID.sub("#", plan))


def package_source_digest() -> str:
    """sha256 over every .py file in the engine package. Mixed into
    each fingerprint because the analyzed plan alone cannot see inside
    Arrow-batched Python bodies (mapInPandas prints only a function
    reference) or scratch-table BUILDER logic (a built demo table
    short-circuits to a plain parquet scan) — so ANY package source
    change re-verifies the whole catalog; --changed-only accelerates
    entry additions and oracle edits, never code edits."""
    import glob as _g

    h = hashlib.sha256()
    pkg = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "e_commerce_data_warehouse_power_bi_analytics_dashboard_spark",
    )
    for f in sorted(_g.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def entry_fingerprint(
    df, oracle: str | None, code_digest: str = "", sf_dir: str = ""
) -> str:
    """sha256 over (normalized analyzed plan, oracle SQL, package code
    digest, data directory) — moves when the entry's Spark composition,
    its oracle, ANY engine source, or the scale under test changes;
    stable across sessions otherwise. ``sf_dir`` is mixed in so a green
    result recorded at one scale can never carry forward to a sweep at
    another scale writing the same OUT file (ADVICE r11 #1) — the plan
    usually embeds the data path, but rows-only/scratch-table entries
    may not."""
    plan = df._jdf.queryExecution().analyzed().toString()
    h = hashlib.sha256()
    h.update(_normalize_plan(plan).encode())
    h.update(b"\x00")
    h.update((oracle or "<rows-only>").encode())
    h.update(b"\x00")
    h.update(code_digest.encode())
    h.update(b"\x00")
    h.update(sf_dir.encode())
    return h.hexdigest()[:16]


# git_head lives in harness_util (shared by every artifact script —
# r12 verdict #4: staleness vs the freeze commit is machine-checkable)
from harness_util import git_head  # noqa: E402


def needs_rerun(old_rec: dict | None, fp: str) -> bool:
    """An entry skips re-verification ONLY when the existing artifact
    has it green under the SAME fingerprint; anything else — missing,
    fingerprint moved, previously errored or mismatched — re-runs."""
    if not old_rec or old_rec.get("fingerprint") != fp:
        return True
    if old_rec.get("err") is not None:
        return True
    if not old_rec.get("rows_match") or not old_rec.get("schema_match"):
        return True
    return old_rec.get("hash_match") is False


def verify_entry(con, q, df, rebuild=None) -> dict:
    """One entry's oracle comparison (the driver's semantics).
    ``rebuild`` (rows-only entries) must RECONSTRUCT the DataFrame so
    the stability re-run exercises builder-level determinism, not just
    a re-execution of the same plan."""
    rec: dict = {
        "rows_match": False, "schema_match": False, "hash_match": False,
        "spark_rows": None, "oracle_rows": None, "err": None,
    }
    sp_cols = df.columns
    sp_rows = [tuple(r) for r in df.collect()]
    rec["spark_rows"] = len(sp_rows)
    if q.oracle is None:
        # rows-only check (non-SQL-expressible op): stable re-BUILD
        df2 = rebuild() if rebuild is not None else df
        n2 = len(df2.take(len(sp_rows) + 1))
        rec.update(
            rows_match=(n2 == len(sp_rows)), schema_match=True,
            hash_match=None, oracle_rows=None, rows_only=True,
        )
        return rec
    res = con.execute(q.oracle)
    du_cols = [d[0] for d in res.description]
    du_rows = res.fetchall()
    rec["oracle_rows"] = len(du_rows)
    rec["rows_match"] = len(sp_rows) == len(du_rows)
    rec["schema_match"] = sorted(sp_cols) == sorted(du_cols)
    rec["hash_match"] = (
        rec["rows_match"]
        and rec["schema_match"]
        and rows_to_multiset(sp_cols, sp_rows)
        == rows_to_multiset(du_cols, du_rows)
    )
    return rec


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    changed_only = "--changed-only" in sys.argv
    spark = get_spark(
        app_name="ecdw-correctness-local", shuffle_partitions=8, sf_dir=sf_dir
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    catalog = get_catalog()
    # optional name filter for fast iteration: any argv names (or substring
    # with a trailing *) restrict the sweep AND suppress the artifact write
    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    if only:
        names = [
            n for n in catalog
            if any(n == o or (o.endswith("*") and n.startswith(o[:-1])) for o in only)
        ]
        catalog = {n: catalog[n] for n in names}
    previous: dict[str, dict] = {}
    if changed_only and os.path.exists(OUT):
        with open(OUT) as f:
            prev_all = json.load(f)
        prev_sf = prev_all.get("_summary", {}).get("sf_dir")
        if prev_sf == sf_dir:
            previous = {
                k: v for k, v in prev_all.items() if not k.startswith("_")
            }
        else:  # scale changed under the same OUT file: nothing carries
            print(f"  !! previous artifact is {prev_sf!r}, current sweep is "
                  f"{sf_dir!r} — carry-forward disabled", flush=True)
    results: dict[str, dict] = {}
    carried = 0
    code_digest = package_source_digest()
    t_start = time.perf_counter()
    for name in sorted(catalog):
        q = catalog[name]
        try:
            df = q.fn(spark, sf_dir)
            fp = entry_fingerprint(df, q.oracle, code_digest, sf_dir)
            if changed_only and not needs_rerun(previous.get(name), fp):
                results[name] = previous[name]
                carried += 1
                print(f"  --  {name}: unchanged (fp {fp})", flush=True)
                continue
            rec = verify_entry(con, q, df, rebuild=lambda: q.fn(spark, sf_dir))
            rec["fingerprint"] = fp
        except Exception as e:  # noqa: BLE001 - artifact records, never dies
            rec = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(e).__name__}: {e}"[:500],
            }
        results[name] = rec
        ok = rec["err"] is None and rec["rows_match"] and rec["schema_match"] and (
            rec["hash_match"] is not False
        )
        print(f"  {'ok ' if ok else 'BAD'} {name}: spark={rec['spark_rows']}"
              f" oracle={rec['oracle_rows']}", flush=True)

    n_bad = sum(
        1 for r in results.values()
        if r["err"] is not None or not r["rows_match"] or not r["schema_match"]
        or r["hash_match"] is False
    )
    # completeness: a full sweep must cover the ENTIRE catalog — a stale
    # artifact (entries < catalog) is a failure even with zero bad rows
    # (VERDICT r7 "What's wrong" #1)
    n_catalog = len(get_catalog())
    incomplete = not only and len(results) != n_catalog
    summary = {
        "sf_dir": sf_dir,
        "entries": len(results),
        "catalog": n_catalog,
        "bad": n_bad,
        "rows_only": sum(1 for r in results.values() if r.get("rows_only")),
        "elapsed_sec": round(time.perf_counter() - t_start, 1),
        "git_head": git_head(),
    }
    if changed_only:
        summary["changed_only"] = True
        summary["carried_forward"] = carried
        summary["reverified"] = len(results) - carried
    if not only:  # partial sweeps never clobber the full artifact
        with open(OUT, "w") as f:
            json.dump({"_summary": summary, **results}, f, indent=1)
    print(json.dumps(summary))
    spark.stop()
    sys.exit(1 if (n_bad or incomplete) else 0)


if __name__ == "__main__":
    main()

"""Shared helpers for the round-artifact harness scripts
(correctness_local.py, bench.py, plan_audit.py, bench_sf1.py,
profile_entries.py).

Freeze discipline (r12 — verdict #4): every committed artifact records
the git HEAD it was generated against (tests/test_artifacts.py gates
that the recorded HEAD is the freeze commit or an ancestor of it — a
post-freeze commit without artifact regeneration turns the gate red),
and bench-class runs WAIT for a quiet machine instead of producing
contended-only numbers two rounds running.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def git_head() -> str | None:
    """Short hash of the working tree's HEAD, plus a ``+dirty`` marker
    when uncommitted changes exist. None when git is unavailable —
    artifact metadata must never make a run fail."""
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        if not head:
            return None
        status = subprocess.run(
            ["git", "status", "--porcelain"], cwd=REPO,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        return head + ("+dirty" if status else "")
    except Exception:  # noqa: BLE001 - metadata only
        return None


def wait_for_quiet(
    load1_max: float = 1.5,
    budget_sec: float | None = None,
    poll_sec: float = 20.0,
) -> float:
    """Block until load1 <= ``load1_max`` or the budget runs out
    (default 600 s; env SPARK_GRAFT_BENCH_WAIT_QUIET_SEC overrides, 0
    disables). Returns the seconds actually waited. The caller still
    samples the load afterwards and tags the artifact ``contended`` if
    the budget expired busy — waiting is best-effort, the tag is the
    guarantee."""
    if budget_sec is None:
        budget_sec = float(
            os.environ.get("SPARK_GRAFT_BENCH_WAIT_QUIET_SEC", "600")
        )
    waited = 0.0
    while budget_sec > 0 and os.getloadavg()[0] > load1_max:
        if waited == 0.0:
            print(
                f"load1={os.getloadavg()[0]:.2f} > {load1_max} — waiting "
                f"for a quiet machine (budget {budget_sec:.0f}s)",
                file=sys.stderr, flush=True,
            )
        if waited >= budget_sec:
            break
        step = min(poll_sec, budget_sec - waited)
        time.sleep(step)
        waited += step
    return waited


def jvm_facts(spark) -> dict:
    """What the engine JVM's JIT did, read from its management beans:
    the JIT flags it was started with, the total compilation time, and
    the code cache's used / peak / max MB. A peak at the max means the
    cache filled and the JIT ran out of room to compile, the failure
    the 240 MB cache in ``session.C1_OPTIONS`` prevents."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    flags = [
        a for a in mf.getRuntimeMXBean().getInputArguments()
        if a.startswith("-XX:") and any(k in a for k in ("Tiered", "CodeCache", "Compil"))
    ]
    # one "CodeCache" pool, or three "CodeHeap '...'" pools when the
    # cache is segmented (tiered C1+C2 with a cache of 240 MB or more)
    pools = [
        p for p in mf.getMemoryPoolMXBeans()
        if p.getName() == "CodeCache" or p.getName().startswith("CodeHeap")
    ]
    mb = 1 << 20
    return {
        "jit_flags": flags,
        "compile_ms": int(mf.getCompilationMXBean().getTotalCompilationTime()),
        "code_cache_mb": {
            "used": round(sum(p.getUsage().getUsed() for p in pools) / mb, 1),
            "peak": round(sum(p.getPeakUsage().getUsed() for p in pools) / mb, 1),
            "max": round(sum(p.getUsage().getMax() for p in pools) / mb, 1),
        },
    }

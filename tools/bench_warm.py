"""Warm-bench companion to bench.py: run every headline query twice
in one JVM and report the SECOND timing — steady-state plan cost with
whole-stage codegen and plan compilation already paid. bench.py's
one-shot numbers stay the driver-comparable record (same methodology
as the r1 baseline); this artifact exists so "how fast is the plan"
and "how fast is first-invocation" are never conflated.

Usage: python tools/bench_warm.py [sf_dir]   # writes BENCH_WARM.md
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from osm_airflow_spark.registry import all_queries  # noqa: E402
from osm_airflow_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-warm")
    queries = all_queries()
    rows = []
    for key in HEADLINE:
        q = queries[key]
        t0 = time.time()
        q(spark, sf_dir).count()
        cold = time.time() - t0
        t1 = time.time()
        q(spark, sf_dir).count()
        warm = time.time() - t1
        rows.append([key, cold, warm])
        spark.sparkContext._jvm.System.gc()
    total_cold = sum(r[1] for r in rows)
    total_warm = sum(r[2] for r in rows)
    out = [
        "# BENCH_WARM — steady-state headline timings",
        "",
        f"Generated by tools/bench_warm.py at {sf_dir} (local[32]).",
        "First-run includes codegen + plan compilation; warm is the",
        "second run in the same JVM with a rebuilt plan. bench.py's",
        "one-shot methodology remains the round-comparable record;",
        "this file contextualizes it.",
        "",
        "| query | first run (s) | warm (s) | compile share |",
        "| --- | --- | --- | --- |",
    ]
    for key, cold, warm in rows:
        share = 0.0 if cold == 0 else max(0.0, (cold - warm) / cold)
        out.append(f"| {key} | {cold:.3f} | {warm:.3f} | {share:.0%} |")
    out.append(f"| **total** | **{total_cold:.3f}** | **{total_warm:.3f}** | |")
    out.append("")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_WARM.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote BENCH_WARM.md (cold {total_cold:.2f}s, warm {total_warm:.2f}s)")


if __name__ == "__main__":
    main()

"""Warm 3-pass noop timings for named keys (the r15 A/B harness).

Times ONLY the Spark computation via the noop sink (guide §1.4), three
passes in one warm JVM with a System.gc() between passes, and prints
one JSON line of the sorted per-key pass times. Run once on a baseline
worktree and once on the working tree under the same box conditions;
the MEDIAN (middle value) is the comparison number — sf0.01 single
shots vary ±2x on unchanged code (r14 finding), warm medians are
stable to ~10%.

The passes run back to back on one key, so passes 2-3 reuse the
classes pass 1 compiled whenever that one key's classes fit the
generated-class cache. They fit Spark's default of 100 entries for
most keys, but not for the few that need close to 100: at the default,
graph_closeness (84 classes at sf0.001) recompiled 22 on its second
pass. This harness never showed the cross-key recompiles that a mixed
pass over many keys pays when the cache is smaller than their working
set (session.CODEGEN_CACHE_MAX_ENTRIES).

Usage: SF_DIR=/root/testdata/sf0.1 python tools/noop_median.py key [key ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_airflow_spark.registry import all_queries  # noqa: E402
from osm_airflow_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
    keys = sys.argv[1:]
    spark = get_spark("noop-median")
    q = all_queries()
    # warm JVM + parquet footers
    q["agg_groupby"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    out: dict[str, list[float]] = {}
    for k in keys:
        ts = []
        for _ in range(3):
            spark.sparkContext._jvm.System.gc()
            t0 = time.time()
            q[k](spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        ts.sort()
        out[k] = ts
    print(json.dumps(out))


if __name__ == "__main__":
    main()

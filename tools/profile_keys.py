"""Per-key Spark-side wall time over the whole registered surface.

The oracle gate's per-key seconds include DuckDB and the pandas
canonicalization, so they cannot rank Spark cost. This harness times
ONLY the Spark computation, via the noop sink (guide §1.4 — count()
lets the optimizer prune columns; noop materializes every column of
every row), one pass per key, labeled jobs.

Each key is then built and run a second time. ``warm_compiles`` is the
number of generated classes that second pass compiled. With the
generated-class cache sized to the working set it is 0, unless the
key's generated code differs between builds (for some keys it does,
intermittently); no cache size helps those keys, and the tool prints
them.

Usage: python tools/profile_keys.py [out.json] [key ...]
       SF_DIR=/root/testdata/sf0.01 python tools/profile_keys.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_airflow_spark.registry import all_queries  # noqa: E402
from osm_airflow_spark.session import codegen_compiles, get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    out_path = args[0] if args else "/tmp/profile_keys.json"
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("profile-keys")
    queries = all_queries()
    keys = args[1:] or sorted(queries)

    # warm JVM + parquet footers
    queries["agg_groupby"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    def run(key: str) -> None:
        queries[key](spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    warm_compiles: dict[str, int] = {}
    errors: dict[str, str] = {}
    for i, key in enumerate(keys):
        spark.sparkContext.setJobDescription(f"profile:{key}")
        c0 = codegen_compiles(spark)
        t0 = time.time()
        try:
            run(key)
            timings[key] = round(time.time() - t0, 3)
            c1 = codegen_compiles(spark)
            run(key)
            compiles[key] = c1 - c0
            warm_compiles[key] = codegen_compiles(spark) - c1
        except Exception as e:  # noqa: BLE001
            errors[key] = f"{type(e).__name__}: {e}"
        if (i + 1) % 25 == 0:
            print(f"{i + 1}/{len(keys)}", flush=True)
    spark.sparkContext.setJobDescription(None)

    with open(out_path, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "timings": timings,
                "compiles": compiles,
                "warm_compiles": warm_compiles,
                "errors": errors,
            },
            f,
            indent=1,
        )
    for k, v in sorted(timings.items(), key=lambda kv: -kv[1])[:40]:
        print(f"{v:8.3f}  {k}")
    recompiling = {k: n for k, n in warm_compiles.items() if n}
    print(f"warm rebuild still compiles: {len(recompiling)} key(s)")
    for k, n in sorted(recompiling.items(), key=lambda kv: -kv[1]):
        print(f"{n:6d}  {k}")
    if errors:
        print("ERRORS:", json.dumps(errors, indent=1))


if __name__ == "__main__":
    main()

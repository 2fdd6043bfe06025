"""Record the row digests of the rows-only query keys.

    python3 perfbench/record_digests.py
    PERFBENCH_SF_DIR=<dir>/sf0.1 python3 perfbench/record_digests.py

DuckDB has no oracle for some keys of the query workloads (approximate
or seeded operators). The benchmark compares every answer of such a
key, in every iteration, with the digest written here for the tables
it reads (perfbench/fixtures/sf0.01, or PERFBENCH_SF_DIR). Each key
runs twice in one process, in a fresh session set up as the benchmark's; a
key whose two answers differ is not recorded and the script exits
non-zero. Re-record only when a key's intended output changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path[0] = ROOT
    from perfbench.run import load_spec, pin_environment, stop
    from perfbench.workloads import DIGESTS_PATH, FIXTURE_DIR, digest

    keys = sorted({k for w in load_spec()["workloads"].values() for k in w.get("keys", [])})
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    cwd = os.getcwd()
    try:
        pin_environment(work)
        from osm_airflow_spark.registry import all_oracles, all_queries
        from osm_airflow_spark.session import get_spark

        spark = get_spark("perfbench-digests")
        try:
            queries, oracles = all_queries(), all_oracles()
            digests, unstable = {}, []
            for key in keys:
                if key in oracles:
                    continue
                answers = {digest(queries[key](spark, FIXTURE_DIR).toPandas()) for _ in range(2)}
                if len(answers) == 1:
                    digests[key] = answers.pop()
                else:
                    unstable.append(key)
        finally:
            stop(spark)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    if unstable:
        print(f"answers differ between runs, not recorded: {unstable}", file=sys.stderr)
        return 1
    recorded = {"canon": "tools/check.canon", "digests": {}}
    if os.path.isfile(DIGESTS_PATH):
        with open(DIGESTS_PATH) as fh:
            recorded = json.load(fh)
    recorded["digests"][os.path.basename(FIXTURE_DIR.rstrip("/"))] = digests
    with open(DIGESTS_PATH, "w") as fh:
        json.dump(recorded, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(digests, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

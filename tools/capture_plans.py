"""Capture ``explain("formatted")`` for named query keys into
plans/<tag>/<key>_<suffix>.txt — the judge-reviewable evidence behind
OPTIMIZATION_r*.md plan claims.

Usage: python tools/capture_plans.py <tag> <suffix> [key ...]
       (no keys → the bench HEADLINE list)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from osm_airflow_spark.registry import all_queries  # noqa: E402
from osm_airflow_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture-plans")
    queries = all_queries()
    for key in keys:
        df = queries[key](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()

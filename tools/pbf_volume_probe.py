"""PBF decode volume probe (VERDICT r13 #5): measure the blob
fan-out at multi-hundred-MB scale — throughput (MB/s, blobs/s,
elements/s) and per-worker peak memory — on a dense-planet file from
tools/make_dense_pbf.py.

The file is cached under /tmp keyed by target size (same bytes every
run — the generator is deterministic), so repeated probes and the
bench pay generation once per box.

What the numbers mean at 100 TB: the unit of decode parallelism is
the blob — a JVM range of blob ids over the validated offsets
(sources/pbf.py:_offsets_df) — so throughput scales linearly with
executors as long as per-task memory stays bounded, which is what
worker_peak_rss_mb proves (one inflated blob + its row batch, NOT
file-proportional).

Usage: python tools/pbf_volume_probe.py [target_mb] → one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def dense_file(target_mb: int) -> tuple[str, dict]:
    """Generate-or-reuse the cached dense file; return (path, facts)."""
    path = f"/tmp/spark_graft_dense_{target_mb}mb.osm.pbf"
    facts_path = path + ".facts.json"
    if os.path.exists(path) and os.path.exists(facts_path):
        with open(facts_path) as fh:
            facts = json.load(fh)
        if facts.get("bytes") == os.path.getsize(path):
            facts["gen_cached"] = True
            return path, facts
    from tools.make_dense_pbf import build

    t0 = time.time()
    facts = build(path, target_mb)
    facts["gen_s"] = round(time.time() - t0, 2)
    facts["gen_cached"] = False
    with open(facts_path, "w") as fh:
        json.dump(facts, fh)
    return path, facts


def probe(spark, target_mb: int) -> dict:
    from pyspark.sql import functions as F

    from osm_airflow_spark.sources.pbf import (
        _decode_union,
        _offsets_df,
        read_pbf_elements,
    )

    path, facts = dense_file(target_mb)
    mb = facts["bytes"] / (1024 * 1024)

    # full decode fan-out: per-kind counts force every blob through
    # the block decoder exactly once (single pass, union output)
    t0 = time.time()
    counts = dict(
        read_pbf_elements(spark, path).groupBy("kind").count().collect()
    )
    decode_s = time.time() - t0
    elements = sum(counts.values())

    # per-worker peak RSS: run the ingest's own decode body
    # (_decode_union: decoder plus union frames, per blob) again over
    # the same fan-out, and report ru_maxrss (KB on Linux) — proves
    # per-task memory is one-inflated-blob bounded, not
    # file-proportional
    ids, offsets = _offsets_df(spark, path)
    decode = _decode_union(path, offsets)

    def _rss(iterator):
        import resource

        import pandas as pd

        for _frame in decode(iterator):
            pass
        peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        yield pd.DataFrame({"peak_kb": [peak]})

    peak_kb = (
        ids.mapInPandas(_rss, "peak_kb long")
        .agg(F.max("peak_kb"))
        .first()[0]
    )

    return {
        "metric": "pbf_decode_volume",
        "file_mb": round(mb, 1),
        "blobs": facts["blobs"],
        "nodes": facts["nodes"],
        "ways": facts["ways"],
        "gen_cached": facts["gen_cached"],
        "gen_s": facts.get("gen_s"),
        "counts": counts,
        "decode_s": round(decode_s, 2),
        "mb_per_s": round(mb / decode_s, 1),
        "blobs_per_s": round(facts["blobs"] / decode_s, 1),
        "elements_per_s": int(elements / decode_s),
        "worker_peak_rss_mb": round(peak_kb / 1024, 1),
    }


if __name__ == "__main__":
    from osm_airflow_spark.session import get_spark

    target_mb = int(sys.argv[1]) if len(sys.argv) > 1 else 256
    out = probe(get_spark("pbf-volume-probe"), target_mb)
    print(json.dumps(out))

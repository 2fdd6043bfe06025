"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed via the same registry the driver checks; the
timed action is a full materialization (count via write-less
``df.toPandas`` would bias toward small results, so we use
``df.count()`` after a no-op cache-free plan — the dominant cost is
the scan/shuffle/agg pipeline itself).

Methodology (r9): each query runs THREE passes in one JVM and
reports the per-query MEDIAN; ``value`` is the sum of medians. The
r8 verdict showed one-shot numbers whipsaw ±35% on queries whose
code did not change (JIT/codegen/GC landing noise), making
round-over-round deltas meaningless — the median inside one process
is stable to a few percent (BENCH_WARM.md). The first pass is kept
verbatim in ``one_shot`` / ``one_shot_total`` for continuity with
BENCH_r01–r08, which were single-pass.

Environment self-diagnosis (r10): the r9 driver bench inflated ~1.5x
uniformly — including queries whose code did not change — while the
same round's warm bench was the fastest ever recorded; the only
plausible cause was box-level contention, but the harness recorded
nothing that could prove it. Now every run embeds:

* ``loadavg``      — os.getloadavg() before and after the run. On a
  32-cpu box a 1-minute load far above the ~33 this process itself
  generates means other processes were competing for cores.
* ``calib_s``      — a fixed-work single-task calibration: xxhash64
  over spark.range(2e7) in ONE partition (single JVM thread, zero
  shuffle, zero Python). Median of 3. This measures per-core
  throughput under whatever contention exists; its clean-box value
  is recorded in SCALE.md (r10 ledger), so a contaminated run
  self-identifies as calib_s >> clean value.
* ``calib_py_s``   — the same idea CPU-side in pure Python (fixed
  sha256 loop), distinguishing "JVM/GC issue" from "whole box slow".

Readers should divide ``value`` by (calib_s / clean_calib_s) before
comparing across rounds if calib_s is inflated.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_airflow_spark.registry import all_queries  # noqa: E402
from osm_airflow_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "flagship_revenue_by_region",
    "pipeline_pricing_summary",
    "pipeline_shipping_priority",
    "pipeline_local_supplier_volume",
    "pipeline_top_returning_customers",
    "join_multiway",
    "agg_groupby",
    "agg_collect_ordered",
    "win_dedup_latest",
    "win_topk_group",
    "join_asof",
    "set_union_distinct",
    "win_time_session",
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_sim_topk",
    "llm_text_stats",
]


def _scaling_probe_df(spark, sf_dir: str):
    """Deliberately COMPUTE-HEAVY, embarrassingly parallel probe
    (VERDICT r14 #6): at sf0.1 every headline query is scheduling/
    plan-compile-bound, so the driver's 8-vs-32-core scaling block
    measured ratios ≈ 1 for everything and could not distinguish
    parallel from serial. This probe chains 48 xxhash64 calls over a
    ×128 explode of lineitem keys (~3.7e9 hash units at sf0.1) spread
    over 4×defaultParallelism partitions — whole-stage-codegen map
    work feeding one 1-row sum, no Python, negligible I/O — so its
    low/high-core ratio tracks cores. Timed ONCE after the headline
    passes (same gc+count methodology) and reported as an ADDITIVE
    entry in ``queries``; EXCLUDED from ``value`` so the r1-comparable
    17-key total stays comparable across rounds."""
    from pyspark.sql import functions as F

    from osm_airflow_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    rows = li.repartition(spark.sparkContext.defaultParallelism * 4)
    h = F.xxhash64("l_orderkey", "l_partkey", "r")
    for _ in range(48):
        h = F.xxhash64(h)
    return (
        rows.select(
            "l_orderkey",
            "l_partkey",
            F.explode(F.sequence(F.lit(1), F.lit(128))).alias("r"),
        )
        # % bounds the summand so the ANSI long sum can't overflow
        .select((h % 1024).alias("u"))
        .agg(F.sum("u").alias("probe_sum"))
        # the timed action is count() (the r1-comparable methodology),
        # which would prune an unused aggregate column and skip the
        # entire hash chain (guide §1.4) — filtering ON the sum forces
        # the computation while keeping count() as the action
        .where(F.col("probe_sum").isNotNull())
    )


def _calibrate_jvm(spark, rows: int = 20_000_000, reps: int = 3) -> float:
    """Fixed-work single-task JVM calibration (seconds, median of reps).

    One partition -> one task -> one JVM thread; xxhash64 + sum keeps
    the whole loop inside whole-stage codegen with zero shuffle and
    zero Python, so the timing is a pure per-core-throughput probe.
    """
    from pyspark.sql import functions as F

    times = []
    for _ in range(reps):
        t0 = time.time()
        (
            spark.range(0, rows, 1, 1)
            # % bounds the summand so the ANSI-mode long sum can't
            # overflow (raw xxhash64 values overflow at ~1e10 rows)
            .select((F.xxhash64("id") % 1024).alias("h"))
            .agg(F.sum("h"))
            .collect()
        )
        times.append(time.time() - t0)
    times.sort()
    return round(times[len(times) // 2], 3)


def _calibrate_py(reps: int = 200_000) -> float:
    """Fixed-work pure-Python calibration (seconds): sha256 chain."""
    import hashlib

    t0 = time.time()
    buf = b"\x00" * 64
    for _ in range(reps):
        buf = hashlib.sha256(buf).digest()
    return round(time.time() - t0, 3)


def _partitioned_pass(spark, sf_dir: str) -> dict:
    """Partition-pruning rehearsal on a REAL multi-file layout
    (VERDICT r12 #5): every fixture is a single parquet file, so
    until now partition pruning was proven by plan text only. Write
    a dated-partitioned copy of lineitem (ship month) and events
    (event date) once per run, then time a date-predicate aggregate
    over each and record how many files the scan actually READ
    (runtime ``numFiles`` metric — ``inputFiles()`` reports the
    pre-pruning FileIndex and would show nothing). The skip ratio is
    the number that transfers to a 100 TB dated lake: a 3-month
    query over 83 ship months must touch ~3/83 of the files."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from osm_airflow_spark.io import load_table

    base = tempfile.mkdtemp(prefix="bench_partitioned_")
    out: dict = {}
    try:
        t0 = time.time()
        (
            load_table(spark, sf_dir, "lineitem")
            .withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))
            .write.partitionBy("ship_month")
            .mode("overwrite")
            .parquet(base + "/lineitem")
        )
        (
            load_table(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .write.partitionBy("event_date")
            .mode("overwrite")
            .parquet(base + "/events")
        )
        out["write_sec"] = round(time.time() - t0, 3)

        cases = {
            "lineitem_3mo": (
                base + "/lineitem",
                F.col("ship_month").between("1996-01", "1996-03"),
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
            ),
            "events_7d": (
                base + "/events",
                F.col("event_date").between("2024-01-08", "2024-01-14"),
                F.count(F.lit(1)),
            ),
        }
        for name, (path, pred, agg) in cases.items():
            reps = []
            for _ in range(3):
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                spark.read.parquet(path).where(pred).agg(agg.alias("v")).collect()
                reps.append(round(time.time() - t0, 3))
            # numFiles comes off a plain filtered scan: under AQE the
            # agg plan's leaves are query stages, not the file scan.
            # Execute the probe's OWN queryExecution (.count() builds
            # a separate agg execution and leaves these metrics at
            # zero — measured) WITHOUT shipping rows to the driver:
            # toRdd().count() runs the identical plan, transfers
            # nothing (r13 self-review: .collect() hauled ~10⁵ rows
            # of lit(1) just to read a counter)
            probe = spark.read.parquet(path).where(pred).select(F.lit(1))
            probe._jdf.queryExecution().toRdd().count()
            scan = (
                probe._jdf.queryExecution()
                .executedPlan()
                .collectLeaves()
                .apply(0)
            )
            files_read = int(scan.metrics().apply("numFiles").value())
            files_total = len(spark.read.parquet(path).inputFiles())
            reps.sort()
            out[name] = {
                "sec": reps[len(reps) // 2],
                "files_read": files_read,
                "files_total": files_total,
                "skip_ratio": round(1 - files_read / files_total, 3),
            }
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    load_before = os.getloadavg()
    spark = get_spark("bench")
    registry = all_queries()
    queries = {k: registry[k] for k in HEADLINE if k in registry}

    # warm the JVM + parquet footers once so per-query numbers measure
    # the plan, not first-touch overheads
    next(iter(queries.values()))(spark, sf_dir).count()

    calib_s = _calibrate_jvm(spark)
    calib_py_s = _calibrate_py()

    # Self-normalizing record (VERDICT r13 #3): the r12→r13 +12.7%
    # drift was pure box speed (calibration itself moved +9.2%), but
    # proving that cost a session of narrative because the JSON held
    # only raw numbers. CALIB_REF pins the documented clean-box floor
    # (SCALE.md r10 ledger: quiet-box calib_s 0.17-0.20; 0.20 chosen
    # as the conservative edge). value_normalized rescales the total
    # by measured per-core throughput so cross-round comparison is
    # self-contained; readers compare value_normalized first and only
    # reach for the raw value when calib_s ~= CALIB_REF.
    CALIB_REF = 0.20

    passes: list[dict[str, float]] = []
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    for _ in range(n_passes):
        timings: dict[str, float] = {}
        for key, fn in queries.items():
            # drain garbage accumulated by EARLIER queries so a major
            # GC pause can't bill to whichever later query it lands in
            # (the r4 tail-of-list drift on the llm_dedup_* keys;
            # plans and isolated timings were unchanged — SCALE.md r5)
            spark.sparkContext._jvm.System.gc()
            t0 = time.time()
            fn(spark, sf_dir).count()
            timings[key] = round(time.time() - t0, 3)
        passes.append(timings)

    import statistics

    # statistics.median averages the middle two for even pass counts
    # (the [n // 2] pick would report the upper one — biased high)
    median = {
        k: round(statistics.median(p[k] for p in passes), 3)
        for k in passes[0]
    }
    total = round(sum(median.values()), 3)
    one_shot = passes[0]

    # Additive scaling probe (see _scaling_probe_df), timed once after
    # the headline passes so its shuffle state cannot leak into them.
    # It rides in `queries` only; `value` stays the sum over the 17
    # r1-comparable HEADLINE keys.
    spark.sparkContext._jvm.System.gc()
    t0 = time.time()
    _scaling_probe_df(spark, sf_dir).count()
    median["scaling_probe"] = round(time.time() - t0, 3)
    partitioned = _partitioned_pass(spark, sf_dir)

    # PBF ingest volume line (VERDICT r13 #5): decode fan-out over a
    # cached 64 MB dense-planet file (tools/make_dense_pbf.py — ~300
    # blobs, one InputPartition each). The 256 MB probe lives in
    # tools/pbf_volume_probe.py + SCALE.md; this smaller per-round
    # line tracks decode throughput drift.
    from tools.pbf_volume_probe import probe as pbf_probe

    pbf_ingest = pbf_probe(spark, 64)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "calib_ref": CALIB_REF,
                "value_normalized": round(total * (CALIB_REF / calib_s), 3),
                "queries_normalized": {
                    k: round(v * (CALIB_REF / calib_s), 3)
                    for k, v in median.items()
                },
                "queries": median,
                "sf": sf,
                "passes": n_passes,
                "one_shot": one_shot,
                "one_shot_total": round(sum(one_shot.values()), 3),
                "loadavg": {
                    "before": [round(x, 2) for x in load_before],
                    "after": [round(x, 2) for x in os.getloadavg()],
                },
                "calib_s": calib_s,
                "calib_py_s": calib_py_s,
                "partitioned": partitioned,
                "pbf_ingest": pbf_ingest,
            }
        )
    )


if __name__ == "__main__":
    main()

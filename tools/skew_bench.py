"""Measure the skew story instead of only proving equivalence
(r7 verdict item 6).

Plants a 20%-of-rows hot key into a lineitem-shaped big side at sf0.1
scale (amplified 32x so task times dominate scheduling noise), joins
it against an orders-shaped unique-key side under three policies, and
records the per-task time distribution of the join stage from the
Spark event log:

  naive   AQE on but skew-join splitting OFF — the hot key's entire
          partition lands on ONE task (the straggler shape).
  aqe     AQE skew-join splitting ON (the engine default,
          session.configure_runtime): the oversized partition is
          split at runtime into advisory-sized chunks.
  salted  operators/skew.salted_join, 8 content-derived salts, AQE
          skew splitting off: the explicit fallback for joins whose
          skew AQE can't see (post-UDF shapes).

Broadcast is disabled throughout — a broadcast join has no shuffle to
skew, and at 100 TB the dim side of a genuinely skewed join doesn't
broadcast.

Method notes:
* Task durations come from SparkListenerTaskEnd events in the JSON
  event log (one file per run; job-group ids attribute stages to
  variants; the join stage = the stage with the largest total task
  time in each group). This is listener-bus truth, not wall-clock
  inference.
* The three variants assert identical join output counts first —
  equivalence stays a precondition, the measurement is on top.

Writes SKEWBENCH.json and prints a markdown table (pasted into
SCALE.md's round-8 ledger).

Usage: python tools/skew_bench.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
AMPLIFY = 32
N_SALTS = 8
HOT_FRACTION_MOD = 5  # xxhash64(pk) % 5 == 0 → ~20% of rows go hot


def build_session(event_dir: str):
    from pyspark.sql import SparkSession

    from osm_airflow_spark.session import CODEGEN_CACHE_MAX_ENTRIES, configure_runtime

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("skew-bench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", event_dir)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    configure_runtime(spark)
    return spark


def planted_tables(spark):
    """Big side: lineitem x AMPLIFY with 20% of rows re-keyed to ONE
    hot order key (content-derived selection — no rand()). Small
    side: orders with a padding column so it cannot broadcast
    accidentally and the join moves real bytes."""
    from pyspark.sql import functions as F

    # repartition(32) BEFORE the amplification: without it the big
    # side's 440 MB of map output comes from the parquet scan's ~3
    # input splits, and AQE skew-splitting — whose minimum split
    # granularity is ONE MAP OUTPUT — cannot carve a hot partition
    # fed by so few mappers (measured: zero skew specs, both reads
    # 'coalesced'). The same failure mode exists in production when a
    # giant file with coarse row groups feeds a skewed join: skew
    # mitigation needs mapper parallelism, not just reducer config.
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
        .repartition(32)
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    hot_key = o.select(F.min("o_orderkey")).first()[0]
    # payload: a per-row hash string, so the amplified rows are NOT
    # 32 identical copies. Without it the planted hot partition
    # compresses to ~6 MB on the map side (lz4 over duplicates) and
    # AQE — which detects skew on COMPRESSED map-output bytes — can
    # never see it (measured: median 0.33 MB, max 6.36 MB,
    # OptimizeSkewedJoin debug log). The production lesson stands on
    # its own: a hot KEY's rows are often self-similar, so
    # compressed-bytes skew detection understates row skew — tune
    # skewedPartitionThresholdInBytes to compressed sizes, not
    # logical sizes.
    big = (
        li.withColumn("_rep", F.explode(F.sequence(F.lit(1), F.lit(AMPLIFY))))
        .withColumn(
            "join_key",
            F.when(
                F.pmod(
                    F.xxhash64("l_orderkey", "l_partkey", "l_linenumber", "_rep"),
                    F.lit(HOT_FRACTION_MOD),
                )
                == 0,
                F.lit(hot_key),
            ).otherwise(F.col("l_orderkey")),
        )
        .withColumn(
            "payload",
            F.conv(
                F.xxhash64("l_partkey", "l_linenumber", "_rep", "l_orderkey")
                .cast("string"),
                10,
                16,
            ),
        )
        .drop("_rep")
    )
    small = o.withColumn("pad", F.lpad(F.col("o_custkey").cast("string"), 64, "x"))
    return big, small


def run_variant(spark, name: str, skew_join: bool, salted: bool) -> tuple[float, int]:
    from pyspark.sql import functions as F

    from osm_airflow_spark.operators.skew import salted_join

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.enabled", "true" if skew_join else "false"
    )
    # AQE's skew detection is ABSOLUTE-bytes: a partition is skewed
    # only above max(skewedPartitionThresholdInBytes, factor x median
    # partition). At this test's scale the planted hot partition is
    # ~210 MB — under the 256 MB default, so default AQE silently
    # does NOTHING about it (measured: identical max-rows task with
    # and without skewJoin at defaults). Size the thresholds to the
    # workload the way a cluster job would: threshold ~2x the median
    # partition, advisory chunk ~ the median partition.
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    big, small = planted_tables(spark)
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    t0 = time.time()
    if salted:
        joined = salted_join(
            big, small, F.col("join_key") == F.col("o_orderkey"), n_salts=N_SALTS
        )
    else:
        joined = big.join(small, F.col("join_key") == F.col("o_orderkey"))
    # per-row hash AFTER the join (same stage as the shuffle read) so
    # task time is proportional to rows processed — without it, local
    # NVMe + 32-thread contention constants flatten the straggler and
    # the measurement understates what a real cluster would see
    probe = joined.select(
        F.sha2(
            F.concat_ws(",", "pad", "payload", "l_quantity", "o_totalprice"), 256
        ).alias("h")
    )
    # noop sink: count() would let Catalyst prune the payload columns
    # out of the shuffle and the skew would move keys only
    probe.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    sc.setJobGroup("idle", "idle")  # keep the count job out of the group
    n = joined.count()
    return wall, n


def parse_event_log(event_dir: str) -> dict[str, dict]:
    """group → join-stage task stats. Attribution: JobStart carries
    the job group in Properties and its stage ids in Stage Infos;
    the join stage per group = max total task time."""
    files = []
    for root, _dirs, names in os.walk(event_dir):
        files += [
            os.path.join(root, f)
            for f in names
            if not f.startswith(".") and "appstatus" not in f
        ]
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for si in ev.get("Stage Infos", []):
                            stage_group[si["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Task Type") != "ResultTask":
                        continue  # the shuffle-read+join+sink stage
                    sid = ev.get("Stage ID")
                    info = ev.get("Task Info", {})
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    sr = (ev.get("Task Metrics") or {}).get(
                        "Shuffle Read Metrics", {}
                    )
                    recs = sr.get("Total Records Read", 0)
                    stage_tasks.setdefault(sid, []).append((dur, recs))
    out: dict[str, dict] = {}
    for sid, pairs in stage_tasks.items():
        group = stage_group.get(sid)
        if group in (None, "idle"):
            continue
        durs = sorted(d for d, _ in pairs)
        recs = sorted(r for _, r in pairs)
        cand = {
            "stage_id": sid,
            "n_tasks": len(durs),
            "total_s": round(sum(durs), 2),
            "median_s": round(statistics.median(durs), 3),
            "p95_s": round(durs[max(0, int(len(durs) * 0.95) - 1)], 3),
            "max_s": round(durs[-1], 3),
            "median_rows": int(statistics.median(recs)),
            "max_rows": recs[-1],
        }
        if group not in out or cand["total_s"] > out[group]["total_s"]:
            out[group] = cand
    for g, st in out.items():
        st["straggler_ratio"] = round(st["max_s"] / max(st["median_s"], 1e-3), 1)
        st["row_skew_ratio"] = round(st["max_rows"] / max(st["median_rows"], 1), 1)
    return out


def main() -> None:
    event_dir = tempfile.mkdtemp(prefix="skew-events-")
    spark = build_session(event_dir)
    results: dict[str, dict] = {}
    counts = {}
    for name, skew_join, salted in [
        ("naive", False, False),
        ("aqe", True, False),
        ("salted", False, True),
    ]:
        wall, n = run_variant(spark, name, skew_join, salted)
        results[name] = {"wall_s": round(wall, 2)}
        counts[name] = n
        print(f"{name}: wall {wall:.2f}s rows {n}")
    assert len(set(counts.values())) == 1, f"output diverged: {counts}"
    spark.stop()  # flush the event log
    stages = parse_event_log(event_dir)
    for name in results:
        results[name].update(stages.get(name, {}))
    results["_meta"] = {
        "sf_dir": SF_DIR,
        "amplify": AMPLIFY,
        "n_salts": N_SALTS,
        "hot_fraction": f"1/{HOT_FRACTION_MOD}",
        "rows_joined": counts["naive"],
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SKEWBENCH.json"), "w") as fh:
        json.dump(results, fh, indent=1)
    print(
        "\n| variant | wall s | tasks | median s | p95 s | max s | "
        "max/median | median rows | max rows | row skew |"
    )
    print("| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |")
    for name in ("naive", "aqe", "salted"):
        r = results[name]
        print(
            f"| {name} | {r['wall_s']} | {r.get('n_tasks', '?')} | "
            f"{r.get('median_s', '?')} | {r.get('p95_s', '?')} | "
            f"{r.get('max_s', '?')} | {r.get('straggler_ratio', '?')} | "
            f"{r.get('median_rows', '?')} | {r.get('max_rows', '?')} | "
            f"{r.get('row_skew_ratio', '?')} |"
        )


if __name__ == "__main__":
    main()

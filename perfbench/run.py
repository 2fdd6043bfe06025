"""The repo benchmark: one workload in one fresh process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Workloads (perfbench/layers.json records why each was chosen):

* ``osm_etl``    — the paper's pipeline: ``dags.osm_spark_dag.run_local``
  over two generated regions of different size (ingest, highway layer,
  dated publish), two fan-out workers.
* ``query_mix``  — bench.py's 17 headline query keys on the sf0.01
  reference tables in ``perfbench/fixtures``.
* ``heavy_keys`` — five execution-heavy keys (mapInPandas kernels,
  MB-scale shuffles, eager checkpoints inside the build).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, read from spans
around each call into a layer plus Spark's own counters. Both print
every figure by name and unit above that line and write the full
report, spans included, to ``perfbench-results/`` in the checkout.

The seed orders the keys of every pass and generates the extracts; the
tables are fixed. Everything the run writes (extracts, Spark scratch,
the published snapshot) lives in a temporary directory inside the
checkout that is removed at the end. The load is one process at
``local[nproc // 2]``. Exit status is 0 only when every operation ran and
every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the program under test; without it there is nothing to measure
REQUIRED = (
    "osm_airflow_spark/session.py",
    "osm_airflow_spark/registry.py",
    "dags/osm_spark_dag.py",
    "tools/check.py",
    "tools/make_golden_pbf.py",
)

SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "layers.json")
RESULTS = os.path.join(ROOT, "perfbench-results")


def load_spec() -> dict:
    """perfbench/layers.json: the workloads, and every metric's layer
    and meaning."""
    with open(SPEC_PATH) as fh:
        return json.load(fh)


def load_units() -> dict[str, dict[str, str]]:
    """Metric name -> unit for ``end_to_end`` and ``per_layer``, from
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {kind: {m["name"]: m["unit"] for m in bench[kind]} for kind in ("end_to_end", "per_layer")}


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> tuple[int, int]:
    """Point every scratch path into ``work`` and fix what the program
    reads from the environment; returns (cores, Spark task threads)."""
    nproc = len(os.sched_getaffinity(0))
    # Spark tasks get half the cores; the other half runs the JVM's JIT
    # and GC threads, the Python workers and this driver, so no task
    # thread waits for a core (at local[nproc] the load average ran to
    # 5 on 4 cores and osm_etl was 13% slower)
    cpus = max(1, nproc // 2)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    old_path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # a scheduled task builds each key once: no registry plan cache
        SPARK_GRAFT_NO_PLAN_CACHE="1",
        # Python workers import the engine from the checkout
        PYTHONPATH=ROOT + (os.pathsep + old_path if old_path else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
                "--driver-java-options",
                shlex.quote(java_opts),
                "pyspark-shell",
            ]
        ),
    )
    tempfile.tempdir = None
    os.chdir(work)
    return nproc, cpus


def setup(tracer) -> tuple[object, dict[str, float]]:
    """What every scheduled task pays before its first query: session,
    registry import and one trivial action."""
    with tracer.span("setup"):
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            from osm_airflow_spark.session import get_spark

            spark = get_spark("perfbench")
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("registry.all_queries"):
            from osm_airflow_spark.registry import all_queries

            all_queries()
        import_s = time.perf_counter() - t
        spark.range(1).count()
    return spark, {
        "setup_s": process_age(),
        "session.start_s": start_s,
        "registry.import_s": import_s,
    }


def calibrate(spark, reps: int = 3) -> float:
    """Fixed single-task JVM work (bench.py's calib_s, smaller):
    seconds, median of ``reps``."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(0, 5_000_000, 1, 1).select(
            (F.xxhash64("id") % 1024).alias("h")
        ).agg(F.sum("h")).collect()
        times.append(time.perf_counter() - t)
    return sorted(times)[reps // 2]


def peak_rss_mb(spark) -> dict[str, float]:
    """JVM high-water RSS and this Python driver's max RSS, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": jvm_kb / 1024.0, "python": py_kb / 1024.0}


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def _group_median_sum(iterations, values_of) -> float:
    """Median of each group's values over ``iterations``, summed."""
    from perfbench.spans import median

    groups: dict[str, list[float]] = {}
    for it in iterations:
        for g, v in values_of(it).items():
            groups.setdefault(g, []).append(v)
    return sum(median(v) for v in groups.values())


def _shares(iterations) -> dict[str, float]:
    """Build / Catalyst / codegen / execute shares of an op's time."""

    def part(fn):
        return _group_median_sum(iterations, lambda it: {g: fn(lay) for g, lay in it.layers.items()})

    build = part(lambda l: l.get("registry.build_s", 0.0) - l.get("_compile.build", 0.0))
    plan = part(lambda l: l.get("catalyst.plan_s", 0.0) - l.get("_compile.plan", 0.0))
    codegen = part(
        lambda l: l.get("_compile.build", 0.0) + l.get("_compile.plan", 0.0) + l.get("_compile.action", 0.0)
    )
    execute = part(lambda l: l.get("exec.action_s", 0.0) - l.get("_compile.action", 0.0))
    total = build + plan + codegen + execute
    if total <= 0:
        return {"build": 0.0, "catalyst": 0.0, "codegen": 0.0, "execute": 0.0}
    return {
        "build": build / total,
        "catalyst": plan / total,
        "codegen": codegen / total,
        "execute": execute / total,
    }


def summarize(
    spec: dict, units: dict, outcome, setup_times: dict[str, float], rss_mb: dict[str, float]
) -> tuple[dict, dict, dict]:
    """End-to-end metrics, per-layer metrics and tail details."""
    from perfbench.spans import median, tail

    ops = [op for it in outcome.warm for op in it.ops]
    tail_value, tail_pct, n_ops = tail(ops) if ops else (0.0, 0.0, 0)
    wall = _group_median_sum(outcome.warm, lambda it: it.walls)
    e2e = {
        "setup_s": setup_times["setup_s"],
        "wall_s": wall,
        "first_s": sum(outcome.first.walls.values()),
        "op_s_p50": median(ops) if ops else 0.0,
        "op_s_tail": tail_value,
        "peak_rss_mb": sum(rss_mb.values()),
    }
    layers = {}
    for name in units["per_layer"]:
        if spec["per_layer"][name].get("iteration") == "first":
            layers[name] = sum(lay.get(name, 0.0) for lay in outcome.first.layers.values())
        else:
            layers[name] = _group_median_sum(
                outcome.warm, lambda it: {g: lay.get(name, 0.0) for g, lay in it.layers.items()}
            )
    layers["session.start_s"] = setup_times["session.start_s"]
    layers["registry.import_s"] = setup_times["registry.import_s"]
    for label, iters in (("first", [outcome.first]), ("wall", outcome.warm)):
        for part, share in _shares(iters).items():
            layers[f"shares.{label}_{part}"] = share
    layers["trace.wall_s"] = wall
    details = {
        "op_s_tail": {"percentile": tail_pct, "samples": n_ops},
        "warm_iteration_s": [sum(it.walls.values()) for it in outcome.warm],
        "failed_ratio": outcome.failed / max(1, outcome.attempted),
        "peak_rss_mb": rss_mb,
    }
    if "io.out_bytes_per_in_byte" in outcome.first.layers.get("run_local", {}):
        details["out_bytes_per_in_byte"] = layers["io.out_bytes_per_in_byte"]
    return e2e, layers, details


def per_group_table(outcome) -> dict:
    """Per-key (or per-run_local) breakdown: first and warm-median
    figures of every layer number recorded for the group."""
    from perfbench.spans import median

    table: dict[str, dict] = {}
    for g, lay in outcome.first.layers.items():
        table.setdefault(g, {})["first"] = dict(lay, wall_s=outcome.first.walls.get(g, 0.0))
    warm_vals: dict[str, dict[str, list[float]]] = {}
    for it in outcome.warm:
        for g, lay in it.layers.items():
            bucket = warm_vals.setdefault(g, {})
            for k, v in dict(lay, wall_s=it.walls.get(g, 0.0)).items():
                bucket.setdefault(k, []).append(v)
    for g, bucket in warm_vals.items():
        table.setdefault(g, {})["warm_median"] = {k: median(v) for k, v in bucket.items()}
    return table


def run(args, spec: dict, units: dict, work: str) -> dict:
    from perfbench.spans import Tracer, self_times
    from perfbench.workloads import EtlWorkload, QueryWorkload, Runner

    tracer = Tracer(bool(args.trace))
    load_before = os.getloadavg()
    nproc, cpus = pin_environment(work)
    spark, setup_times = setup(tracer)
    try:
        calib_s = calibrate(spark)
        wl = spec["workloads"][args.workload]
        runner = Runner(spark, tracer, args.seconds, args.seed)
        t = time.perf_counter()
        if "keys" in wl:
            workload = QueryWorkload(runner, wl["keys"])
        else:
            workload = EtlWorkload(runner, work)
        phases = {"setup": setup_times["setup_s"], "prepare": time.perf_counter() - t}
        outcome = workload.run()
        phases.update(runner.phases)
        rss = peak_rss_mb(spark)
    finally:
        t = time.perf_counter()
        stop(spark)
    phases["stop"] = time.perf_counter() - t
    e2e, layers, details = summarize(spec, units, outcome, setup_times, rss)
    if args.trace:
        untraced = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.isfile(untraced):
            with open(untraced) as fh:
                details["trace_overhead_s"] = e2e["wall_s"] - json.load(fh)["end_to_end"]["wall_s"]
    selfs = self_times(tracer.spans)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": {
            "nproc": nproc,
            "master": f"local[{cpus}]",
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "calib_s": calib_s,
            "run_phases_s": phases,
        },
        "inputs": outcome.facts,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "errors": outcome.errors,
        "end_to_end": e2e,
        "per_layer": layers if args.trace else {},
        "details": details,
        "groups": per_group_table(outcome) if args.trace else {},
        "spans": [
            {
                "id": s.span_id,
                "name": s.name,
                "parent": s.parent_id,
                "iteration": s.iteration,
                "start": s.start,
                "end": s.end,
                "self_s": selfs[s.span_id],
                "attrs": s.attrs,
            }
            for s in sorted(tracer.spans, key=lambda s: s.start)
        ],
    }


def print_report(units: dict, report: dict) -> None:
    print(f"workload {report['workload']} seed {report['seed']} trace {report['trace']}")
    env = report["environment"]
    print(
        f"  nproc {env['nproc']}  master {env['master']}  calib_s {env['calib_s']:.4f}  "
        f"loadavg {env['loadavg_before'][0]:.2f} -> {env['loadavg_after'][0]:.2f}"
    )
    for name, value in report["end_to_end"].items():
        extra = ""
        if name == "op_s_tail":
            t = report["details"]["op_s_tail"]
            extra = f"  (p{t['percentile']:.1f} of {t['samples']} warm ops)"
        print(f"  {name:<28} {value:>14.6f} {units['end_to_end'][name]}{extra}")
    d = report["details"]
    print(f"  {'failed_ratio':<28} {d['failed_ratio']:>14.6f} ratio  "
          f"({report['failed']}/{report['attempted']} ops)")
    if "out_bytes_per_in_byte" in d:
        print(f"  {'out_bytes_per_in_byte':<28} {d['out_bytes_per_in_byte']:>14.6f} ratio")
    for name, value in report["per_layer"].items():
        print(f"  {name:<28} {value:>14.6f} {units['per_layer'][name]}")
    if "trace_overhead_s" in d:
        print(f"  {'tracing overhead':<28} {d['trace_overhead_s']:>14.6f} s  (traced minus untraced wall_s, same seed)")
    for err in report["errors"]:
        print(f"  ERROR {err}")


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    units = load_units()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import the checkout's packages, not this directory's modules

    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    cwd = os.getcwd()
    try:
        report = run(args, spec, units, work)
    except Exception:  # noqa: BLE001 — report and exit non-zero, print no result
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(RESULTS, name), "w") as fh:
        json.dump(report, fh, indent=1, default=float)
    print_report(units, report)
    kind = "per_layer" if args.trace else "end_to_end"
    values = report[kind]
    print(
        json.dumps(
            {
                "correct": report["failed"] == 0,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": {
                    k: {"value": values[k], "unit": unit} for k, unit in units[kind].items()
                },
            }
        )
    )
    return 0 if report["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

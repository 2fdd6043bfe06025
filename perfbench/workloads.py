"""The benchmark's workloads: what each iteration runs and checks.

Every workload runs a first iteration in the fresh process, a few
unmeasured warm-up iterations, then whole warm iterations that fill the
measuring window: at least the workload's minimum. Every warm iteration
holds the same operations. An operation is one query key (its build
plus its action) or one region's ingest-then-transform chain. Outputs
are checked between operations, outside every timer.

An iteration reports its time and layer metrics per *group*: a query
key, or ``run_local`` for the ETL. Warm figures are the median per
group, summed over groups.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from perfbench.counters import SparkCounters, delta
from perfbench.spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
# The engine's seed-42 reference tables at sf0.01 (60k lineitem rows,
# 1.9 MB of parquet), the scale of tools/check.py's oracle gate;
# read-only. PERFBENCH_SF_DIR points the query workloads at another
# scale of the same tables, such as bench.py's sf0.1.
FIXTURE_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.join(HERE, "fixtures", "sf0.01"))
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
# Row digests of the keys DuckDB has no oracle for, per table
# directory name (sf0.01, sf0.1); written by perfbench/record_digests.py.
DIGESTS_PATH = os.path.join(HERE, "digests.json")
ETL_WORKERS = 2
# unmeasured iterations after the first: measured iteration 1 ran 10-20%
# slower than iteration 2 while JIT and the codegen cache still settled
WARM_UP_ITERATIONS = 1
# measured iterations even on a machine too slow to fit two in the window
MIN_WARM_ITERATIONS = 2


@dataclass
class Iteration:
    """What one iteration measured, per group."""

    walls: dict[str, float] = field(default_factory=dict)
    ops: list[float] = field(default_factory=list)
    layers: dict[str, dict[str, float]] = field(default_factory=dict)


@dataclass
class Outcome:
    first: Iteration
    warm: list[Iteration]
    attempted: int
    failed: int
    errors: list[str]
    facts: dict


def digest(pdf) -> str:
    """Order-insensitive digest of a result, via tools/check.canon."""
    from tools.check import canon

    return hashlib.sha256(repr(canon(pdf)).encode()).hexdigest()


def _gc(spark) -> None:
    # drain garbage of earlier operations so a major GC pause is not
    # billed to whichever later operation it lands in (bench.py does
    # the same); it also keeps the heap's high-water mark, and so
    # peak_rss_mb, from depending on where collections happen to fall:
    # collecting once per query_mix pass instead of per key, the peak
    # spread from 1986 to 2842 MB over four runs
    spark.sparkContext._jvm.System.gc()


class Runner:
    """State shared by a workload's iterations."""

    def __init__(self, spark, tracer: Tracer, seconds: float, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seconds = seconds
        self.seed = seed
        self.rng = random.Random(seed)
        self.counters = SparkCounters(spark) if tracer.enabled else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # seconds each part of the run took, checks included: the run's
        # length, which the benchmark's time budget bounds
        self.phases: dict[str, float] = {}

    def snapshot(self) -> dict[str, float]:
        """Counter snapshot when tracing; the time it takes is part of
        the tracing overhead."""
        return self.counters.snapshot() if self.counters else {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:300])

    def loop(self, iterate) -> tuple[Iteration, list[Iteration]]:
        """First iteration, the unmeasured warm-up ones, then measured
        iterations for ``seconds``: at least ``MIN_WARM_ITERATIONS``,
        and no new one that would, at the mean pace so far, end past
        the window."""
        t = time.perf_counter()
        first = iterate(0)
        self.phases["first"] = time.perf_counter() - t
        t = time.perf_counter()
        for i in range(1, WARM_UP_ITERATIONS + 1):
            iterate(i)
        self.phases["warm_up"] = time.perf_counter() - t
        warm: list[Iteration] = []
        start = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - start
            if len(warm) >= MIN_WARM_ITERATIONS and elapsed * (1 + 1 / len(warm)) > self.seconds:
                self.phases["window"] = elapsed
                return first, warm
            warm.append(iterate(WARM_UP_ITERATIONS + len(warm) + 1))


# ---------------------------------------------------------------------------
# Query workloads: query_mix, heavy_keys
# ---------------------------------------------------------------------------


class QueryWorkload:
    def __init__(self, runner: Runner, keys: list[str]) -> None:
        import duckdb

        from osm_airflow_spark.registry import all_oracles, all_queries

        self.r = runner
        self.keys = keys
        self.sf_dir = FIXTURE_DIR
        self.in_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet")) for t in TABLES
        )
        self.queries = all_queries()
        oracles = all_oracles()
        with open(DIGESTS_PATH) as fh:
            recorded = json.load(fh)["digests"].get(os.path.basename(self.sf_dir.rstrip("/")), {})
        # the digest every answer of a key must have: DuckDB's answer
        # for oracled keys, the recorded digest for rows-only keys
        self.expected: dict[str, str | None] = {}
        with duckdb.connect() as con:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for key in keys:
                if key in oracles:
                    self.expected[key] = digest(con.sql(oracles[key]).df())
                else:
                    self.expected[key] = recorded.get(key)

    def _op(self, key: str, it: Iteration) -> None:
        r, tracer = self.r, self.r.tracer
        _gc(r.spark)
        r.attempted += 1
        phases: dict[str, float] = {}
        snaps = []
        try:
            with tracer.span("op", key=key) as op:
                snaps.append(r.snapshot())
                t = time.perf_counter()
                with tracer.span("registry.build", key=key):
                    df = self.queries[key](r.spark, self.sf_dir)
                phases["registry.build_s"] = time.perf_counter() - t
                snaps.append(r.snapshot())
                t = time.perf_counter()
                with tracer.span("catalyst.plan", key=key):
                    df._jdf.queryExecution().executedPlan()
                phases["catalyst.plan_s"] = time.perf_counter() - t
                snaps.append(r.snapshot())
                t = time.perf_counter()
                with tracer.span("exec.action", key=key):
                    pdf = df.toPandas()
                phases["exec.action_s"] = time.perf_counter() - t
                snaps.append(r.snapshot())
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            r.fail(f"{key}: {type(exc).__name__}: {exc}")
            return
        wall = sum(phases.values())
        it.walls[key] = wall
        it.ops.append(wall)
        layers = dict(phases)
        if r.counters:
            build, plan, action = (
                delta(a, b) for a, b in zip(snaps, snaps[1:])
            )
            total = delta(snaps[0], snaps[-1])
            layers.update((k, v) for k, v in total.items() if k != "sql.executions")
            layers["registry.build_sql_execs"] = build["sql.executions"]
            # compile time inside each phase, so the four shares of an
            # op's time (build, Catalyst, codegen, execute) add up to 1
            layers["_compile.build"] = build["codegen.compile_s"]
            layers["_compile.plan"] = plan["codegen.compile_s"]
            layers["_compile.action"] = action["codegen.compile_s"]
            layers["trace.counter_read_s"] = op.duration - wall
            op.attrs.update(phases=phases, build=build, plan=plan, action=action)
        it.layers[key] = layers
        if self.expected[key] is None:
            r.fail(f"{key}: no recorded digest in {DIGESTS_PATH}")
        elif digest(pdf) != self.expected[key]:
            r.fail(f"{key}: result digest differs from expected")

    def iterate(self, i: int) -> Iteration:
        it = Iteration()
        order = list(self.keys)
        self.r.rng.shuffle(order)
        with self.r.tracer.iteration_root("iteration", i):
            for key in order:
                self._op(key, it)
        return it

    def run(self) -> Outcome:
        first, warm = self.r.loop(self.iterate)
        facts = {"tables": self.sf_dir, "input_bytes": self.in_bytes, "keys": self.keys}
        return Outcome(first, warm, self.r.attempted, self.r.failed, self.r.errors, facts)


# ---------------------------------------------------------------------------
# osm_etl: the paper's pipeline through dags.osm_spark_dag.run_local
# ---------------------------------------------------------------------------


def _tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, not counting ``.pbf`` inputs."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.endswith(".pbf"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class EtlWorkload:
    GROUP = "run_local"

    def __init__(self, runner: Runner, work: str) -> None:
        from dags import osm_spark_dag
        from osm_airflow_spark.sources.pbf_wire import validated_data_offsets
        from perfbench.extracts import REGIONS, write_extracts

        self.r = runner
        self.work = work
        self.src = os.path.join(work, "extracts")
        self.facts = write_extracts(self.src, runner.seed)
        self.regions = [{"region": s["region"], "subregion": s["subregion"]} for s in REGIONS]
        inputs = [os.path.join(self.src, f"{s['subregion']}.osm.pbf") for s in REGIONS]
        self.in_bytes = sum(os.path.getsize(p) for p in inputs)
        self.blobs = sum(len(validated_data_offsets(p)) for p in inputs)
        self.elements = sum(f["nodes"] + f["ways"] for f in self.facts.values())
        self.dag = osm_spark_dag
        self._chain: dict[str, float] = {}
        self._instrument()

    def _instrument(self) -> None:
        """Time each region's chain: run_local's workers call
        ``ingest_region`` and ``transform_region`` by module-global
        name. When tracing, also span every layer function those
        callables import at call time."""
        import importlib

        tracer = self.r.tracer

        def timed(phase, fn):
            def call(region, subregion, *args, **kwargs):
                t = time.perf_counter()
                try:
                    with tracer.span(f"dags.{phase}", region=subregion):
                        return fn(region, subregion, *args, **kwargs)
                finally:
                    self._chain[subregion] = self._chain.get(subregion, 0.0) + (
                        time.perf_counter() - t
                    )

            return call

        self.dag.ingest_region = timed("ingest_region", self.dag.ingest_region)
        self.dag.transform_region = timed("transform_region", self.dag.transform_region)
        if tracer.enabled:
            for mod, name, span in (
                ("osm_airflow_spark.session", "get_spark", "session.get_spark"),
                ("osm_airflow_spark.sources.pbf", "ingest_pbf", "sources.ingest_pbf"),
                ("osm_airflow_spark.plans.osm", "build_highway_layer", "osm.build_highway_layer"),
                ("osm_airflow_spark.io", "write_snapshot", "io.write_snapshot"),
            ):
                m = importlib.import_module(mod)
                setattr(m, name, tracer.wrap(span, getattr(m, name)))

    def _check(self, data_dir: str, layers: dict[str, float]) -> None:
        """Compare the published layer with the generator's facts, one
        failure per region that differs, and list what was written."""
        import pyarrow.parquet as pq

        from perfbench.extracts import coord_checksum

        layer_dir = os.path.join(data_dir, "layers", "highway")
        # read with pyarrow, not Spark: the check runs no Spark job, so
        # it leaves the next iteration's counters and warm-up untouched
        rows = pq.read_table(
            layer_dir,
            columns=["region", "way_id", "bbox_west", "bbox_south", "bbox_east", "bbox_north"],
            partitioning="hive",
        ).to_pylist()
        for sub, facts in self.facts.items():
            mine = [x for x in rows if x["region"] == sub]
            got = {
                str(x["way_id"]): [
                    round(x["bbox_west"] * 1e7),
                    round(x["bbox_south"] * 1e7),
                    round(x["bbox_east"] * 1e7),
                    round(x["bbox_north"] * 1e7),
                ]
                for x in mine
            }
            if (
                len(mine) != facts["highway_ways"]
                or coord_checksum(got) != facts["coord_checksum"]
                or got != facts["bbox_e7"]
            ):
                self.r.fail(f"{sub}: published layer differs from the generator's facts")
        layers["osm.layer_rows"] = float(len(rows))
        files, size = _tree_bytes(layer_dir)
        layers["io.files_written"] = float(files)
        layers["io.bytes_written"] = float(size)
        layers["io.out_bytes_per_in_byte"] = _tree_bytes(data_dir)[1] / self.in_bytes

    def iterate(self, i: int) -> Iteration:
        r, tracer = self.r, self.r.tracer
        it = Iteration()
        data_dir = os.path.join(self.work, "etl", f"it{i}")
        os.makedirs(data_dir)
        for reg in self.regions:
            name = f"{reg['subregion']}.osm.pbf"
            os.link(os.path.join(self.src, name), os.path.join(data_dir, name))
        _gc(r.spark)
        self._chain = {}
        r.attempted += len(self.regions)
        before = r.snapshot()
        n_spans = len(tracer.spans)
        try:
            t = time.perf_counter()
            # the fan-out workers' spans hang under this root
            with tracer.iteration_root("dags.run_local", i):
                self.dag.run_local(data_dir, self.regions, max_workers=ETL_WORKERS)
            wall = time.perf_counter() - t
        except Exception as exc:  # noqa: BLE001 — a failed chain is counted, not fatal
            for _ in self.regions:
                r.fail(f"run_local: {type(exc).__name__}: {exc}")
            return it
        it.walls[self.GROUP] = wall
        it.ops.extend(self._chain.values())
        layers = {"sources.blobs": float(self.blobs)}
        if r.counters:
            t = time.perf_counter()
            counts = delta(before, r.snapshot())
            layers.update((k, v) for k, v in counts.items() if k != "sql.executions")
            spans = tracer.spans[n_spans:]
            for span_name, layer in (
                ("sources.ingest_pbf", "sources.ingest_s"),
                ("osm.build_highway_layer", "osm.layer_build_s"),
                ("io.write_snapshot", "io.publish_s"),
            ):
                layers[layer] = sum(s.duration for s in spans if s.name == span_name)
            layers["sources.elements_per_s"] = self.elements / layers["sources.ingest_s"]
            layers["dags.fanout_overlap"] = sum(self._chain.values()) / wall
            layers["trace.counter_read_s"] = time.perf_counter() - t
        self._check(data_dir, layers)
        it.layers[self.GROUP] = layers
        # keep the newest publish for the size listing, drop older ones
        shutil.rmtree(os.path.join(self.work, "etl", f"it{i - 1}"), ignore_errors=True)
        return it

    def run(self) -> Outcome:
        first, warm = self.r.loop(self.iterate)
        facts = {
            "input_bytes": self.in_bytes,
            "blobs": self.blobs,
            "elements": self.elements,
            "regions": {
                k: {"nodes": v["nodes"], "ways": v["ways"], "highway_ways": v["highway_ways"]}
                for k, v in self.facts.items()
            },
            "max_workers": ETL_WORKERS,
        }
        return Outcome(first, warm, self.r.attempted, self.r.failed, self.r.errors, facts)

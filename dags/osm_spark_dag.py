"""Airflow DAG mirroring the reference pipeline, Spark-native
(SURVEY.md §2.A, §7.5).

Shape parity with /root/reference/osm_etl.py:40-93 — provision →
per-region transform fan-out → dated publish — with its known issues
fixed:

* connection/variable lookups happen inside task callables, not at
  module parse time (reference does both at import, osm_etl.py:9-14 —
  runs on every scheduler parse loop);
* regions fan out via dynamic task mapping instead of static
  BashOperator loops (osm_etl.py:69-85);
* US and EU groups run in parallel — they were serialized in the
  reference (osm_etl.py:93) despite being data-independent;
* retries > 0: Spark jobs here are idempotent dated-partition
  overwrites, so retrying is safe (reference pins retries=0,
  osm_etl.py:36).

Airflow is not installed in this container; the module import-gates
so the engine package never depends on it.
"""

from __future__ import annotations

from contextlib import nullcontext
from datetime import datetime, timedelta

REGIONS = [
    {"region": "north-america/us", "subregion": "colorado"},
    {"region": "north-america/us", "subregion": "oregon"},
    {"region": "north-america/us", "subregion": "washington"},
    {"region": "europe", "subregion": "spain"},
]

SNAPSHOT_DATE = "2024-07-25"  # reference: pgosm_date, osm_etl.py:13


def ingest_region(region: str, subregion: str, data_dir: str) -> None:
    """Decode one region's .osm.pbf extract into element parquet
    (replaces the reference's download + osm2pgsql streaming,
    osm_etl.py:54-56 — no container, no native decoder: the pure-
    Python blob-parallel reader in sources/pbf)."""
    from osm_airflow_spark.session import get_spark
    from osm_airflow_spark.sources.pbf import ingest_pbf

    spark = get_spark(f"osm-ingest-{subregion}")
    ingest_pbf(
        spark,
        f"{data_dir}/{subregion}.osm.pbf",
        f"{data_dir}/{subregion}",
        region=subregion,
    )


def transform_region(
    region: str,
    subregion: str,
    snapshot_date: str,
    data_dir: str,
    write_lock=None,
) -> None:
    """One region's ETL as a Spark job: element tables → thematic
    layers → dated partitioned snapshot (replaces the reference's
    docker-exec of pgosm_flex.py, osm_etl.py:17-18,71-72).

    The element tables are read with the schemas ``ingest_pbf`` wrote
    them with (``region`` still comes from partition discovery), so no
    footer-reading schema-inference job runs per read. The layer is
    built straight to its published columns: bbox, no line.

    Committer assumption: under a scheduler each mapped task is its
    own PROCESS with its own committer, and concurrent tasks write
    the same table root ``layers/highway``. Their partition sets are
    disjoint (region leads the spec), but top-level commit artifacts
    (_SUCCESS, staging-dir cleanup) are shared — safe on the default
    parquet committer only because dynamic-partition overwrite stages
    under per-job ``.spark-staging-<jobId>`` dirs; a production
    deployment should use a table format (Iceberg/Delta) or a
    zero-rename committer for true concurrent-commit safety. When
    fan-out runs IN-PROCESS (run_local threads), pass ``write_lock``:
    the layer is computed eagerly in parallel and only the commit is
    serialized (r6 advice)."""
    from osm_airflow_spark.io import write_snapshot
    from osm_airflow_spark.plans.osm import build_highway_layer
    from osm_airflow_spark.session import get_spark
    from osm_airflow_spark.sources.pbf import NODE_SCHEMA, WAY_SCHEMA

    from pyspark.sql import functions as F

    spark = get_spark(f"osm-etl-{subregion}")
    nodes = spark.read.schema(NODE_SCHEMA).parquet(f"{data_dir}/{subregion}/nodes")
    ways = spark.read.schema(WAY_SCHEMA).parquet(f"{data_dir}/{subregion}/ways")
    layer = build_highway_layer(nodes, ways)
    # region MUST lead the partition spec: dynamic partition overwrite
    # replaces every (pgosm_date, geohash) partition a write touches,
    # so two regions sharing a geohash cell (any cell straddling a
    # region border) would silently clobber each other's publish —
    # and a per-region retry would wipe its neighbors. With region in
    # the spec each task owns a disjoint partition set: fan-out is
    # conflict-free and retries stay idempotent (the reason this DAG
    # can run retries=2 where the reference pins 0).
    layer = layer.withColumn("region", F.lit(subregion))
    if write_lock is not None:
        # compute in parallel, COMMIT serially: the transform's full
        # cost runs before the lock, so the barrier only covers the
        # (cheap) staged write of already-materialized partitions.
        layer = layer.localCheckpoint(eager=True)
    with write_lock or nullcontext():
        write_snapshot(
            layer,
            f"{data_dir}/layers/highway",
            snapshot_date,
            ("region", "geohash"),
        )


def run_local(
    data_dir: str,
    regions: list[dict] | None = None,
    snapshot_date: str = SNAPSHOT_DATE,
    max_workers: int = 4,
) -> list[str]:
    """Execute the DAG's task graph WITHOUT a scheduler: the same
    callables under the same dependency structure — per-region
    ingest→transform chains fan out concurrently (the dynamic-task-
    mapping semantics), and the publish completeness gate barriers on
    all of them. Airflow isn't installed in this environment, so this
    is how the full graph (not just individual callables) is proven
    end-to-end; under Airflow the @dag below runs the identical
    shape. Returns the published subregions, in input order."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    specs = REGIONS if regions is None else regions
    # In-process fan-out: one lock serializes the publish COMMITS
    # (concurrent committers to one table root share _SUCCESS/staging
    # cleanup — see transform_region docstring); ingest + transform
    # compute still run fully parallel.
    write_lock = threading.Lock()

    def chain(spec: dict) -> str:
        ingest_region(spec["region"], spec["subregion"], data_dir)
        transform_region(
            spec["region"], spec["subregion"], snapshot_date, data_dir,
            write_lock=write_lock,
        )
        return spec["subregion"]

    # The publish-task gate (osm_etl.py:88-91 analogue) must OUTLIVE
    # individual chain failures: pool.map would re-raise the first
    # exception and never report which regions DID publish, so each
    # future's outcome is collected and the gate raises with the full
    # failed-region list while the per-region dated partitions that
    # succeeded stay on disk (idempotent re-run completes them).
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [(spec["subregion"], pool.submit(chain, spec)) for spec in specs]
        done, failed = [], []
        for sub, fut in futures:
            try:
                done.append(fut.result())
            except Exception as exc:  # noqa: BLE001 — gate reports, then raises
                failed.append((sub, exc))
    if failed:
        raise RuntimeError(
            f"publish gate: {len(failed)}/{len(specs)} regions failed: "
            f"{[sub for sub, _ in failed]} (published: {done})"
        ) from failed[0][1]
    return done


try:
    from airflow.decorators import dag, task

    @dag(
        dag_id="osm_spark_etl",
        schedule="@weekly",  # reference cadence, osm_etl.py:45
        start_date=datetime(2024, 1, 1),
        catchup=False,
        tags=["osm", "etl", "spark"],
        default_args={
            "owner": "data-eng",
            "retries": 2,
            "retry_delay": timedelta(minutes=5),
        },
    )
    def osm_spark_etl():
        @task
        def bootstrap() -> str:
            # task-scope config resolution (fixes the parse-time
            # anti-pattern at osm_etl.py:9-14)
            from airflow.models import Variable

            return Variable.get("osm_spark_data_dir")

        @task
        def ingest(region_spec: dict, data_dir: str) -> dict:
            ingest_region(
                region_spec["region"], region_spec["subregion"], data_dir
            )
            return region_spec

        @task
        def transform(region_spec: dict, data_dir: str) -> str:
            transform_region(
                region_spec["region"],
                region_spec["subregion"],
                SNAPSHOT_DATE,
                data_dir,
            )
            return region_spec["subregion"]

        @task
        def publish(subregions: list[str], data_dir: str) -> None:
            # dated artifact is already on disk per-region (idempotent
            # partition overwrite); here we only validate completeness
            # — the analogue of the pg_dump step (osm_etl.py:88-91)
            assert len(subregions) == len(REGIONS)

        data_dir = bootstrap()
        ingested = ingest.partial(data_dir=data_dir).expand(region_spec=REGIONS)
        done = transform.partial(data_dir=data_dir).expand(region_spec=ingested)
        publish(done, data_dir)

    osm_spark_etl()

except ImportError:  # Airflow not installed — engine stays importable
    dag = task = None

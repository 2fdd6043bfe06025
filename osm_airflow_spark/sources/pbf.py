"""B1 — OSM PBF ingestion (complete, dependency-free).

The reference never parses PBF itself: it downloads a geofabrik
extract and lets osm2pgsql (C++) stream it
(/root/reference/osm_etl.py:54-56, README.md:97). For a Spark-native
engine the idiomatic split is:

1. **Ingest once** (this module): PBF → three element tables
   (nodes / ways / relations, schemas per SURVEY.md §1.1). PBF is a
   blocked format (~8k-element Blob blocks), so the scalable ingest
   is: list the blob offsets on the driver (header-only scan, bytes
   ∝ block count), fan out a JVM range of blob ids over them, decode
   each blob once in an executor task (`mapInPandas` over the ids),
   persist the decoded union and write one Parquet table per element
   type, partitioned by region.
2. **Query forever after** on the columnar element tables — every
   operator in the engine works on those.

No protobuf wheel exists in this image, so the block decoder is a
pure-Python wire-format reader (sources/pbf_wire.py) — the protobuf
encoding and the OSM PBF messages are both small public specs. There
is one block decoder, ``pbf_wire.decode_blob_columnar``; this module's
``_decode_union`` and the ``osm_pbf`` Data Source both turn its chunks
into union-schema frames with ``_union_frames``, and a corrupt blob
fails the task with a ValueError. A planet file (~70 GB) is ~80k
independent blobs: the unit of parallelism is the blob, and decode
throughput scales linearly with executors. pbf_wire.write_pbf is the
matching sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from osm_airflow_spark.sources import pbf_wire

NODE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

WAY_SCHEMA = T.StructType(
    [
        T.StructField("way_id", T.LongType(), False),
        T.StructField("node_refs", T.ArrayType(T.LongType()), True),  # ordered
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

RELATION_SCHEMA = T.StructType(
    [
        T.StructField("rel_id", T.LongType(), False),
        T.StructField(
            "members",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("mtype", T.StringType()),
                        T.StructField("ref", T.LongType()),
                        T.StructField("role", T.StringType()),
                    ]
                )
            ),
            True,
        ),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# One decode pass emits every element kind at once; the union schema
# carries a kind discriminator plus the superset of per-kind columns
# (unused ones null). Splitting back to the three typed tables is a
# filter + rename — pure metadata, no second decode. elem_id is
# declared nullable so the typed tables ingest_pbf writes keep the
# optional id column Parquet readers have always seen there.
UNION_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("elem_id", T.LongType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("node_refs", T.ArrayType(T.LongType()), True),
        T.StructField(
            "members",
            RELATION_SCHEMA["members"].dataType,
            True,
        ),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
_UNION_COLS = [f.name for f in UNION_SCHEMA.fields]


def _stride_order(n_blobs: int, n_part: int) -> list[int]:
    """File positions in the order ``spark.range(n_blobs,
    numPartitions=n_part)`` hands out ids. Range gives task ``i`` the
    contiguous ids ``[i*n//p, (i+1)*n//p)``; blobs sit in file order
    (node blocks, then ways, then relations), so contiguous positions
    would hand one task every node blob. Positions are dealt
    round-robin instead: the ``n % p`` left over from whole rounds go
    first, one to each task with a larger id range, so the final
    ``p`` blobs land on ``p`` different tasks."""
    bounds = [i * n_blobs // n_part for i in range(n_part + 1)]
    owner = [i for i in range(n_part) if bounds[i + 1] - bounds[i] > n_blobs // n_part]
    owner += [(pos - len(owner)) % n_part for pos in range(len(owner), n_blobs)]
    return sorted(range(n_blobs), key=owner.__getitem__)


def _offsets_df(
    spark: SparkSession, pbf_path: str
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """The blob fan-out: a JVM ``range`` of blob ids plus the
    validated ``(start, length)`` list those ids index, in stride
    order. No Python rows and no shuffle plan the scan; the list
    rides in the decode function's pickled command (pyspark
    broadcasts a command past its 1 MB threshold, so a planet's ~80k
    offsets are not re-sent per task).

    validated_data_offsets checks every OSMHeader's required_features
    BEFORE fanning out (r10): a file this decoder can't interpret
    correctly — e.g. a full-history dump declaring
    HistoricalInformation, whose deleted elements would silently read
    as live — is rejected here, not half-ingested. Shared with the
    osm_pbf Data Source so both entry points enforce it."""
    offsets = pbf_wire.validated_data_offsets(pbf_path)
    n_part = max(1, min(len(offsets), spark.sparkContext.defaultParallelism))
    ordered = [offsets[pos] for pos in _stride_order(len(offsets), n_part)]
    return spark.range(len(offsets), numPartitions=n_part), ordered


def _decode_union(pbf_path: str, offsets: list[tuple[int, int]]):
    """mapInPandas body over blob ids: each blob is read + decompressed
    + parsed exactly ONCE, emitting all three element kinds from that
    single pass (a planet blob mixes kinds across its PrimitiveGroups).

    Emission is COLUMNAR and PER-BLOB (r14, found by the 239 MB
    volume probe — tools/pbf_volume_probe.py). The previous form
    accumulated one python tuple per element across ALL the
    partition's blobs before building a single object-dtype
    DataFrame: at 1,128 blobs that meant ~1.75M tuples per task,
    ~1 GB worker RSS, and 52M scalar PyObject conversions on the
    Arrow boundary — the decode itself fanned out fine (18.6 s) but
    the full pass took 271 s. Per-blob numpy-backed frames bound
    worker memory to one blob's rows and let Arrow copy primitive
    columns without boxing: 271 s → 28 s for the same file."""

    def decode(iterator):
        for pdf in iterator:
            with open(pbf_path, "rb") as fh:
                for blob_id in pdf["id"]:
                    start, length = offsets[blob_id]
                    fh.seek(start)
                    yield from _union_frames(
                        pbf_wire.decode_blob_columnar(fh.read(length))
                    )

    return decode


def _union_frames(chunks):
    """One decoded blob's ``(kind, payload)`` chunks → union-schema
    pandas frames, one per chunk; columns a kind lacks stay null."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def column(rows, key, dtype=object):
        if dtype is object:
            return pd.Series([x[key] for x in rows], dtype=object)
        return np.fromiter((x[key] for x in rows), dtype=dtype, count=len(rows))

    for kind, rows in chunks:
        cols = dict.fromkeys(_UNION_COLS)
        if kind == "dense":  # already columnar: numpy ids and coordinates
            cols.update(kind="node", elem_id=rows["node_id"], lat=rows["lat"],
                        lon=rows["lon"], tags=pd.Series(rows["tags"], dtype=object))
        elif kind == "nodes":
            cols.update(kind="node", elem_id=column(rows, "node_id", "int64"),
                        lat=column(rows, "lat", "float64"),
                        lon=column(rows, "lon", "float64"), tags=column(rows, "tags"))
        elif kind == "ways":
            cols.update(kind="way", elem_id=column(rows, "way_id", "int64"),
                        node_refs=column(rows, "node_refs"), tags=column(rows, "tags"))
        else:
            cols.update(kind="relation", elem_id=column(rows, "rel_id", "int64"),
                        members=column(rows, "members"), tags=column(rows, "tags"))
        yield pd.DataFrame(cols)


def read_pbf_elements(spark: SparkSession, pbf_path: str) -> DataFrame:
    """PBF → ONE unioned element DataFrame (kind-discriminated),
    parallel by blob. Each executor task opens the file at its own
    offsets — no driver-side decode, no full-file broadcast, and
    each blob is decoded once per action (not once per element kind)."""
    ids, offsets = _offsets_df(spark, pbf_path)
    return ids.mapInPandas(_decode_union(pbf_path, offsets), UNION_SCHEMA)


def split_elements(union: DataFrame) -> dict[str, DataFrame]:
    """Kind-discriminated union → the three typed element tables.
    Pure filter + rename — evaluating all three against a *staged or
    persisted* union costs one decode total."""
    return {
        "nodes": union.where(union.kind == "node").select(
            union.elem_id.alias("node_id"), "lat", "lon", "tags"
        ),
        "ways": union.where(union.kind == "way").select(
            union.elem_id.alias("way_id"), "node_refs", "tags"
        ),
        "relations": union.where(union.kind == "relation").select(
            union.elem_id.alias("rel_id"), "members", "tags"
        ),
    }


def read_pbf(spark: SparkSession, pbf_path: str) -> dict[str, DataFrame]:
    """PBF → {nodes, ways, relations} DataFrames derived from the
    single-pass union scan. Lazy caveat: running separate actions on
    all three re-decodes (Spark re-executes the shared scan per
    action) — the ingest-once path (``ingest_pbf``) persists the union
    across its writes so the expensive decode happens exactly once."""
    return split_elements(read_pbf_elements(spark, pbf_path))


def ingest_pbf(
    spark: SparkSession, pbf_path: str, out_dir: str, region: str
) -> dict[str, str]:
    """PBF → element Parquet, the ingest-once step.

    One decode pass: the union is persisted, the first typed write
    decodes every blob exactly once into executor storage, and the
    other two writes filter the persisted rows. Nothing round-trips
    through the output filesystem, and persist (unlike
    ``localCheckpoint``) keeps the lineage, so a lost executor
    recomputes only its own blobs. At planet scale (~70 GB PBF / ~80k
    blobs) the decode is embarrassingly parallel and the persisted
    union spills to executor disk; the final layout (type dir + region
    partition) is what SCALE.md's layout contract expects downstream."""
    union = read_pbf_elements(spark, pbf_path).persist()
    paths = {}
    try:
        for kind, df in split_elements(union).items():
            path = f"{out_dir}/{kind}/region={region}"
            df.write.mode("overwrite").parquet(path)
            paths[kind] = path
    finally:
        union.unpersist()
    return paths

"""OSM PBF as a first-class Spark data source (Python Data Source
API, Spark 4): ``spark.read.format("osm_pbf").load(path)``.

The reference hands ``.osm.pbf`` files to osm2pgsql
(/root/reference/osm_etl.py:54-56); here the same wire format plugs
into Spark's own source abstraction instead of a helper function.
Planning is metadata-only on the driver — ``scan_blob_offsets``
walks BlobHeaders (a few KB each) without reading blob payloads —
and every OSMData blob becomes one ``InputPartition``, so a planet
file (~80k blobs) fans out across executors with no driver decode
and no full-file broadcast, exactly like ``read_pbf_elements``'s
mapInPandas fan-out but discoverable through the standard reader
API (``.format(...)`` composes with the rest of a user's pipeline,
shows up in the plan as a scan, and needs no import of this
package's internals at call sites).

Rows use the same kind-discriminated union schema as sources/pbf.py
(one decode pass per blob emits nodes, ways, and relations
together), and are built the same way: ``pbf._union_frames`` over
``pbf_wire.decode_blob_columnar``'s chunks, handed to Spark as Arrow
record batches. Partition count = blob count; Spark schedules them like
any other scan, so ``spark.sql.files``-style locality tuning is
unnecessary — each task reads exactly its [start, start+length)
byte range.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from osm_airflow_spark.sources import pbf_wire
from osm_airflow_spark.sources.pbf import UNION_SCHEMA, _union_frames


class PbfBlobPartition(InputPartition):
    def __init__(self, path: str, start: int, length: int):
        self.path = path
        self.start = start
        self.length = length


class OsmPbfReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError(
                "osm_pbf: pass the file via .load(path) or .option('path', ...)"
            )
        self.path = path

    def partitions(self):
        # validated_data_offsets also checks OSMHeader
        # required_features — the Data Source must refuse
        # unsupported files exactly like read_pbf (r10 review)
        return [
            PbfBlobPartition(self.path, start, length)
            for (start, length) in pbf_wire.validated_data_offsets(self.path)
        ]

    def read(self, partition: PbfBlobPartition):
        import pyarrow as pa  # noqa: PLC0415
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        schema = to_arrow_schema(UNION_SCHEMA)
        with open(partition.path, "rb") as fh:
            fh.seek(partition.start)
            chunks = pbf_wire.decode_blob_columnar(fh.read(partition.length))
        for frame in _union_frames(chunks):
            yield pa.RecordBatch.from_pandas(frame, schema=schema, preserve_index=False)


class OsmPbfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "osm_pbf"

    def schema(self):
        return UNION_SCHEMA

    def reader(self, schema) -> OsmPbfReader:
        return OsmPbfReader(self.options)


def register_pbf_source(spark) -> None:
    """Idempotent format registration; after this,
    ``spark.read.format("osm_pbf").load(path)`` works anywhere in
    the session."""
    spark.dataSource.register(OsmPbfDataSource)

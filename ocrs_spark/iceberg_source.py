"""PySpark Python Data Source: a changelog stream over an Iceberg table.

Registers format ``ocrs_iceberg`` (Spark 4 Python Data Source API) as a
Structured Streaming source over an ``ocrs_spark.iceberg`` table:

    spark.dataSource.register(IcebergDataSource)
    spark.readStream.format("ocrs_iceberg").load(location)

Offsets are the table's snapshot sequence numbers, so Structured
Streaming's own offset log drives ``plan_incremental_files``: each
micro-batch reads exactly the data files appended since the last
committed offset, planning cost is proportional to new data, and the
engine's offset/commit protocol makes delivery exactly-once. Splits are
one InputPartition per data file, read executor-side with pyarrow, so a
backlog catch-up parallelizes across the cluster instead of
bottlenecking on the driver.

This is a stream source only. Batch reads go through
``IcebergTable.scan`` (JVM parquet with whole-stage codegen, merge-on-
read deletes, partition and bound pruning) and writes through
``IcebergTable.append``: one read path and one write path per table.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .iceberg import IcebergTable, _spark_ddl


def _arrow_schema(spark_schema):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema, timestamp_utc=True)


def _identity_parts(table: IcebergTable) -> list[tuple[str, str]]:
    """[(partition field name, source column)] of the identity
    transforms — the hive layout projects these out of the data files,
    so the reader re-attaches them as per-split constants."""
    return [
        (name, src)
        for name, src, transform, _t in table._partition_columns()
        if transform == "identity"
    ]


def _split_of(f: dict) -> dict:
    return {"path": f["file_path"], "partition": dict(f.get("partition") or {})}


def _read_split(split: dict, identity, arrow_schema):
    """Executor-side split read: parquet file -> arrow batches matching
    the declared source schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(split["path"])
    # re-attach identity partition columns as constants (typed nulls for
    # a null partition value), then align to the declared schema
    names = set(tbl.schema.names)
    arrays = []
    for field in arrow_schema:
        if field.name in names:
            arrays.append(tbl.column(field.name))
            continue
        const = None
        for pname, src in identity:
            if src == field.name:
                const = split["partition"].get(pname)
        if const is not None:
            arrays.append(pa.array([const] * tbl.num_rows).cast(field.type))
        else:
            arrays.append(pa.nulls(tbl.num_rows, type=field.type))
    tbl = pa.table(arrays, names=arrow_schema.names).cast(arrow_schema)
    yield from tbl.to_batches()


class IcebergStreamReader(DataSourceStreamReader):
    """Changelog micro-batch source: offset = last planned snapshot
    sequence number. latestOffset reloads the table metadata (one JSON
    read); partitions() plans only the files in (start, end]; the
    engine's offset log + commit protocol make delivery exactly-once."""

    def __init__(self, location: str, spark_schema, initial: str):
        self._location = location
        self._identity = _identity_parts(IcebergTable.load(location))
        self._arrow_schema = _arrow_schema(spark_schema)
        self._initial = initial  # "earliest" -> full backlog; "latest" -> new data only

    def initialOffset(self) -> dict:
        if self._initial == "latest":
            return self.latestOffset()
        return {"seq": 0}

    def latestOffset(self) -> dict:
        t = IcebergTable.load(self._location)
        return {"seq": int(t.metadata["last-sequence-number"])}

    def partitions(self, start: dict, end: dict):
        t = IcebergTable.load(self._location)
        files = t.plan_incremental_files(int(start["seq"]), int(end["seq"]))
        if not files:
            # the engine requires >=1 partition; emit one empty split
            return [InputPartition(None)]
        return [InputPartition(_split_of(f)) for f in files]

    def read(self, partition):
        if partition.value is None:
            return iter(())
        return _read_split(partition.value, self._identity, self._arrow_schema)

    def commit(self, end: dict) -> None:
        pass  # progress lives in the engine's offset/commit log


class IcebergDataSource(DataSource):
    """``readStream.format("ocrs_iceberg")``; options:

    - ``path`` (via ``.load(location)``): table location
    - ``starting_position``: ``earliest`` (default, replay the whole
      table as the first micro-batch) or ``latest`` (new commits only)
    """

    @classmethod
    def name(cls) -> str:
        return "ocrs_iceberg"

    def schema(self) -> str:
        table = IcebergTable.load(self.options["path"])
        return _spark_ddl(table._schema(), table._partition_columns())

    def streamReader(self, schema) -> DataSourceStreamReader:
        return IcebergStreamReader(
            self.options["path"],
            schema,
            self.options.get("starting_position", "earliest"),
        )

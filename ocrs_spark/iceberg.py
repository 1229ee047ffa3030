"""From-spec Apache Iceberg v2 tables on plain parquet + Avro metadata.

The north-star pipeline reads and writes *Iceberg* tables of interleaved
documents. The sandbox has no Iceberg runtime jar, so this module
implements the table format itself from the public specification
(https://iceberg.apache.org/spec/), on top of the from-spec Avro layer
in ``ocrs_spark.avro_ocf``:

    <location>/
      metadata/v<N>.metadata.json       table metadata (schema, partition
                                        spec, sort orders, snapshot list),
                                        format-version 2
      metadata/version-hint.text        latest committed version hint
      metadata/snap-<id>-<uuid>.avro    manifest list, one per snapshot
      metadata/<uuid>-m0.avro           manifest file, one per append
      data/<uuid>/[k=v/]part-*.parquet  data files (written by Spark)

Everything the spec makes load-bearing is real:

- **Snapshots + time travel**: every ``append`` commits a new snapshot
  whose manifest list carries the new manifest plus all previous ones;
  ``scan(snapshot_id=...)`` reads the table as of any retained snapshot.
- **Atomic commits**: ``v<N>.metadata.json`` is published with the same
  exclusive-create CAS primitive the checkpoint layer uses (Iceberg's
  HadoopTableOperations protocol): a racing append rebases onto the
  winner and retries on the next version, any other losing commit
  raises ``CommitConflictError``, a crash mid-commit leaves the
  previous version live, and ``version-hint.text`` is a best-effort
  pointer readers check forward from (or fall back from by listing the
  metadata directory).
- **Partition pruning**: the spec's partition transforms — identity,
  ``bucket[N]`` (murmur3_x86_32 per spec appendix B), ``truncate[W]``
  (int/long/string), and the epoch-anchored temporal transforms
  ``year``/``month``/``day``/``hour`` for hidden time partitioning, all
  but bucket pure Spark expressions; manifest lists store per-field
  partition summaries (contains_null / lower / upper in the spec's
  single-value binary serialization), manifests store per-file partition
  tuples and per-column bounds, and ``scan`` prunes first manifests,
  then files, before Spark reads a single row group.
- **One schema, one partition spec**: a table keeps the schema and spec
  it was created with, so every data file holds exactly the table
  schema minus its partition columns, and a scan reads the files with
  that schema, as the spec reads data files, instead of inferring it
  from their footers: building a scan runs no Spark job.
- **Resume**: ``scan`` exposes committed file lists per snapshot, so the
  extraction pipeline's anti-join resume (``ocrs_spark.checkpoint``) can
  use an Iceberg table as its ledger; see ``IcebergDocumentSink``.

Avro manifest/manifest-list schemas use the spec's required field names
and field-ids (500-519 manifest list, 0-4 + 100-140 manifest entries),
and the OCF files carry the spec's file-metadata keys (``schema``,
``partition-spec``, ``format-version``, ``content``) — the Java Avro
library bundled with Spark reads the files byte-for-byte (cross-checked
in ``tests/test_avro_ocf.py``).

Scale notes: commits are metadata-only (one footer read per new data
file — the same per-file stats a real Iceberg writer collects from its
tasks); scans materialize only file *lists* on the driver (bounded by
file count, as in any Iceberg reader); data moves exclusively through
Spark's parquet source, one read per identity-partition tuple with the
identity partition columns re-attached as literals (the constant-column
trick Iceberg's own Spark source uses for identity-partitioned columns).
"""

from __future__ import annotations

import json
import os
import struct
import time
import urllib.parse
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .avro_ocf import read_ocf, write_ocf
from .checkpoint import _PosixIO

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# An append that loses the metadata-version race rebases onto the
# winner's snapshot and retries, like ``DocumentCheckpoint.commit``.
_APPEND_COMMIT_RETRIES = 32


class CommitConflictError(RuntimeError):
    """Another committer published a metadata version this table handle
    has not seen; the commit was not applied."""


# ---------------------------------------------------------------------------
# spec appendix B: 32-bit murmur3 hash + bucket transform
# ---------------------------------------------------------------------------


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (public domain algorithm; Iceberg spec appendix B)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for i in range(0, n - (n % 4), 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - (n % 4) :]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_value(value, iceberg_type: str, n: int) -> int | None:
    """Iceberg ``bucket[n]`` transform: (murmur3 & MAX_INT) % n.

    ints are hashed as longs (8-byte little-endian), strings as UTF-8
    bytes, per the spec's hash-function table.
    """
    if value is None:
        return None
    if iceberg_type in ("int", "long"):
        data = struct.pack("<q", int(value))
    elif iceberg_type == "string":
        data = str(value).encode("utf-8")
    elif iceberg_type == "binary":
        data = bytes(value)
    else:
        raise ValueError(f"bucket transform unsupported for {iceberg_type}")
    return (murmur3_32(data) & 0x7FFFFFFF) % n


# ---------------------------------------------------------------------------
# schema conversion + single-value serialization
# ---------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    "long": "long",
    "integer": "int",
    "string": "string",
    "boolean": "boolean",
    "double": "double",
    "float": "float",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",
}


def _iceberg_type(spark_type, next_id) -> object:
    name = spark_type.typeName()
    if name in _SPARK_TO_ICEBERG:
        return _SPARK_TO_ICEBERG[name]
    if name == "array":
        eid = next_id()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(spark_type.elementType, next_id),
            "element-required": not spark_type.containsNull,
        }
    if name == "struct":
        return {
            "type": "struct",
            "fields": [
                {
                    "id": next_id(),
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type(f.dataType, next_id),
                }
                for f in spark_type.fields
            ],
        }
    if name == "map":
        kid, vid = next_id(), next_id()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(spark_type.keyType, next_id),
            "value-id": vid,
            "value": _iceberg_type(spark_type.valueType, next_id),
            "value-required": not spark_type.valueContainsNull,
        }
    raise ValueError(f"unsupported Spark type for Iceberg schema: {name}")


def schema_from_spark(spark_schema) -> dict:
    """Convert a Spark StructType to an Iceberg schema (fresh field-ids)."""
    counter = {"id": 0}

    def next_id():
        counter["id"] += 1
        return counter["id"]

    fields = []
    for f in spark_schema.fields:
        fid = next_id()
        fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_type(f.dataType, next_id),
            }
        )
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": fields,
        "_last_column_id": counter["id"],
    }


def bound_ordinal(value, iceberg_type: str):
    """Normalize a bound value into the comparable ordinal space used
    for that type's bounds: timestamps -> micros since epoch (naive
    treated as UTC, matching parquet footer stats of a UTC-session
    write), dates -> days since epoch; everything else unchanged."""
    import datetime as _dt

    if value is None:
        return None
    if iceberg_type in ("timestamptz", "timestamp") and isinstance(
        value, _dt.datetime
    ):
        ts = value if value.tzinfo else value.replace(tzinfo=_dt.timezone.utc)
        return int(ts.astimezone(_dt.timezone.utc).timestamp() * 1_000_000)
    if iceberg_type == "date" and isinstance(value, _dt.date):
        return (value - _dt.date(1970, 1, 1)).days
    return value


def serialize_bound(value, iceberg_type: str) -> bytes | None:
    """Iceberg single-value binary serialization (spec appendix D)."""
    if value is None:
        return None
    value = bound_ordinal(value, iceberg_type)
    if iceberg_type in ("timestamptz", "timestamp"):
        return struct.pack("<q", int(value))  # micros from epoch
    if iceberg_type == "int":
        return struct.pack("<i", int(value))
    if iceberg_type == "long":
        return struct.pack("<q", int(value))
    if iceberg_type == "float":
        return struct.pack("<f", float(value))
    if iceberg_type == "double":
        return struct.pack("<d", float(value))
    if iceberg_type == "string":
        return str(value).encode("utf-8")
    if iceberg_type == "boolean":
        return b"\x01" if value else b"\x00"
    if iceberg_type == "date":
        return struct.pack("<i", int(value))  # days from epoch, spec D
    return None  # other types: bounds omitted


def deserialize_bound(data: bytes | None, iceberg_type: str):
    if data is None:
        return None
    if iceberg_type == "int":
        return struct.unpack("<i", data)[0]
    if iceberg_type == "long":
        return struct.unpack("<q", data)[0]
    if iceberg_type == "float":
        return struct.unpack("<f", data)[0]
    if iceberg_type == "double":
        return struct.unpack("<d", data)[0]
    if iceberg_type == "string":
        return data.decode("utf-8")
    if iceberg_type == "boolean":
        return data == b"\x01"
    if iceberg_type == "date":
        return struct.unpack("<i", data)[0]
    if iceberg_type in ("timestamptz", "timestamp"):
        return struct.unpack("<q", data)[0]  # micros from epoch
    return None


# ---------------------------------------------------------------------------
# manifest / manifest-list Avro schemas (spec field names + field-ids)
# ---------------------------------------------------------------------------


def _opt(t):
    return ["null", t]


def _field(name, t, fid, required=True):
    f = {"name": name, "type": t if required else _opt(t), "field-id": fid}
    if not required:
        f["default"] = None
    return f


_FIELD_SUMMARY = {
    "type": "record",
    "name": "r508",
    "fields": [
        _field("contains_null", "boolean", 509),
        _field("contains_nan", "boolean", 518, required=False),
        _field("lower_bound", "bytes", 510, required=False),
        _field("upper_bound", "bytes", 511, required=False),
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _field("manifest_path", "string", 500),
        _field("manifest_length", "long", 501),
        _field("partition_spec_id", "int", 502),
        _field("content", "int", 517),
        _field("sequence_number", "long", 515),
        _field("min_sequence_number", "long", 516),
        _field("added_snapshot_id", "long", 503),
        _field("added_files_count", "int", 504),
        _field("existing_files_count", "int", 505),
        _field("deleted_files_count", "int", 506),
        _field("added_rows_count", "long", 512),
        _field("existing_rows_count", "long", 513),
        _field("deleted_rows_count", "long", 514),
        _field(
            "partitions",
            {"type": "array", "items": _FIELD_SUMMARY, "element-id": 508},
            507,
            required=False,
        ),
        _field("key_metadata", "bytes", 519, required=False),
    ],
}


def _manifest_entry_schema(partition_avro_fields: list) -> dict:
    """Manifest-entry schema; the partition struct is spec-dependent."""
    int_long_map = lambda kid, vid: {  # noqa: E731
        "type": "array",
        "items": {
            "type": "record",
            "name": f"k{kid}_v{vid}",
            "fields": [
                _field("key", "int", kid),
                _field("value", "long", vid),
            ],
        },
        "logicalType": "map",
    }
    int_bytes_map = lambda kid, vid: {  # noqa: E731
        "type": "array",
        "items": {
            "type": "record",
            "name": f"k{kid}_v{vid}",
            "fields": [
                _field("key", "int", kid),
                _field("value", "bytes", vid),
            ],
        },
        "logicalType": "map",
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            _field("content", "int", 134),
            _field("file_path", "string", 100),
            _field("file_format", "string", 101),
            _field(
                "partition",
                {"type": "record", "name": "r102", "fields": partition_avro_fields},
                102,
            ),
            _field("record_count", "long", 103),
            _field("file_size_in_bytes", "long", 104),
            _field("value_counts", int_long_map(119, 120), 109, required=False),
            _field("null_value_counts", int_long_map(121, 122), 110, required=False),
            _field("lower_bounds", int_bytes_map(126, 127), 125, required=False),
            _field("upper_bounds", int_bytes_map(129, 130), 128, required=False),
            _field(
                "equality_ids",
                {"type": "array", "items": "int", "element-id": 136},
                135,
                required=False,
            ),
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _field("status", "int", 0),
            _field("snapshot_id", "long", 1, required=False),
            _field("sequence_number", "long", 3, required=False),
            _field("file_sequence_number", "long", 4, required=False),
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_ICEBERG_TO_AVRO = {
    "int": "int",
    "long": "long",
    "string": "string",
    "boolean": "boolean",
    "float": "float",
    "double": "double",
    "binary": "bytes",
    "date": "int",  # days from epoch
}


def transform_result_type(transform: str, src_type: str) -> str:
    """Iceberg type of a partition value produced by ``transform``
    (spec's partition-transform result-type table)."""
    if transform == "identity":
        return src_type
    if transform.startswith("bucket["):
        return "int"
    if transform.startswith("truncate["):
        return src_type
    if transform == "day":
        return "date"  # stored as int days from epoch
    if transform in ("year", "month", "hour"):
        return "int"
    raise ValueError(f"unsupported transform {transform!r}")


def transform_value(value, transform: str, src_type: str):
    """Python-side twin of ``partition_transform_column`` for single
    values: derive the partition value a source-column value lands in,
    so callers can build ``partition_filter`` dicts from natural keys
    (e.g. a ``datetime.date`` -> its ``day`` ordinal) without knowing
    the transform encodings."""
    import datetime as _dt

    if value is None:
        return None
    if transform == "identity":
        return value
    if transform.startswith("bucket["):
        return bucket_value(value, src_type, int(transform[len("bucket[") : -1]))
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        if src_type in ("int", "long"):
            return int(value) - (int(value) % w)  # Python % == pmod
        if src_type == "string":
            return str(value)[:w]
        raise ValueError(f"truncate transform unsupported for {src_type}")
    if transform in ("year", "month", "day", "hour"):
        if isinstance(value, _dt.datetime):
            ts = value if value.tzinfo else value.replace(tzinfo=_dt.timezone.utc)
            ts = ts.astimezone(_dt.timezone.utc)
        elif isinstance(value, _dt.date):
            ts = _dt.datetime(value.year, value.month, value.day, tzinfo=_dt.timezone.utc)
        else:
            raise ValueError(f"temporal transform needs a date/datetime, got {type(value)}")
        if transform == "year":
            return ts.year - 1970
        if transform == "month":
            return (ts.year - 1970) * 12 + ts.month - 1
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        if transform == "day":
            return (ts - epoch).days
        return int((ts - epoch).total_seconds() // 3600)
    raise ValueError(f"unsupported transform {transform!r}")


def partition_transform_column(src: str, src_type: str, transform: str):
    """The partition transform as a Spark Column over source column
    ``src`` — pure built-in expressions for every transform except
    bucket[N] (murmur3, Arrow-vectorized pandas UDF), so hidden
    partitioning costs one projection inside codegen at write time.

    Temporal transforms follow the spec's epoch-anchored ordinals
    (year/month counted from 1970, day as days from epoch, hour as
    hours from epoch), evaluated in UTC — ``session.get_spark`` pins
    ``spark.sql.session.timeZone=UTC`` so the timestamptz-to-date cast
    is the spec's UTC projection.
    """
    c = F.col(src)
    if transform == "identity":
        return c
    if transform.startswith("bucket["):
        n = int(transform[len("bucket[") : -1])
        return _bucket_column(src, src_type, n)
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        if w <= 0:
            raise ValueError(f"truncate width must be positive: {transform}")
        if src_type in ("int", "long"):
            # spec: v - (v % W) with a positive remainder (pmod), so
            # negative values round toward -inf, not toward zero.
            return c - F.pmod(c, F.lit(w))
        if src_type == "string":
            return F.substring(c, 1, w)
        raise ValueError(f"truncate transform unsupported for {src_type}")
    if transform in ("year", "month", "day") and src_type in ("date", "timestamptz"):
        if transform == "year":
            return (F.year(c) - F.lit(1970)).cast("int")
        if transform == "month":
            return ((F.year(c) - F.lit(1970)) * F.lit(12) + F.month(c) - F.lit(1)).cast("int")
        return F.datediff(c.cast("date"), F.to_date(F.lit("1970-01-01")))
    if transform == "hour" and src_type == "timestamptz":
        return F.floor(F.unix_timestamp(c) / F.lit(3600)).cast("int")
    raise ValueError(f"unsupported transform {transform!r} for {src_type}")


# ---------------------------------------------------------------------------
# the table
# ---------------------------------------------------------------------------


class IcebergTable:
    """A format-version-2 Iceberg table rooted at a local/posix path."""

    def __init__(self, location: str, metadata: dict, version: int):
        self.location = location.rstrip("/")
        self.metadata = metadata
        self.version = version
        self._io = _PosixIO()

    # -- creation / loading -------------------------------------------------

    @staticmethod
    def create(
        location: str,
        spark_schema,
        partition_by: list[tuple[str, str]] | None = None,
    ) -> "IcebergTable":
        """Create a new table.

        ``partition_by`` is a list of (column, transform) where transform
        is ``"identity"``, ``"bucket[N]"``, ``"truncate[W]"``, or one of
        the temporal transforms ``"year"``/``"month"``/``"day"``/
        ``"hour"`` over a date/timestamp column (hidden partitioning:
        queries filter the source column; the derived partition value
        never has to appear in user queries).
        """
        location = location.rstrip("/")
        schema = schema_from_spark(spark_schema)
        last_column_id = schema.pop("_last_column_id")
        by_name = {f["name"]: f for f in schema["fields"]}
        spec_fields = []
        for i, (col, transform) in enumerate(partition_by or []):
            src = by_name[col]
            if not isinstance(src["type"], str):
                raise ValueError(f"cannot partition by nested column {col!r}")
            name = col if transform == "identity" else f"{col}_{transform.split('[')[0]}"
            spec_fields.append(
                {
                    "name": name,
                    "transform": transform,
                    "source-id": src["id"],
                    "field-id": 1000 + i,
                }
            )
        now = int(time.time() * 1000)
        metadata = {
            "format-version": 2,
            "table-uuid": str(_uuid.uuid4()),
            "location": location,
            "last-sequence-number": 0,
            "last-updated-ms": now,
            "last-column-id": last_column_id,
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999 + len(spec_fields),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": -1,
            "refs": {},
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        # version -1: the first commit publishes v0, and fails if a
        # table already exists at ``location``
        table = IcebergTable(location, metadata, version=-1)
        os.makedirs(f"{location}/metadata", exist_ok=True)
        os.makedirs(f"{location}/data", exist_ok=True)
        table._commit_metadata()
        return table

    @staticmethod
    def load(location: str) -> "IcebergTable":
        location = location.rstrip("/")
        meta_dir = f"{location}/metadata"
        version = None
        hint = f"{meta_dir}/version-hint.text"
        if os.path.exists(hint):
            try:
                version = int(open(hint).read().strip())
            except ValueError:
                version = None
        if version is None or not os.path.exists(
            f"{meta_dir}/v{version}.metadata.json"
        ):
            versions = [
                int(n[1:].split(".")[0])
                for n in os.listdir(meta_dir)
                if n.startswith("v") and n.endswith(".metadata.json")
            ]
            if not versions:
                raise FileNotFoundError(f"no Iceberg metadata at {location}")
            version = max(versions)
        # the hint is written after the version it names, so it lags
        # behind a racing committer or one that died in between
        while os.path.exists(f"{meta_dir}/v{version + 1}.metadata.json"):
            version += 1
        with open(f"{meta_dir}/v{version}.metadata.json") as f:
            return IcebergTable(location, json.load(f), version)

    # -- schema / spec helpers ----------------------------------------------

    def _schema(self) -> dict:
        sid = self.metadata["current-schema-id"]
        return next(s for s in self.metadata["schemas"] if s["schema-id"] == sid)

    def _spec(self) -> dict:
        sid = self.metadata["default-spec-id"]
        return next(
            s for s in self.metadata["partition-specs"] if s["spec-id"] == sid
        )

    def _partition_columns(self) -> list[tuple[str, str, str, str]]:
        """[(partition name, source column, transform, source iceberg type)]
        of the table's partition spec."""
        by_id = {f["id"]: f for f in self._schema()["fields"]}
        out = []
        for pf in self._spec()["fields"]:
            src = by_id[pf["source-id"]]
            out.append((pf["name"], src["name"], pf["transform"], src["type"]))
        return out

    def snapshots(self) -> list[dict]:
        return list(self.metadata["snapshots"])

    def current_snapshot_id(self) -> int | None:
        sid = self.metadata.get("current-snapshot-id", -1)
        return None if sid in (-1, None) else sid

    def last_streaming_batch(self, query_id: str) -> int:
        """Largest streaming epoch committed by ``query_id``, or -1.

        The streaming sink stamps every commit's snapshot summary with
        (streaming-query-id, streaming-batch-id); reading the high-water
        mark back is what lets a replayed foreachBatch epoch (crash
        after the table commit, before the streaming commit log) detect
        that its data is already in the table and skip — the same
        mechanism Iceberg's real Spark sink uses. Epochs are monotonic
        per checkpoint, so the max over the snapshots suffices.
        """
        last = -1
        for s in self.metadata["snapshots"]:
            summary = s.get("summary") or {}
            if summary.get("streaming-query-id") == query_id:
                last = max(last, int(summary.get("streaming-batch-id", -1)))
        return last

    # -- commit protocol ----------------------------------------------------

    def _commit_metadata(self) -> None:
        """Publish self.metadata as version ``self.version + 1`` via
        exclusive-create (HadoopTableOperations). Losing that race means
        another committer published a version this handle has not seen:
        raise ``CommitConflictError`` instead of publishing stale
        metadata over their commit. The previous version file is never
        touched; after a conflict, reload the table before retrying."""
        meta_dir = f"{self.location}/metadata"
        next_version = self.version + 1
        tmp = f"{meta_dir}/.tmp-{_uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(self.metadata, f, indent=1)
        dst = f"{meta_dir}/v{next_version}.metadata.json"
        if not self._io.publish_exclusive(tmp, dst):
            os.unlink(tmp)
            raise CommitConflictError(
                f"{dst} was published by another committer; this handle "
                f"is based on version {self.version}"
            )
        self.version = next_version
        # best-effort pointer; readers fall back to a directory listing
        hint_tmp = f"{meta_dir}/.hint-{_uuid.uuid4().hex}"
        with open(hint_tmp, "w") as f:
            f.write(str(next_version))
        os.replace(hint_tmp, f"{meta_dir}/version-hint.text")

    # -- append --------------------------------------------------------------

    def append(self, df: DataFrame, extra_summary: dict | None = None) -> int:
        """Append a DataFrame as a new snapshot; returns the snapshot id.

        Data files are written by Spark (hive-layout per partition tuple);
        the commit itself is metadata-only: per-file stats come from one
        parquet-footer read per new file, exactly the stats a real Iceberg
        writer's tasks report back to its driver. ``extra_summary``
        key/values land in the snapshot summary (e.g. a streaming sink's
        batch id for replay idempotence).

        A partitioned table is written with Iceberg's hash
        write.distribution-mode: rows are shuffled by partition tuple so
        each partition is written by one task, not tasks x partitions
        small files.
        """
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        seq = self.metadata["last-sequence-number"] + 1
        manifest = self._write_data_manifest(df, snapshot_id, seq)
        return self._commit_manifests(
            [manifest],
            operation="append",
            summary={
                "added-data-files": str(manifest["added_files_count"]),
                "added-records": str(manifest["added_rows_count"]),
                **(extra_summary or {}),
            },
            snapshot_id=snapshot_id,
            seq=seq,
            carry="all",
        )

    def _write_data_manifest(
        self, df: DataFrame, snapshot_id: int, seq: int, distribution: str = "hash"
    ) -> dict:
        """Write ``df`` as parquet data files plus one data manifest;
        returns the manifest-list entry dict (not yet committed)."""
        import pyarrow.parquet as pq

        parts = self._partition_columns()
        write_id = _uuid.uuid4().hex
        data_dir = f"{self.location}/data/{write_id}"
        out = df
        part_names = []
        for name, src, transform, src_type in parts:
            if not (transform == "identity" and name == src):
                out = out.withColumn(
                    name, partition_transform_column(src, src_type, transform)
                )
            part_names.append(name)
        if part_names and distribution == "hash":
            # write.distribution-mode=hash: cluster rows by partition
            # tuple so each partition value is written by exactly one
            # task (bounded file counts; see ``append``)
            out = out.repartition(*part_names)
        writer = out.write.mode("append")
        if part_names:
            writer = writer.partitionBy(*part_names)
        writer.parquet(data_dir)

        # enumerate written files + their partition tuples from the layout
        entries = []
        schema_fields = {f["name"]: f for f in self._schema()["fields"]}
        for root, _dirs, files in os.walk(data_dir):
            rel = os.path.relpath(root, data_dir)
            tuple_vals = {}
            if rel != ".":
                for seg in rel.split(os.sep):
                    k, _, v = seg.partition("=")
                    tuple_vals[k] = (
                        None
                        if v == _HIVE_NULL
                        else urllib.parse.unquote(v)
                    )
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                path = os.path.join(root, fn)
                meta = pq.ParquetFile(path).metadata
                partition = {}
                for name, src, transform, src_type in parts:
                    raw = tuple_vals.get(name)
                    rtype = transform_result_type(transform, src_type)
                    if raw is None:
                        partition[name] = None
                    elif rtype in ("int", "long", "date"):
                        partition[name] = int(raw)
                    else:
                        partition[name] = raw
                # min/max are folded across row groups in VALUE space
                # (normalized ordinals) — comparing the little-endian
                # serialized bytes would order multi-byte ints wrongly
                # and record bounds that prune files incorrectly
                lo_v, hi_v, nulls, values, ftype = {}, {}, {}, {}, {}
                for rg in range(meta.num_row_groups):
                    g = meta.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        cname = col.path_in_schema
                        f = schema_fields.get(cname)
                        if f is None or not isinstance(f["type"], str):
                            continue
                        fid = f["id"]
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            continue
                        lo = bound_ordinal(st.min, f["type"])
                        hi = bound_ordinal(st.max, f["type"])
                        ftype[fid] = f["type"]
                        if fid not in lo_v or lo < lo_v[fid]:
                            lo_v[fid] = lo
                        if fid not in hi_v or hi > hi_v[fid]:
                            hi_v[fid] = hi
                        nulls[fid] = nulls.get(fid, 0) + (st.null_count or 0)
                        values[fid] = values.get(fid, 0) + col.num_values
                lower = {
                    fid: b
                    for fid, v in lo_v.items()
                    if (b := serialize_bound(v, ftype[fid])) is not None
                }
                upper = {
                    fid: b
                    for fid, v in hi_v.items()
                    if (b := serialize_bound(v, ftype[fid])) is not None
                }
                entries.append(
                    {
                        "status": 1,  # ADDED
                        "snapshot_id": None,  # inherited from the manifest
                        "sequence_number": None,
                        "file_sequence_number": None,
                        "data_file": {
                            "content": 0,
                            "file_path": path,
                            "file_format": "PARQUET",
                            "partition": partition,
                            "record_count": meta.num_rows,
                            "file_size_in_bytes": os.path.getsize(path),
                            "value_counts": _kv(values),
                            "null_value_counts": _kv(nulls),
                            "lower_bounds": _kv(lower),
                            "upper_bounds": _kv(upper),
                            "equality_ids": None,
                        },
                    }
                )

        return self._data_manifest_from_entries(entries, snapshot_id, seq)

    def _data_manifest_from_entries(
        self, entries: list[dict], snapshot_id: int, seq: int
    ) -> dict:
        """Write one data manifest of ADDED (status 1) and EXISTING
        (status 0, explicit data sequence number) entries and return its
        manifest-list dict (not yet committed)."""
        parts = self._partition_columns()
        partition_avro_fields = [
            {
                "name": name,
                "type": _opt(
                    _ICEBERG_TO_AVRO[transform_result_type(transform, src_type)]
                ),
                "field-id": 1000 + i,
                "default": None,
            }
            for i, (name, _src, transform, src_type) in enumerate(parts)
        ]
        manifest_path = f"{self.location}/metadata/{_uuid.uuid4().hex}-m0.avro"
        spec = self._spec()
        write_ocf(
            manifest_path,
            _manifest_entry_schema(partition_avro_fields),
            entries,
            metadata={
                "schema": json.dumps(
                    {k: v for k, v in self._schema().items()}
                ),
                "schema-id": str(self.metadata["current-schema-id"]),
                "partition-spec": json.dumps(spec["fields"]),
                "partition-spec-id": str(spec["spec-id"]),
                "format-version": "2",
                "content": "data",
            },
        )

        # per-field partition summaries for manifest-level pruning
        summaries = []
        for i, (name, _src, transform, src_type) in enumerate(parts):
            vals = [e["data_file"]["partition"][name] for e in entries]
            non_null = [v for v in vals if v is not None]
            bound_type = transform_result_type(transform, src_type)
            summaries.append(
                {
                    "contains_null": any(v is None for v in vals),
                    "contains_nan": False,
                    "lower_bound": serialize_bound(
                        min(non_null) if non_null else None, bound_type
                    ),
                    "upper_bound": serialize_bound(
                        max(non_null) if non_null else None, bound_type
                    ),
                }
            )

        added = [e["data_file"] for e in entries if e["status"] == 1]
        existing = [e["data_file"] for e in entries if e["status"] == 0]
        return {
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": spec["spec-id"],
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": min(
                [e["sequence_number"] for e in entries if e["status"] == 0] + [seq]
            ),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(added),
            "existing_files_count": len(existing),
            "deleted_files_count": 0,
            "added_rows_count": sum(f["record_count"] for f in added),
            "existing_rows_count": sum(f["record_count"] for f in existing),
            "deleted_rows_count": 0,
            "partitions": summaries,
            "key_metadata": None,
        }

    def _commit_manifests(
        self,
        new_manifests: list[dict],
        operation: str,
        summary: dict,
        snapshot_id: int,
        seq: int,
        carry: str = "all",
    ) -> int:
        """Write a manifest list (new manifests + carried-forward ones)
        and commit the snapshot as the head of the ``main`` branch.

        ``carry``: ``"all"`` keeps every manifest of the previous snapshot
        (the fast-append / delta-commit shape), ``"deletes"`` keeps only
        delete manifests (a rewrite of the data manifests must not drop
        pending row-level deletes), ``"none"`` keeps nothing (full
        replace/compaction, which also purges applied deletes).

        A commit that loses the metadata-version race never overwrites
        the winner: an ``"append"`` rebases onto the table as reloaded
        and retries, every other operation (its file set was planned
        against the stale snapshot) raises ``CommitConflictError``.
        """
        for _ in range(_APPEND_COMMIT_RETRIES):
            prev = self.current_snapshot_id()
            carried: list[dict] = []
            if prev is not None and carry != "none":
                snap = next(
                    s for s in self.metadata["snapshots"] if s["snapshot-id"] == prev
                )
                carried, _ = read_ocf(snap["manifest-list"])
                if carry == "deletes":
                    carried = [m for m in carried if m.get("content", 0) == 1]
            manifests = list(new_manifests) + carried
            mlist_path = (
                f"{self.location}/metadata/snap-{snapshot_id}-{_uuid.uuid4().hex}.avro"
            )
            write_ocf(
                mlist_path,
                MANIFEST_LIST_SCHEMA,
                manifests,
                metadata={
                    "snapshot-id": str(snapshot_id),
                    "sequence-number": str(seq),
                    "format-version": "2",
                },
            )

            # spec summary totals: live data-file records across the whole
            # snapshot (added + existing per manifest; deleted entries are
            # not live). Like Iceberg's, total-records counts data-file rows
            # before merge-on-read delete application.
            data_manifests = [m for m in manifests if m.get("content", 0) == 0]
            del_manifests = [m for m in manifests if m.get("content", 0) == 1]
            totals = {
                "total-data-files": str(
                    sum(m["added_files_count"] + m["existing_files_count"] for m in data_manifests)
                ),
                "total-records": str(
                    sum(m["added_rows_count"] + m["existing_rows_count"] for m in data_manifests)
                ),
                "total-delete-files": str(
                    sum(m["added_files_count"] + m["existing_files_count"] for m in del_manifests)
                ),
            }
            now = int(time.time() * 1000)
            snapshot = {
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "timestamp-ms": now,
                "manifest-list": mlist_path,
                "summary": {"operation": operation, **totals, **summary},
                "schema-id": self.metadata["current-schema-id"],
            }
            if prev is not None:
                snapshot["parent-snapshot-id"] = prev
            self.metadata["snapshots"].append(snapshot)
            self.metadata["last-sequence-number"] = seq
            self.metadata["last-updated-ms"] = now
            self.metadata.setdefault("refs", {})["main"] = {
                "snapshot-id": snapshot_id,
                "type": "branch",
            }
            self.metadata["snapshot-log"].append(
                {"timestamp-ms": now, "snapshot-id": snapshot_id}
            )
            self.metadata["current-snapshot-id"] = snapshot_id
            try:
                self._commit_metadata()
                return snapshot_id
            except CommitConflictError:
                os.remove(mlist_path)
                if operation != "append":
                    raise
            # Fast append: rebase onto the winner — re-parent on the new
            # head, re-carry its manifests, take the next seq.
            fresh = IcebergTable.load(self.location)
            self.metadata, self.version = fresh.metadata, fresh.version
            seq = self.metadata["last-sequence-number"] + 1
            for m in new_manifests:
                m["sequence_number"] = m["min_sequence_number"] = seq
        raise CommitConflictError(
            f"append lost {_APPEND_COMMIT_RETRIES} consecutive commit races "
            f"at {self.location}"
        )

    # -- metadata tables -------------------------------------------------------

    def inspect_partitions(self, spark: SparkSession) -> DataFrame:
        """The ``<table>.partitions`` metadata table: per-partition
        file/row totals of the current snapshot, from the manifests
        alone (no data file is opened). ``partition`` is the JSON of
        the partition tuple."""
        files, _deletes, _stats = self.plan_scan()
        df = spark.createDataFrame(
            [
                (
                    json.dumps(f.get("partition") or {}, sort_keys=True),
                    f["record_count"],
                    f["file_size_in_bytes"],
                )
                for f in files
            ],
            "partition string, record_count long, file_size_in_bytes long",
        )
        return (
            df.groupBy("partition")
            .agg(
                F.count("*").alias("file_count"),
                F.sum("record_count").alias("record_count"),
                F.sum("file_size_in_bytes").alias("total_size_bytes"),
            )
        )

    # -- maintenance ----------------------------------------------------------

    def set_sort_order(self, columns: list) -> int:
        """Declare the table's write sort order (spec ``sort-orders``).

        ``columns``: column names, or ``(name, "asc"|"desc")`` tuples.
        Metadata-only; takes effect on the next sorted ``compact``.
        Returns the new order-id."""
        fields = []
        schema_fields = {f["name"]: f for f in self._schema()["fields"]}
        for c in columns:
            name, direction = c if isinstance(c, tuple) else (c, "asc")
            if name not in schema_fields:
                raise ValueError(f"unknown sort column {name!r}")
            if direction not in ("asc", "desc"):
                raise ValueError(f"direction must be asc/desc, got {direction!r}")
            fields.append(
                {
                    "transform": "identity",
                    "source-id": schema_fields[name]["id"],
                    "direction": direction,
                    "null-order": "nulls-first",
                }
            )
        order_id = 1 + max(o["order-id"] for o in self.metadata["sort-orders"])
        self.metadata["sort-orders"].append({"order-id": order_id, "fields": fields})
        self.metadata["default-sort-order-id"] = order_id
        self.metadata["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata()
        return order_id

    def _sort_columns(self) -> list[tuple[str, str]]:
        """(column name, direction) pairs of the default sort order."""
        oid = self.metadata.get("default-sort-order-id", 0)
        order = next(
            (o for o in self.metadata["sort-orders"] if o["order-id"] == oid),
            None,
        )
        if not order or not order["fields"]:
            return []
        by_id = {f["id"]: f["name"] for f in self._schema()["fields"]}
        return [(by_id[f["source-id"]], f["direction"]) for f in order["fields"]]

    def compact(self, spark: SparkSession, target_files_per_partition: int = 1) -> int:
        """Rewrite the current snapshot's data into fewer files per
        partition and commit it as a ``replace`` snapshot.

        Small-file compaction is the table-maintenance job every
        long-running ingest needs: streaming/resumed appends accrete
        many small parquet files, and scan cost is dominated by file
        count. The rewrite reads only live files and the commit swaps
        the manifest list — previous snapshots (and their files) stay
        readable for time travel.

        If a default sort order is set (``set_sort_order``), the rewrite
        range-clusters rows by (partition tuple, sort key): each output
        file covers a disjoint sort-key slice, so the per-file column
        bounds recorded in the manifest become tight and a
        ``bounds_filter`` point/range scan opens ~one file per partition
        instead of all of them — Iceberg's sorted rewrite_data_files. At
        100 TB this is what turns a needle query from a partition scan
        into a handful of file reads.
        """
        live = self.scan(spark)
        parts = self._partition_columns()
        part_srcs = [src for _n, src, _t, _st in parts]
        sort_cols = self._sort_columns()
        target = max(target_files_per_partition, 1)
        if sort_cols:
            # files-per-partition × partition-tuple count, from metadata
            # (plan_files is manifest-only — no data read)
            files, _ = self.plan_files()
            n_tuples = max(
                1, len({tuple(sorted((f["partition"] or {}).items())) for f in files})
            )
            exprs = [F.col(c) for c in part_srcs] + [
                F.col(c).desc() if d == "desc" else F.col(c).asc()
                for c, d in sort_cols
            ]
            live = live.repartitionByRange(target * n_tuples, *exprs)
            live = live.sortWithinPartitions(*exprs)
            # distribution="none": the write path must NOT re-shuffle by
            # partition tuple or it destroys the range clustering
            return self._replace_with(live, operation="replace", distribution="none")
        if parts:
            # coalesce within partitions: repartition on the partition
            # values so each tuple lands in few tasks
            live = live.repartition(target, *[F.col(c) for c in part_srcs])
        else:
            live = live.coalesce(target)
        return self._replace_with(live, operation="replace")

    def delete_where(self, spark: SparkSession, condition) -> int | None:
        """Row-level DELETE via v2 *position delete* files (merge-on-read).

        Scans the live table (itself merge-on-read, so re-deleting is a
        no-op), filters with ``condition`` (SQL string or Column), and
        records each matching row as (data file path, row position) —
        the position being parquet row index from ``_metadata.row_index``,
        identical to what the scan uses to apply the delete, so writer
        and reader agree by construction. The commit adds ONE delete
        manifest; no data file is rewritten — at 100 TB a delete touches
        only the rows deleted, and the next ``compact`` folds the deletes
        into rewritten files and drops them.

        Returns the new snapshot id, or None if nothing matched.
        """
        files, deletes, _stats = self.plan_scan()
        if not files:
            return None
        live = self._read_files(spark, files, delete_files=deletes, keep_lineage=True)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        hits = (
            live.filter(cond)
            .select(F.col("_file").alias("file_path"), F.col("_pos").alias("pos"))
            # spec: position delete files are sorted by file_path, pos
            .repartition(1)
            .sortWithinPartitions("file_path", "pos")
        )
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        seq = self.metadata["last-sequence-number"] + 1
        manifest, n_rows = self._write_delete_manifest(
            hits, content=1, equality_ids=None, snapshot_id=snapshot_id, seq=seq
        )
        if manifest is None:
            return None
        return self._commit_manifests(
            [manifest],
            operation="delete",
            summary={
                "added-delete-files": str(manifest["added_files_count"]),
                "added-position-deletes": str(n_rows),
            },
            snapshot_id=snapshot_id,
            seq=seq,
            carry="all",
        )

    def upsert(self, spark: SparkSession, source: DataFrame, key_columns: list[str]) -> int:
        """MERGE (upsert) via v2 *equality delete* files, one snapshot.

        Writes ``source`` as new data files AND an equality delete file
        on ``key_columns`` under the SAME sequence number: equality
        deletes apply only to data files with a strictly lower data
        sequence number (spec), so previous rows with matching keys die
        while the replacement rows survive — Iceberg's merge-on-read
        MERGE shape. No existing file is read or rewritten: commit cost
        is proportional to the delta, not the table.
        """
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        seq = self.metadata["last-sequence-number"] + 1
        data_manifest = self._write_data_manifest(source, snapshot_id, seq)
        name_to_id = {f["name"]: f["id"] for f in self._schema()["fields"]}
        ids = [name_to_id[c] for c in key_columns]
        keys = source.select(*key_columns).dropDuplicates().coalesce(1)
        eq_manifest, n_rows = self._write_delete_manifest(
            keys, content=2, equality_ids=ids, snapshot_id=snapshot_id, seq=seq
        )
        manifests = [data_manifest] + ([eq_manifest] if eq_manifest else [])
        return self._commit_manifests(
            manifests,
            operation="overwrite",
            summary={
                "added-data-files": str(data_manifest["added_files_count"]),
                "added-records": str(data_manifest["added_rows_count"]),
                "added-delete-files": str(
                    eq_manifest["added_files_count"] if eq_manifest else 0
                ),
                "added-equality-deletes": str(n_rows),
            },
            snapshot_id=snapshot_id,
            seq=seq,
            carry="all",
        )

    def _write_delete_manifest(
        self,
        rows: DataFrame,
        content: int,
        equality_ids: list[int] | None,
        snapshot_id: int,
        seq: int,
    ) -> tuple[dict | None, int]:
        """Write ``rows`` as parquet delete file(s) plus one delete
        manifest (content=1 in the manifest list); returns (manifest
        dict, row count), or (None, 0) if ``rows`` is empty.

        Delete files are committed with an all-null partition tuple —
        global scope, as the spec allows for path-based position deletes
        and unpartitioned-spec equality deletes; the reader never
        partition-prunes delete manifests, so scope stays correct.
        """
        import pyarrow.parquet as pq

        write_id = _uuid.uuid4().hex
        out_dir = f"{self.location}/data/{write_id}"
        rows.write.mode("append").parquet(out_dir)
        parts = self._partition_columns()
        null_partition = {name: None for name, *_rest in parts}
        entries = []
        n_rows = 0
        for root, _dirs, fns in os.walk(out_dir):
            for fn in sorted(fns):
                if not fn.endswith(".parquet"):
                    continue
                path = os.path.join(root, fn)
                meta = pq.ParquetFile(path).metadata
                if meta.num_rows == 0:
                    continue
                n_rows += meta.num_rows
                entries.append(
                    {
                        "status": 1,  # ADDED
                        "snapshot_id": None,
                        "sequence_number": None,
                        "file_sequence_number": None,
                        "data_file": {
                            "content": content,
                            "file_path": path,
                            "file_format": "PARQUET",
                            "partition": null_partition,
                            "record_count": meta.num_rows,
                            "file_size_in_bytes": os.path.getsize(path),
                            "value_counts": None,
                            "null_value_counts": None,
                            "lower_bounds": None,
                            "upper_bounds": None,
                            "equality_ids": list(equality_ids) if equality_ids else None,
                        },
                    }
                )
        if not entries:
            return None, 0
        partition_avro_fields = [
            {
                "name": name,
                "type": _opt(
                    _ICEBERG_TO_AVRO[transform_result_type(transform, src_type)]
                ),
                "field-id": 1000 + i,
                "default": None,
            }
            for i, (name, _src, transform, src_type) in enumerate(parts)
        ]
        manifest_path = f"{self.location}/metadata/{write_id}-m0.avro"
        spec = self._spec()
        write_ocf(
            manifest_path,
            _manifest_entry_schema(partition_avro_fields),
            entries,
            metadata={
                "schema": json.dumps(self._schema()),
                "schema-id": str(self.metadata["current-schema-id"]),
                "partition-spec": json.dumps(spec["fields"]),
                "partition-spec-id": str(spec["spec-id"]),
                "format-version": "2",
                "content": "deletes",
            },
        )
        manifest = {
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": spec["spec-id"],
            "content": 1,  # DELETES
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": None,
            "key_metadata": None,
        }
        return manifest, n_rows

    def rewrite_manifests(self, extra_summary: dict | None = None) -> dict:
        """Consolidate the current snapshot's data manifests into one,
        WITHOUT touching any data file.

        Scan planning is O(manifests): a table built from thousands of
        fast-append micro-commits (streaming epochs, per-run OCR
        commits) accumulates one tiny manifest per commit, and at 100 TB
        the driver's planning time is dominated by opening them all.
        This rewrites every live entry as EXISTING (status 0, explicit
        data sequence number preserved, so merge-on-read delete
        application is unchanged) into one manifest, sorted by
        partition tuple so manifest-level partition summaries stay
        tight for pruning. Delete manifests are carried through
        untouched. Pure metadata: cost is proportional to file COUNT,
        never data volume. Returns {manifests_before, manifests_after,
        entries}."""
        sid = self.current_snapshot_id()
        if sid is None:
            return {"manifests_before": 0, "manifests_after": 0, "entries": 0}
        snap = next(
            s for s in self.metadata["snapshots"] if s["snapshot-id"] == sid
        )
        manifests, _ = read_ocf(snap["manifest-list"])
        data_manifests = [m for m in manifests if m.get("content", 0) == 0]
        if len(data_manifests) <= 1:
            return {
                "manifests_before": len(data_manifests),
                "manifests_after": len(data_manifests),
                "entries": sum(
                    m["added_files_count"] + m["existing_files_count"]
                    for m in data_manifests
                ),
            }

        snapshot_id = int.from_bytes(os.urandom(7), "big")
        seq = self.metadata["last-sequence-number"] + 1

        # live entries, each with its effective data sequence number made
        # explicit (ADDED entries inherit their manifest's)
        entries: list[dict] = []
        for m in data_manifests:
            for e in read_ocf(m["manifest_path"])[0]:
                if e["status"] == 2:  # DELETED — drop from the rewrite
                    continue
                data_seq = (
                    e["sequence_number"]
                    if e["sequence_number"] is not None
                    else m["sequence_number"]
                )
                entries.append(
                    {
                        "status": 0,  # EXISTING
                        "snapshot_id": e["snapshot_id"]
                        if e["snapshot_id"] is not None
                        else m["added_snapshot_id"],
                        "sequence_number": data_seq,
                        "file_sequence_number": e["file_sequence_number"],
                        "data_file": e["data_file"],
                    }
                )

        entries.sort(
            key=lambda e: repr(sorted((e["data_file"]["partition"] or {}).items()))
        )
        manifest = self._data_manifest_from_entries(entries, snapshot_id, seq)
        self._commit_manifests(
            [manifest],
            operation="replace",
            summary={
                "manifests-replaced": str(len(data_manifests)),
                "manifests-created": "1",
                **(extra_summary or {}),
            },
            snapshot_id=snapshot_id,
            seq=seq,
            carry="deletes",
        )
        return {
            "manifests_before": len(data_manifests),
            "manifests_after": 1,
            "entries": len(entries),
        }

    def _replace_with(
        self, df: DataFrame, operation: str, distribution: str = "hash"
    ) -> int:
        """Write ``df`` as a fresh file set and commit a snapshot whose
        manifest list contains ONLY the new manifest. Row-level delete
        manifests are NOT carried forward: ``df`` is the merge-on-read
        result, so the rewrite applies (and thereby purges) them."""
        old_files, _ = self.plan_files()
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        seq = self.metadata["last-sequence-number"] + 1
        manifest = self._write_data_manifest(
            df, snapshot_id, seq, distribution=distribution
        )
        return self._commit_manifests(
            [manifest],
            operation=operation,
            summary={
                "added-data-files": str(manifest["added_files_count"]),
                "added-records": str(manifest["added_rows_count"]),
                "deleted-data-files": str(len(old_files)),
            },
            snapshot_id=snapshot_id,
            seq=seq,
            carry="none",
        )

    # -- scan ----------------------------------------------------------------

    def plan_files(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict | None = None,
        bounds_filter: dict | None = None,
    ) -> tuple[list[dict], dict]:
        """Plan the data-file side of a scan: (data_file dicts, stats).
        Thin wrapper over ``plan_scan`` for callers that operate at file
        granularity (compaction bookkeeping)."""
        files, _deletes, stats = self.plan_scan(
            snapshot_id, partition_filter, bounds_filter
        )
        return files, stats

    def plan_scan(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict | None = None,
        bounds_filter: dict | None = None,
    ) -> tuple[list[dict], list[dict], dict]:
        """Plan a scan: returns (data files, delete files, pruning stats).

        ``partition_filter``: {partition field name: exact value or
        inclusive ``(lo, hi)`` range} — prunes manifests via field
        summaries, then files via partition tuples. Ranges are only
        meaningful for order-preserving transforms (identity, truncate,
        temporal); bucket values are unordered, filter them exactly.
        ``bounds_filter``: {column: (lo, hi)} — prunes files via the
        per-column lower/upper bounds recorded at commit time.

        Each returned data file carries ``"_data_seq"`` (its effective
        data sequence number: the entry's explicit one, else inherited
        from its manifest) — the key for row-level delete application.
        Delete manifests (content=1) are global-scope here and are never
        partition-pruned; position deletes name their target file, so
        deletes against pruned-out files drop out in the anti-join.
        """
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return [], [], {
                "manifests_total": 0,
                "manifests_read": 0,
                "files_total": 0,
                "files_selected": 0,
                "delete_files_selected": 0,
            }
        snap = next(
            s for s in self.metadata["snapshots"] if s["snapshot-id"] == sid
        )
        manifests, _ = read_ocf(snap["manifest-list"])
        parts = self._partition_columns()
        part_index = {name: i for i, (name, *_r) in enumerate(parts)}
        part_bound_type = {
            name: transform_result_type(transform, src_type)
            for name, _src, transform, src_type in parts
        }

        stats = {
            "manifests_total": len(manifests),
            "manifests_read": 0,
            "files_total": 0,
            "files_selected": 0,
            "delete_files_selected": 0,
        }
        schema_fields = {f["name"]: f for f in self._schema()["fields"]}
        selected = []
        delete_files = []
        for m in manifests:
            if m.get("content", 0) == 1:  # delete manifest: global scope
                entries, _ = read_ocf(m["manifest_path"])
                for e in entries:
                    if e["status"] == 2:
                        continue
                    d = dict(e["data_file"])
                    d["_data_seq"] = (
                        e["sequence_number"]
                        if e["sequence_number"] is not None
                        else m["sequence_number"]
                    )
                    delete_files.append(d)
                    stats["delete_files_selected"] += 1
                continue
            if partition_filter and m.get("partitions"):
                skip = False
                for col, want in partition_filter.items():
                    idx = part_index.get(col)
                    if idx is None:
                        continue
                    s = m["partitions"][idx]
                    bt = part_bound_type[col]
                    lo = deserialize_bound(s.get("lower_bound"), bt)
                    hi = deserialize_bound(s.get("upper_bound"), bt)
                    if want is None:
                        if not s["contains_null"]:
                            skip = True
                    elif lo is not None:
                        w_lo, w_hi = (
                            want if isinstance(want, tuple) else (want, want)
                        )
                        # a None side of a range tuple means unbounded
                        if (w_hi is not None and w_hi < lo) or (
                            w_lo is not None and w_lo > hi
                        ):
                            skip = True
                if skip:
                    continue
            stats["manifests_read"] += 1
            entries, _ = read_ocf(m["manifest_path"])
            for e in entries:
                if e["status"] == 2:  # DELETED
                    continue
                stats["files_total"] += 1
                df_ = e["data_file"]
                if partition_filter:
                    miss = False
                    for col, want in partition_filter.items():
                        if col not in part_index:
                            continue
                        v = df_["partition"].get(col)
                        if isinstance(want, tuple):
                            if (
                                v is None
                                or (want[0] is not None and v < want[0])
                                or (want[1] is not None and v > want[1])
                            ):
                                miss = True
                                break
                        elif v != want:
                            miss = True
                            break
                    if miss:
                        continue
                if bounds_filter:
                    skip = False
                    for col, (lo_want, hi_want) in bounds_filter.items():
                        f = schema_fields.get(col)
                        if f is None:
                            continue
                        fid = f["id"]
                        lo = _kv_get(df_.get("lower_bounds"), fid)
                        hi = _kv_get(df_.get("upper_bounds"), fid)
                        if lo is None:
                            continue
                        lo = deserialize_bound(lo, f["type"])
                        hi = deserialize_bound(hi, f["type"])
                        if lo is None or hi is None:
                            continue
                        # wanted values normalize into the same ordinal
                        # space as the stored bounds (datetime -> micros);
                        # a None side means unbounded
                        w_lo = bound_ordinal(lo_want, f["type"])
                        w_hi = bound_ordinal(hi_want, f["type"])
                        if (w_lo is not None and hi < w_lo) or (
                            w_hi is not None and lo > w_hi
                        ):
                            skip = True
                            break
                    if skip:
                        continue
                stats["files_selected"] += 1
                d = dict(df_)
                d["_data_seq"] = (
                    e["sequence_number"]
                    if e["sequence_number"] is not None
                    else m["sequence_number"]
                )
                selected.append(d)
        return selected, delete_files, stats

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        partition_filter: dict | None = None,
        bounds_filter: dict | None = None,
    ) -> DataFrame:
        """Read the table (optionally time-travelled to ``snapshot_id``
        and pruned, see ``plan_scan``) as a DataFrame, merge-on-read
        applying any row-level delete files. Planning reads metadata
        only and runs no Spark job."""
        files, deletes, _stats = self.plan_scan(
            snapshot_id, partition_filter, bounds_filter
        )
        return self._read_files(spark, files, delete_files=deletes)

    def plan_incremental_files(self, from_seq: int, to_seq: int) -> list[dict]:
        """Data files appended with sequence number in ``(from_seq,
        to_seq]`` — the changelog window the streaming source plans per
        micro-batch (its offsets ARE sequence numbers). Manifests are
        selected by sequence number, so the cost is proportional to the
        new data only. Only ``append`` snapshots may lie inside the
        window: a replace or delete in between makes "what was added"
        ambiguous at file granularity, so that raises instead of
        silently double-counting (Iceberg's own incremental scan has
        the same restriction)."""
        snaps = self.metadata["snapshots"]
        window = [s for s in snaps if from_seq < s["sequence-number"] <= to_seq]
        if not window:
            return []
        for s in window:
            if s["summary"].get("operation") != "append":
                raise ValueError(
                    "incremental scan window crosses a "
                    f"{s['summary'].get('operation')!r} snapshot"
                )
        to_snap = max(window, key=lambda s: s["sequence-number"])
        manifests, _ = read_ocf(to_snap["manifest-list"])
        files = []
        for m in manifests:
            if m.get("content", 0) == 1:  # delete manifests carry no adds
                continue
            if not (from_seq < m["min_sequence_number"] <= to_seq):
                continue
            entries, _ = read_ocf(m["manifest_path"])
            for e in entries:
                if e["status"] != 1:  # ADDED only
                    continue
                d = dict(e["data_file"])
                d["_data_seq"] = (
                    e["sequence_number"]
                    if e["sequence_number"] is not None
                    else m["sequence_number"]
                )
                files.append(d)
        return files

    def _read_files(
        self,
        spark: SparkSession,
        files: list[dict],
        delete_files: list[dict] | None = None,
        keep_lineage: bool = False,
    ) -> DataFrame:
        """Read planned data files, merge-on-read applying row-level
        delete files.

        Every file is read with an explicit schema taken from the table
        metadata, as the spec reads data files (by the table schema, not
        by their footers), so planning the read runs no Spark job. Data
        files hold the table schema minus the partition columns: the
        hive layout keeps identity-partition sources out of the files,
        so they are re-attached as literals per partition tuple (the
        constant-column trick Iceberg's own Spark source uses).

        Position deletes (content=1) anti-join on (file path, row
        position); the position comes from Spark's ``_metadata.row_index``
        hidden column — the same parquet row index the delete files
        record, computed executor-side with no extra shuffle. Equality
        deletes (content=2) anti-join on the delete file's key columns,
        restricted (per spec) to data files whose data sequence number is
        strictly LOWER than the delete's — which is what lets an upsert
        commit its equality deletes and replacement rows under one
        sequence number. With ``keep_lineage`` the output keeps ``_file``
        / ``_pos`` / ``_seq`` columns (delete_where uses them to record
        positions).
        """
        schema = self._schema()
        parts = self._partition_columns()
        spark_schema = _spark_ddl(schema, parts)
        delete_files = delete_files or []
        lineage = keep_lineage or bool(delete_files)
        if not files:
            if lineage and keep_lineage:
                spark_schema += ", _file string, _pos bigint, _seq bigint"
            return spark.createDataFrame([], spark_schema)
        types = {f["name"]: _type_ddl(f["type"]) for f in schema["fields"]}
        hidden = {name for name, _s, transform, _t in parts if transform != "identity"}
        identity = {
            name: src for name, src, transform, _t in parts if transform == "identity"
        }
        cols = [c for c in types if c not in hidden]
        file_schema = ", ".join(
            f"{c} {types[c]}" for c in cols if c not in identity.values()
        )
        groups: dict[tuple, list[str]] = {}
        for f in files:
            key = tuple(f["partition"].get(name) for name in identity)
            groups.setdefault(key, []).append(f["file_path"])
        # Spark lists more paths than this in a parallel job; reading
        # each group in chunks of at most that many keeps the scan's
        # construction free of Spark jobs however many files it covers.
        chunk = max(1, int(spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "32"
        )))
        reads = [
            (key, paths[i : i + chunk])
            for key, paths in sorted(groups.items(), key=lambda kv: repr(kv[0]))
            for i in range(0, len(paths), chunk)
        ]
        out = None
        for key, paths in reads:
            df = spark.read.schema(file_schema).parquet(*paths)
            for src, value in zip(identity.values(), key):
                df = df.withColumn(src, F.lit(value).cast(types[src]))
            select = list(cols)
            if lineage:
                # normalize file:///p -> /p so _file matches manifest paths
                select += [
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:/+", "/"
                    ).alias("_file"),
                    F.col("_metadata.row_index").alias("_pos"),
                ]
            df = df.select(*select)
            out = df if out is None else out.unionByName(df)

        if lineage:
            # per-file data sequence numbers (bounded: one row per file)
            seq_rows = [
                (f["file_path"], int(f.get("_data_seq", 0))) for f in files
            ]
            seq_df = spark.createDataFrame(seq_rows, "_file string, _seq bigint")
            out = out.join(F.broadcast(seq_df), "_file", "left")

        pos_deletes = [d for d in delete_files if d.get("content") == 1]
        if pos_deletes:
            # position deletes name their target file explicitly, so the
            # sequence-number check is vacuous (paths are never reused)
            dels = spark.read.schema("file_path string, pos bigint").parquet(
                *[d["file_path"] for d in pos_deletes]
            )
            out = out.join(
                F.broadcast(dels)
                if sum(d["file_size_in_bytes"] for d in pos_deletes) < 64 << 20
                else dels,
                (out["_file"] == dels["file_path"]) & (out["_pos"] == dels["pos"]),
                "left_anti",
            )

        eq_deletes = [d for d in delete_files if d.get("content") == 2]
        if eq_deletes:
            id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
            by_keyset: dict[tuple, list[dict]] = {}
            for d in eq_deletes:
                by_keyset.setdefault(tuple(d["equality_ids"] or ()), []).append(d)
            for ids, dfiles in sorted(by_keyset.items()):
                keys = [id_to_name[i] for i in ids]
                key_schema = ", ".join(f"{k} {types[k]}" for k in keys)
                dels = None
                for d in dfiles:
                    one = (
                        spark.read.schema(key_schema)
                        .parquet(d["file_path"])
                        .withColumn("__dseq", F.lit(int(d["_data_seq"])))
                    )
                    dels = one if dels is None else dels.unionByName(one)
                cond = out["_seq"] < dels["__dseq"]
                for k in keys:
                    cond = cond & out[k].eqNullSafe(dels[k])
                out = out.join(F.broadcast(dels), cond, "left_anti")

        if lineage and not keep_lineage:
            out = out.drop("_file", "_pos", "_seq")
        return out


class IcebergDocumentSink:
    """Committed-results sink + resume ledger on a real Iceberg table.

    The checkpoint layer (``ocrs_spark.checkpoint``) implements the
    snapshot CAS protocol on plain parquet manifests; this class is the
    same resume contract on the actual Iceberg format: every completed
    batch of woven documents is one ``append`` snapshot, and a restarted
    run anti-joins its input against the committed ``doc_id`` ledger, so
    a kill between snapshots re-processes nothing that committed and a
    kill mid-commit leaves the previous snapshot live (the metadata CAS
    never overwrites).
    """

    def __init__(self, location: str, spark: SparkSession, result_schema):
        try:
            self.table = IcebergTable.load(location)
        except FileNotFoundError:
            self.table = IcebergTable.create(location, result_schema)
        self._spark = spark

    def commit_run(self, woven: DataFrame) -> int:
        """Append one completed batch as a new snapshot; returns its id."""
        snapshot_id = self.table.append(woven)
        self.table = IcebergTable.load(self.table.location)
        return snapshot_id

    def committed(self) -> DataFrame:
        """All documents committed as of the current snapshot."""
        return self.table.scan(self._spark)

    def remaining(self, documents: DataFrame) -> DataFrame:
        """Documents not yet committed (the resume input)."""
        if self.table.current_snapshot_id() is None:
            return documents
        ledger = self.committed().select("doc_id")
        return documents.join(ledger, "doc_id", "left_anti")

    def invalidate(self, doc_ids: DataFrame) -> int | None:
        """Evict committed documents from the ledger so the next resume
        re-extracts them (e.g. after a decoder fix un-quarantines their
        media). One equality-delete commit on ``doc_id`` — no result
        file is rewritten, and every prior snapshot stays time-travel
        readable for auditing what the old extraction produced.
        """
        if self.table.current_snapshot_id() is None:
            return None
        keys = doc_ids.select("doc_id").dropDuplicates().coalesce(1)
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        seq = self.table.metadata["last-sequence-number"] + 1
        name_to_id = {
            f["name"]: f["id"] for f in self.table._schema()["fields"]
        }
        manifest, n_rows = self.table._write_delete_manifest(
            keys,
            content=2,
            equality_ids=[name_to_id["doc_id"]],
            snapshot_id=snapshot_id,
            seq=seq,
        )
        if manifest is None:
            return None
        out = self.table._commit_manifests(
            [manifest],
            operation="delete",
            summary={
                "added-delete-files": str(manifest["added_files_count"]),
                "added-equality-deletes": str(n_rows),
            },
            snapshot_id=snapshot_id,
            seq=seq,
            carry="all",
        )
        self.table = IcebergTable.load(self.table.location)
        return out


def _bucket_column(src: str, src_type: str, n: int):
    """Vectorized Iceberg bucket[n] as a pandas UDF (murmur3 per spec)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _bucket(s):
        import pandas as pd

        def one(v):
            if v is None or (isinstance(v, float) and v != v):
                return None
            return bucket_value(v, src_type, n)

        return pd.Series([one(v) for v in s], dtype="Int32")

    return _bucket(F.col(src))


def _kv(d: dict) -> list[dict]:
    """Avro array-of-key/value encoding of Iceberg's int-keyed maps."""
    return [{"key": k, "value": v} for k, v in sorted(d.items())] or None


def _kv_get(kv: list[dict] | None, key: int):
    if not kv:
        return None
    for item in kv:
        if item["key"] == key:
            return item["value"]
    return None


def _type_ddl(x) -> str:
    """Spark DDL for an Iceberg type."""
    if isinstance(x, str):
        return {
            "long": "bigint",
            "int": "int",
            "string": "string",
            "boolean": "boolean",
            "double": "double",
            "float": "float",
            "binary": "binary",
            "date": "date",
            "timestamptz": "timestamp",
        }[x]
    if x["type"] == "list":
        return f"array<{_type_ddl(x['element'])}>"
    if x["type"] == "struct":
        inner = ",".join(f"{f['name']}:{_type_ddl(f['type'])}" for f in x["fields"])
        return f"struct<{inner}>"
    if x["type"] == "map":
        return f"map<{_type_ddl(x['key'])},{_type_ddl(x['value'])}>"
    raise ValueError(str(x))


def _spark_ddl(schema: dict, parts) -> str:
    """Spark DDL string for an (empty) scan of this Iceberg schema."""
    hidden = {name for name, _s, tr, _t in parts if not tr == "identity"}
    cols = [
        f"{f['name']} {_type_ddl(f['type'])}"
        for f in schema["fields"]
        if f["name"] not in hidden
    ]
    return ", ".join(cols)

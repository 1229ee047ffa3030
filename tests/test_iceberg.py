"""From-spec Iceberg v2 table tests: commit protocol, time travel,
partition/bounds pruning, bucket transform (spec appendix B vectors),
and the committed-results sink."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ocrs_spark.avro_ocf import read_ocf
from ocrs_spark.iceberg import (
    CommitConflictError,
    IcebergDocumentSink,
    IcebergTable,
    bucket_value,
    murmur3_32,
    partition_transform_column,
    serialize_bound,
    deserialize_bound,
)

from .reference import transform_value

SF = "/root/testdata/sf0.001"


# -- pure-python format pieces ------------------------------------------------


def test_murmur3_spec_vectors():
    # Iceberg spec appendix B: hash(34 as long) and hash("iceberg")
    assert murmur3_32((34).to_bytes(8, "little", signed=True)) == 2017239379
    assert murmur3_32("iceberg".encode("utf-8")) == 1210000089


def test_bucket_transform_spec_semantics():
    # ints hash as longs, so bucket(34 as int) == bucket(34 as long)
    assert bucket_value(34, "int", 16) == bucket_value(34, "long", 16)
    assert bucket_value(34, "long", 16) == 2017239379 % 16
    assert bucket_value("iceberg", "string", 16) == 1210000089 % 16
    assert bucket_value(None, "long", 16) is None
    for v in range(100):
        assert 0 <= bucket_value(v, "long", 8) < 8


def test_bound_serialization_roundtrip():
    for value, t in [
        (-(2**40), "long"),
        (123, "int"),
        (1.5, "double"),
        (-0.25, "float"),
        ("zebra", "string"),
        (True, "boolean"),
    ]:
        assert deserialize_bound(serialize_bound(value, t), t) == value
    assert serialize_bound(None, "long") is None


# -- table lifecycle ----------------------------------------------------------


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _fresh_table(docs, tmp_path, partition_by):
    loc = str(tmp_path / "tbl")
    return IcebergTable.create(loc, docs.schema, partition_by=partition_by)


def test_append_scan_identity(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    s1 = t.append(docs.filter(F.col("doc_id") % 2 == 0))
    s2 = t.append(docs.filter(F.col("doc_id") % 2 == 1))
    assert [s["snapshot-id"] for s in t.snapshots()] == [s1, s2]

    loaded = IcebergTable.load(t.location)
    full = loaded.scan(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    want = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(full[sorted(full.columns)], want[sorted(want.columns)])


def test_time_travel_reads_first_snapshot_only(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    s1 = t.append(docs.filter(F.col("doc_id") % 2 == 0))
    t.append(docs.filter(F.col("doc_id") % 2 == 1))
    tt = IcebergTable.load(t.location).scan(spark, snapshot_id=s1)
    got = sorted(r.doc_id for r in tt.select("doc_id").collect())
    want = sorted(
        r.doc_id for r in docs.filter(F.col("doc_id") % 2 == 0).select("doc_id").collect()
    )
    assert got == want


def test_partition_pruning_skips_files(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    t.append(docs.filter(F.col("doc_id") % 2 == 0))
    t.append(docs.filter(F.col("doc_id") % 2 == 1))
    loaded = IcebergTable.load(t.location)
    n_langs = docs.select("lang").distinct().count()
    files, _deletes, stats = loaded.plan_scan(partition_filter={"lang": "en"})
    assert stats["files_total"] == 2 * n_langs  # one file per (lang, append)
    assert stats["files_selected"] == 2  # only the two lang=en files
    got = loaded.scan(spark, partition_filter={"lang": "en"})
    assert got.count() == docs.filter("lang = 'en'").count()
    assert got.filter("lang <> 'en'").count() == 0


def test_bounds_pruning_uses_footer_stats(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, None)
    # two appends with disjoint doc_id ranges -> disjoint file bounds
    t.append(docs.filter("doc_id < 100"))
    t.append(docs.filter("doc_id >= 100"))
    loaded = IcebergTable.load(t.location)
    files, _deletes, stats = loaded.plan_scan(bounds_filter={"doc_id": (0, 50)})
    assert stats["files_selected"] < stats["files_total"]
    df = loaded.scan(spark, bounds_filter={"doc_id": (0, 50)})
    # bounds pruning is file-granular: every doc_id <= 50 must survive
    assert df.filter("doc_id <= 50").count() == docs.filter("doc_id <= 50").count()


def test_bucket_partition_point_lookup(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, [("doc_id", "bucket[8]")])
    t.append(docs)
    loaded = IcebergTable.load(t.location)
    _, _deletes, all_stats = loaded.plan_scan()
    b = bucket_value(42, "long", 8)
    files, _deletes, stats = loaded.plan_scan(partition_filter={"doc_id_bucket": b})
    assert 0 < stats["files_selected"] < all_stats["files_total"]
    row = (
        loaded.scan(spark, partition_filter={"doc_id_bucket": b})
        .filter("doc_id = 42")
        .collect()
    )
    assert len(row) == 1
    want = docs.filter("doc_id = 42").collect()[0]
    assert row[0].text == want.text and row[0].lang == want.lang


def test_temporal_transforms_column_vs_python_parity(spark):
    """The Spark-expression transforms and the Python single-value twin
    must agree on every epoch-anchored ordinal, including pre-1970 and
    non-midnight timestamps (negative ordinals round toward -inf)."""
    import datetime as dt

    stamps = [
        dt.datetime(1969, 12, 31, 23, 30, tzinfo=dt.timezone.utc),
        dt.datetime(1970, 1, 1, 0, 0, tzinfo=dt.timezone.utc),
        dt.datetime(1970, 1, 1, 0, 59, tzinfo=dt.timezone.utc),
        dt.datetime(1965, 6, 15, 12, 0, tzinfo=dt.timezone.utc),
        dt.datetime(2017, 11, 16, 22, 31, 8, tzinfo=dt.timezone.utc),
        dt.datetime(2026, 2, 28, 23, 59, 59, tzinfo=dt.timezone.utc),
    ]
    df = spark.createDataFrame([(s,) for s in stamps], "ts timestamp")
    cols = {
        tr: partition_transform_column("ts", "timestamptz", tr).alias(tr)
        for tr in ("year", "month", "day", "hour")
    }
    got = df.select(F.col("ts"), *cols.values()).collect()
    for row in got:
        ts = row["ts"].replace(tzinfo=dt.timezone.utc)
        for tr in cols:
            assert row[tr] == transform_value(ts, tr, "timestamptz"), (ts, tr)
    # spec's worked example: 2017-11-16 -> day ordinal 17486
    assert transform_value(dt.date(2017, 11, 16), "day", "date") == 17486
    assert transform_value(dt.date(2017, 11, 16), "month", "date") == 574
    assert transform_value(dt.date(2017, 11, 16), "year", "date") == 47
    assert (
        transform_value(
            dt.datetime(2017, 11, 16, 22, 31, 8, tzinfo=dt.timezone.utc),
            "hour",
            "timestamptz",
        )
        == 17486 * 24 + 22
    )


def test_truncate_transform_parity_and_negatives(spark):
    df = spark.createDataFrame(
        [(-21,), (-10,), (-1,), (0,), (9,), (17,)], "v long"
    )
    got = {
        r["v"]: r["t"]
        for r in df.select(
            "v", partition_transform_column("v", "long", "truncate[10]").alias("t")
        ).collect()
    }
    for v, t in got.items():
        assert t == transform_value(v, "truncate[10]", "long"), v
    # spec: truncate rounds toward -inf (W=10: -1 -> -10), strings by chars
    assert got[-1] == -10 and got[-21] == -30 and got[17] == 10
    assert transform_value("iceberg", "truncate[3]", "string") == "ice"


def test_day_partition_hidden_pruning(spark, tmp_path):
    """day(ts) hidden partitioning: appends land in per-day directories,
    a point date prunes to that day's files only, and the source column
    round-trips untouched (the derived ordinal never surfaces)."""
    import datetime as dt

    events = (
        spark.read.parquet(f"{SF}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "user_id", "ts", "value")
    )
    loc = str(tmp_path / "tbl")
    t = IcebergTable.create(loc, events.schema, partition_by=[("ts", "day")])
    t.append(events)
    loaded = IcebergTable.load(loc)

    some_day = events.select(F.to_date("ts").alias("d")).groupBy("d").count().orderBy(
        F.desc("count")
    ).first()["d"]
    ordinal = transform_value(some_day, "day", "timestamptz")
    files, _deletes, stats = loaded.plan_scan(partition_filter={"ts_day": ordinal})
    assert 0 < stats["files_selected"] < stats["files_total"]

    got = loaded.scan(spark, partition_filter={"ts_day": ordinal})
    want = events.filter(F.to_date("ts") == F.lit(some_day))
    assert got.count() == want.count() > 0
    assert "ts_day" not in got.columns
    assert {r["event_id"] for r in got.select("event_id").collect()} == {
        r["event_id"] for r in want.select("event_id").collect()
    }
    # full scan still returns everything with timestamps intact
    assert loaded.scan(spark).count() == events.count()
    one = loaded.scan(spark).filter(F.col("event_id") == got.first()["event_id"]).first()
    assert isinstance(one["ts"], dt.datetime)


def test_scan_range_hidden_partition_pruning(spark, tmp_path):
    """A source-column time range prunes through the hidden day
    partitioning as an ordinal range (``transform_value`` maps the
    range's ends), and the pruned scan plus the exact predicate stays
    row-exact."""
    import datetime as dt

    events = (
        spark.read.parquet(f"{SF}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "user_id", "ts", "value")
    )
    loc = str(tmp_path / "tbl")
    t = IcebergTable.create(loc, events.schema, partition_by=[("ts", "day")])
    t.append(events)
    loaded = IcebergTable.load(loc)

    days = sorted(
        r["d"] for r in events.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(days) >= 3
    lo = dt.datetime(days[1].year, days[1].month, days[1].day)
    hi = dt.datetime(days[2].year, days[2].month, days[2].day, 23, 59, 59)

    ord_lo = transform_value(days[1], "day", "timestamptz")
    ord_hi = transform_value(days[2], "day", "timestamptz")
    _, _deletes, stats = loaded.plan_scan(partition_filter={"ts_day": (ord_lo, ord_hi)})
    assert 0 < stats["files_selected"] < stats["files_total"]

    in_range = (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    got = loaded.scan(spark, partition_filter={"ts_day": (ord_lo, ord_hi)}).filter(
        in_range
    )
    want = events.filter(in_range)
    assert got.count() == want.count() > 0
    assert {r["event_id"] for r in got.collect()} == {
        r["event_id"] for r in want.collect()
    }
    # range on an unpartitioned long column: bounds-only path, still exact
    ids = loaded.scan(spark, bounds_filter={"event_id": (10, 40)}).filter(
        "event_id between 10 and 40"
    )
    assert ids.count() == events.filter("event_id between 10 and 40").count()


def test_truncate_partition_point_lookup(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, [("doc_id", "truncate[100]")])
    t.append(docs)
    loaded = IcebergTable.load(t.location)
    _, _deletes, all_stats = loaded.plan_scan()
    files, _deletes, stats = loaded.plan_scan(
        partition_filter={"doc_id_truncate": transform_value(242, "truncate[100]", "long")}
    )
    assert 0 < stats["files_selected"] < all_stats["files_total"]
    got = loaded.scan(
        spark,
        partition_filter={"doc_id_truncate": transform_value(242, "truncate[100]", "long")},
    )
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert ids == {r["doc_id"] for r in docs.filter("doc_id >= 200 and doc_id < 300").collect()}


def test_null_partition_values(spark, docs, tmp_path):
    with_nulls = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("lang"))
    )
    t = _fresh_table(with_nulls, tmp_path, [("lang", "identity")])
    t.append(with_nulls)
    loaded = IcebergTable.load(t.location)
    out = loaded.scan(spark)
    assert out.count() == with_nulls.count()
    assert out.filter("lang IS NULL").count() == with_nulls.filter("lang IS NULL").count()
    # null partition routes through the manifest's contains_null summary
    _, _deletes, stats = loaded.plan_scan(partition_filter={"lang": None})
    assert stats["files_selected"] >= 1


def _jobs_during(spark, fn) -> int:
    """Spark jobs started by ``fn`` on this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs while building a scan")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_scan_runs_no_spark_job(spark, docs, tmp_path):
    """Building a scan reads metadata only: data and delete files are
    read with the table's schema, so no schema-inference job runs before
    an action, on an identity-partitioned table with a null partition,
    position and equality deletes, on a bucketed table, and on a table
    of more files than Spark lists without a job."""
    with_nulls = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("lang"))
    )
    t = IcebergTable.create(
        str(tmp_path / "mor"), docs.schema, partition_by=[("lang", "identity")]
    )
    t.append(with_nulls)
    t.delete_where(spark, "doc_id % 5 = 0")
    t.upsert(
        spark, with_nulls.filter("doc_id % 3 = 0").withColumn("text", F.lit("V2")), ["doc_id"]
    )
    b = IcebergTable.create(
        str(tmp_path / "bucket"), docs.schema, partition_by=[("doc_id", "bucket[4]")]
    )
    b.append(docs)
    # more files than Spark lists without a parallel job (threshold 32)
    many = IcebergTable.create(str(tmp_path / "many"), docs.schema)
    many.append(docs.repartition(40))
    assert len(many.plan_scan()[0]) == 40

    for loc in (t.location, b.location, many.location):
        scans = []
        assert _jobs_during(spark, lambda: scans.append(IcebergTable.load(loc).scan(spark))) == 0
        assert scans[0].columns == docs.columns
    mor = IcebergTable.load(t.location).scan(spark)
    assert mor.count() == docs.filter("doc_id % 5 <> 0 OR doc_id % 3 = 0").count()
    assert mor.filter("lang IS NULL").count() == with_nulls.filter(
        "lang IS NULL AND (doc_id % 5 <> 0 OR doc_id % 3 = 0)"
    ).count()
    assert mor.filter("text = 'V2'").count() == docs.filter("doc_id % 3 = 0").count()
    assert IcebergTable.load(b.location).scan(spark).count() == docs.count()
    assert IcebergTable.load(many.location).scan(spark).count() == docs.count()


# -- commit protocol ----------------------------------------------------------


def test_partitions_metadata_table_totals(spark, docs, tmp_path):
    """The partitions metadata table sums the current snapshot's files
    per partition tuple: one row per lang, every row counted once."""
    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    t.append(docs.filter("doc_id < 100"))
    t = IcebergTable.load(t.location)
    t.append(docs.filter("doc_id >= 100"))
    t = IcebergTable.load(t.location)

    parts = t.inspect_partitions(spark).collect()
    n_langs = docs.select("lang").distinct().count()
    assert len(parts) == n_langs
    assert sum(p["record_count"] for p in parts) == docs.count()
    assert sum(p["file_count"] for p in parts) == t.plan_scan()[2]["files_selected"]


def test_hash_distribution_bounds_file_count(spark, docs, tmp_path):
    """write.distribution-mode=hash: an input spread over many Spark
    partitions still writes exactly one file per partition value (not
    tasks x partitions small files). Summary totals accumulate across
    snapshots."""
    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    n_langs = docs.select("lang").distinct().count()
    t.append(docs.repartition(16))  # default hash distribution
    loaded = IcebergTable.load(t.location)
    _, _deletes, stats = loaded.plan_scan()
    assert stats["files_total"] == n_langs

    loaded.append(docs.repartition(16))
    loaded = IcebergTable.load(t.location)
    _, _deletes, stats2 = loaded.plan_scan()
    assert stats2["files_total"] == 2 * n_langs

    snap = loaded.snapshots()[-1]["summary"]
    assert int(snap["total-records"]) == 2 * docs.count()
    assert int(snap["total-data-files"]) == stats2["files_total"]
    assert loaded.scan(spark).count() == 2 * docs.count()


def test_commit_cas_survives_version_race(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, None)
    t.append(docs.limit(10))
    # another committer publishes the next version first
    meta_dir = f"{t.location}/metadata"
    current = t.version
    squatter = f"{meta_dir}/v{current + 1}.metadata.json"
    with open(f"{meta_dir}/v{current}.metadata.json") as f:
        squatted = f.read()
    with open(squatter, "w") as f:
        f.write(squatted)
    t.append(docs.limit(20))  # must skip the squatted version, not clobber it
    assert t.version == current + 2
    assert open(squatter).read() == squatted
    assert IcebergTable.load(t.location).version == current + 2


def test_concurrent_stale_appends_keep_both_snapshots(spark, docs, tmp_path):
    """Two handles load the same version; both append. The loser of the
    metadata-version race rebases onto the winner's snapshot instead of
    publishing its stale metadata over it: both snapshots and all rows
    survive, and the loser is parented on the winner."""
    t = _fresh_table(docs, tmp_path, None)
    t.append(docs.filter("doc_id < 50"))
    a = IcebergTable.load(t.location)
    b = IcebergTable.load(t.location)
    sa = a.append(docs.filter("doc_id >= 50 and doc_id < 53"))
    sb = b.append(docs.filter("doc_id >= 53 and doc_id < 58"))
    assert b.version == a.version + 1

    final = IcebergTable.load(t.location)
    snaps = final.snapshots()
    assert [s["snapshot-id"] for s in snaps][-2:] == [sa, sb]
    assert snaps[-1]["parent-snapshot-id"] == sa
    assert [s["sequence-number"] for s in snaps] == [1, 2, 3]
    assert final.scan(spark).count() == docs.filter("doc_id < 58").count()
    assert int(snaps[-1]["summary"]["total-records"]) == docs.filter(
        "doc_id < 58"
    ).count()
    # the loser's changelog window is still exactly its own files
    assert sum(f["record_count"] for f in final.plan_incremental_files(2, 3)) == 5


def test_appends_from_two_threads_keep_both_snapshots(spark, docs, tmp_path):
    """Two threads of one SparkSession append to one table at once: both
    writes run as concurrent Spark jobs and race for the same metadata
    version. Neither raises, both snapshots are in the history, and the
    table holds every row of both."""
    import threading

    t = _fresh_table(docs, tmp_path, None)
    parts = [docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")]
    start = threading.Barrier(len(parts))
    snapshot_ids, errors = [], []

    def append(part):
        try:
            table = IcebergTable.load(t.location)
            start.wait()
            snapshot_ids.append(table.append(part))
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=append, args=(p,)) for p in parts]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert errors == []
    final = IcebergTable.load(t.location)
    history = [s["snapshot-id"] for s in final.snapshots()]
    assert len(snapshot_ids) == 2 and set(snapshot_ids) <= set(history)
    assert final.scan(spark).count() == sum(p.count() for p in parts)


def test_stale_non_append_commit_raises(spark, docs, tmp_path):
    """A commit other than an append planned its file set against the
    snapshot it loaded: after losing the race it raises instead of
    overwriting the winner, and the winner's data stays live."""
    t = _fresh_table(docs, tmp_path, None)
    t.append(docs.filter("doc_id < 50"))
    stale = [IcebergTable.load(t.location) for _ in range(2)]
    IcebergTable.load(t.location).append(docs.filter("doc_id >= 50 and doc_id < 60"))
    with pytest.raises(CommitConflictError):
        stale[0].delete_where(spark, "doc_id < 10")
    with pytest.raises(CommitConflictError):
        stale[1].set_sort_order(["doc_id"])
    final = IcebergTable.load(t.location)
    assert len(final.snapshots()) == 2
    assert final.metadata["default-sort-order-id"] == 0
    assert final.scan(spark).count() == docs.filter("doc_id < 60").count()


def test_stale_version_hint_falls_back_to_listing(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, None)
    t.append(docs.limit(10))
    with open(f"{t.location}/metadata/version-hint.text", "w") as f:
        f.write("99")  # crashed committer left a bogus hint
    loaded = IcebergTable.load(t.location)
    assert loaded.version == t.version
    assert loaded.scan(spark).count() == 10


def test_metadata_json_is_spec_shaped(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    t.append(docs.limit(10))
    with open(f"{t.location}/metadata/v{t.version}.metadata.json") as f:
        meta = json.load(f)
    assert meta["format-version"] == 2
    assert meta["current-schema-id"] == 0
    snap = meta["snapshots"][-1]
    assert snap["summary"]["operation"] == "append"
    assert os.path.exists(snap["manifest-list"])
    # every commit advances the main branch ref with the current snapshot
    assert meta["refs"] == {
        "main": {"snapshot-id": snap["snapshot-id"], "type": "branch"}
    }
    assert meta["current-snapshot-id"] == snap["snapshot-id"]
    spec = meta["partition-specs"][0]
    assert spec["fields"][0]["transform"] == "identity"
    assert spec["fields"][0]["field-id"] == 1000
    schema_ids = [fld["id"] for fld in meta["schemas"][0]["fields"]]
    assert schema_ids == sorted(set(schema_ids))


@pytest.fixture(scope="module")
def manifest_kinds(spark, tmp_path_factory):
    """One table whose history holds every manifest kind the table
    writes: {kind: (manifest-list entry, snapshot)}."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter("doc_id < 200")
    loc = str(tmp_path_factory.mktemp("manifest_kinds") / "tbl")
    t = IcebergTable.create(loc, docs.schema, partition_by=[("lang", "identity")])
    ops = {
        "append": lambda: t.append(docs.filter("doc_id < 100")),
        "position_delete": lambda: (
            t.append(docs.filter("doc_id >= 100")),
            t.delete_where(spark, "doc_id % 7 = 0"),
        )[-1],
        "equality_delete": lambda: t.upsert(
            spark, docs.filter("doc_id < 20").withColumn("text", F.lit("V2")), ["doc_id"]
        ),
        "rewrite": lambda: (t.rewrite_manifests(), t.current_snapshot_id())[-1],
    }
    out = {}
    for kind, op in ops.items():
        sid = op()
        snap = next(s for s in t.snapshots() if s["snapshot-id"] == sid)
        content = 1 if kind.endswith("delete") else 0
        (manifest,) = [
            m for m in read_ocf(snap["manifest-list"])[0]
            if m["added_snapshot_id"] == sid and m["content"] == content
        ]
        out[kind] = manifest, snap
    return out


@pytest.mark.parametrize(
    "kind", ["append", "position_delete", "equality_delete", "rewrite"]
)
def test_jvm_avro_reads_manifests(spark, manifest_kinds, kind):
    """The Java Avro library parses every manifest kind the table
    writes, and the record counts it reads are the commit's."""
    manifest, snap = manifest_kinds[kind]
    jvm = spark._jvm

    def jvm_read(path):
        rd = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(path), rd)
        out = []
        while dfr.hasNext():
            out.append(dfr.next())
        dfr.close()
        return out

    listed = [
        str(m.get("manifest_path").toString()) for m in jvm_read(snap["manifest-list"])
    ]
    assert manifest["manifest_path"] in listed
    entries = jvm_read(manifest["manifest_path"])
    assert entries
    statuses = {e.get("status") for e in entries}
    counts = [e.get("data_file").get("record_count") for e in entries]
    summary = snap["summary"]
    if kind == "rewrite":
        # every live data file carried over as EXISTING
        assert statuses == {0}
        assert sum(counts) == manifest["existing_rows_count"] == int(summary["total-records"])
        return
    assert statuses == {1}
    assert sum(counts) == manifest["added_rows_count"]
    want = {
        "append": "added-records",
        "position_delete": "added-position-deletes",
        "equality_delete": "added-equality-deletes",
    }[kind]
    assert sum(counts) == int(summary[want]) > 0


# -- resume sink --------------------------------------------------------------


def _uncommitted(sink, docs):
    return docs.join(sink.committed().select("doc_id"), "doc_id", "left_anti")


def test_document_sink_resume_contract(spark, docs, tmp_path):
    loc = str(tmp_path / "sink")
    sink = IcebergDocumentSink(loc, spark, docs.schema)
    assert _uncommitted(sink, docs).count() == docs.count()  # empty table: all todo

    first = docs.filter(F.col("doc_id") % 2 == 0)
    sink.commit_run(first)
    remaining = _uncommitted(sink, docs)
    assert remaining.count() == docs.count() - first.count()
    assert remaining.filter(F.col("doc_id") % 2 == 0).count() == 0

    sink.commit_run(remaining)
    assert _uncommitted(sink, docs).count() == 0
    assert sink.committed().count() == docs.count()
    # a reopened sink (restarted run) sees the same committed documents
    reopened = IcebergDocumentSink(loc, spark, docs.schema)
    assert _uncommitted(reopened, docs).count() == 0


# -- maintenance ---------------------------------------------------------------


def test_compact_reduces_files_and_preserves_history(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    pre_ids = []
    for i in range(4):  # many small appends -> many small files
        pre_ids.append(t.append(docs.filter(F.col("doc_id") % 4 == i)))
    _, _deletes, before = t.plan_scan()
    t.compact(spark)
    loaded = IcebergTable.load(t.location)
    _, _deletes, after = loaded.plan_scan()
    assert after["files_selected"] < before["files_selected"]
    assert loaded.scan(spark).count() == docs.count()
    assert loaded.snapshots()[-1]["summary"]["operation"] == "replace"
    # time travel to a pre-compaction snapshot still works
    tt = loaded.scan(spark, snapshot_id=pre_ids[1])
    assert tt.count() == docs.filter("doc_id % 4 IN (0, 1)").count()


def test_rewrite_manifests_consolidates_without_touching_data(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    pre = []
    for i in range(4):  # micro-commits -> one tiny manifest each
        pre.append(t.append(docs.filter(F.col("doc_id") % 4 == i)))
    # a pending row-level delete that must survive the rewrite
    t.delete_where(spark, "doc_id % 10 = 3")
    files_before, _deletes, stats_before = t.plan_scan()
    paths_before = sorted(f["file_path"] for f in files_before)
    want = docs.filter("doc_id % 10 <> 3").count()
    assert t.scan(spark).count() == want

    result = t.rewrite_manifests()
    assert result["manifests_after"] < result["manifests_before"]
    assert result["manifests_after"] == 1
    assert result["entries"] == len(files_before)

    loaded = IcebergTable.load(t.location)
    files_after, _deletes, stats_after = loaded.plan_scan()
    # metadata-only: the exact same data files, fewer manifests to open
    assert sorted(f["file_path"] for f in files_after) == paths_before
    assert stats_after["manifests_total"] < stats_before["manifests_total"]
    # pending position deletes still apply (data seqs preserved)
    assert loaded.scan(spark).count() == want
    assert loaded.snapshots()[-1]["summary"]["operation"] == "replace"
    # partition pruning still works off the consolidated summaries
    _, _deletes, pruned = loaded.plan_scan(partition_filter={"lang": "en"})
    assert pruned["files_selected"] < pruned["files_total"]
    # time travel to a pre-rewrite snapshot is unaffected
    assert loaded.scan(spark, snapshot_id=pre[1]).count() == docs.filter(
        "doc_id % 4 IN (0, 1)"
    ).count()
    # idempotent: already consolidated -> no-op, same snapshot count
    n_snaps = len(loaded.snapshots())
    again = loaded.rewrite_manifests()
    assert again["manifests_before"] == again["manifests_after"] == 1
    assert len(IcebergTable.load(t.location).snapshots()) == n_snaps


def test_sorted_compaction_tightens_bounds_for_pruning(spark, docs, tmp_path):
    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    # interleaved appends: every file spans nearly the full doc_id range,
    # so a point bounds_filter can prune nothing
    for i in range(4):
        t.append(docs.filter(F.col("doc_id") % 4 == i))
    _, _deletes, before = t.plan_scan(bounds_filter={"doc_id": (123, 123)})
    assert before["files_selected"] > 1  # overlapping bounds: no pruning

    oid = t.set_sort_order(["doc_id"])
    assert oid == 1
    assert t.metadata["default-sort-order-id"] == 1
    t.compact(spark, target_files_per_partition=4)

    loaded = IcebergTable.load(t.location)
    files, _deletes, after = loaded.plan_scan(bounds_filter={"doc_id": (123, 123)})
    # range-clustered files: disjoint doc_id slices -> a point lookup
    # opens ~one file, not every file in the partition
    assert after["files_selected"] < before["files_selected"]
    assert after["files_selected"] <= max(1, after["files_total"] // 3)
    # content unchanged
    assert loaded.scan(spark).count() == docs.count()
    got = loaded.scan(spark, bounds_filter={"doc_id": (123, 123)}).filter(
        "doc_id = 123"
    )
    assert got.count() == 1


def test_sorted_range_scan_row_prunes_files(spark):
    """The registry row's maintained table must actually skip files:
    one manifest, and the range scan reads a minority of them."""
    from ocrs_spark.ops.icebergops import SORTED_RANGE, maintained_table

    table = maintained_table(spark, SF)
    _, _deletes, stats = table.plan_scan(
        bounds_filter={"doc_id": SORTED_RANGE}
    )
    assert stats["manifests_total"] == 1  # rewrite_manifests folded them
    assert stats["files_selected"] < stats["files_total"]


def test_metadata_count_never_opens_data_files(spark, docs, tmp_path):
    """COUNT(*) GROUP BY the identity partition column is answered
    purely from manifest record_count stats: delete every data file on
    disk and the per-lang counts must STILL be exact (and a real scan
    must now be impossible), proving the metadata path reads zero data
    bytes — the 100-TB planning-query property."""
    import os
    import pathlib

    from pyspark.sql import functions as F

    t = _fresh_table(docs, tmp_path, [("lang", "identity")])
    t.append(docs.filter(F.col("doc_id") % 2 == 0))
    t.append(docs.filter(F.col("doc_id") % 2 == 1))
    want = {
        (r["lang"], r["cnt"])
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }

    data_files = list(pathlib.Path(t.location).rglob("*.parquet"))
    # manifests are avro; everything parquet under the table IS data
    assert data_files
    for p in data_files:
        os.remove(p)

    loaded = IcebergTable.load(t.location)
    got = {
        (r["lang"], r["n_docs"])
        for r in loaded.inspect_partitions(spark)
        .select(
            F.get_json_object("partition", "$.lang").alias("lang"),
            F.col("record_count").alias("n_docs"),
        )
        .collect()
    }
    assert got == want
    import pytest as _pytest

    with _pytest.raises(Exception):
        loaded.scan(spark).collect()

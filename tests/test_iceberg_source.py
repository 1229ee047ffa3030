"""Python Data Source (format "ocrs_iceberg") tests: the changelog
streaming source driven by Structured Streaming's own offset log."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocrs_spark.iceberg import IcebergTable
from ocrs_spark.iceberg_source import IcebergDataSource

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    spark.dataSource.register(IcebergDataSource)
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_stream_changelog_incremental_exactly_once(spark, docs, tmp_path):
    """Offsets are snapshot sequence numbers: each availableNow run
    drains exactly the snapshots committed since the checkpoint's last
    offset; a no-op restart reads nothing."""
    _stream_two_appends(spark, docs, tmp_path, "plain")


@pytest.mark.parametrize("layout", ["identity_partitioned", "null_identity_partition"])
def test_stream_changelog_layouts_match_scan(spark, docs, tmp_path, layout):
    """Whatever the file layout, the stream delivers the rows
    ``IcebergTable.scan`` reads: identity partition columns (projected
    out of hive-layout files) come back as per-split constants, and the
    null partition's files give typed nulls."""
    _stream_two_appends(spark, docs, tmp_path, layout)


def _stream_two_appends(spark, docs, tmp_path, layout):
    loc = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    if layout == "null_identity_partition":
        docs = docs.withColumn(
            "lang", F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("lang"))
        )
    h1 = docs.filter("doc_id % 2 = 0")
    h2 = docs.filter("doc_id % 2 = 1")
    partition_by = None if layout == "plain" else [("lang", "identity")]
    t = IcebergTable.create(loc, docs.schema, partition_by=partition_by)
    t.append(h1)

    def run():
        q = (
            spark.readStream.format("ocrs_iceberg")
            .load(loc)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run()
    assert spark.read.parquet(out).count() == h1.count()
    IcebergTable.load(loc).append(h2)
    run()
    result = spark.read.parquet(out)
    assert result.count() == docs.count()
    assert result.groupBy("doc_id").count().filter("count > 1").count() == 0
    run()  # nothing new committed -> nothing read
    assert spark.read.parquet(out).count() == docs.count()

    want = IcebergTable.load(loc).scan(spark)
    cols = want.columns
    assert sorted(result.columns) == sorted(cols)
    assert {tuple(r) for r in result.select(*cols).collect()} == {
        tuple(r) for r in want.collect()
    }
    if layout == "identity_partitioned":
        assert result.filter("lang is null").count() == 0
    if layout == "null_identity_partition":
        nulls = result.filter("lang is null")
        assert nulls.count() == docs.filter("doc_id % 7 = 0").count() > 0
        assert nulls.filter("doc_id % 7 <> 0").count() == 0


def test_stream_starting_position_latest(spark, docs, tmp_path):
    """starting_position=latest skips the existing backlog and streams
    only snapshots committed after the stream initialized."""
    loc = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    old = docs.filter("doc_id < 250")
    new = docs.filter("doc_id >= 250")
    t = IcebergTable.create(loc, docs.schema)
    t.append(old)

    def run():
        q = (
            spark.readStream.format("ocrs_iceberg")
            .option("starting_position", "latest")
            .load(loc)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run()
    IcebergTable.load(loc).append(new)
    run()
    result = spark.read.parquet(out)
    assert result.count() == new.count()
    assert result.filter("doc_id < 250").count() == 0

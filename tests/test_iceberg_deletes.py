"""Iceberg v2 row-level deletes: position-delete files (delete_where),
equality-delete files (upsert/MERGE), merge-on-read scans, and their
interplay with time travel, compaction and incremental file planning.

Spec parity (https://iceberg.apache.org/spec/#row-level-deletes):
position deletes record (file_path, pos) and apply to data files with
data sequence number <= the delete's; equality deletes record key
columns and apply strictly to LOWER data sequence numbers, which is
what makes a single-snapshot upsert self-consistent (its own new data
files survive its own equality deletes).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocrs_spark.iceberg import IcebergTable

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _fresh(docs, tmp_path, partition_by=None):
    return IcebergTable.create(str(tmp_path / "tbl"), docs.schema, partition_by)


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


# -- position deletes ---------------------------------------------------------


def test_delete_where_removes_matching_rows(spark, docs, tmp_path):
    t = _fresh(docs, tmp_path)
    pre = t.append(docs)
    sid = t.delete_where(spark, "doc_id % 3 = 0")
    assert sid is not None

    loaded = IcebergTable.load(t.location)
    got = _ids(loaded.scan(spark))
    want = _ids(docs.filter("doc_id % 3 != 0"))
    assert got == want
    # no data file was rewritten: the delete commit is metadata + one
    # small positional parquet
    files, dels, stats = loaded.plan_scan()
    assert stats["delete_files_selected"] == 1
    assert dels[0]["content"] == 1
    # time travel to the pre-delete snapshot still sees every row
    assert _ids(loaded.scan(spark, snapshot_id=pre)) == _ids(docs)


def test_delete_where_is_idempotent_and_stacks(spark, docs, tmp_path):
    t = _fresh(docs, tmp_path)
    t.append(docs)
    t.delete_where(spark, "doc_id % 3 = 0")
    # overlapping second delete: % 6 rows are already gone
    t.delete_where(spark, "doc_id % 2 = 0")
    got = _ids(IcebergTable.load(t.location).scan(spark))
    want = _ids(docs.filter("doc_id % 3 != 0 AND doc_id % 2 != 0"))
    assert got == want
    # deleting rows that no longer exist is a no-op, not a new snapshot
    assert t.delete_where(spark, "doc_id % 6 = 0") is None


def test_delete_where_no_match_returns_none(spark, docs, tmp_path):
    t = _fresh(docs, tmp_path)
    t.append(docs)
    n_snaps = len(t.snapshots())
    assert t.delete_where(spark, "doc_id < 0") is None
    assert len(t.snapshots()) == n_snaps


def test_delete_where_on_partitioned_table(spark, docs, tmp_path):
    t = _fresh(docs, tmp_path, [("lang", "identity")])
    t.append(docs)
    t.delete_where(spark, "lang = 'en' AND doc_id % 2 = 0")
    loaded = IcebergTable.load(t.location)
    # pruned scan of another partition is unaffected
    de = loaded.scan(spark, partition_filter={"lang": "de"})
    assert _ids(de) == _ids(docs.filter("lang = 'de'"))
    # pruned scan of the touched partition applies the deletes
    en = loaded.scan(spark, partition_filter={"lang": "en"})
    assert _ids(en) == _ids(docs.filter("lang = 'en' AND doc_id % 2 != 0"))


def test_deletes_only_hit_their_snapshot_rows(spark, docs, tmp_path):
    """Rows appended AFTER a position delete are untouched by it."""
    t = _fresh(docs, tmp_path)
    t.append(docs.filter("doc_id < 250"))
    t.delete_where(spark, "doc_id % 2 = 0")
    t.append(docs.filter("doc_id >= 250"))
    got = _ids(IcebergTable.load(t.location).scan(spark))
    want = _ids(docs.filter("(doc_id < 250 AND doc_id % 2 != 0) OR doc_id >= 250"))
    assert got == want


# -- equality deletes / upsert ------------------------------------------------


def test_upsert_replaces_matching_keys_in_one_snapshot(spark, docs, tmp_path):
    t = _fresh(docs, tmp_path)
    t.append(docs)
    n_before = len(t.snapshots())
    # update half the 'en' docs and add brand-new ids in the same MERGE
    updates = (
        docs.filter("lang = 'en' AND doc_id % 2 = 0")
        .withColumn("text", F.lit("UPDATED"))
    )
    inserts = docs.limit(3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    t.upsert(spark, updates.unionByName(inserts), ["doc_id"])
    assert len(t.snapshots()) == n_before + 1  # ONE snapshot for the merge

    loaded = IcebergTable.load(t.location)
    out = loaded.scan(spark)
    assert out.count() == docs.count() + 3
    # every updated key now carries the new value exactly once
    upd = out.filter("text = 'UPDATED'")
    assert _ids(upd) == _ids(updates)
    dup = out.groupBy("doc_id").count().filter("count > 1")
    assert dup.count() == 0


def test_rows_appended_after_upsert_survive_its_deletes(spark, docs, tmp_path):
    """Equality deletes apply only to LOWER data sequence numbers."""
    t = _fresh(docs, tmp_path)
    first = docs.filter("doc_id < 100")
    t.append(first)
    t.upsert(spark, first.withColumn("text", F.lit("V2")), ["doc_id"])
    # re-append the ORIGINAL rows afterwards: higher seq -> must survive
    t.append(first)
    out = IcebergTable.load(t.location).scan(spark)
    assert out.count() == 2 * first.count()  # V2 rows + re-appended originals
    assert out.filter("text = 'V2'").count() == first.count()


def test_upsert_then_delete_where_composes(spark, docs, tmp_path):
    t = _fresh(docs, tmp_path)
    t.append(docs.filter("doc_id < 200"))
    t.upsert(
        spark,
        docs.filter("doc_id < 50").withColumn("text", F.lit("V2")),
        ["doc_id"],
    )
    t.delete_where(spark, "doc_id >= 150")
    out = IcebergTable.load(t.location).scan(spark)
    assert out.count() == 150
    assert out.filter("text = 'V2'").count() == 50


# -- interplay with maintenance ------------------------------------------------


def test_compact_folds_and_purges_deletes(spark, docs, tmp_path):
    t = _fresh(docs, tmp_path)
    t.append(docs)
    t.delete_where(spark, "doc_id % 5 = 0")
    want = _ids(docs.filter("doc_id % 5 != 0"))
    t.compact(spark)
    loaded = IcebergTable.load(t.location)
    files, dels, stats = loaded.plan_scan()
    assert stats["delete_files_selected"] == 0  # deletes were applied+dropped
    assert _ids(loaded.scan(spark)) == want


def test_incremental_scan_refuses_to_cross_row_deletes(spark, docs, tmp_path):
    t = _fresh(docs, tmp_path)
    t.append(docs.filter("doc_id < 100"))
    t.delete_where(spark, "doc_id < 10")
    t.append(docs.filter("doc_id >= 100"))
    assert [s["sequence-number"] for s in t.snapshots()] == [1, 2, 3]
    with pytest.raises(ValueError, match="delete"):
        t.plan_incremental_files(1, 3)


def test_delete_manifest_shape_on_disk(spark, docs, tmp_path):
    """The committed delete manifest is spec-shaped: content=1 in the
    manifest list, 'deletes' in the manifest OCF metadata, and the
    position file carries (file_path, pos) sorted."""
    from ocrs_spark.avro_ocf import read_ocf

    t = _fresh(docs, tmp_path)
    t.append(docs)
    t.delete_where(spark, "doc_id % 7 = 0")
    snap = t.snapshots()[-1]
    manifests, _ = read_ocf(snap["manifest-list"])
    delete_manifests = [m for m in manifests if m.get("content") == 1]
    assert len(delete_manifests) == 1
    entries, meta = read_ocf(delete_manifests[0]["manifest_path"])
    assert meta["content"] == b"deletes"
    assert all(e["data_file"]["content"] == 1 for e in entries)
    pdf = spark.read.parquet(entries[0]["data_file"]["file_path"]).toPandas()
    assert list(pdf.columns) == ["file_path", "pos"]
    assert pdf.sort_values(["file_path", "pos"]).reset_index(drop=True).equals(
        pdf.reset_index(drop=True)
    )
    assert snap["summary"]["operation"] == "delete"
    assert int(snap["summary"]["added-position-deletes"]) == len(pdf)

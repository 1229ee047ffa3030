"""Iceberg-table operators over the documents corpus.

The north-star pipeline runs over *Iceberg* tables of interleaved
documents, so these rows exercise the from-spec table format in
``ocrs_spark.iceberg`` end-to-end against the DuckDB oracle reading the
same rows straight from parquet:

- ``iceberg_snapshot_scan`` — write the corpus into an identity-
  partitioned (by ``lang``) Iceberg table in TWO append snapshots, then
  scan the current snapshot: commit protocol, manifest lists, manifest
  entries, and partition-column reconstruction must all be right for
  the identity compare to hold.
- ``iceberg_time_travel_scan`` — scan as of the FIRST snapshot: only
  the first append's rows may appear.
- ``iceberg_partition_pruned_scan`` — scan one ``lang`` partition with
  manifest/file pruning; pytest additionally asserts the pruned file
  count (the oracle proves values, the plan test proves skipping).
- ``iceberg_bucket_point_lookup`` — a second table partitioned by
  ``bucket[8](doc_id)`` (murmur3 per spec appendix B); point-lookups
  route through bucket pruning + per-file doc_id bounds, so a wrong
  bucket hash or wrong bounds loses rows and the oracle goes red.

The tables are built once per (session, sf_dir) through
``matcache.once`` (cleaned at exit); the timed path is metadata
planning + the pruned parquet read, not table construction.

Scale design: commits are metadata-only; scans plan on the driver over
manifest files (bounded, exactly Iceberg's own planning model) and read
only surviving files through Spark's parquet source. The bucket table
is the training-pipeline shard pattern: uniform murmur3 buckets bound
skew regardless of doc_id distribution.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..iceberg import IcebergTable, bucket_value
from ..matcache import once

LOOKUP_IDS = [7, 42, 123, 404]


def corpus_table(spark, sf_dir: str):
    """documents -> identity(lang)-partitioned table, two snapshots.

    Returns (table, first_snapshot_id, second_snapshot_id)."""

    def build(loc):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        table = IcebergTable.create(
            loc, docs.schema, partition_by=[("lang", "identity")]
        )
        s1 = table.append(docs.filter(F.col("doc_id") % 2 == 0))
        s2 = table.append(docs.filter(F.col("doc_id") % 2 == 1))
        return loc, s1, s2

    loc, s1, s2 = once(spark, sf_dir, "iceberg_lang", build)
    return IcebergTable.load(loc), s1, s2


def bucket_table(spark, sf_dir: str):
    """documents -> bucket[8](doc_id)-partitioned table, one snapshot."""

    def build(loc):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        table = IcebergTable.create(
            loc, docs.schema, partition_by=[("doc_id", "bucket[8]")]
        )
        return loc, table.append(docs)

    loc, s1 = once(spark, sf_dir, "iceberg_bucket", build)
    return IcebergTable.load(loc), s1


def maintained_table(spark, sf_dir: str):
    """documents -> identity(lang) table built the way a long-lived
    ingest degrades it (four interleaved appends: every file spans the
    full doc_id range, four manifests), then repaired by the
    maintenance path under test: ``set_sort_order("doc_id")`` + sorted
    ``compact`` (range-clustered files, tight bounds) +
    ``rewrite_manifests`` (one manifest). The scan row over it proves
    the whole repair preserved every row value."""

    def build(loc):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        table = IcebergTable.create(
            loc, docs.schema, partition_by=[("lang", "identity")]
        )
        for i in range(4):
            table.append(docs.filter(F.col("doc_id") % 4 == i))
        table.set_sort_order(["doc_id"])
        table.compact(spark, target_files_per_partition=4)
        table.rewrite_manifests()
        return loc

    return IcebergTable.load(once(spark, sf_dir, "iceberg_maintained", build))


SORTED_RANGE = (120, 219)


def iceberg_sorted_range_scan(spark, sf_dir: str):
    """Range scan over the maintained table: per-file doc_id bounds
    (tight after the sorted rewrite) prune most files before the read;
    the residual filter proves values, pytest proves the skipping."""
    lo, hi = SORTED_RANGE
    table = maintained_table(spark, sf_dir)
    return (
        table.scan(spark, bounds_filter={"doc_id": (lo, hi)})
        .filter(F.col("doc_id").between(lo, hi))
        .select(*_COLS)
    )


_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def iceberg_snapshot_scan(spark, sf_dir: str):
    table, _s1, _s2 = corpus_table(spark, sf_dir)
    return table.scan(spark).select(*_COLS)


def iceberg_time_travel_scan(spark, sf_dir: str):
    table, s1, _s2 = corpus_table(spark, sf_dir)
    return table.scan(spark, snapshot_id=s1).select(*_COLS)


def iceberg_partition_pruned_scan(spark, sf_dir: str):
    table, _s1, _s2 = corpus_table(spark, sf_dir)
    return table.scan(spark, partition_filter={"lang": "en"}).select(*_COLS)


def iceberg_bucket_point_lookup(spark, sf_dir: str):
    table, _s1 = bucket_table(spark, sf_dir)
    out = None
    for doc_id in LOOKUP_IDS:
        b = bucket_value(doc_id, "long", 8)
        df = table.scan(
            spark,
            partition_filter={"doc_id_bucket": b},
            bounds_filter={"doc_id": (doc_id, doc_id)},
        ).filter(F.col("doc_id") == doc_id)
        out = df if out is None else out.unionByName(df)
    return out.select(*_COLS)


UPSERT_MOD = 7  # doc_id % 7 == 0 rows get replaced
INSERT_BASE = 10_000_000  # inserted rows live far above real doc_ids
DELETE_MOD = 13  # doc_id % 13 == 3 rows get position-deleted


def _mor_table(spark, sf_dir: str):
    """documents -> identity(lang) table mutated the way a living
    corpus is: one full append, then a MERGE (equality-delete upsert)
    replacing every doc_id % 7 == 0 row with re-extracted text and
    inserting a small batch of brand-new docs, then a row-level
    ``delete_where`` (position deletes) dropping doc_id % 13 == 3.
    Scans must merge-on-read all three layers."""

    def build(loc):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        table = IcebergTable.create(
            loc, docs.schema, partition_by=[("lang", "identity")]
        )
        table.append(docs)
        updates = docs.filter(F.col("doc_id") % UPSERT_MOD == 0).withColumn(
            "text", F.upper(F.col("text"))
        )
        inserts = (
            docs.filter(F.col("doc_id") < 3)
            .withColumn("doc_id", F.col("doc_id") + INSERT_BASE)
            .withColumn("lang", F.lit("xx"))
        )
        table.upsert(spark, updates.unionByName(inserts), ["doc_id"])
        table.delete_where(
            spark, F.col("doc_id") % DELETE_MOD == 3
        )
        return loc

    return IcebergTable.load(once(spark, sf_dir, "iceberg_mor", build))


def iceberg_upsert_scan(spark, sf_dir: str):
    """Merge-on-read scan after an equality-delete MERGE and a
    position-delete: replaced rows must show the new text exactly once,
    inserted rows must appear, deleted rows must be gone — the read
    path a continuously-updated 10^12-doc corpus serves every query
    from between compactions. The oracle rebuilds the expected state
    relationally from the raw documents."""
    table = _mor_table(spark, sf_dir)
    return table.scan(spark).select(*_COLS)


ORACLE_UPSERT_SCAN = f"""
WITH merged AS (
  SELECT doc_id,
         CASE WHEN doc_id % {UPSERT_MOD} = 0 THEN upper(text) ELSE text END AS text,
         lang, source, n_chars
  FROM documents
  UNION ALL
  SELECT doc_id + {INSERT_BASE}, text, 'xx', source, n_chars
  FROM documents WHERE doc_id < 3
)
SELECT doc_id, text, lang, source, n_chars
FROM merged
WHERE NOT (doc_id % {DELETE_MOD} = 3)
"""


def iceberg_metadata_counts(spark, sf_dir: str):
    """Per-lang row counts answered ONLY from manifest statistics —
    zero data files opened. At 100 TB this is the difference between a
    sub-second driver-side planning query and a full-corpus scan:
    Iceberg manifests carry exact per-file record counts, so COUNT(*)
    GROUP BY an identity partition column folds to a sum over manifest
    entries (the same stats-based answering engines do for
    ``SELECT count(*)``). The oracle counts the raw rows, so a wrong
    record_count anywhere in the commit path goes red; pytest
    additionally deletes every data file and re-asks, proving the plan
    truly never touches them."""
    table, _s1, _s2 = corpus_table(spark, sf_dir)
    parts = table.inspect_partitions(spark)
    # partition is the JSON tuple {"lang": "<value>"} — identity
    # transform, so the value IS the column value.
    return parts.select(
        F.get_json_object("partition", "$.lang").alias("lang"),
        F.col("record_count").alias("n_docs"),
    ).groupBy("lang").agg(F.sum("n_docs").alias("n_docs"))


QUERIES = {
    "iceberg_snapshot_scan": iceberg_snapshot_scan,
    "iceberg_time_travel_scan": iceberg_time_travel_scan,
    "iceberg_partition_pruned_scan": iceberg_partition_pruned_scan,
    "iceberg_bucket_point_lookup": iceberg_bucket_point_lookup,
    "iceberg_sorted_range_scan": iceberg_sorted_range_scan,
    "iceberg_metadata_counts": iceberg_metadata_counts,
    "iceberg_upsert_scan": iceberg_upsert_scan,
}

ORACLES = {
    "iceberg_snapshot_scan": (
        "SELECT doc_id, text, lang, source, n_chars FROM documents"
    ),
    "iceberg_time_travel_scan": (
        "SELECT doc_id, text, lang, source, n_chars FROM documents "
        "WHERE doc_id % 2 = 0"
    ),
    "iceberg_partition_pruned_scan": (
        "SELECT doc_id, text, lang, source, n_chars FROM documents "
        "WHERE lang = 'en'"
    ),
    "iceberg_bucket_point_lookup": (
        "SELECT doc_id, text, lang, source, n_chars FROM documents "
        f"WHERE doc_id IN ({', '.join(str(i) for i in LOOKUP_IDS)})"
    ),
    "iceberg_sorted_range_scan": (
        "SELECT doc_id, text, lang, source, n_chars FROM documents "
        f"WHERE doc_id BETWEEN {SORTED_RANGE[0]} AND {SORTED_RANGE[1]}"
    ),
    "iceberg_metadata_counts": (
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs "
        "FROM documents GROUP BY lang"
    ),
    "iceberg_upsert_scan": ORACLE_UPSERT_SCAN,
}

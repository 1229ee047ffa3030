"""Checkpointed, resumable OCR runs (SURVEY.md §2.6: resume/lineage).

Iceberg-style snapshot semantics on plain parquet (no Iceberg runtime
jar in this sandbox; the layout mirrors Iceberg's table/snapshot/manifest
split so swapping in real Iceberg is a sink change, not a redesign):

    <root>/
      data/<run_id>/part-*.parquet      committed documents per run, one
                                        row per doc_id
      manifest-<n>.json                 ordered snapshot list, version n
                                        (readers take the highest n; a run
                                        is visible iff its snapshot entry
                                        is in the current manifest, which
                                        also holds the run's metrics)

Resume = LEFT ANTI JOIN of incoming documents against the ``doc_id``
column of the committed ``data/<run_id>`` directories, read with an
explicit schema (parquet reads one column, no schema-inference job), so
a killed run restarts from the last committed snapshot and never
re-processes or duplicates a document. A ``data/<run_id>`` directory
that no manifest names (a run killed before its publish) is invisible.
Tables written by older versions may also hold ``ledger/<run_id>``
directories, which repeated the ``doc_id`` column; nothing reads them.

A ``run_checkpointed`` pass is one Spark write job followed by the
manifest compare-and-swap. Its metrics come from ``observe()`` on that
job: ``spans``, ``errors`` (and ``errors_decode``/``errors_detect``/
``errors_ocr`` by the stage prefix of the error text), ``total_words``
and ``total_lines`` over the OCR results, and ``docs``, the number of
rows written, which is the number of documents in the snapshot. They
are stored once, in the run's snapshot entry (``snapshots()``).

The checkpoint root may be any Hadoop-supported URI (``hdfs://``,
``s3a://``, ``file://``, ...): the parquet data writes always go
through Spark, and the manifest I/O is routed through the
Hadoop FileSystem API whenever the root carries a scheme, so a cluster
of drivers sees one shared manifest (a bare local path keeps plain
POSIX I/O).

Commit visibility is a versioned-manifest compare-and-swap (the Iceberg
HadoopTableOperations pattern): a committer reads the current highest
``manifest-<n>.json``, writes the successor list to a uniquely-named
temp file, and publishes it as ``manifest-<n+1>.json`` via an
exclusive-create primitive (``os.link`` on POSIX, no-overwrite rename
on HDFS) that FAILS if the version already exists. The live manifest is
never deleted or overwritten, so a crash at any point leaves the table
readable at the previous snapshot, and two concurrent committers racing
for the same version — one wins, the loser re-reads and retries on the
next version number, so no snapshot is silently dropped. On S3A rename
is copy+delete and create is not exclusive, so with concurrent
committers prefer an HDFS/ABFS root (or an Iceberg catalog); a
single-writer S3 pipeline is still safe.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .pipeline import (
    EXTRACTION_COUNTS,
    broadcast_threshold,
    explode_spans,
    fits_broadcast,
    observe_extraction,
    observed,
    ocr_image_spans,
    reweave,
)

_VERSION_FILE_RE = re.compile(r"^manifest-(\d+)\.json$")


def _manifest_name(version: int) -> str:
    return f"manifest-{version}.json"


class _PosixIO:
    """Manifest I/O for bare local paths."""

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as f:
            f.write(text)

    def list_names(self, path: str) -> list[str]:
        try:
            return os.listdir(path)
        except FileNotFoundError:
            return []

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def delete_dir(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)

    def size(self, path: str) -> int:
        """Bytes of all files under directory ``path``."""
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path)
            for f in files
        )

    def publish_exclusive(self, src: str, dst: str) -> bool:
        """Atomically publish src as dst iff dst does not exist.

        ``os.link`` is an atomic create-if-absent on POSIX — two racing
        committers cannot both succeed, and dst appears fully written.
        """
        try:
            os.link(src, dst)
        except FileExistsError:
            return False
        os.unlink(src)
        return True


class _HadoopIO:
    """Manifest I/O through the JVM Hadoop FileSystem, so
    scheme-qualified roots (hdfs://, s3a://, file://, ...) resolve to
    the shared filesystem every driver sees — not a mangled local path
    on whichever machine happens to run the driver."""

    def __init__(self, spark: SparkSession, root: str):
        self._jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jvm.org.apache.hadoop.fs.Path(root).getFileSystem(conf)

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            out = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 4096, False)
            return bytes(out.toByteArray()).decode("utf-8")
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        stream = self._fs.create(self._p(path), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()

    def list_names(self, path: str) -> list[str]:
        if not self._fs.exists(self._p(path)):
            return []
        return [
            str(st.getPath().getName())
            for st in self._fs.listStatus(self._p(path))
        ]

    def delete(self, path: str) -> None:
        self._fs.delete(self._p(path), False)

    def delete_dir(self, path: str) -> None:
        self._fs.delete(self._p(path), True)

    def size(self, path: str) -> int:
        return int(self._fs.getContentSummary(self._p(path)).getLength())

    def publish_exclusive(self, src: str, dst: str) -> bool:
        """Publish src as dst iff dst does not exist.

        HDFS ``rename`` (FileSystem API, no OVERWRITE option) returns
        false when dst exists — the atomic no-clobber primitive Iceberg's
        HadoopTableOperations builds its version commit on. The live
        manifest is never deleted, so readers always see a manifest.
        """
        if self._fs.exists(self._p(dst)):
            return False
        return bool(self._fs.rename(self._p(src), self._p(dst)))


def _has_scheme(root: str) -> bool:
    return "://" in root or root.startswith("file:/")


class DocumentCheckpoint:
    def __init__(self, root: str, spark: SparkSession | None = None):
        self.root = root.rstrip("/")
        self._spark = spark
        self._io = None
        if not _has_scheme(self.root):
            self._io = _PosixIO()
            self._io.mkdirs(self.root)

    def _fs(self, spark: SparkSession | None = None):
        if self._io is None:
            s = spark or self._spark or SparkSession.getActiveSession()
            if s is None:
                raise ValueError(
                    f"checkpoint root {self.root!r} needs a SparkSession for "
                    "Hadoop FileSystem access; pass spark= to DocumentCheckpoint"
                )
            self._io = _HadoopIO(s, self.root)
            self._io.mkdirs(self.root)
        return self._io

    def _join(self, *parts: str) -> str:
        return "/".join((self.root, *parts))

    # ------------------------------------------------------------- state

    def _current_manifest(self, fs) -> tuple[int, list[dict]]:
        """(version, snapshots) of the highest manifest-<n>.json, or
        (0, []) before the first commit."""
        versions = [
            int(m.group(1))
            for name in fs.list_names(self.root)
            if (m := _VERSION_FILE_RE.match(name))
        ]
        if not versions:
            return 0, []
        v = max(versions)
        return v, json.loads(fs.read_text(self._join(_manifest_name(v))))["snapshots"]

    def snapshots(self, spark: SparkSession | None = None) -> list[dict]:
        _, snaps = self._current_manifest(self._fs(spark))
        return snaps

    def _publish_manifest(
        self, fs, version: int, snapshots: list[dict], run_id: str
    ) -> bool:
        """CAS-publish manifest version ``version``; False = lost the race."""
        tmp = self._join(f".{_manifest_name(version)}.{run_id}.tmp")
        fs.write_text(tmp, json.dumps({"snapshots": snapshots}, indent=2))
        if fs.publish_exclusive(tmp, self._join(_manifest_name(version))):
            return True
        fs.delete(tmp)
        return False

    # ------------------------------------------------------------ reads

    def _committed_paths(self, spark: SparkSession) -> list[str]:
        return [self._join("data", s["run_id"]) for s in self.snapshots(spark)]

    def _committed_ids(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        """``doc_id`` of every committed row in ``paths``. The explicit
        schema lets parquet read that one column and skips the
        schema-inference job."""
        if not paths:
            return spark.createDataFrame([], schema="doc_id string")
        return spark.read.schema("doc_id string").parquet(*paths)

    def committed_doc_ids(self, spark: SparkSession) -> DataFrame:
        return self._committed_ids(spark, self._committed_paths(spark)).distinct()

    def read_result(self, spark: SparkSession) -> DataFrame:
        """The committed table: every run the current manifest names."""
        paths = self._committed_paths(spark)
        if not paths:
            raise ValueError("no committed snapshots")
        return spark.read.parquet(*paths)

    def prune(self, documents: DataFrame) -> DataFrame:
        """Drop documents already committed (anti-join resume pruning;
        duplicate keys on the committed side do not change a left-anti
        join, so no distinct).

        Spark sizes the committed side by the bytes of every column of
        its files, although it reads only ``doc_id``. Once the committed
        data is over the broadcast threshold, one aggregate measures the
        ``doc_id`` column, and a broadcast hint keeps the join from
        shuffling the incoming documents when the ids alone fit."""
        spark = documents.sparkSession
        paths = self._committed_paths(spark)
        done = self._committed_ids(spark, paths)
        fs = self._fs(spark)
        over = sum(fs.size(p) for p in paths) > broadcast_threshold(spark)
        if over and fits_broadcast(done, "doc_id"):
            done = F.broadcast(done)
        return documents.join(done, "doc_id", "left_anti")

    # ----------------------------------------------------------- commits

    def _write_data(self, result: DataFrame) -> str:
        """Land ``result`` under a fresh ``data/<run_id>``; it stays
        invisible until ``_publish`` names the run in a manifest."""
        run_id = uuid.uuid4().hex[:12]
        result.write.parquet(self._join("data", run_id))
        return run_id

    def _discard(self, fs, run_id: str) -> None:
        """Remove the files of a run that no manifest will name."""
        fs.delete_dir(self._join("data", run_id))

    def _publish(self, fs, run_id: str, metrics: dict | None) -> dict:
        """CAS-publish a manifest that appends the run's snapshot, its
        metrics included. If every attempt loses the race, the run was
        never published: its files are removed and IOError raised."""
        for _ in range(32):
            version, snapshots = self._current_manifest(fs)
            snapshot = {
                "snapshot_id": len(snapshots) + 1,
                "run_id": run_id,
                "committed_at": time.time(),
                "metrics": metrics or {},
            }
            # Exclusive-create on the successor version: if a concurrent
            # committer published manifest-<version+1> first, re-read and
            # rebase this snapshot on theirs — no snapshot is dropped.
            if self._publish_manifest(fs, version + 1, snapshots + [snapshot], run_id):
                return snapshot
        self._discard(fs, run_id)
        raise IOError(
            f"checkpoint commit lost {32} consecutive manifest races at {self.root}"
        )

    def commit(self, result: DataFrame, metrics: dict | None = None) -> dict:
        """Write a result batch, then flip the manifest.

        The data lands under a fresh run_id directory first; the
        snapshot only becomes visible when the manifest rename succeeds,
        so a kill mid-commit leaves the table at the previous snapshot.
        """
        fs = self._fs(result.sparkSession)
        return self._publish(fs, self._write_data(result), metrics)


def run_checkpointed(
    documents: DataFrame,
    media: DataFrame,
    checkpoint: DocumentCheckpoint,
    engine_conf: dict | None = None,
    partitions: int | None = None,
) -> dict | None:
    """One resumable pipeline run: prune committed docs, OCR + reweave
    the remainder, commit as a new snapshot. Returns the snapshot dict,
    or None if there was nothing left to do.

    The pass is a single write job plus the manifest CAS: the metrics
    are observed on the write itself, so nothing is cached, counted or
    aggregated in a second job. ``docs`` is observed in the write's
    result stage and is exact; the extraction counts are observed in a
    shuffle-map stage below reweave and are exact when Spark re-runs no
    stage of the job (a re-run after a fetch failure or a lost executor
    counts its tasks again)."""
    engine_conf = engine_conf or {"kind": "fake"}
    spans = explode_spans(checkpoint.prune(documents))
    results, extraction = observe_extraction(
        ocr_image_spans(spans, media, engine_conf, partitions=partitions)
    )
    written = Observation("written")
    woven = reweave(spans, results).observe(written, F.count(F.lit(1)).alias("docs"))
    fs = checkpoint._fs(documents.sparkSession)
    run_id = checkpoint._write_data(woven)
    try:
        # The write job filled both observations. Reweave emits one row
        # per doc_id, so ``docs`` is the snapshot's document count.
        docs = observed(written).get("docs", 0)
        # Documents without media spans give the OCR no rows, and then
        # its observation may not report at all.
        counts = observed(extraction)
    except Exception:
        checkpoint._discard(fs, run_id)
        raise
    if docs == 0:
        checkpoint._discard(fs, run_id)
        return None
    metrics = {**{k: counts.get(k, 0) for k in EXTRACTION_COUNTS}, "docs": docs}
    return checkpoint._publish(fs, run_id, metrics)

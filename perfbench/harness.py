"""Session, landing, timed passes and output checks for each workload.

A workload object owns one seeded input set and knows how to:

- ``land`` it as Iceberg source tables (``IcebergTable.create`` +
  ``append``), which is all the pipeline gets to see;
- ``warm_up``: run the timed plan shape before anything is timed;
- ``prepare_pass`` (untimed) and ``run_pass``: one closed-loop unit of
  timed work, returning the number of input documents it completed;
- ``verify``: compare what a pass committed against the expected
  documents derived from the generator, returning failed documents.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocrs_spark.checkpoint import DocumentCheckpoint, run_checkpointed
from ocrs_spark.iceberg import IcebergDocumentSink, IcebergTable
from ocrs_spark.pipeline import ocr_documents
from ocrs_spark.session import get_spark

from . import workloads as W

CORES = 4
DRIVER_MEMORY = "4g"
# The JVM compiles with C1 only. With C2 on, its compiler threads were
# still busy a dozen passes in, taking 1-2 CPU-seconds a pass from the
# Python workers at moments that differ from run to run, and the CPU of
# a resume_commit pass fell by a third over a run. With C1 alone the
# pass times are flat once the warm-up is done. C1 alone shrinks the
# default code cache to 48 MB, which Spark's generated code fills within
# a run (the JVM then stops compiling and jobs fail), so the cache is set
# back to the size it has with C2.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def start_session(work: str, event_log_dir: str | None = None) -> SparkSession:
    """``local[4]`` session whose scratch space stays inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def land(spark: SparkSession, location: str, df: DataFrame) -> IcebergTable:
    table = IcebergTable.create(location, df.schema)
    table.append(df)
    return IcebergTable.load(location)


def failed_docs(actual: DataFrame, expected: DataFrame, passes: int = 1) -> int:
    """Documents whose committed span sequence is not exactly the
    expected one, plus documents missing, duplicated or unexpected.
    An image span whose extraction failed carries null text, so it
    fails here too. ``actual`` may hold the output of several passes,
    told apart by a ``pass`` column (0 .. passes-1); each pass is
    checked against the whole expected set, in one Spark job."""
    if "pass" not in actual.columns:
        actual = actual.withColumn("pass", F.lit(0).cast("long"))
    got = actual.groupBy("pass", "doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.first("spans").alias("got")
    )
    want = expected.select("doc_id", F.col("spans").alias("want")).crossJoin(
        actual.sparkSession.range(passes).withColumnRenamed("id", "pass")
    )
    bad = got.join(want, ["pass", "doc_id"], "full_outer").where(
        F.col("n").isNull()
        | (F.col("n") != 1)
        | F.col("want").isNull()
        | ~F.col("got").eqNullSafe(F.col("want"))
    )
    return bad.count()


class Workload:
    """One seeded workload, generated as Python rows
    (``workloads.Corpus``); see the module docstring for its protocol."""

    name = ""
    make_corpus = None  # seed -> workloads.Corpus
    docs_per_pass = 0
    warmup_passes = 1
    # Timed passes per run at the least, however short --seconds is.
    # The first timed pass still runs slower than the rest (the JVM is
    # still compiling); the median over several passes leaves it out.
    min_passes = 3

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self._passes = 0

    def generate(self) -> None:
        self.corpus = self.make_corpus(self.seed)
        self.n_docs = self.docs_per_pass = len(self.corpus.documents)

    def land(self) -> None:
        s = self.spark
        self.docs_table = land(
            s, self._path("src", "documents"),
            s.createDataFrame(self.corpus.documents, schema=W.DOCUMENTS_SCHEMA),
        )
        self.media_table = land(
            s, self._path("src", "media"),
            s.createDataFrame(self.corpus.media, schema=W.MEDIA_SCHEMA),
        )
        self.make_expected()

    def make_expected(self) -> None:
        self.expected = self.spark.createDataFrame(
            self.corpus.expected, schema=W.DOCUMENTS_SCHEMA
        )

    @property
    def image_spans(self) -> int:
        return self.corpus.image_spans

    @property
    def spans(self) -> int:
        return self.corpus.spans

    @property
    def grids(self) -> dict:
        return self.corpus.grids

    @property
    def media_rows(self) -> list[dict]:
        return self.corpus.media

    def _path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def scan_sources(self) -> tuple[DataFrame, DataFrame]:
        return self.docs_table.scan(self.spark), self.media_table.scan(self.spark)

    # -- defaults: pipeline -> IcebergDocumentSink.commit_run -------------

    def run_pass(self) -> tuple[int, object]:
        """One pipeline run into a fresh Iceberg sink table."""
        self._passes += 1
        docs, media = self.scan_sources()
        woven = ocr_documents(docs, media, engine_conf=W.ENGINE_CONF)
        sink = IcebergDocumentSink(
            self._path("out", f"pass-{self._passes}"), self.spark, woven.schema
        )
        sink.commit_run(woven)
        return self.docs_per_pass, sink

    def prepare_pass(self) -> tuple:
        """Untimed per-pass preparation; returns ``run_pass``'s arguments."""
        return ()

    def committed(self, handle: IcebergDocumentSink) -> DataFrame:
        # the table, not handle.committed(): the sink keeps the session
        # it was made in, which the traced run may have stopped since
        return handle.table.scan(self.spark)

    def verify(self, handles: list) -> int:
        """Failed documents over the outputs of several passes."""
        tagged = [
            self.committed(h).withColumn("pass", F.lit(i).cast("long"))
            for i, h in enumerate(handles)
        ]
        return failed_docs(reduce(DataFrame.unionByName, tagged), self.expected, len(handles))

    def warm_up(self) -> None:
        """Untimed passes of the timed plan shape: they start the Python
        workers and let the JVM compile the hot paths."""
        for _ in range(self.warmup_passes):
            self.run_pass(*self.prepare_pass())

    def attempted_per_pass(self) -> int:
        return self.docs_per_pass

    def rebind(self, spark: SparkSession) -> None:
        """Move to a new session (the landed tables stay on disk)."""
        self.spark = spark
        self.make_expected()


class OcrPages(Workload):
    name = "ocr_pages"
    make_corpus = staticmethod(W.ocr_pages)


class ResumeCommit(Workload):
    """``checkpoint.run_checkpointed`` restarting from a checkpoint that
    already holds 8 snapshots covering half the documents."""

    name = "resume_commit"
    make_corpus = staticmethod(W.resume_commit)

    def generate(self) -> None:
        super().generate()
        self.docs_per_pass = sum(
            1 for k in self.corpus.slices.values() if k >= W.RESUME_SNAPSHOTS
        )

    def land(self) -> None:
        """Land the sources, then build the base checkpoint: 8 committed
        snapshots, one per pre-commit slice, holding the expected
        documents of half the corpus."""
        super().land()
        self.base = self._path("ckpt", "base")
        ckpt = DocumentCheckpoint(self.base)
        for k in range(W.RESUME_SNAPSHOTS):
            rows = [d for d in self.corpus.expected if self.corpus.slices[d["doc_id"]] == k]
            ckpt.commit(self.spark.createDataFrame(rows, schema=W.DOCUMENTS_SCHEMA))

    def fresh_checkpoint(self) -> DocumentCheckpoint:
        """An identical copy of the pre-populated checkpoint."""
        self._passes += 1
        root = self._path("ckpt", f"pass-{self._passes}")
        shutil.copytree(self.base, root)
        return DocumentCheckpoint(root)

    def prepare_pass(self) -> tuple:
        return (self.fresh_checkpoint(),)

    def run_pass(self, ckpt: DocumentCheckpoint) -> tuple[int, object]:
        docs, media = self.scan_sources()
        snap = run_checkpointed(docs, media, ckpt, engine_conf=W.ENGINE_CONF)
        if snap is None or snap["metrics"].get("errors"):
            raise RuntimeError(f"resume_commit: bad restart snapshot {snap!r}")
        return self.docs_per_pass, ckpt

    def committed(self, ckpt: DocumentCheckpoint) -> DataFrame:
        return ckpt.read_result(self.spark)

    def verify(self, handles: list) -> int:
        """The union of each restarted checkpoint's snapshots must be
        exactly the expected documents, each once; a restart must add
        exactly one snapshot, or all its documents count as failed."""
        extra = sum(
            self.n_docs
            for ckpt in handles
            if len(ckpt.snapshots(self.spark)) != W.RESUME_SNAPSHOTS + 1
        )
        return min(super().verify(handles) + extra, self.n_docs * len(handles))

    def attempted_per_pass(self) -> int:
        return self.n_docs


WORKLOADS = {w.name: w for w in (OcrPages, ResumeCommit)}


def measure_pass(wl: Workload, tree, sampler=None) -> dict:
    """One timed pass: wall time, process-tree CPU and (with a running
    ``sampler``) the workers' peak memory around ``run_pass``; the
    per-pass preparation stays outside all three."""
    args = wl.prepare_pass()
    if sampler is not None:
        sampler.restart()
    c0 = tree.cpu_seconds()
    t0 = time.perf_counter()
    docs, handle = wl.run_pass(*args)
    wall = time.perf_counter() - t0
    cpu = tree.cpu_seconds() - c0
    out = {"docs": docs, "wall_s": wall, "cpu_s": cpu, "handle": handle}
    if sampler is not None:
        sampler.sample()
        out["peak_mb"] = sampler.peak_mb
    return out


def timed_loop(wl: Workload, seconds: float, tree, sampler) -> list[dict]:
    """Closed loop: the next pass starts only when the previous one has
    finished; keeps going until ``seconds`` have been measured and at
    least ``wl.min_passes`` passes ran."""
    passes = []
    with sampler:
        while sum(p["wall_s"] for p in passes) < seconds or len(passes) < wl.min_passes:
            passes.append(measure_pass(wl, tree, sampler))
    return passes


def shutdown(spark, tree, timeout_s: float = 30.0) -> None:
    """Stop Spark, then wait until every process this one started has
    exited (JVM, PySpark daemon, workers), killing stragglers."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while True:
        left = [p for p in tree.members() if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)
        try:  # reap direct children so they leave the process table
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass

"""The traced run: per-layer metrics for one workload.

It runs separately from the timed runs and in this order:

1. set-up and warm-up as in a timed run, then one pass with tracing off;
2. a new SparkContext in the same JVM with the event log on
   (uncompressed, inside the work directory), one warm pass, and one
   pass under the job group ``pass``: the event log is read for this
   pass only;
3. a third SparkContext with the event log off, one warm pass and a
   second untraced pass, so the traced pass sits between two untraced
   ones (the tracing overhead compares it with their mean);
4. each layer on its own, timed from outside through the public
   functions, each step under its own job group: the pipeline steps
   forced to a ``noop`` sink one after the other, the Iceberg source
   plan and scan, the Iceberg sink commit, and on ``resume_commit`` the
   checkpoint's prune, metrics pass and commit;
5. Spark is stopped, the event log is rolled up, and the OCR kernels
   are timed single-threaded in this process.

Spans (name, start, end, parent) are kept in memory and written to
``.perfbench_work/trace/<workload>-seed<seed>/`` at the end, together
with the event-log rollup and the formatted plan.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
import statistics
import sys
import time

from ocrs_spark.checkpoint import DocumentCheckpoint
from ocrs_spark.codec import decode_image
from ocrs_spark.iceberg import IcebergDocumentSink
from ocrs_spark.pipeline import (
    build_engine,
    explode_spans,
    extract_payload_batch,
    extraction_metrics,
    ocr_documents,
    ocr_image_spans,
    reweave,
)
from ocrs_spark.session import ARROW_BATCH_ROWS

from . import eventlog
from . import harness as H
from .harness import metric
from . import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KERNEL_SAMPLE = ARROW_BATCH_ROWS  # images timed single-threaded (all, if fewer)
MB = float(1 << 20)


class Tracer:
    """In-memory spans; with a session, each span is also the Spark job
    group of the jobs it runs, so the event log can be cut by span."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _group(self, name: str | None) -> None:
        if self.spark is not None:
            sc = self.spark.sparkContext
            if name is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent}
        self._stack.append(name)
        self._group(name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self._group(parent)
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        rec = next(r for r in reversed(self.spans) if r["name"] == name)
        return rec["end"] - rec["start"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def pipeline_inputs(wl):
    """What the pipeline steps run on: the sources, or on resume_commit
    the documents a restart has left after pruning."""
    docs, media = wl.scan_sources()
    if isinstance(wl, H.ResumeCommit):
        docs = DocumentCheckpoint(wl.base).prune(docs)
    return docs, media


def pipeline_steps(wl, tr: Tracer, tree) -> dict:
    """Self time of explode -> OCR -> reweave: each prefix of the
    pipeline forced to a noop sink, minus the prefix before it."""
    docs, media = pipeline_inputs(wl)
    with tr.span("pipeline.explode"):
        noop(explode_spans(docs))
    c0 = tree.cpu_seconds()
    with tr.span("pipeline.ocr_image_spans"):
        noop(ocr_image_spans(explode_spans(docs), media, W.ENGINE_CONF))
    ocr_cpu = tree.cpu_seconds() - c0
    with tr.span("pipeline.reweave"):
        spans = explode_spans(docs)
        noop(reweave(spans, ocr_image_spans(spans, media, W.ENGINE_CONF)))
    t_e, t_o, t_r = (tr.seconds(f"pipeline.{s}") for s in ("explode", "ocr_image_spans", "reweave"))
    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        ocr_documents(docs, media, engine_conf=W.ENGINE_CONF).explain("formatted")
    return {
        "explode_s": t_e,
        "ocr_image_spans_s": t_o - t_e,
        "reweave_s": t_r - t_o,
        "ocr_cpu_s": ocr_cpu,
        "plan": plan.getvalue(),
    }


def iceberg_steps(wl, tr: Tracer, handle) -> dict:
    table = wl.docs_table
    plans = []
    for _ in range(5):
        t0 = time.perf_counter()
        files, _deletes, _stats = table.plan_scan()
        plans.append(time.perf_counter() - t0)
    with tr.span("iceberg.scan"):
        noop(table.scan(wl.spark))
    out = {"plan_s": statistics.median(plans), "files_planned": len(files),
           "scan_s": tr.seconds("iceberg.scan"), "commit_s": 0.0, "bytes_written_mb": 0.0}
    if isinstance(handle, IcebergDocumentSink):
        # commit already-computed documents, so only the write and the
        # metadata commit are timed
        woven = wl.committed(handle)
        loc = os.path.join(wl.work, "out", "commit-probe")
        sink = IcebergDocumentSink(loc, wl.spark, woven.schema)
        with tr.span("iceberg.commit"):
            sink.commit_run(woven)
        out["commit_s"] = tr.seconds("iceberg.commit")
        out["bytes_written_mb"] = dir_bytes(os.path.join(loc, "data")) / MB
    return out


def _manifest_version(root: str) -> int:
    return max(
        int(n[len("manifest-"):-len(".json")])
        for n in os.listdir(root)
        if n.startswith("manifest-") and n.endswith(".json")
    )


def checkpoint_steps(wl, tr: Tracer) -> dict:
    """``run_checkpointed``'s steps one by one on a fresh copy of the
    base checkpoint, then the resume invariants: the union of all
    snapshots holds every document once and equals the single-shot
    pipeline output."""
    from pyspark.sql import functions as F

    ckpt = wl.fresh_checkpoint()
    v0 = _manifest_version(ckpt.root)
    docs, media = wl.scan_sources()
    with tr.span("checkpoint.prune"):
        todo = ckpt.prune(docs)
        noop(todo)
    ledger_rows = ckpt.committed_doc_ids(wl.spark).count()
    spans = explode_spans(todo)
    results = ocr_image_spans(spans, media, W.ENGINE_CONF).cache()
    try:
        woven = reweave(spans, results)
        with tr.span("checkpoint.metrics_pass"):
            row = extraction_metrics(results).collect()[0].asDict()
        with tr.span("checkpoint.commit"):
            snap = ckpt.commit(woven, metrics=row)
    finally:
        results.unpersist()
    written = sum(
        dir_bytes(os.path.join(ckpt.root, part, snap["run_id"])) for part in ("data", "ledger")
    )
    union = ckpt.read_result(wl.spark)
    redundant = union.count() - union.select("doc_id").distinct().count()
    all_docs, _ = wl.scan_sources()
    single_shot = ocr_documents(all_docs, media, engine_conf=W.ENGINE_CONF)
    mismatched = H.failed_docs(union, single_shot.select("doc_id", F.col("spans")))
    return {
        "prune_s": tr.seconds("checkpoint.prune"),
        "ledger_rows": ledger_rows,
        "metrics_pass_s": tr.seconds("checkpoint.metrics_pass"),
        "commit_s": tr.seconds("checkpoint.commit"),
        "bytes_written_mb": written / MB,
        "manifest_retries": _manifest_version(ckpt.root) - v0 - 1,
        "redundant_docs": redundant,
        "single_shot_mismatches": mismatched,
        "errors": row["errors"],
    }


def kernel_steps(wl) -> dict:
    """Single-threaded per-stage cost over the workload's own unique
    payloads, detection in session-sized (64-image) batches, then the
    fused ``extract_payload_batch`` over the same batches. Each image's
    text is checked against the generator's rule on the way."""
    rows = list(wl.media_rows)
    if len(rows) > KERNEL_SAMPLE:
        rows = random.Random(wl.seed).sample(rows, KERNEL_SAMPLE)
    payloads = [bytes(r["bytes"]) for r in rows]
    engine = build_engine(W.ENGINE_CONF)
    det = engine.detector
    # untimed: fault in the heap pages both timed paths reuse
    extract_payload_batch(engine, payloads[:ARROW_BATCH_ROWS])
    t = dict.fromkeys(("decode", "prepare", "detect", "words_from_mask", "layout", "recognize"), 0.0)
    words = lines = mismatches = 0
    clock = time.perf_counter
    for lo in range(0, len(payloads), ARROW_BATCH_ROWS):
        greys = []
        for payload in payloads[lo : lo + ARROW_BATCH_ROWS]:
            t0 = clock()
            img = decode_image(payload)
            t1 = clock()
            greys.append(engine.prepare_input(img))
            t["decode"] += t1 - t0
            t["prepare"] += clock() - t1
        t0 = clock()
        masks = det.detect_text_pixels_batch(greys)
        t["detect"] += clock() - t0
        for row, grey, mask in zip(rows[lo:], greys, masks):
            t0 = clock()
            found = det.words_from_mask(mask)
            t1 = clock()
            grouped = engine.find_text_lines(found)
            t2 = clock()
            recognized = [ln for ln in engine.recognize_text(grey, grouped) if ln is not None]
            t3 = clock()
            t["words_from_mask"] += t1 - t0
            t["layout"] += t2 - t1
            t["recognize"] += t3 - t2
            words += len(found)
            lines += len(recognized)
            r, c, _ = wl.grids[row["media_ref"]]
            mismatches += "\n".join(ln.text() for ln in recognized) != W.grid_text(r, c)
    t0 = clock()
    for lo in range(0, len(payloads), ARROW_BATCH_ROWS):
        extract_payload_batch(engine, payloads[lo : lo + ARROW_BATCH_ROWS])
    extract = clock() - t0
    n = len(payloads)
    per_img = {k: 1000.0 * v / n for k, v in t.items()}
    return {
        "per_img_ms": per_img,
        "extract_ms": 1000.0 * extract / n,
        "words_per_img": words / n,
        "lines_per_img": lines / n,
        "mismatches": mismatches,
        "images": n,
    }


def restart(spark, wl, tr: Tracer, work: str, event_log_dir: str | None = None):
    """Stop the SparkContext and start another in the same JVM (so the
    JIT stays warm); one untimed pass restarts the Python workers."""
    spark.stop()
    spark = H.start_session(work, event_log_dir=event_log_dir)
    wl.rebind(spark)
    tr.spark = spark
    with tr.span("warmup.restart"):
        wl.run_pass(*wl.prepare_pass())
    return spark


def traced_run(args, work: str, tree, t_process: float) -> dict:
    out_dir = os.path.join(ROOT, ".perfbench_work", "trace", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    ev_dir = os.path.join(work, "eventlog")
    tr = Tracer(t_process)
    spark = None
    try:
        # -- untraced: set-up, warm-up, one reference pass ----------------
        with tr.span("session.start"):
            spark = H.start_session(work)
            spark.range(1).count()
        wl = H.WORKLOADS[args.workload](spark, args.seed, work)
        with tr.span("setup.generate"):
            wl.generate()
        with tr.span("setup.land"):
            wl.land()
        with tr.span("session.warmup"):
            wl.warm_up()
        untraced = [H.measure_pass(wl, tree)]

        # -- traced: a new SparkContext (same JVM) with the event log on
        spark = restart(spark, wl, tr, work, event_log_dir=ev_dir)
        with tr.span("pass"):
            traced = H.measure_pass(wl, tree)
        failed = wl.verify([traced["handle"]])

        # -- untraced again, so the traced pass sits between two untraced
        # ones of the same JVM; then each layer on its own
        spark = restart(spark, wl, tr, work)
        untraced.append(H.measure_pass(wl, tree))
        steps = pipeline_steps(wl, tr, tree)
        ice = iceberg_steps(wl, tr, traced["handle"])
        ckpt = checkpoint_steps(wl, tr) if isinstance(wl, H.ResumeCommit) else None
    finally:
        if spark is not None:
            H.shutdown(spark, tree)
    roll = eventlog.rollup(ev_dir)
    kern = kernel_steps(wl)
    result = assemble(wl, tr, untraced, traced, steps, ice, ckpt, roll, kern, failed)
    with open(os.path.join(out_dir, "spans.json"), "w") as f:
        json.dump(tr.spans, f, indent=1)
    with open(os.path.join(out_dir, "eventlog_rollup.json"), "w") as f:
        json.dump(roll, f, indent=1)
    with open(os.path.join(out_dir, "plan_formatted.txt"), "w") as f:
        f.write(steps["plan"])
    return result


def assemble(wl, tr, untraced, traced, steps, ice, ckpt, roll, kern, failed) -> dict:
    group = roll["groups"].get("pass", {})
    py_stage = eventlog.python_stage(roll, "pass") or {}
    py = py_stage.get("python", {})
    unique_ocrd = py.get("number of output rows", 0)
    if isinstance(wl, H.ResumeCommit):
        image_spans = 2 * wl.docs_per_pass  # the half a restart OCRs
    else:
        image_spans = wl.image_spans
    k = kern["per_img_ms"]
    kernel_ms = sum(k.values())
    docs_untraced = statistics.mean(p["docs"] / p["wall_s"] for p in untraced)
    docs_traced = traced["docs"] / traced["wall_s"]
    m = {
        "codec.decode_ms_per_img": metric(k["decode"], "ms"),
        "kernels.prepare_ms_per_img": metric(k["prepare"], "ms"),
        "kernels.detect_ms_per_img": metric(k["detect"], "ms"),
        "kernels.words_from_mask_ms_per_img": metric(k["words_from_mask"], "ms"),
        "kernels.layout_ms_per_img": metric(k["layout"], "ms"),
        "kernels.recognize_ms_per_img": metric(k["recognize"], "ms"),
        "kernels.words_per_img": metric(kern["words_per_img"], "count"),
        "kernels.lines_per_img": metric(kern["lines_per_img"], "count"),
        "pipeline.extract_batch_ms_per_img": metric(kern["extract_ms"], "ms"),
        "pipeline.udf_overhead_ms_per_img": metric(kern["extract_ms"] - kernel_ms, "ms"),
        "pipeline.python_sent_mb": metric(py.get("data sent to Python workers", 0) / MB, "MB"),
        "pipeline.python_returned_mb": metric(
            py.get("data returned from Python workers", 0) / MB, "MB"),
        "pipeline.python_worker_s": metric(
            py.get("time to run Python workers", 0) / 1000.0, "s"),
        "pipeline.ocr_stage_cpu_s": metric(steps["ocr_cpu_s"], "s"),
        "pipeline.kernel_cpu_share": metric(
            kernel_ms * unique_ocrd / 1000.0 / steps["ocr_cpu_s"], "ratio"),
        "pipeline.ocr_task_skew": metric(py_stage.get("task_skew", 0.0), "ratio"),
        "pipeline.ocr_tasks": metric(py_stage.get("tasks", 0), "count"),
        "pipeline.dedup_ratio": metric(unique_ocrd / image_spans, "ratio"),
        "pipeline.explode_s": metric(steps["explode_s"], "s"),
        "pipeline.ocr_image_spans_s": metric(steps["ocr_image_spans_s"], "s"),
        "pipeline.reweave_s": metric(steps["reweave_s"], "s"),
        "pipeline.shuffle_write_mb": metric(group.get("shuffle_write_bytes", 0) / MB, "MB"),
        "pipeline.shuffle_read_mb": metric(group.get("shuffle_read_bytes", 0) / MB, "MB"),
        "pipeline.exchanges": metric(eventlog.count_exchanges(steps["plan"]), "count"),
        "pipeline.gc_s": metric(group.get("gc_s", 0.0), "s"),
        "pipeline.spill_mb": metric(group.get("spill_bytes", 0) / MB, "MB"),
        "pipeline.executor_cpu_s": metric(group.get("executor_cpu_s", 0.0), "s"),
        "iceberg.plan_s": metric(ice["plan_s"], "s"),
        "iceberg.files_planned": metric(ice["files_planned"], "count"),
        "iceberg.scan_s": metric(ice["scan_s"], "s"),
        "iceberg.commit_s": metric(ice["commit_s"], "s"),
        "iceberg.bytes_written_mb": metric(ice["bytes_written_mb"], "MB"),
    }
    ck = ckpt or {}
    for name, unit in (("prune_s", "s"), ("ledger_rows", "count"), ("metrics_pass_s", "s"),
                       ("commit_s", "s"), ("bytes_written_mb", "MB"),
                       ("manifest_retries", "count"), ("redundant_docs", "count")):
        m[f"checkpoint.{name}"] = metric(ck.get(name, 0), unit)
    per_doc_images = [
        sum(s["kind"] == "image" for s in d["spans"]) for d in wl.corpus.expected
    ]
    m.update({
        "session.start_s": metric(tr.seconds("session.start"), "s"),
        "session.warmup_s": metric(tr.seconds("session.warmup"), "s"),
        "trace.docs_per_s": metric(docs_traced, "1/s"),
        "trace.untraced_docs_per_s": metric(docs_untraced, "1/s"),
        "trace.overhead_pct": metric(100.0 * (docs_untraced - docs_traced) / docs_untraced, "%"),
        "workload.spans_per_doc": metric(wl.spans / wl.n_docs, "count"),
        "workload.image_spans_per_doc": metric(wl.image_spans / wl.n_docs, "count"),
        "workload.image_skew": metric(max(per_doc_images) / statistics.mean(per_doc_images), "ratio"),
    })
    failed += kern["mismatches"] + ck.get("single_shot_mismatches", 0)
    sane = _sanity(wl, m)
    return {
        "correct": failed == 0 and not ck.get("errors") and not sane,
        "attempted": wl.attempted_per_pass() + kern["images"] + (wl.n_docs if ckpt else 0),
        "failed": failed,
        "metrics": m,
    }


def _sanity(wl, m: dict) -> list[str]:
    """Exact invariants of the traced numbers; any entry fails the run."""
    bad = []
    ratio = m["pipeline.dedup_ratio"]["value"]
    if ratio != 1.0:
        bad.append(f"dedup_ratio {ratio} != 1.0")
    share = m["pipeline.kernel_cpu_share"]["value"]
    if isinstance(wl, H.OcrPages) and not share > 0.5:
        bad.append(f"kernels account for only {share:.2f} of the OCR stage's CPU")
    if m["checkpoint.redundant_docs"]["value"]:
        bad.append("documents committed twice")
    for msg in bad:
        print(f"# sanity: {msg}", file=sys.stderr)
    return bad

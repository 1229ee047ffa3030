"""Benchmark entry point: Iceberg source -> OCR pipeline -> commit.

    python3 perfbench/run.py --workload ocr_pages --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the separate traced run and prints the
per-layer metrics. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
when every document came out right, 1 when any did not, and 2 when the
benchmark could not run at all (for example outside a checkout).
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # before any heavy import: set-up starts here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("ocr_pages", "resume_commit")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


CROSSCHECK_IMAGES = 4


def crosscheck_get_text(wl) -> int:
    """Mismatches between ``OcrEngine.get_text`` (the Spark-free library
    path) and the generator's expected text, on a seeded sample of
    images."""
    import random

    from ocrs_spark.codec import decode_image
    from ocrs_spark.pipeline import build_engine

    from perfbench.workloads import ENGINE_CONF, grid_text

    engine = build_engine(ENGINE_CONF)
    rows = random.Random(wl.seed).sample(wl.media_rows, CROSSCHECK_IMAGES)
    bad = 0
    for row in rows:
        grey = engine.prepare_input(decode_image(bytes(row["bytes"])))
        rows_, cols, _ = wl.grids[row["media_ref"]]
        bad += engine.get_text(grey) != grid_text(rows_, cols)
    return bad


def end_to_end(wl, seconds: float, tree, setup_s: float) -> dict:
    from perfbench.harness import metric, timed_loop
    from perfbench.proctree import WorkerPeakSampler

    sampler = WorkerPeakSampler(tree)
    passes = timed_loop(wl, seconds, tree, sampler)
    failed = wl.verify([p["handle"] for p in passes]) + crosscheck_get_text(wl)
    attempted = sum(wl.attempted_per_pass() for _ in passes) + CROSSCHECK_IMAGES
    docs_per_s = statistics.median(p["docs"] / p["wall_s"] for p in passes)
    cpu_ms = statistics.median(1000.0 * p["cpu_s"] / p["docs"] for p in passes)
    # A worker's heap sometimes stays 30-50 MB larger after a pass, at
    # random; later passes then start from it. The smallest per-pass peak
    # is the memory one pass needs without that leftover.
    peak_mb = min(p["peak_mb"] for p in passes)
    print(
        f"# {wl.name}: {len(passes)} passes, "
        + ", ".join(f"{p['wall_s']:.2f}s/{p['cpu_s']:.1f}cpu/{p['peak_mb']:.0f}MB" for p in passes),
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": metric(docs_per_s, "1/s"),
            "cpu_ms_per_doc": metric(cpu_ms, "ms"),
            "peak_worker_rss_mb": metric(peak_mb, "MB"),
            "setup_s": metric(setup_s, "s"),
        },
    }


def timed_run(args, work: str, tree) -> dict:
    """Set up once, then the timed closed loop with tracing off."""
    from perfbench import harness

    spark = harness.start_session(work)
    try:
        phases = {"session": time.perf_counter() - T_PROCESS}
        wl = harness.WORKLOADS[args.workload](spark, args.seed, work)
        for step in (wl.generate, wl.land, wl.warm_up):
            t0 = time.perf_counter()
            step()
            phases[step.__name__] = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_PROCESS
        print("# set-up " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()), file=sys.stderr)
        return end_to_end(wl, args.seconds, tree, setup_s)
    finally:
        harness.shutdown(spark, tree)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocrs_spark")):
        print(f"perfbench: no ocrs_spark package next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # JVM launcher files, pyspark temp files
    sys.path.insert(0, ROOT)

    from perfbench.proctree import ProcTree

    try:
        if args.trace:
            from perfbench import tracing

            result = tracing.traced_run(args, work, ProcTree(), T_PROCESS)
        else:
            result = timed_run(args, work, ProcTree())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Alternating A/B runs of the repo benchmark: a base revision against
the working tree.

    python3 scripts/ab.py --base HEAD~1 --pairs 10 --seed 801
    python3 scripts/ab.py --base HEAD --pairs 4 --seed 851 --control

The base revision is checked out as a detached ``git worktree`` in a
temporary directory (``$TMPDIR``, else ``/tmp``), removed again on exit.
For every workload in ``BENCHMARK.json`` and every pair ``i`` both sides
run ``perfbench/run.py --seed <seed+i> --seconds <run_seconds> --trace 0``
one after the other, never at once; even pairs run the base first, odd
pairs the change first, so a drifting host does not favour one side.
``--control`` is the A/A check: the "change" side is a second worktree
of the base revision, so the wins and gaps it reports are host noise.

Per workload and end-to-end metric the report gives each side's median
and quartiles, the median change, how many of all pairs the change won
(by the metric's ``better`` direction; a pair with a failed run is a
loss) and whether the gap between the medians
exceeds the base's interquartile range; plus the failed documents and
failed runs of each side. A table goes to stderr; the last line of
stdout is the report as one JSON object (``--out`` also writes it to a
file). Run from anywhere inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; one value is all three."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[dict], metrics: list[dict]) -> dict:
    """Pure summary of one workload's pairs.

    ``pairs``: one ``{"base": run, "change": run}`` per pair, where a run
    is ``{"metrics": {name: value}, "failed": int}`` or ``None`` when the
    run did not produce a result. ``metrics``: the ``end_to_end`` list of
    ``BENCHMARK.json`` (``name`` and ``better``). Quartiles are over the
    ``n`` pairs where both runs produced the metric; ``wins`` is out of
    all pairs, so a pair with a failed side counts as a loss.
    """
    out = {
        "pairs": len(pairs),
        "failed_docs": {s: sum((p[s] or {}).get("failed", 0) for p in pairs) for s in ("base", "change")},
        "failed_runs": {s: sum(p[s] is None for p in pairs) for s in ("base", "change")},
        "metrics": {},
    }
    for spec in metrics:
        name, higher = spec["name"], spec["better"] == "higher"
        both = [
            (p["base"]["metrics"][name], p["change"]["metrics"][name])
            for p in pairs
            if p["base"] and p["change"]
            and name in p["base"]["metrics"] and name in p["change"]["metrics"]
        ]
        if not both:
            continue
        base = quartiles([b for b, _ in both])
        change = quartiles([c for _, c in both])
        wins = sum((c > b) if higher else (c < b) for b, c in both)
        gap = change[1] - base[1]
        out["metrics"][name] = {
            "better": spec["better"],
            "n": len(both),
            "base": {"q1": base[0], "median": base[1], "q3": base[2]},
            "change": {"q1": change[0], "median": change[1], "q3": change[2]},
            "median_change_pct": 100.0 * gap / base[1] if base[1] else None,
            "wins": wins,
            "gap_exceeds_base_iqr": abs(gap) > base[2] - base[0],
        }
    return out


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One ``perfbench/run.py --trace 0`` in checkout ``root``: its JSON
    result (``metrics`` flattened to values), or None if it did not
    print one. A run that exits 1 (wrong documents) still counts, with
    its ``failed`` documents."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None
    return {
        "metrics": {k: v["value"] for k, v in res["metrics"].items()},
        "failed": res["failed"],
        "exit": proc.returncode,
    }


def add_worktree(parent: str, name: str, rev: str) -> str:
    path = os.path.join(parent, name)
    subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", path, rev],
                   check=True, stdout=subprocess.DEVNULL)
    return path


def remove_worktrees(parent: str, paths: list[str]) -> None:
    for path in paths:
        subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", path],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(parent, ignore_errors=True)
    subprocess.run(["git", "-C", ROOT, "worktree", "prune"])


def print_table(workload: str, s: dict) -> None:
    err = sys.stderr
    print(f"== {workload}: {s['pairs']} pairs, failed docs base/change "
          f"{s['failed_docs']['base']}/{s['failed_docs']['change']}, failed runs "
          f"{s['failed_runs']['base']}/{s['failed_runs']['change']}", file=err)
    for name, m in s["metrics"].items():
        b, c = m["base"], m["change"]
        pct = "n/a" if m["median_change_pct"] is None else f"{m['median_change_pct']:+.1f}%"
        print(f"  {name:20s} {b['median']:9.2f} [{b['q1']:.2f}-{b['q3']:.2f}] -> "
              f"{c['median']:9.2f} [{c['q1']:.2f}-{c['q3']:.2f}] {pct:>7s}  "
              f"wins {m['wins']}/{s['pairs']} (n={m['n']})  gap>IQR {m['gap_exceeds_base_iqr']}", file=err)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", required=True, help="git revision of the A side")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    p.add_argument("--workloads", nargs="*", help="default: all in BENCHMARK.json")
    p.add_argument("--control", action="store_true", help="A/A: both sides run --base")
    p.add_argument("--out", help="also write the JSON report here")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    # SIGTERM takes the same exit path as Ctrl-C, so the worktrees go too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    parent = tempfile.mkdtemp(prefix="ab-")
    trees: list[str] = []
    try:
        trees.append(add_worktree(parent, "base", args.base))
        if args.control:
            trees.append(add_worktree(parent, "control", args.base))
        sides = {"base": trees[0], "change": trees[-1] if args.control else ROOT}
        report = {"base": args.base, "control": args.control, "seed": args.seed,
                  "seconds": bench["run_seconds"], "workloads": {}}
        for workload in workloads:
            pairs = []
            for i in range(args.pairs):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                pair = {"seed": args.seed + i}
                for side in order:
                    pair[side] = run_once(sides[side], workload, args.seed + i, bench["run_seconds"])
                print(f"# {workload} pair {i + 1}/{args.pairs} seed {args.seed + i}: "
                      + ", ".join(f"{s} {(pair[s] or {}).get('metrics', {}).get('docs_per_s', 'FAILED')}"
                                  for s in order), file=sys.stderr, flush=True)
                pairs.append(pair)
            summary = summarize(pairs, bench["end_to_end"])
            summary["runs"] = pairs
            report["workloads"][workload] = summary
            print_table(workload, summary)
    finally:
        remove_worktrees(parent, trees)
    text = json.dumps(report)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())

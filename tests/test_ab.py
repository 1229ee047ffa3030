"""The pure summary of ``scripts/ab.py``: quartiles, wins by the
metric's direction, the median gap against the base IQR, failures."""

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "ab.py")
_spec = importlib.util.spec_from_file_location("ab_script", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

METRICS = [
    {"name": "docs_per_s", "better": "higher"},
    {"name": "cpu_ms_per_doc", "better": "lower"},
    {"name": "setup_s", "better": "lower"},
]


def run(docs_per_s, cpu_ms, failed=0):
    return {"metrics": {"docs_per_s": docs_per_s, "cpu_ms_per_doc": cpu_ms}, "failed": failed}


def test_summary_medians_quartiles_wins_and_failures():
    pairs = [
        {"base": run(10, 30), "change": run(12, 25)},
        {"base": run(11, 28), "change": run(13, 29)},
        {"base": run(9, 31), "change": run(14, 24, failed=2)},
        {"base": run(12, 27), "change": run(11, 26)},
        {"base": None, "change": run(99, 1)},  # base run printed nothing
    ]
    s = ab.summarize(pairs, METRICS)
    assert s["pairs"] == 5
    assert s["failed_docs"] == {"base": 0, "change": 2}
    assert s["failed_runs"] == {"base": 1, "change": 0}
    # metrics no run reported are left out
    assert set(s["metrics"]) == {"docs_per_s", "cpu_ms_per_doc"}

    d = s["metrics"]["docs_per_s"]
    assert d["n"] == 4  # quartiles leave out the pair with a failed side
    assert d["base"] == {"q1": 9.75, "median": 10.5, "q3": 11.25}
    assert d["change"] == {"q1": 11.75, "median": 12.5, "q3": 13.25}
    assert d["wins"] == 3  # higher is better; of all 5 pairs, the failed one a loss
    assert abs(d["median_change_pct"] - 100 * 2 / 10.5) < 1e-9
    assert d["gap_exceeds_base_iqr"]  # 2.0 > 1.5

    c = s["metrics"]["cpu_ms_per_doc"]
    assert c["wins"] == 3  # lower is better: 25<30, 24<31, 26<27
    assert c["base"]["median"] == 29.0 and c["change"]["median"] == 25.5
    assert c["gap_exceeds_base_iqr"]  # 3.5 > 30.25 - 27.75


def test_summary_single_pair_and_no_gain():
    s = ab.summarize([{"base": run(10, 30), "change": run(10, 30)}], METRICS)
    d = s["metrics"]["docs_per_s"]
    assert d["base"] == d["change"] == {"q1": 10, "median": 10, "q3": 10}
    assert d["wins"] == 0 and d["median_change_pct"] == 0.0
    assert not d["gap_exceeds_base_iqr"]

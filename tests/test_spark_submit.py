"""Deployment contract: the north rule runs the pipeline via
``spark-submit --py-files ocrs_spark.zip`` on a cluster. This test
executes that EXACT mode: it zips the package, stages the entry script
and a parquet corpus in a temp directory, strips the repo from
PYTHONPATH, and launches a real spark-submit subprocess — so
``ocrs_spark`` is importable ONLY from the shipped zip, as on a bare
cluster node. Asserts the committed snapshot reweaves text, html, pdf,
and image spans correctly and that a re-run resumes to a no-op.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit_path():
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    return shutil.which("spark-submit")


pytestmark = pytest.mark.skipif(
    _spark_submit_path() is None, reason="spark-submit not available"
)


SPAN_FIELDS = [
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
]


def _write_corpus(tmpdir: str) -> tuple[str, str, str, str]:
    """Tiny interleaved corpus with all four span kinds, written with
    pyarrow (no Spark in the staging path)."""
    import numpy as np

    from ocrs_spark.codec import encode_png
    from ocrs_spark.fixtures import make_word_image
    from ocrs_spark.pdf import encode_pdf

    from .corpus import fake_engine

    img = make_word_image(2)
    eng = fake_engine()
    want_ocr = eng.get_text(eng.prepare_input(np.transpose(img, (2, 0, 1)), chw=True))
    html = (
        b"<html><body><nav><a href='/'>Home</a> <a href='/x'>More</a></nav>"
        b"<p>submitted article body paragraph here</p>"
        b"<footer>all rights reserved by this site</footer></body></html>"
    )
    pdf = encode_pdf(["submitted pdf line"])

    spans = [
        [
            {"kind": "text", "text": "intro", "media_ref": None, "offset": 0},
            {"kind": "html", "text": None, "media_ref": "m-html", "offset": 1},
            {"kind": "pdf", "text": None, "media_ref": "m-pdf", "offset": 2},
            {"kind": "image", "text": None, "media_ref": "m-img", "offset": 3},
        ],
        [
            {"kind": "text", "text": "plain only", "media_ref": None, "offset": 0},
        ],
    ]
    docs_path = os.path.join(tmpdir, "documents.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(["d1", "d2"], pa.string()),
                "spans": pa.array(
                    spans, pa.list_(pa.struct(SPAN_FIELDS))
                ),
            }
        ),
        docs_path,
    )
    media_path = os.path.join(tmpdir, "media.parquet")
    pq.write_table(
        pa.table(
            {
                "media_ref": pa.array(["m-html", "m-pdf", "m-img"], pa.string()),
                "bytes": pa.array([html, pdf, encode_png(img)], pa.binary()),
                "width": pa.array([0, 0, img.shape[1]], pa.int32()),
                "height": pa.array([0, 0, img.shape[0]], pa.int32()),
                "channels": pa.array([0, 0, 3], pa.int32()),
            }
        ),
        media_path,
    )
    return docs_path, media_path, want_ocr, "submitted article body paragraph here"


def _build_zip(tmpdir: str) -> str:
    zip_path = os.path.join(tmpdir, "ocrs_spark.zip")
    pkg = os.path.join(REPO, "ocrs_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                if name.endswith(".pyc"):
                    continue
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))
    return zip_path


def _submit(script: str, zip_path: str, tmpdir: str, argv: list[str]) -> str:
    env = os.environ.copy()
    # A bare cluster node has no repo on PYTHONPATH: the only route to
    # ocrs_spark is the --py-files zip, driver and executors alike.
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            _spark_submit_path(),
            "--master",
            "local[2]",
            "--py-files",
            zip_path,
            script,
            *argv,
        ],
        capture_output=True,
        text=True,
        cwd=tmpdir,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stdout}\n{proc.stderr}"
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    assert lines, f"no JSON status line in stdout:\n{proc.stdout}\n{proc.stderr}"
    return lines[-1]


def test_spark_submit_py_files_runs_and_resumes(tmp_path):
    tmpdir = str(tmp_path)
    docs_path, media_path, want_ocr, want_html = _write_corpus(tmpdir)
    zip_path = _build_zip(tmpdir)
    # Stage the entry script away from the repo so its sys.path insert
    # points at an empty directory, not at a checkout of the package.
    script_dir = os.path.join(tmpdir, "scripts")
    os.makedirs(script_dir)
    script = os.path.join(script_dir, "run_pipeline.py")
    shutil.copyfile(os.path.join(REPO, "scripts", "run_pipeline.py"), script)
    ckpt = os.path.join(tmpdir, "ckpt")
    argv = [
        "--documents", docs_path,
        "--media", media_path,
        "--checkpoint", ckpt,
        "--fake-models",
        "--partitions", "2",
        "--master", "local[2]",
    ]

    status = json.loads(_submit(script, zip_path, tmpdir, argv))
    assert status["status"] == "committed"

    # Committed result: read the data files directly (no engine import
    # needed to check the contract) and verify the reweave.
    data_root = os.path.join(ckpt, "data")
    tables = []
    for run_id in os.listdir(data_root):
        for f in os.listdir(os.path.join(data_root, run_id)):
            if f.endswith(".parquet"):
                tables.append(
                    pq.read_table(os.path.join(data_root, run_id, f))
                )
    woven = {}
    for t in tables:
        for row in t.to_pylist():
            woven[row["doc_id"]] = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in sorted(row["spans"], key=lambda s: s["offset"])
            ]
    assert woven["d1"] == [
        ("text", "intro", None, 0),
        ("html", want_html, "m-html", 1),
        ("pdf", "submitted pdf line", "m-pdf", 2),
        ("image", want_ocr, "m-img", 3),
    ]
    assert woven["d2"] == [("text", "plain only", None, 0)]

    # Resume contract: a second submit against the same checkpoint must
    # anti-join everything away and commit nothing.
    status2 = json.loads(_submit(script, zip_path, tmpdir, argv))
    assert status2["status"] == "noop"

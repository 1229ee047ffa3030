"""Session-scoped work has one home: ``matcache.once`` builds each
(session, sf_dir, name) once under one temp root that is gone at exit,
every availableNow stream drains through ``streaming.drain``, and no op
leaves a dataset in Spark's cache manager."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "ocrs_spark")
SF = "/root/testdata/sf0.001"

_ONCE_SCRIPT = """
import os, types
from ocrs_spark.matcache import once

def session(app_id):
    return types.SimpleNamespace(sparkContext=types.SimpleNamespace(applicationId=app_id))

calls = []

def build(path):
    assert os.listdir(path) == []
    calls.append(path)
    open(os.path.join(path, "f"), "w").close()
    return path

def boom(path):
    raise ValueError("build failed")

a = once(session("app-1"), "sf", "x", build)
assert once(session("app-1"), "sf", "x", build) == a
c = once(session("app-1"), "sf", "y", build)
d = once(session("app-2"), "sf", "x", build)
try:
    once(session("app-1"), "sf", "z", boom)
except ValueError:
    pass
e = once(session("app-1"), "sf", "z", build)
assert calls == [a, c, d, e] and len(set(calls)) == 4
assert len({os.path.dirname(p) for p in calls}) == 1
print(os.path.dirname(a))
"""


def test_once_builds_once_under_one_root_removed_at_exit(tmp_path):
    """One build per key (application id, sf_dir, name), each in a fresh
    directory under one root; a build that raises memoizes nothing; the
    root is removed when the interpreter exits."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _ONCE_SCRIPT],
        cwd=ROOT, env=env, capture_output=True, text=True, check=True,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp_path)
    assert os.listdir(tmp_path) == []


def _uses(tree: ast.AST):
    """(function name, what) for every temp-dir, exit-hook, application-id
    and stream-wait use in a module; module level reads as ''."""
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = func or node.name
        if isinstance(node, ast.Attribute) and node.attr in (
            "mkdtemp", "applicationId", "awaitTermination"
        ):
            out.append((func, node.attr))
        if isinstance(node, ast.Import) and any(a.name == "atexit" for a in node.names):
            out.append((func, "atexit"))
        if isinstance(node, ast.ImportFrom) and node.module in ("atexit", "tempfile"):
            names = {a.name for a in node.names}
            if node.module == "atexit" or "mkdtemp" in names:
                out.append((func, node.module))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "")
    return out


def test_session_work_and_stream_waits_have_one_home():
    """In ``ocrs_spark/``, temp dirs, exit hooks and memo keys on the
    application id live in ``matcache.py`` only (the broadcast-decision
    key of ``pipeline.fits_broadcast`` aside), and ``awaitTermination``
    in ``streaming.drain`` only."""
    allowed = {
        ("matcache.py", "", "atexit"),
        ("matcache.py", "once", "mkdtemp"),
        ("matcache.py", "once", "applicationId"),
        ("pipeline.py", "fits_broadcast", "applicationId"),
        ("streaming.py", "drain", "awaitTermination"),
    }
    found = set()
    stray = []
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for func, what in _uses(tree):
                if (rel, func, what) in allowed:
                    found.add((rel, func, what))
                else:
                    stray.append(f"{rel}:{func or '<module>'}: {what}")
    assert stray == []
    assert found == allowed


def test_ops_leave_spark_cache_manager_empty(spark):
    """pdf_mixed_extraction and novelty_over hold their reused
    intermediate as a local checkpoint, whose blocks go with the plan,
    not as a cached dataset kept until the session ends."""
    from ocrs_spark.ops.novelty import novelty_over
    from ocrs_spark.ops.pdfmixed import pdf_mixed_extraction

    spark.catalog.clearCache()
    assert pdf_mixed_extraction(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    assert novelty_over(docs).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

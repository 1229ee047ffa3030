"""Session-scoped work, done once.

Several driver queries project from the same expensive subtree (the
flagship OCR weave; the ANN top-k tables consumed both directly and by
the recall metric), read the same landed layout or Iceberg fixture, or
project the sink of the same stream run. ``once`` does such work once
per (SparkSession, sf_dir, name) and hands every later caller the
memoized result — the same shape a real deployment uses (land the
table once, query it), so the memo is a fidelity feature, not a
benchmark trick. ``materialize_once`` is its parquet case: land a
DataFrame once, read it back on every call.

Every build gets a fresh directory under one per-process temp root,
which is removed at interpreter exit; names share one namespace.

Keys use ``sparkContext.applicationId`` (unique per session), not
``id(spark)``: CPython recycles object ids after a stopped session is
garbage-collected, which would alias a fresh session to a stale result.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

_DONE: dict = {}
_SEQ = itertools.count()
_ROOT: str | None = None


def once(spark: SparkSession, sf_dir: str, name: str, build):
    """Return ``build(path)``, called at most once per (application id,
    ``sf_dir``, ``name``); ``path`` is a fresh empty directory the build
    may fill. A build that raises memoizes nothing."""
    global _ROOT
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _DONE:
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="ocrs_")
            atexit.register(shutil.rmtree, _ROOT, True)
        path = os.path.join(_ROOT, f"{next(_SEQ)}_{name}")
        os.makedirs(path)
        _DONE[key] = build(path)
    return _DONE[key]


def materialize_once(
    spark: SparkSession, sf_dir: str, name: str, build
) -> DataFrame:
    """Write ``build()``'s result to parquet once per (session, sf_dir)
    and read it back on every call."""

    def land(path: str) -> str:
        build().write.parquet(f"{path}/{name}")
        return f"{path}/{name}"

    return spark.read.parquet(once(spark, sf_dir, name, land))

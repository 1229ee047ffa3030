"""Query/operator library over the driver test tables.

Each module exposes ``QUERIES: dict[str, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[str, str]`` (DuckDB SQL producing identical rows,
column names aliased to match; floats rounded identically on both sides
so order-insensitive value hashes agree).

``all_queries()`` / ``all_oracles()`` merge every module that exports
them, found by listing this package, for ``__spark_entry__``.
"""

from __future__ import annotations

import importlib
import pkgutil


def load_tables(spark, sf_dir: str, *names: str):
    """Read the requested parquet tables as DataFrames."""
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def spread(df, min_partitions: int | None = None):
    """Scale-adaptive scan spreading (r6, guide §2.5 input skew).

    The sandbox sf tables are SINGLE-row-group parquet files, so every
    scan starts as 1 partition and any per-row-heavy stage fused above
    the first exchange (Arrow passes, explodes, partial aggregates)
    runs on one core. Repartition up to the session parallelism ONLY
    when the scan is narrower — on a production multi-file table the
    branch never fires and no exchange is added, so this is input-size
    derived, not a local-mode constant.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _registry(attr: str) -> dict:
    """Merge ``attr`` (``QUERIES`` or ``ORACLES``) across every module of
    this package that exports it; a key defined twice is an error."""
    out: dict = {}
    for info in pkgutil.iter_modules(__path__):
        mod = importlib.import_module(f"{__name__}.{info.name}")
        for key, value in getattr(mod, attr, {}).items():
            if key in out:
                raise ValueError(f"{attr} key {key!r} is defined twice (in {info.name})")
            out[key] = value
    return out


def all_queries():
    return _registry("QUERIES")


def all_oracles():
    return _registry("ORACLES")

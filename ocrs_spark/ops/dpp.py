"""Dynamic partition pruning over a date-partitioned fact table.

The canonical 100-TB layout: the events fact table is laid out in
hive-style ``event_date=...`` partitions, and analytical joins against
a filtered dimension must read ONLY the partitions the dimension
selects — but the selected dates are not literals in the query, they
come out of the dimension filter at runtime. Static pruning can't help;
Spark's dynamic partition pruning (DPP) injects a runtime
``dynamicpruning`` subquery filter into the fact scan, reusing the
dimension's broadcast, so the scan opens just the matching date
directories. Without DPP this query scans the whole fact table at
every run — at 10^12 rows that is the difference between touching ~1/7
of the corpus and all of it.

The fact layout is materialized once per (session, sf_dir) via
``partitionBy("event_date")`` — the write itself is the standard
ingest-time layout, not benchmark staging. The dimension is derived
from the same corpus (every distinct date, flagged by a deterministic
day-of-month rule), so the oracle reproduces the join relationally.
``tests/test_plans.py`` asserts the fact scan's plan carries the
``dynamicpruning`` filter and that the pruned scan reads strictly
fewer files than the full layout.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..matcache import once


def partitioned_events_path(spark, sf_dir: str) -> str:
    """Land events hive-partitioned by event_date once per session and
    return the directory path."""

    def land(base: str) -> str:
        path = f"{base}/events_by_date"
        (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .withColumn("event_date", F.to_date("ts"))
            .write.partitionBy("event_date")
            .parquet(path)
        )
        return path

    return once(spark, sf_dir, "events_by_date", land)


def _date_dim(spark, sf_dir: str):
    """Distinct event dates flagged by a deterministic rule (day % 7 ==
    0 -> 'promo') — the filtered dimension side of the DPP join."""
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .withColumn(
            "kind",
            F.when(F.dayofmonth("d") % 7 == 0, "promo").otherwise("normal"),
        )
    )


def dpp_pruned_join(spark, sf_dir: str):
    """Per-promo-date event counts and value sums where the promo dates
    are only known after filtering the dimension: the fact scan must be
    dynamically pruned to those partitions."""
    fact = spark.read.parquet(partitioned_events_path(spark, sf_dir))
    dim = _date_dim(spark, sf_dir).filter(F.col("kind") == "promo")
    return (
        fact.join(dim, fact.event_date == dim.d)
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("event_date").cast("string").alias("event_date"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_DPP_JOIN = """
SELECT CAST(ts AS DATE)::VARCHAR AS event_date,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
WHERE day(CAST(ts AS DATE)) % 7 = 0
GROUP BY 1
"""


QUERIES = {
    "dpp_pruned_join": dpp_pruned_join,
}

ORACLES = {
    "dpp_pruned_join": ORACLE_DPP_JOIN,
}

"""Daily distinct users next to their DataSketches HLL estimate.

Exact ``count(DISTINCT user)`` per day needs a full shuffle of the base
table; a per-day HLL sketch (``hll_sketch_agg``, map-side combinable
like any partial aggregate) estimates it from 2^lgK registers.

Driver row: per-day exact distinct users (DuckDB-oracled) PLUS a
``hll_within_bound`` flag asserting the sketch estimate for that day is
within ±5% of the exact value (lgConfigK=12 → RSE 1.04/√2¹² ≈ 1.6%, so
5% is >3σ). The oracle emits literal TRUE — the driver's value hash
therefore fails if the sketch path ever drifts out of tolerance.
"""

from __future__ import annotations

from pyspark.sql import functions as F

LG_K = 12
REL_TOL = 0.05  # > 3x the lgK=12 relative standard error


def _daily(spark, sf_dir: str):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # ntz wall time -> zoned under the session's pinned UTC tz; day as
    # epoch bigint so both engines hash identically (see ops.relational)
    ts = F.col("ts").cast("timestamp")
    return ev.select(
        F.unix_timestamp(F.date_trunc("day", ts)).alias("day_epoch"),
        "user_id",
    )


def daily_distinct_users(spark, sf_dir: str):
    """(day_epoch, n_users, hll_within_bound): exact daily distinct
    users, plus the sketch-vs-exact tolerance flag the oracle pins to
    TRUE."""
    daily = _daily(spark, sf_dir)
    agg = daily.groupBy("day_epoch").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(LG_K))
        ).alias("est"),
    )
    return agg.select(
        "day_epoch",
        "n_users",
        (
            F.abs(F.col("est") - F.col("n_users"))
            <= F.col("n_users") * REL_TOL
        ).alias("hll_within_bound"),
    )


ORACLE_DAILY_DISTINCT = """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS hll_within_bound
FROM events
GROUP BY 1
"""

QUERIES = {"daily_distinct_users": daily_distinct_users}
ORACLES = {"daily_distinct_users": ORACLE_DAILY_DISTINCT}

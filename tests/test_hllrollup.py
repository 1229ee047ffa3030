"""HLL estimate semantics the SQL oracle can't see: determinism of the
per-day estimates across runs."""

from __future__ import annotations

from ocrs_spark.ops.hllrollup import daily_distinct_users

SF = "/root/testdata/sf0.001"


def test_estimates_deterministic_across_runs(spark):
    a = {(r.day_epoch, r.n_users, r.hll_within_bound) for r in daily_distinct_users(spark, SF).collect()}
    b = {(r.day_epoch, r.n_users, r.hll_within_bound) for r in daily_distinct_users(spark, SF).collect()}
    assert a == b
    assert all(ok for _, _, ok in a)

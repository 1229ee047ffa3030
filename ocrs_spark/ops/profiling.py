"""Data-quality profiling — the Deequ/Great-Expectations "validate the
batch before you train on it" stage: per-column completeness, exact
cardinality, numeric ranges, and string-length stats, plus rule-based
PASS/FAIL checks, as one long-format metrics table.

Shape: ONE aggregation pass per profiled table computes every metric
(all metrics are expressions inside a single agg, so the scan is read
once and combined map-side); the long format comes from unpivoting the
1-row aggregate, which is driver-free and constant-sized. The only
per-column shuffle is exact count(DISTINCT) — kept exact here because
the oracle must hash-match; at 100 TB the production swap-in is
approx_count_distinct (HLL sketch, map-side mergeable, no exact-distinct
shuffle), which tests/test_profiling.py pins to <2% relative error
against the exact path so the swap is evidence-backed, not hoped.

Numeric metric values are emitted as doubles rounded to 6 decimals
(averages divide two exact integer counts, so cross-engine parity only
has to survive one division), everything else is exact integers widened
to double for the single value column.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import load_tables

# (table, column, [metrics]) — doc/event columns worth guarding.
PROFILE_SPEC = {
    "documents": {
        "doc_id": ("count", "nulls", "distinct", "min", "max"),
        "text": ("count", "nulls", "distinct", "avg_len"),
        "lang": ("count", "nulls", "distinct"),
        "n_chars": ("count", "nulls", "min", "max", "avg"),
    },
    "events": {
        "event_id": ("count", "nulls", "distinct", "min", "max"),
        "user_id": ("count", "nulls", "distinct", "min", "max"),
        "event_type": ("count", "nulls", "distinct"),
        "value": ("count", "nulls", "min", "max", "avg"),
    },
}

# Rule checks evaluated from the profile: (name, table, column, metric,
# op, bound). A real pipeline gates publishing on these.
CHECKS = (
    ("doc_id_complete", "documents", "doc_id", "nulls", "==", 0.0),
    ("doc_id_unique", "documents", "doc_id", "distinct_ratio", "==", 1.0),
    ("text_complete", "documents", "text", "nulls", "==", 0.0),
    ("n_chars_positive", "documents", "n_chars", "min", ">=", 0.0),
    ("event_id_unique", "events", "event_id", "distinct_ratio", "==", 1.0),
    ("value_bounded", "events", "value", "max", "<=", 1e9),
)


def _metric_exprs(col: str, metrics) -> list:
    out = []
    c = F.col(col)
    for m in metrics:
        key = f"{col}__{m}"
        if m == "count":
            e = F.count(c).cast("double")
        elif m == "nulls":
            e = F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("double")
        elif m == "distinct":
            e = F.countDistinct(c).cast("double")
        elif m == "min":
            e = F.min(c).cast("double")
        elif m == "max":
            e = F.max(c).cast("double")
        elif m == "avg":
            e = F.round(F.sum(c).cast("double") / F.count(c), 6)
        elif m == "avg_len":
            e = F.round(
                F.sum(F.length(c)).cast("double") / F.count(c), 6
            )
        else:  # pragma: no cover - spec typo guard
            raise ValueError(m)
        out.append(e.alias(key))
    return out


def data_profile(spark, sf_dir, spec=None):
    """(table, column, metric, value) long-format profile of the spec'd
    tables — one single-pass aggregate per table, unpivoted. ``spec``
    (default PROFILE_SPEC) lets a caller that only consumes a subset of
    metrics skip the rest — Catalyst can't prune individual aggregate
    expressions feeding a stack()."""
    frames = []
    for table, cols in (spec or PROFILE_SPEC).items():
        (df,) = load_tables(spark, sf_dir, table)
        exprs = []
        for col, metrics in cols.items():
            exprs.extend(_metric_exprs(col, metrics))
        one = df.agg(*exprs)
        stack_args = ", ".join(
            f"'{c}', `{c}`" for c in one.columns
        )
        long = one.select(
            F.expr(
                f"stack({len(one.columns)}, {stack_args}) AS (key, value)"
            )
        ).select(
            F.lit(table).alias("table"),
            F.split("key", "__")[0].alias("column"),
            F.split("key", "__")[1].alias("metric"),
            F.col("value").cast("double").alias("value"),
        )
        frames.append(long)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def data_quality_checks(spark, sf_dir):
    """(check, tbl, col, metric, actual, passed): rule verdicts derived
    from the profile. distinct_ratio = distinct / count."""
    # Profile only the (table, column, metric) cells CHECKS consumes:
    # the spec join drops every other profile row anyway, but Catalyst
    # cannot prune aggregate expressions behind the stack()/pivot, so
    # the full profile would still pay e.g. countDistinct over the
    # entire text column for a check that only reads its null count.
    needed: dict[str, dict[str, tuple]] = {}
    for _name, table, col, metric, _op, _bound in CHECKS:
        metrics = ("count", "distinct") if metric == "distinct_ratio" else (metric,)
        cur = needed.setdefault(table, {}).setdefault(col, ())
        needed[table][col] = cur + tuple(m for m in metrics if m not in cur)
    prof = data_profile(spark, sf_dir, spec=needed)
    piv = (
        prof.groupBy("table", "column")
        .pivot("metric", ["count", "nulls", "distinct", "min", "max"])
        .agg(F.first("value"))
    )
    piv = piv.withColumn(
        "distinct_ratio",
        F.when(
            F.col("distinct").isNotNull(),
            F.round(F.col("distinct") / F.col("count"), 6),
        ),
    )
    rows = []
    for name, table, col, metric, op, bound in CHECKS:
        rows.append((name, table, col, metric, op, float(bound)))
    spec = spark.createDataFrame(
        rows, "check string, tbl string, col string, metric string, op string, bound double"
    )
    j = spec.join(
        piv,
        (spec.tbl == piv.table) & (spec.col == piv.column),
    )
    actual = (
        F.when(F.col("metric") == "nulls", F.col("nulls"))
        .when(F.col("metric") == "distinct_ratio", F.col("distinct_ratio"))
        .when(F.col("metric") == "min", F.col("min"))
        .when(F.col("metric") == "max", F.col("max"))
    )
    passed = (
        F.when(F.col("op") == "==", actual == F.col("bound"))
        .when(F.col("op") == ">=", actual >= F.col("bound"))
        .when(F.col("op") == "<=", actual <= F.col("bound"))
    )
    return j.select(
        "check",
        "tbl",
        "col",
        "metric",
        actual.alias("actual"),
        passed.alias("passed"),
    )


def _duck_metric(col: str, m: str) -> str:
    if m == "count":
        return f"count({col})::DOUBLE"
    if m == "nulls":
        return f"sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)::DOUBLE"
    if m == "distinct":
        return f"count(DISTINCT {col})::DOUBLE"
    if m == "min":
        return f"min({col})::DOUBLE"
    if m == "max":
        return f"max({col})::DOUBLE"
    if m == "avg":
        return f"round(sum({col})::DOUBLE / count({col}), 6)"
    if m == "avg_len":
        return f"round(sum(length({col}))::DOUBLE / count({col}), 6)"
    raise ValueError(m)


def _profile_oracle() -> str:
    selects = []
    for table, cols in PROFILE_SPEC.items():
        for col, metrics in cols.items():
            for m in metrics:
                selects.append(
                    f"SELECT '{table}' AS \"table\", '{col}' AS \"column\","
                    f" '{m}' AS metric, {_duck_metric(col, m)} AS value"
                    f" FROM {table}"
                )
    return "\nUNION ALL\n".join(selects)


ORACLE_PROFILE = _profile_oracle()


def _checks_oracle() -> str:
    rows = []
    for name, table, col, metric, op, bound in CHECKS:
        if metric == "distinct_ratio":
            actual = (
                f"round(count(DISTINCT {col})::DOUBLE / count({col}), 6)"
            )
        else:
            actual = _duck_metric(col, metric)
        rows.append(
            f"SELECT '{name}' AS \"check\", '{table}' AS tbl, '{col}' AS col,"
            f" '{metric}' AS metric, {actual} AS actual,"
            f" ({actual} {'=' if op == '==' else op} {bound!r}) AS passed"
            f" FROM {table}"
        )
    return "\nUNION ALL\n".join(rows)


ORACLE_CHECKS = _checks_oracle()

QUERIES = {"data_profile": data_profile, "data_quality_checks": data_quality_checks}
ORACLES = {"data_profile": ORACLE_PROFILE, "data_quality_checks": ORACLE_CHECKS}

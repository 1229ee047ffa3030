"""Corpus drift detection — the Deequ/Evidently-style "did the new
crawl batch change distribution?" monitoring stage that gates corpus
publication alongside data-quality checks (ops/profiling).

Metric: Population Stability Index per feature,
``PSI = sum_bins (p_new - p_ref) * ln(p_new / p_ref)``, the standard
industry drift score (PSI > 0.2 = significant shift). Features are
fixed-width/categorical bins so the binning is a pure expression and
identical in both engines — no quantile estimation, no sampled
reference:

- ``len``  — n_chars div 100 (document length histogram)
- ``lang`` — the language column (categorical)
- ``tok``  — whitespace token count div 20

Reference slice = the earlier half of the corpus by doc_id (the
"yesterday's accepted corpus" convention, same as curastream's frozen
artifacts); candidate slice = the later half PLUS a planted batch of
DRIFT_N perturbed docs (unseen lang, +900-char lengths, quadrupled
text) so the row is non-vacuous: all three features must flag drifted.

Scale shape: two filtered scans of the same table (one at 100 TB — the
slices would be two Iceberg snapshots, each pruned), each reduced to an
O(bins) histogram by one groupBy on uniform small keys; the PSI join is
bins x features — constant-sized. Zero-count bins take the standard
PSI_EPS substitution so new/vanished categories contribute a finite,
large term instead of an infinity.

Numeric parity: proportions divide exact integer counts, per-bin terms
flow through identical expression trees, and the per-feature sum is
rounded to 4 decimals before the drift verdict — same convention as
ops/lmscore's perplexity rounding.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import load_tables

LEN_W = 100  # n_chars bin width
TOK_W = 20  # token-count bin width
PSI_EPS = 1e-4  # zero-proportion substitution
PSI_ALERT = 0.2  # industry-standard "significant drift" bar
DRIFT_N = 25  # planted drifted docs in the candidate batch
_WS = "filter(split(text, ' '), w -> w <> '')"


def _split_expr(docs):
    """Half-open midpoint: ref = doc_id < s, cand = doc_id >= s."""
    return docs.agg(((F.max("doc_id") + 1) / 2).cast("long").alias("s"))


def _with_features(df):
    return df.select(
        F.concat(F.lit("len:"), (F.col("n_chars") / LEN_W).cast("long")).alias(
            "len"
        ),
        F.concat(F.lit("lang:"), "lang").alias("lang"),
        F.concat(
            F.lit("tok:"),
            (F.size(F.expr(_WS)) / TOK_W).cast("long"),
        ).alias("tok"),
    )


def _histogram(df):
    """(feature, bin, cnt) long-format histogram, one scan."""
    feats = _with_features(df)
    stacked = feats.select(
        F.expr("stack(3, 'len', len, 'lang', lang, 'tok', tok) AS (feature, bin)")
    )
    return stacked.groupBy("feature", "bin").agg(
        F.count("*").cast("long").alias("cnt")
    )


def _slices(spark, sf_dir):
    (docs,) = load_tables(spark, sf_dir, "documents")
    split = F.broadcast(_split_expr(docs))
    ref = docs.join(split).filter(F.col("doc_id") < F.col("s"))
    planted = docs.filter(F.col("doc_id") < DRIFT_N).select(
        "doc_id",
        F.expr("concat_ws(' ', text, text, text, text)").alias("text"),
        F.lit("xx").alias("lang"),
        "source",
        (F.col("n_chars") + 900 + (F.col("doc_id") % 3) * LEN_W).alias("n_chars"),
    )
    cand = (
        docs.join(split)
        .filter(F.col("doc_id") >= F.col("s"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .unionByName(planted)
    )
    return ref, cand


def corpus_drift(spark, sf_dir):
    """(feature, n_bins, psi, drifted): PSI of the candidate batch vs
    the reference slice, per monitored feature."""
    ref, cand = _slices(spark, sf_dir)
    hr = _histogram(ref).withColumnRenamed("cnt", "cr")
    hc = _histogram(cand).withColumnRenamed("cnt", "cc")
    tr = hr.groupBy("feature").agg(F.sum("cr").alias("tr"))
    tc = hc.groupBy("feature").agg(F.sum("cc").alias("tc"))
    j = (
        hr.join(hc, ["feature", "bin"], "full")
        .join(F.broadcast(tr), "feature")
        .join(F.broadcast(tc), "feature")
    )
    pr = F.coalesce("cr", F.lit(0)) / F.col("tr")
    pc = F.coalesce("cc", F.lit(0)) / F.col("tc")
    pr = F.when(pr == 0, F.lit(PSI_EPS)).otherwise(pr)
    pc = F.when(pc == 0, F.lit(PSI_EPS)).otherwise(pc)
    term = (pc - pr) * F.log(pc / pr)
    psi = F.round(F.sum(term), 4)
    return j.groupBy("feature").agg(
        F.count("*").cast("long").alias("n_bins"),
        psi.alias("psi"),
        (psi > PSI_ALERT).alias("drifted"),
    )


ORACLE_DRIFT = f"""
WITH s AS (SELECT ((max(doc_id) + 1) // 2)::BIGINT AS s FROM documents),
ref AS (SELECT * FROM documents WHERE doc_id < (SELECT s FROM s)),
cand AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  WHERE doc_id >= (SELECT s FROM s)
  UNION ALL
  SELECT doc_id, text || ' ' || text || ' ' || text || ' ' || text, 'xx', source,
         n_chars + 900 + (doc_id % 3) * {LEN_W}
  FROM documents WHERE doc_id < {DRIFT_N}
),
hr AS (
  SELECT feature, bin, count(*)::BIGINT AS cr FROM (
    SELECT unnest(['len', 'lang', 'tok']) AS feature,
           unnest(['len:' || (n_chars // {LEN_W}),
                   'lang:' || lang,
                   'tok:' || (len(list_filter(string_split(text, ' '),
                                              w -> w <> '')) // {TOK_W})]) AS bin
    FROM ref
  ) GROUP BY 1, 2
),
hc AS (
  SELECT feature, bin, count(*)::BIGINT AS cc FROM (
    SELECT unnest(['len', 'lang', 'tok']) AS feature,
           unnest(['len:' || (n_chars // {LEN_W}),
                   'lang:' || lang,
                   'tok:' || (len(list_filter(string_split(text, ' '),
                                              w -> w <> '')) // {TOK_W})]) AS bin
    FROM cand
  ) GROUP BY 1, 2
),
tr AS (SELECT feature, sum(cr) AS tr FROM hr GROUP BY 1),
tc AS (SELECT feature, sum(cc) AS tc FROM hc GROUP BY 1),
j AS (
  SELECT coalesce(hr.feature, hc.feature) AS feature,
         coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
  FROM hr FULL JOIN hc ON hr.feature = hc.feature AND hr.bin = hc.bin
),
terms AS (
  SELECT j.feature,
         CASE WHEN cr = 0 THEN {PSI_EPS} ELSE cr / tr.tr END AS pr,
         CASE WHEN cc = 0 THEN {PSI_EPS} ELSE cc / tc.tc END AS pc
  FROM j JOIN tr ON j.feature = tr.feature JOIN tc ON j.feature = tc.feature
)
SELECT feature, count(*)::BIGINT AS n_bins,
       round(sum((pc - pr) * ln(pc / pr)), 4) AS psi,
       (round(sum((pc - pr) * ln(pc / pr)), 4) > {PSI_ALERT}) AS drifted
FROM terms GROUP BY feature
"""

QUERIES = {"corpus_drift": corpus_drift}
ORACLES = {"corpus_drift": ORACLE_DRIFT}

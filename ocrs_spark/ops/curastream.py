"""Incremental curation over a GROWING Iceberg corpus — the deployment
shape of the FineWeb-style filter chain: new crawl batches land in the
documents table, and one micro-batch later their per-doc verdicts are
committed, without recomputing anything for already-curated docs.

Source: the ``ocrs_iceberg`` streaming data source (offsets = snapshot
sequence numbers, so each micro-batch plans only the newly appended
files). The row stages an Iceberg table, appends HALF the corpus, runs
the curator (availableNow), appends the rest, and runs again on the
SAME checkpoint — the second run reads only the second snapshot. That
is the 10^12-doc resume story for curation, mirrored from the OCR
pipeline's.

Stage semantics are chosen so incremental == batch exactly:

- quality (Gopher gates) and perplexity are per-doc against FROZEN
  artifacts — the bigram LM and the decontamination eval-gram table are
  trained once on the reference corpus and shipped as parquet (the
  CCNet pattern: yesterday's corpus trains today's filters), broadcast
  into every micro-batch.
- duplicate is exact-hash keep-earliest: a doc is a duplicate iff a
  smaller doc_id with identical text exists ANYWHERE. Because crawl
  batches arrive in id order, "seen in a prior batch" + "smaller id in
  this batch" is exactly the global rule — cross-batch state is one
  md5 table the sink maintains. Order-free, so the DuckDB oracle needs
  no notion of batches at all.
- precedence: contaminated > duplicate > quality > perplexity (same as
  ops/curation).

The corpus plants exact copies (same text, doc_id + offset) of the
first PLANT_N docs (cross-batch duplicates: original in batch 1, copy
in batch 2) and of the last PLANT_N docs (in-batch duplicates) — both
paths must flag. Copies of eval-source docs flag as CONTAMINATED
instead (precedence), which the oracle reproduces.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from . import load_tables
from ..matcache import once
from ..streaming import drain
from .decontam import EVAL_EVERY, EVAL_SKIP, NGRAM_W, doc_grams, eval_grams
from .gopher import ORACLE_GOPHER, quality_signals
from .lmscore import ALPHA
from .curation import PPL_MAX

PLANT_N = 6
PLANT_OFFSET = 5_000_000


def _augmented(docs):
    """documents + planted exact copies (head docs and tail docs)."""
    head = docs.filter(F.col("doc_id") < PLANT_N)
    mx = docs.agg(F.max("doc_id").alias("m"))
    tail = docs.join(F.broadcast(mx)).filter(
        F.col("doc_id") >= F.col("m") - (PLANT_N - 1)
    )
    copies = head.unionByName(tail.select(head.columns)).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(copies)


def _freeze_artifacts(spark, sf_dir: str, base: str) -> None:
    """Train the frozen filter models on the reference corpus and ship
    them as parquet: the bigram LM (a, b, logp) and the eval-gram
    table. One-time job; micro-batches only read these."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    from .lmscore import _doc_bigrams

    bg = _doc_bigrams(docs)
    counts = bg.groupBy("a", "b").agg(F.count("*").alias("cab"))
    lhs = counts.groupBy("a").agg(F.sum("cab").alias("ca"))
    vocab = docs.select(
        F.explode(F.expr("filter(split(text, ' '), w -> w <> '')")).alias("w")
    ).agg(F.countDistinct("w").alias("v"))
    model = (
        counts.join(lhs, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "a",
            "b",
            F.log(
                (F.col("cab") + ALPHA) / (F.col("ca") + ALPHA * F.col("v"))
            ).alias("logp"),
        )
    )
    model.write.mode("overwrite").parquet(f"{base}/lm_model")
    eval_grams(docs).write.mode("overwrite").parquet(f"{base}/eval_grams")


def _curate_batch(spark, batch, frozen: str, state_dir: str):
    """One micro-batch -> (doc_id, kept, reason), using frozen models +
    the cross-batch seen-hash state."""
    batch = batch.select("doc_id", "text")
    q = quality_signals(batch).select("doc_id", F.col("keep").alias("q_keep"))

    model = F.broadcast(spark.read.parquet(f"{frozen}/lm_model"))
    bg = (
        batch.select(
            "doc_id", F.expr("filter(split(text, ' '), w -> w <> '')").alias("ws")
        )
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i-1] AS a, ws[i] AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.a", "p.b")
    )
    ppl = (
        bg.join(model, ["a", "b"])
        .groupBy("doc_id")
        .agg(F.round(F.exp(-F.avg("logp")), 3).alias("ppl"))
    )

    ev = F.broadcast(spark.read.parquet(f"{frozen}/eval_grams"))
    hits = (
        doc_grams(batch)
        .join(ev, "gram")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )

    hashed = batch.select("doc_id", F.md5("text").alias("h"))
    in_batch_min = hashed.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    dup = hashed.join(in_batch_min, "h").select(
        "doc_id", "h", (F.col("doc_id") > F.col("first_id")).alias("dup_in_batch")
    )
    if os.path.exists(state_dir) and os.listdir(state_dir):
        seen = spark.read.parquet(state_dir).select(
            "h", F.lit(True).alias("seen_before")
        ).distinct()
        dup = dup.join(F.broadcast(seen), "h", "left")
    else:
        dup = dup.withColumn("seen_before", F.lit(None).cast("boolean"))
    dup = dup.select(
        "doc_id",
        (F.col("dup_in_batch") | F.coalesce("seen_before", F.lit(False))).alias(
            "duplicate"
        ),
    )

    j = (
        q.join(ppl, "doc_id", "left")
        .join(F.broadcast(hits), "doc_id", "left")
        .join(dup, "doc_id")
    )
    reason = (
        F.when(F.coalesce("contaminated", F.lit(False)), F.lit("contaminated"))
        .when(F.col("duplicate"), F.lit("duplicate"))
        .when(~F.col("q_keep"), F.lit("quality"))
        .when(F.col("ppl") > PPL_MAX, F.lit("perplexity"))
        .otherwise(F.lit("kept"))
    )
    verdicts = j.select(
        "doc_id", (reason == "kept").alias("kept"), reason.alias("reason")
    )
    return verdicts, hashed.select("h").distinct()


def stream_incremental_curation(spark, sf_dir):
    """(doc_id, kept, reason) for the augmented corpus, produced by two
    incremental micro-batch runs over a growing Iceberg table."""

    def build(base):
        from ocrs_spark.iceberg import IcebergTable
        from ocrs_spark.iceberg_source import IcebergDataSource

        spark.dataSource.register(IcebergDataSource)
        frozen = f"{base}/frozen"
        _freeze_artifacts(spark, sf_dir, frozen)
        (docs,) = load_tables(spark, sf_dir, "documents")
        aug = _augmented(docs)
        split = docs.agg((F.max("doc_id") / 2).cast("long").alias("s")).collect()[0][
            "s"
        ]  # staging split only — verdict semantics are order-free

        src = IcebergTable.create(f"{base}/source", aug.schema)
        sink = f"{base}/verdicts"
        state = f"{base}/seen"
        os.makedirs(state, exist_ok=True)

        def process(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            verdicts, hashes = _curate_batch(spark, batch_df, frozen, state)
            verdicts.write.mode("append").parquet(sink)
            hashes.write.mode("append").parquet(state)

        def run_once():
            drain(
                spark.readStream.format("ocrs_iceberg")
                .load(src.location)
                .writeStream.foreachBatch(process)
                .option("checkpointLocation", f"{base}/ckpt")
            )

        src.append(aug.filter(F.col("doc_id") <= split))
        run_once()
        src.append(aug.filter(F.col("doc_id") > split))
        run_once()
        return sink

    sink = once(spark, sf_dir, "stream_incremental_curation", build)
    return spark.read.parquet(sink).select("doc_id", "kept", "reason")


def _oracle() -> str:
    gopher_aug = ORACLE_GOPHER.replace("FROM documents", "FROM aug")
    return f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET}, text FROM documents WHERE doc_id < {PLANT_N}
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET}, text FROM documents
  WHERE doc_id >= (SELECT max(doc_id) FROM documents) - {PLANT_N - 1}
),
q AS (SELECT doc_id, keep AS q_keep FROM ({gopher_aug})),
wtrain AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
bgt AS (
  SELECT unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b
  FROM wtrain WHERE len(ws) >= 2
),
counts AS (SELECT a, b, count(*) AS cab FROM bgt GROUP BY 1, 2),
lhs AS (SELECT a, sum(cab) AS ca FROM counts GROUP BY 1),
vocab AS (SELECT count(DISTINCT x.w) AS v
          FROM (SELECT unnest(ws) AS w FROM wtrain) x),
model AS (
  SELECT counts.a, counts.b,
         ln((cab + {ALPHA}) / (ca + {ALPHA} * v)) AS logp
  FROM counts JOIN lhs USING (a) CROSS JOIN vocab
),
waug AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM aug
),
bga AS (
  SELECT doc_id, unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b
  FROM waug WHERE len(ws) >= 2
),
ppl AS (
  SELECT doc_id, round(exp(-avg(logp)), 3) AS ppl
  FROM bga JOIN model USING (a, b) GROUP BY doc_id
),
ev AS (
  SELECT array_to_string(ws[{EVAL_SKIP + 1}:{EVAL_SKIP + NGRAM_W}], ' ') AS gram
  FROM wtrain
  WHERE doc_id % {EVAL_EVERY} = 0 AND len(ws) >= {EVAL_SKIP + NGRAM_W}
),
dg AS (
  SELECT doc_id,
         unnest([array_to_string(ws[i:i + {NGRAM_W - 1}], ' ')
                 for i in range(1, greatest(len(ws) - {NGRAM_W - 1}, 0) + 1)]) AS gram
  FROM waug WHERE len(ws) >= {NGRAM_W}
),
cont AS (SELECT DISTINCT dg.doc_id FROM dg JOIN ev USING (gram)),
dup AS (
  SELECT doc_id,
         doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS duplicate
  FROM aug
),
r AS (
  SELECT q.doc_id,
         CASE WHEN c.doc_id IS NOT NULL THEN 'contaminated'
              WHEN d.duplicate THEN 'duplicate'
              WHEN NOT q.q_keep THEN 'quality'
              WHEN p.ppl > {PPL_MAX} THEN 'perplexity'
              ELSE 'kept' END AS reason
  FROM q
  LEFT JOIN ppl p USING (doc_id)
  LEFT JOIN cont c USING (doc_id)
  JOIN dup d USING (doc_id)
)
SELECT doc_id, (reason = 'kept') AS kept, reason FROM r
"""


ORACLE_INCREMENTAL_CURATION = _oracle()

QUERIES = {"stream_incremental_curation": stream_incremental_curation}
ORACLES = {"stream_incremental_curation": ORACLE_INCREMENTAL_CURATION}

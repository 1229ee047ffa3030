"""Flagship query: end-to-end OCR over an interleaved corpus derived
deterministically from the driver's flat ``documents`` table.

Each flat document becomes an interleaved document:
  offset 0: text span  = substring(text, 1, 40)
  offset 1: image span = media 'img-(doc_id % 5)' ('img-blank' when 4)
  offset 2: text span  = substring(text, 41, 40)
  offset 3: image span = 'img-((doc_id+1) % 4)'   (only when doc_id % 3 = 0)
with the stored span array REVERSED for odd doc_ids (order must be
restored by offset, not storage position).

Media are the fake-model word images (ocrs/src/lib.rs:319-333 shape):
'img-m' has 1 + m % 3 white word rects and OCRs to '7' * (1 + m % 3)
under the fake models — a constant validated against the reference's own
test expectations — so the driver's DuckDB oracle can assert the OCR'd
text values exactly.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import encode_rawi
from .fixtures import MEDIA_SCHEMA, make_word_image
from .matcache import materialize_once as _materialize_once, once
from .pipeline import ocr_documents

# ref -> expected OCR text under the fake models (golden constants).
MEDIA_TEXT = {
    "img-0": "7",
    "img-1": "77",
    "img-2": "777",
    "img-3": "7",
    "img-blank": "",
}


def flagship_media(spark: SparkSession) -> DataFrame:
    rows = []
    for m in range(4):
        img = make_word_image(1 + m % 3)
        rows.append(
            {
                "media_ref": f"img-{m}",
                "bytes": bytearray(encode_rawi(img)),
                "width": img.shape[1],
                "height": img.shape[0],
                "channels": img.shape[2],
            }
        )
    blank = np.zeros((100, 200, 3), dtype=np.uint8)
    rows.append(
        {
            "media_ref": "img-blank",
            "bytes": bytearray(encode_rawi(blank)),
            "width": 200,
            "height": 100,
            "channels": 3,
        }
    )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def interleaved_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    ref1 = F.when(d % 5 == 4, F.lit("img-blank")).otherwise(
        F.concat(F.lit("img-"), (d % 5).cast("string"))
    )
    ref2 = F.concat(F.lit("img-"), ((d + 1) % 4).cast("string"))

    def text_span(offset: int, expr):
        return F.struct(
            F.lit("text").alias("kind"),
            expr.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(offset).alias("offset"),
        )

    def image_span(offset: int, ref):
        return F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            ref.alias("media_ref"),
            F.lit(offset).alias("offset"),
        )

    spans3 = F.array(
        text_span(0, F.substring("text", 1, 40)),
        image_span(1, ref1),
        text_span(2, F.substring("text", 41, 40)),
    )
    spans4 = F.concat(spans3, F.array(image_span(3, ref2)))
    spans = F.when(d % 3 == 0, spans4).otherwise(spans3)
    stored = F.when(d % 2 == 1, F.reverse(spans)).otherwise(spans)
    return docs.select(d.alias("doc_id"), stored.alias("spans"))




def _materialized_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the derived corpus to parquet once per (session, sf_dir) and
    read it back: the pipeline consumes spans from several branches
    (work units, join-back, reweave), and re-evaluating the span
    construction expression per branch would dominate the run. A real
    deployment reads documents from a table to begin with — this makes
    the flagship plan shape match that."""
    return _materialize_once(
        spark, sf_dir, "documents", lambda: interleaved_documents(spark, sf_dir)
    )


def flagship_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pipeline over the derived interleaved corpus.

    The woven result is materialized once per (session, sf_dir) and
    read back: three driver queries project from it (image spans, text
    spans, serialized pipeline output), and without the cache each one
    would re-run model inference over the whole corpus. Same pattern as
    the input materialization above; a real deployment would land the
    woven table once (checkpoint.commit) and query it."""

    def build():
        docs = _materialized_interleaved(spark, sf_dir)
        media = flagship_media(spark)
        return ocr_documents(docs, media)

    return _materialize_once(spark, sf_dir, "woven", build)


def ocr_image_span_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image spans of the woven output: (doc_id, span_offset, ocr_text).
    The DuckDB oracle reconstructs these exactly from the golden media
    text constants — this is the driver-checked assertion that the
    distributed OCR engine produced the reference-validated text."""
    woven = flagship_ocr(spark, sf_dir)
    return (
        woven.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "image")
        .select(
            "doc_id",
            F.col("s.offset").alias("span_offset"),
            F.col("s.text").alias("ocr_text"),
        )
    )


_MEDIA_VALUES = ", ".join(f"('{k}', '{v}')" for k, v in MEDIA_TEXT.items())

ORACLE_OCR_IMAGE_SPANS = f"""
WITH m(ref, expected_text) AS (VALUES {_MEDIA_VALUES}),
spans AS (
  SELECT doc_id, 1 AS span_offset,
         CASE WHEN doc_id % 5 = 4 THEN 'img-blank'
              ELSE 'img-' || (doc_id % 5)::VARCHAR END AS ref
  FROM documents
  UNION ALL
  SELECT doc_id, 3, 'img-' || ((doc_id + 1) % 4)::VARCHAR
  FROM documents WHERE doc_id % 3 = 0
)
SELECT s.doc_id, s.span_offset, m.expected_text AS ocr_text
FROM spans s JOIN m ON m.ref = s.ref
"""


def ocr_text_span_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text spans of the woven output (pass-through proof): the oracle
    recomputes them from the flat table with plain substrings."""
    woven = flagship_ocr(spark, sf_dir)
    return (
        woven.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "text")
        .select(
            "doc_id",
            F.col("s.offset").alias("span_offset"),
            F.col("s.text").alias("text"),
        )
    )


ORACLE_OCR_TEXT_SPANS = """
SELECT doc_id, 0 AS span_offset, substr(text, 1, 40) AS text FROM documents
UNION ALL
SELECT doc_id, 2, substr(text, 41, 40) FROM documents
"""


# Span serialization for the driver-checkable flagship row: the woven
# nested array<struct> is flattened to one deterministic string per
# document (kind|text|media_ref|offset joined across spans in offset
# order). Any separator works for parity — both engines construct the
# string from the same fields — it only needs to be deterministic.
_FIELD_SEP = "|"
_SPAN_SEP = "~"
_NULL = "∅"  # ∅ placeholder for NULL media_ref/text


def serialize_woven(woven: DataFrame) -> DataFrame:
    """(doc_id, woven): the span array flattened to one deterministic
    string per document (driver-hashable; the oracle rebuilds it)."""
    span_str = lambda s: F.concat_ws(
        _FIELD_SEP,
        s["kind"],
        F.coalesce(s["text"], F.lit(_NULL)),
        F.coalesce(s["media_ref"], F.lit(_NULL)),
        s["offset"].cast("string"),
    )
    return woven.select(
        "doc_id",
        F.array_join(F.transform("spans", span_str), _SPAN_SEP).alias("woven"),
    )


def ocr_interleaved_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end result, projected to (doc_id, woven): the
    full woven span array serialized per document so the driver can
    canonicalize and hash it (nested array<struct> is not hashable by
    the driver's comparator). The DuckDB oracle reconstructs the exact
    same string from the flat documents table + the golden fake-model
    media texts, asserting span order, text pass-through and OCR values
    in one row per document."""
    return serialize_woven(flagship_ocr(spark, sf_dir))


def stream_ocr_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-OCR STREAM run end-to-end over the same
    interleaved corpus: documents land in a staged directory, the
    foreachBatch stream (ocrs_spark.streaming.stream_ocr_to_iceberg)
    explodes/OCRs/reweaves each micro-batch and commits it to an
    Iceberg results table as an epoch-stamped snapshot, and the table
    must serialize to exactly the batch flagship oracle — the
    driver-checked proof that the exactly-once streaming sink produces
    identical end-to-end results."""
    from .iceberg import IcebergTable

    def build(base):
        from .streaming import file_stream, stream_ocr_to_iceberg

        docs_dir = f"{base}/docs"
        _materialized_interleaved(spark, sf_dir).write.parquet(docs_dir)
        stream_ocr_to_iceberg(
            file_stream(spark, docs_dir),
            flagship_media(spark),
            f"{base}/ckpt",
            f"{base}/out",
        )
        return f"{base}/out"

    table_loc = once(spark, sf_dir, "stream_woven", build)
    return serialize_woven(IcebergTable.load(table_loc).scan(spark))


ORACLE_OCR_INTERLEAVED = f"""
WITH m(ref, expected_text) AS (VALUES {_MEDIA_VALUES}),
base AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 5 = 4 THEN 'img-blank'
              ELSE 'img-' || (doc_id % 5)::VARCHAR END AS ref1,
         'img-' || ((doc_id + 1) % 4)::VARCHAR AS ref2
  FROM documents
)
SELECT b.doc_id,
       'text{_FIELD_SEP}' || substr(b.text, 1, 40) || '{_FIELD_SEP}{_NULL}{_FIELD_SEP}0'
       || '{_SPAN_SEP}' ||
       'image{_FIELD_SEP}' || m1.expected_text || '{_FIELD_SEP}' || b.ref1 || '{_FIELD_SEP}1'
       || '{_SPAN_SEP}' ||
       'text{_FIELD_SEP}' || substr(b.text, 41, 40) || '{_FIELD_SEP}{_NULL}{_FIELD_SEP}2'
       || CASE WHEN b.doc_id % 3 = 0
               THEN '{_SPAN_SEP}' || 'image{_FIELD_SEP}' || m2.expected_text
                    || '{_FIELD_SEP}' || b.ref2 || '{_FIELD_SEP}3'
               ELSE '' END AS woven
FROM base b
JOIN m m1 ON m1.ref = b.ref1
JOIN m m2 ON m2.ref = b.ref2
"""


# ------------------------------------------------------- quarantine rows

# Every doc_id % CORRUPT_EVERY == 0 gets an extra image span (offset 9)
# referencing deliberately undecodable media — the driver-checked proof
# that per-row failure isolation works end-to-end: the corrupt rows land
# in the quarantine table with their error stage, every healthy span
# still OCRs (extraction_metrics_run's totals are exactly the golden
# formulas), and no task ever dies (pipeline.py:make_ocr_udf catches
# per-row; reference counterpart: ocrs-cli/src/main.rs's per-file error
# handling, which skips bad inputs without aborting the run).
CORRUPT_EVERY = 50
CORRUPT_REF = "img-corrupt"
CORRUPT_OFFSET = 9


def _quarantine_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR result rows (doc_id, offset, ocr_text, n_words, n_lines,
    error) over the flagship corpus with planted corrupt media,
    materialized once per (session, sf_dir)."""
    from .pipeline import explode_spans, ocr_image_spans

    def build():
        docs = _materialized_interleaved(spark, sf_dir)
        corrupt_span = F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.lit(CORRUPT_REF).alias("media_ref"),
            F.lit(CORRUPT_OFFSET).alias("offset"),
        )
        docs = docs.withColumn(
            "spans",
            F.when(
                F.col("doc_id") % CORRUPT_EVERY == 0,
                F.concat("spans", F.array(corrupt_span)),
            ).otherwise(F.col("spans")),
        )
        corrupt_media = spark.createDataFrame(
            [
                {
                    "media_ref": CORRUPT_REF,
                    "bytes": bytearray(b"\x00garbage: not a decodable image"),
                    "width": 0,
                    "height": 0,
                    "channels": 0,
                }
            ],
            schema=MEDIA_SCHEMA,
        )
        media = flagship_media(spark).unionByName(corrupt_media)
        return ocr_image_spans(explode_spans(docs), media, {"kind": "fake"})

    return _materialize_once(spark, sf_dir, "quarantine_results", build)


def extraction_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine table of the planted-corrupt flagship run:
    (doc_id, offset, error_stage). error_stage is the pipeline stage
    prefix of the error column ('decode' here — the message text itself
    may evolve with codec coverage, the stage is the contract)."""
    from .pipeline import extraction_errors

    return extraction_errors(_quarantine_results(spark, sf_dir)).select(
        "doc_id",
        "offset",
        F.substring_index("error", ":", 1).alias("error_stage"),
    )


ORACLE_QUARANTINE = f"""
SELECT doc_id, {CORRUPT_OFFSET} AS offset, 'decode' AS error_stage
FROM documents WHERE doc_id % {CORRUPT_EVERY} = 0
"""


def extraction_metrics_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-run extraction metrics of the planted-corrupt flagship run —
    one row (spans, errors, total_words, total_lines, docs). The oracle
    recomputes every total from the golden fake-model constants
    (img-m -> 1 + m % 3 words on one line; blank and corrupt -> 0)."""
    from .pipeline import extraction_metrics

    return extraction_metrics(_quarantine_results(spark, sf_dir))


ORACLE_EXTRACTION_METRICS = f"""
WITH s AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 4 THEN NULL
              ELSE (doc_id % 5) % 3 + 1 END AS words
  FROM documents
  UNION ALL
  SELECT doc_id, ((doc_id + 1) % 4) % 3 + 1
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, NULL FROM documents WHERE doc_id % {CORRUPT_EVERY} = 0
)
SELECT count(*)::BIGINT AS spans,
       (SELECT count(*) FROM documents WHERE doc_id % {CORRUPT_EVERY} = 0)::BIGINT AS errors,
       coalesce(sum(words), 0)::BIGINT AS total_words,
       sum(CASE WHEN words IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS total_lines,
       count(DISTINCT doc_id)::BIGINT AS docs
FROM s
"""

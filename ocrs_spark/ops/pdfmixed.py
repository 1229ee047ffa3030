"""Mixed-media PDF extraction: born-digital pages that interleave text
operators with embedded raster scans (image XObjects).

This is the interleaved-payload case the north star describes, sourced
from a real container format instead of a span table: the parse kernel
(`pdf.extract_pdf_mixed`) returns text and image spans in positional
reading order, the rasters route through the SAME distributed OCR path
as the flagship (content-hash dedup -> fused mapInPandas -> fan-out
join), and the recognized text is woven back between the born-digital
text spans by offset.

Scale design: one Arrow parse stage (no shuffle), then the dedup-OCR
shape from `pipeline.ocr_image_spans` — at corpus scale embedded scans
repeat heavily (letterheads, stamps, form templates), so content-hash
dedup turns N span references into K unique decodes. The parsed span
frame is cached because three branches consume it (spans, media,
reweave); a production run would land it as the lineage table instead
(`checkpoint.commit`).

Corpus: each document becomes a PDF of [text half 1, embedded scan,
text half 2]; the scan is a fake-model word image stored as a
FlateDecode RGB XObject (lossless, so the golden OCR constants hold
exactly; DCTDecode embedding is exercised byte-for-byte in
tests/test_pdf_mixed.py — JPEG ringing perturbs the pixel-pattern fake
recognizer, so lossy scans can't carry a closed-form oracle). The
DuckDB oracle rebuilds the woven string from the flat table + the
golden media texts, asserting parse order, text fidelity, and OCR
values in one row per document (pattern: flagship.ORACLE_OCR_INTERLEAVED).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from . import load_tables

# Embedded-scan variants: image m has 1 + m % 3 fake-model words and
# OCRs to '7' * (1 + m % 3) (flagship.MEDIA_TEXT golden constants).
MIXED_MEDIA_VARIANTS = 4
MIXED_TEXT = {m: "7" * (1 + m % 3) for m in range(MIXED_MEDIA_VARIANTS)}

MIXED_PAYLOAD_SCHEMA = "doc_id bigint, payload binary"
PARSED_SPAN_SCHEMA = (
    "doc_id bigint, kind string, text string, media_ref string, "
    "offset int, media_bytes binary"
)

_FIELD_SEP = "|"
_SPAN_SEP = "~"

_media_cache: list[np.ndarray] | None = None


def _media_arrays() -> list[np.ndarray]:
    """The deterministic word images, built once per Python worker."""
    global _media_cache
    if _media_cache is None:
        from ..fixtures import make_word_image

        _media_cache = [
            make_word_image(1 + m % 3) for m in range(MIXED_MEDIA_VARIANTS)
        ]
    return _media_cache


def _encode_mixed_batches(batches):
    from ..malloc_tuning import pretouch_arena
    from ..pdf import encode_pdf_mixed

    pretouch_arena(64)
    imgs = _media_arrays()
    for pdf in batches:
        payloads = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            img = imgs[int(doc_id) % MIXED_MEDIA_VARIANTS]
            segments = [
                ("text", [text[:40]]),
                ("image", img.tobytes(), img.shape[1], img.shape[0], "flate"),
                ("text", [text[40:80]]),
            ]
            payloads.append(encode_pdf_mixed(segments))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def mixed_pdf_payload_table(spark, sf_dir):
    """Encoded once per (session, sf_dir): a real corpus arrives as
    stored PDFs, so the timed query pays for parse + OCR only."""
    from ..matcache import materialize_once

    def build():
        (docs,) = load_tables(spark, sf_dir, "documents")
        return (
            docs.select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism)
            .mapInPandas(_encode_mixed_batches, schema=MIXED_PAYLOAD_SCHEMA)
        )

    return materialize_once(spark, sf_dir, "pdfmixed_payloads", build)


def _parse_mixed_batches(batches):
    from ..codec import encode_rawi
    from ..malloc_tuning import pretouch_arena
    from ..pdf import PdfParseError, extract_pdf_mixed

    pretouch_arena(64)
    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "kind", "text", "media_ref", "offset", "media_bytes",
        )}

        def emit(doc_id, kind, text, ref, off, blob):
            rows["doc_id"].append(doc_id)
            rows["kind"].append(kind)
            rows["text"].append(text)
            rows["media_ref"].append(ref)
            rows["offset"].append(off)
            rows["media_bytes"].append(blob)

        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            try:
                spans = extract_pdf_mixed(bytes(payload))
            except PdfParseError as exc:
                # Per-row isolation: a malformed payload becomes a
                # quarantine-shaped row, not a dead task.
                emit(doc_id, "error", str(exc), None, 0, None)
                continue
            for off, span in enumerate(spans):
                if span[0] == "text":
                    emit(doc_id, "text", span[1], None, off, None)
                else:
                    _, data, w, h, filt = span
                    if filt == "flate":
                        # Raw RGB re-wrapped in the pipeline's raw image
                        # container; a DCT payload is already decodable
                        # by the codec's magic-byte dispatch.
                        blob = encode_rawi(
                            np.frombuffer(data, np.uint8).reshape(h, w, 3)
                        )
                    else:
                        blob = data
                    ref = "pdfimg-" + hashlib.md5(blob).hexdigest()
                    emit(doc_id, "image", None, ref, off, blob)
        yield pd.DataFrame(rows)


def parse_mixed_pdfs(payloads, partitions: int):
    """(doc_id, payload) -> one row per positional span, image spans
    carrying their content-hash media_ref + re-wrapped pixel payload."""
    return payloads.repartition(partitions).mapInPandas(
        _parse_mixed_batches, schema=PARSED_SPAN_SCHEMA
    )


def pdf_mixed_extraction(spark, sf_dir):
    """End-to-end mixed-media extraction: parse PDFs into positioned
    text+image spans, OCR the distinct embedded scans, weave by offset,
    and serialize (kind|text|offset per span) for the driver hash.
    media_ref is content-derived (md5 of the pixel payload) so it is
    dropped from the serialization — an oracle cannot re-derive codec
    bytes in SQL."""
    from ..pipeline import ocr_image_spans, reweave

    payloads = mixed_pdf_payload_table(spark, sf_dir)
    parallelism = spark.sparkContext.defaultParallelism
    parsed = parse_mixed_pdfs(payloads, parallelism).localCheckpoint()
    spans = parsed.select("doc_id", "kind", "text", "media_ref", "offset")
    media = (
        parsed.filter(F.col("kind") == "image")
        .select("media_ref", F.col("media_bytes").alias("bytes"))
        .dropDuplicates(["media_ref"])
    )
    woven = reweave(spans, ocr_image_spans(spans, media, {"kind": "fake"}))
    span_str = lambda s: F.concat_ws(
        _FIELD_SEP, s["kind"], F.coalesce(s["text"], F.lit("")),
        s["offset"].cast("string"),
    )
    return woven.select(
        "doc_id",
        F.array_join(F.transform("spans", span_str), _SPAN_SEP).alias("woven"),
    )


_MIXED_VALUES = ", ".join(f"({m}, '{t}')" for m, t in MIXED_TEXT.items())

ORACLE_PDF_MIXED = f"""
WITH m(v, expected) AS (VALUES {_MIXED_VALUES})
SELECT d.doc_id,
       'text{_FIELD_SEP}' || substr(d.text, 1, 40) || '{_FIELD_SEP}0'
       || '{_SPAN_SEP}image{_FIELD_SEP}' || m.expected || '{_FIELD_SEP}1'
       || '{_SPAN_SEP}text{_FIELD_SEP}' || substr(d.text, 41, 40) || '{_FIELD_SEP}2'
       AS woven
FROM documents d JOIN m ON m.v = d.doc_id % {MIXED_MEDIA_VARIANTS}
"""


QUERIES = {
    "pdf_mixed_extraction": pdf_mixed_extraction,
}

ORACLES = {
    "pdf_mixed_extraction": ORACLE_PDF_MIXED,
}

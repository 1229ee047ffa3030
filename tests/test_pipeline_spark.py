"""Distributed-pipeline tests: span-sequence equality against the local
(reference-validated) engine, pass-through of text spans, skew/shuffled
storage order, and error-row survival. This is the per-row invariant from
BASELINE.json input_hint: (kind, text, media_ref, order) equality."""

import pytest

from pyspark.sql import functions as F

from ocrs_spark.pipeline import (
    explode_spans,
    extraction_metrics,
    ocr_documents,
    ocr_image_spans,
)

from .corpus import corpus_to_spark, generate_corpus


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_docs=40, seed=42)


@pytest.fixture(scope="module")
def frames(spark, corpus):
    docs, media, expected = corpus_to_spark(spark, corpus)
    return docs.cache(), media.cache(), expected.cache()


@pytest.fixture(scope="module")
def result(frames):
    docs, media, _ = frames
    return ocr_documents(docs, media).cache()


def spans_as_tuples(df):
    rows = df.select("doc_id", "spans").collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


def test_span_sequence_equality(frames, result):
    _, _, expected = frames
    got = spans_as_tuples(result)
    want = spans_as_tuples(expected)
    assert got.keys() == want.keys()
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, f"{len(mismatches)} docs mismatched: {list(mismatches)[:3]}"


def test_ocr_rows_independent_of_arrow_batch_and_partitions(spark):
    """The woven rows are the same whatever the Arrow batch size the OCR
    UDF sees and however many partitions the image spans are spread
    over."""
    docs, media, _ = corpus_to_spark(spark, generate_corpus(n_docs=20))

    def rows(**kw):
        return sorted(map(tuple, ocr_documents(docs, media, **kw).collect()))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    by_batch = {}
    try:
        for n in (1, 7, 64):
            spark.conf.set(key, str(n))
            by_batch[n] = rows()
    finally:
        spark.conf.set(key, before)
    by_partitions = {p: rows(partitions=p) for p in (1, 7)}

    want = by_batch[64]
    assert len(want) == 20
    assert by_batch[1] == want and by_batch[7] == want
    assert by_partitions[1] == want and by_partitions[7] == want


def test_order_restored_by_offset_not_storage(frames):
    docs, _, _ = frames
    # Fixture spans are stored shuffled; exploded offsets must not be
    # monotone in storage order for at least some docs, while the final
    # result (previous test) is offset-ordered.
    spans = explode_spans(docs)
    rows = (
        spans.groupBy("doc_id")
        .agg(F.collect_list("offset").alias("stored"))
        .collect()
    )
    assert any(r["stored"] != sorted(r["stored"]) for r in rows)


def test_text_spans_pass_through_unchanged(frames, result):
    docs, _, _ = frames
    orig = explode_spans(docs).filter(F.col("kind") == "text")
    new = explode_spans(result).filter(F.col("kind") == "text")
    diff = orig.select("doc_id", "offset", "text").exceptAll(
        new.select("doc_id", "offset", "text")
    )
    assert diff.count() == 0


def test_metrics(frames):
    docs, media, _ = frames
    spans = explode_spans(docs)
    results = ocr_image_spans(spans, media, {"kind": "fake"}).cache()
    m = extraction_metrics(results).collect()[0]
    n_images = spans.filter(F.col("kind") == "image").count()
    assert m["spans"] == n_images
    assert m["errors"] == 0
    assert m["docs"] >= 1
    results.unpersist()


def test_observe_metrics_match_exact_pass(frames):
    """df.observe single-pass metrics agree with the second-scan exact
    aggregate (docs via HLL may differ; spans/errors/words/lines must
    not) and arrive from the SAME job that produced the output; the
    error classes add up to ``errors``."""
    from ocrs_spark.pipeline import ERROR_STAGES, observe_extraction

    docs, media, _ = frames
    spans = explode_spans(docs)
    results = ocr_image_spans(spans, media, {"kind": "fake"})
    observed, obs = observe_extraction(results)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    exact = extraction_metrics(results).collect()[0]
    assert got["spans"] == exact["spans"]
    assert got["errors"] == exact["errors"]
    assert got["total_words"] == exact["total_words"]
    assert got["total_lines"] == exact["total_lines"]
    # HLL at this cardinality is exact in practice; allow sketch slack
    assert abs(got["docs_approx"] - exact["docs"]) <= max(1, exact["docs"] * 0.05)
    assert sum(got[f"errors_{stage}"] for stage in ERROR_STAGES) == got["errors"]


def test_empty_span_docs_survive_pipeline(spark, frames):
    """Documents with an empty (or null) spans array must appear in the
    woven output with spans == [] — explode_outer keeps them alive, so
    output doc set == input doc set and a resume commits them (plain
    explode would re-scan them forever)."""
    _, media, _ = frames
    docs = spark.createDataFrame(
        [
            {"doc_id": "empty-1", "spans": []},
            {"doc_id": "null-1", "spans": None},
            {
                "doc_id": "normal-1",
                "spans": [
                    {"kind": "text", "text": "hi", "media_ref": None, "offset": 0}
                ],
            },
        ],
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    woven = spans_as_tuples(ocr_documents(docs, media))
    assert set(woven) == {"empty-1", "null-1", "normal-1"}
    assert woven["empty-1"] == [] and woven["null-1"] == []
    assert woven["normal-1"] == [("text", "hi", None, 0)]


def test_bad_media_ref_yields_error_not_crash(spark, frames):
    _, media, _ = frames
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "bad-1",
                "spans": [
                    {"kind": "image", "text": None, "media_ref": "missing-ref", "offset": 0},
                    {"kind": "text", "text": "hello", "media_ref": None, "offset": 1},
                ],
            }
        ],
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    spans = explode_spans(docs)
    results_df = ocr_image_spans(spans, media, {"kind": "fake"}).cache()
    results = results_df.collect()
    assert len(results) == 1
    assert results[0]["error"] is not None and results[0]["ocr_text"] is None
    from ocrs_spark.pipeline import extraction_errors

    quarantined = extraction_errors(results_df).collect()
    assert len(quarantined) == 1 and quarantined[0]["doc_id"] == "bad-1"
    results_df.unpersist()
    woven = spans_as_tuples(ocr_documents(docs, media))
    assert woven["bad-1"][1] == ("text", "hello", None, 1)


def test_lossy_webp_media_decodes_in_executors(spark):
    """A lossy (VP8) WebP media payload flows through the distributed
    OCR path: the executor-side decode_image dispatch handles it, no
    quarantine row appears, and the OCR output matches OCRing the
    decoded image directly through the engine."""
    import numpy as np

    from ocrs_spark.codec import decode_image
    from ocrs_spark.fixtures import make_word_image
    from ocrs_spark.models import FakeDetectionModel, FakeRecognitionModel, fake_alphabet
    from ocrs_spark import OcrEngine, OcrEngineParams
    from ocrs_spark.fixtures import MEDIA_SCHEMA
    from .vp8enc import encode_webp_lossy

    img = make_word_image(2)
    payload = encode_webp_lossy(img, qindex=4)
    eng = OcrEngine(
        OcrEngineParams(
            detection_model=FakeDetectionModel(),
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
        )
    )
    expected = eng.get_text(eng.prepare_input(decode_image(payload)))

    media = spark.createDataFrame(
        [{"media_ref": "lossy-1", "bytes": bytearray(payload),
          "width": img.shape[1], "height": img.shape[0], "channels": 3}],
        schema=MEDIA_SCHEMA,
    )
    docs = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [
            {"kind": "image", "text": None, "media_ref": "lossy-1", "offset": 0}]}],
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    rows = ocr_image_spans(explode_spans(docs), media, {"kind": "fake"}).collect()
    assert len(rows) == 1
    assert rows[0]["error"] is None
    assert rows[0]["ocr_text"] == expected and expected  # non-empty text


def test_decode_bomb_payload_quarantines_cleanly(spark):
    """A corrupted RLEI payload whose run lengths claim gigabytes must
    surface as a quarantine row with the codec's clean error message —
    the executor must not stall allocating the bomb (codec.decode_rlei
    guards sum(lengths) against the declared size)."""
    import time

    from ocrs_spark.codec import encode_rlei
    from ocrs_spark.fixtures import MEDIA_SCHEMA, make_word_image

    bomb = bytearray(encode_rlei(make_word_image(2)))
    bomb[-2] = 0xFF  # inflate one uint32 run length by ~16M pixels
    media = spark.createDataFrame(
        [{"media_ref": "bomb-1", "bytes": bomb, "width": 200, "height": 100,
          "channels": 3}],
        schema=MEDIA_SCHEMA,
    )
    docs = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [
            {"kind": "image", "text": None, "media_ref": "bomb-1", "offset": 0}]}],
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    t0 = time.time()
    rows = ocr_image_spans(explode_spans(docs), media, {"kind": "fake"}).collect()
    assert time.time() - t0 < 60  # clean failure, not an allocation stall
    assert len(rows) == 1 and rows[0]["ocr_text"] is None
    assert "RLEI runs disagree" in rows[0]["error"]


def test_pdf_spans_flow_through_pipeline(spark):
    """Born-digital PDF media dispatch: a corpus mixing text, image,
    and pdf spans must reweave with the PDF's parsed text in place,
    image spans OCR'd, and text spans untouched — one pipeline, one
    media table, magic-byte dispatch inside the fused kernel."""
    import numpy as np

    from ocrs_spark.codec import encode_png
    from ocrs_spark.fixtures import MEDIA_SCHEMA, make_word_image
    from ocrs_spark.pdf import encode_pdf
    from ocrs_spark.pipeline import SPAN_STRUCT

    from .corpus import fake_engine

    img = make_word_image(2)
    eng = fake_engine()
    want_ocr = eng.get_text(eng.prepare_input(np.transpose(img, (2, 0, 1)), chw=True))
    pdf_payload = encode_pdf(["born digital line one", "and line two"])

    docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "text", "text": "intro", "media_ref": None, "offset": 0},
                    {"kind": "pdf", "text": None, "media_ref": "m-pdf", "offset": 1},
                    {"kind": "image", "text": None, "media_ref": "m-img", "offset": 2},
                    {"kind": "text", "text": "outro", "media_ref": None, "offset": 3},
                ],
            )
        ],
        schema=f"doc_id string, spans array<{SPAN_STRUCT}>",
    )
    media = spark.createDataFrame(
        [
            ("m-pdf", bytearray(pdf_payload), 0, 0, 0),
            ("m-img", bytearray(encode_png(img)), img.shape[1], img.shape[0], 3),
        ],
        schema=MEDIA_SCHEMA,
    )
    woven = spans_as_tuples(ocr_documents(docs, media))
    assert woven["d1"] == [
        ("text", "intro", None, 0),
        ("pdf", "born digital line one\nand line two", "m-pdf", 1),
        ("image", want_ocr, "m-img", 2),
        ("text", "outro", None, 3),
    ]


def test_html_spans_flow_through_pipeline(spark):
    """HTML media dispatch: a corpus mixing text, html, pdf, and image
    spans must reweave with the HTML's boilerplate-stripped main text in
    place — all four kinds through one pipeline, one media table,
    magic-byte dispatch inside the fused kernel."""
    import numpy as np

    from ocrs_spark.codec import encode_png
    from ocrs_spark.fixtures import MEDIA_SCHEMA, make_word_image
    from ocrs_spark.pdf import encode_pdf
    from ocrs_spark.pipeline import SPAN_STRUCT

    from .corpus import fake_engine

    img = make_word_image(2)
    eng = fake_engine()
    want_ocr = eng.get_text(eng.prepare_input(np.transpose(img, (2, 0, 1)), chw=True))
    pdf_payload = encode_pdf(["born digital line"])
    html_payload = (
        "<html><body><nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
        "<p>kept article paragraph body one</p>"
        "<p>kept article paragraph body two</p>"
        "<footer>all rights reserved by the site</footer></body></html>"
    ).encode()

    docs = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "text", "text": "intro", "media_ref": None, "offset": 0},
                    {"kind": "html", "text": None, "media_ref": "m-html", "offset": 1},
                    {"kind": "pdf", "text": None, "media_ref": "m-pdf", "offset": 2},
                    {"kind": "image", "text": None, "media_ref": "m-img", "offset": 3},
                    {"kind": "text", "text": "outro", "media_ref": None, "offset": 4},
                ],
            )
        ],
        schema=f"doc_id string, spans array<{SPAN_STRUCT}>",
    )
    media = spark.createDataFrame(
        [
            ("m-html", bytearray(html_payload), 0, 0, 0),
            ("m-pdf", bytearray(pdf_payload), 0, 0, 0),
            ("m-img", bytearray(encode_png(img)), img.shape[1], img.shape[0], 3),
        ],
        schema=MEDIA_SCHEMA,
    )
    woven = spans_as_tuples(ocr_documents(docs, media))
    assert woven["d1"] == [
        ("text", "intro", None, 0),
        (
            "html",
            "kept article paragraph body one\nkept article paragraph body two",
            "m-html",
            1,
        ),
        ("pdf", "born digital line", "m-pdf", 2),
        ("image", want_ocr, "m-img", 3),
        ("text", "outro", None, 4),
    ]


def test_html_sniff_requires_leading_angle_bracket():
    from ocrs_spark.pipeline import _looks_like_html

    assert _looks_like_html(b"<!DOCTYPE html><html></html>")
    assert _looks_like_html(b"\xef\xbb\xbf  \n<html>x</html>")
    assert not _looks_like_html(b"%PDF-1.4 ...")
    assert not _looks_like_html(b"\x89PNG\r\n\x1a\n")
    assert not _looks_like_html(b"RIFF....WEBP")
    assert not _looks_like_html(b"plain text payload")

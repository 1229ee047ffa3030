"""Deterministic synthetic interleaved-documents corpus (FIXTURES.md).

Generates the ``documents`` + ``media`` + ``documents_expected`` tables
used by the pipeline tests:

- ``media(media_ref, bytes, width, height, channels)``: black RGB images
  with one line of white word rects (``ocrs_spark.fixtures.make_word_image``),
  RAWI-encoded;
- ``documents(doc_id, spans)``: 1-12 mixed text/image spans per doc,
  spans stored SHUFFLED so tests prove order is restored by ``offset``,
  not array position; a ~2% skew tail of docs with many image spans;
- expected OCR text per media item computed with the local (already
  reference-validated) OcrEngine — the pipeline test then asserts the
  distributed result equals it span-for-span.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

from ocrs_spark.codec import encode_rawi
from ocrs_spark.engine import OcrEngine, OcrEngineParams
from ocrs_spark.fixtures import DOCUMENTS_SCHEMA, MEDIA_SCHEMA, make_word_image
from ocrs_spark.models import FakeDetectionModel, FakeRecognitionModel, fake_alphabet

TEXT_WORDS = (
    "the quick brown fox jumps over a lazy dog while spark shuffles "
    "arrow batches across executors and weaves spans back in order"
).split()


def fake_engine() -> OcrEngine:
    return OcrEngine(
        OcrEngineParams(
            detection_model=FakeDetectionModel(),
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
        )
    )


@dataclass
class Corpus:
    documents: list[dict]
    media: list[dict]
    expected: list[dict]


def generate_corpus(
    n_docs: int = 50,
    seed: int = 42,
    skew_fraction: float = 0.02,
    skew_images: int = 30,
    n_media: int = 8,
) -> Corpus:
    rng = random.Random(seed)
    engine = fake_engine()

    media = []
    media_text = {}
    for m in range(n_media):
        n_words = 1 + m % 3
        img = make_word_image(n_words)
        ref = f"img-{m:04d}"
        media.append(
            {
                "media_ref": ref,
                "bytes": bytearray(encode_rawi(img)),
                "width": img.shape[1],
                "height": img.shape[0],
                "channels": img.shape[2],
            }
        )
        grey = engine.prepare_input(img)
        media_text[ref] = engine.get_text(grey)
    # One blank image: OCRs to empty text (recognition None lines).
    blank = np.zeros((100, 200, 3), dtype=np.uint8)
    media.append(
        {
            "media_ref": "img-blank",
            "bytes": bytearray(encode_rawi(blank)),
            "width": 200,
            "height": 100,
            "channels": 3,
        }
    )
    media_text["img-blank"] = ""
    refs = [m["media_ref"] for m in media]

    documents, expected = [], []
    for d in range(n_docs):
        doc_id = f"doc-{d:06d}"
        if d < max(1, int(n_docs * skew_fraction)):
            # Skew tail: many image spans in one doc.
            kinds = ["image"] * skew_images + ["text"]
        elif d % 17 == 3:
            kinds = ["text"] * rng.randint(1, 4)  # pure pass-through doc
        elif d % 17 == 7:
            kinds = ["image"] * rng.randint(1, 3)  # image-only doc
        else:
            kinds = [
                "image" if rng.random() < 0.4 else "text"
                for _ in range(rng.randint(1, 12))
            ]
        spans, exp_spans = [], []
        for offset, kind in enumerate(kinds):
            if kind == "text":
                words = rng.sample(TEXT_WORDS, rng.randint(2, 6))
                t = " ".join(words)
                span = {"kind": "text", "text": t, "media_ref": None, "offset": offset}
                exp = dict(span)
            else:
                ref = rng.choice(refs)
                span = {"kind": "image", "text": None, "media_ref": ref, "offset": offset}
                exp = {"kind": "image", "text": media_text[ref], "media_ref": ref, "offset": offset}
            spans.append(span)
            exp_spans.append(exp)
        rng.shuffle(spans)  # storage order != offset order, by design
        documents.append({"doc_id": doc_id, "spans": spans})
        expected.append({"doc_id": doc_id, "spans": exp_spans})

    return Corpus(documents, media, expected)


def corpus_to_spark(spark, corpus: Corpus):
    """Materialize the corpus as Spark DataFrames."""
    docs = spark.createDataFrame(corpus.documents, schema=DOCUMENTS_SCHEMA)
    media = spark.createDataFrame(corpus.media, schema=MEDIA_SCHEMA)
    expected = spark.createDataFrame(corpus.expected, schema=DOCUMENTS_SCHEMA)
    return docs, media, expected

"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed. The pipeline
under test only ever sees the generated tables; the expected output of
every document is derived from the same generator, never from the
pipeline itself:

- a page is a grid of ``rows x cols`` white 20-pixel-high word boxes;
  the fake detection + recognition models read such a grid as ``rows``
  lines of ``cols`` ``7`` characters (``grid_text``);
- text spans come out verbatim;
- spans come out ordered by ``offset``, whatever their storage order.

Both workloads are small enough to build as Python rows.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

# Detection input of the fake engine. Pages of PAGE_A are fed as they
# are; PAGE_B pages are larger than the model input and go through the
# detection resize (and the mask resize back); SMALL pages are padded.
ENGINE_CONF = {"kind": "fake", "det_h": 400, "det_w": 800}
PAGE_A = (400, 800)
PAGE_B = (480, 960)
SMALL = (120, 280)

# Per page size: (first row top, row pitch, column pitch, word width,
# jitter step). PAGE_B keeps every row top and jitter on a multiple of
# 6, so the 5/6 detection resize maps word edges onto whole pixels and
# the recognized line height (hence the fake model's character) stays
# the same as on unresized pages.
_GEOMETRY = {
    PAGE_A: (12, 36, 64, 50, 2),
    PAGE_B: (12, 42, 76, 56, 6),
    SMALL: (12, 36, 64, 50, 2),
}
WORD_H = 20

DOCUMENTS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)
MEDIA_SCHEMA = "media_ref string, bytes binary"

_VOCAB = (
    "iceberg snapshot manifest arrow batch shuffle executor partition "
    "reweave offset span commit ledger resume skew kernel detect layout "
    "recognize decode page word line grid table scan prune"
).split()


def grid_text(rows: int, cols: int) -> str:
    """What the fake models read from a ``rows x cols`` word grid."""
    return "\n".join(["7" * cols] * rows)


def draw_page(size: tuple[int, int], rows: int, cols: int, jitter: int, tag: int) -> np.ndarray:
    """Greyscale page with a rows x cols grid of word boxes. ``jitter``
    shifts each row sideways; ``tag`` sets one pixel on the bottom row
    (far below the detector's minimum area) so every page is distinct."""
    h, w = size
    top0, row_pitch, col_pitch, word_w, step = _GEOMETRY[size]
    if top0 + rows * row_pitch > h or 8 + cols * col_pitch + 3 * step > w:
        raise ValueError(f"{rows}x{cols} grid does not fit a {h}x{w} page")
    img = np.zeros((h, w), dtype=np.uint8)
    for r in range(rows):
        top = top0 + r * row_pitch
        for c in range(cols):
            left = 8 + c * col_pitch + ((r + jitter) % 4) * step
            img[top : top + WORD_H, left : left + word_w] = 255
    img[h - 1, tag % w] = 255
    return img


def zipf_counts(n: int, total: int, cap: int, s: float) -> list[int]:
    """``n`` counts, each in [1, cap], summing to ``total``, shaped by
    Zipf weights ``1/k**s`` (largest-remainder rounding, so the multiset
    of counts is a function of the arguments alone)."""
    if not n <= total <= n * cap:
        raise ValueError("total out of range")
    counts = [1] * n
    spare = total - n
    weights = [1.0 / (k + 1) ** s for k in range(n)]
    while spare:
        open_ = [k for k in range(n) if counts[k] < cap]
        wsum = sum(weights[k] for k in open_)
        shares = {k: spare * weights[k] / wsum for k in open_}
        given = 0
        for k in open_:
            add = min(int(shares[k]), cap - counts[k])
            counts[k] += add
            given += add
        if given == 0:  # hand the remainder out by largest fraction
            for k in sorted(open_, key=lambda k: shares[k] - int(shares[k]), reverse=True)[:spare]:
                counts[k] += 1
                given += 1
        spare -= given
    return counts


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(3, 9)))


@dataclass
class Corpus:
    """Python-side workload: source rows plus the expected output."""

    documents: list[dict]
    media: list[dict]
    expected: list[dict]
    grids: dict  # media_ref -> (rows, cols, page size)
    slices: dict | None = None  # doc_id -> pre-commit slice (resume_commit)

    @property
    def image_spans(self) -> int:
        return sum(1 for d in self.expected for s in d["spans"] if s["kind"] == "image")

    @property
    def spans(self) -> int:
        return sum(len(d["spans"]) for d in self.expected)


def _document(doc_id, kinds, rng, image_for, shuffle: bool):
    spans, expected = [], []
    for offset, kind in enumerate(kinds):
        if kind == "text":
            span = {"kind": "text", "text": _text(rng), "media_ref": None, "offset": offset}
            expected.append(dict(span))
        else:
            ref, text = image_for()
            span = {"kind": "image", "text": None, "media_ref": ref, "offset": offset}
            expected.append({"kind": "image", "text": text, "media_ref": ref, "offset": offset})
        spans.append(span)
    if shuffle:
        rng.shuffle(spans)
    return {"doc_id": doc_id, "spans": spans}, {"doc_id": doc_id, "spans": expected}


# ---------------------------------------------------------------- ocr_pages

OCR_PAGES_DOCS = 100
OCR_PAGES_IMAGES = 147  # three of each of the 49 grid shapes
OCR_PAGES_ROWS = range(4, 11)
OCR_PAGES_COLS = range(6, 13)


def ocr_pages(seed: int) -> Corpus:
    """100 documents; images per document follow a Zipf law capped at
    32 (one document holds 32 images, most hold one). Every image is a
    unique page referenced once: three of each of the 49 grid shapes,
    alternating between the two page sizes.

    The set of pages and their ``media_ref``s is the same for every
    seed, so the OCR work and its hash partitioning are too; the seed
    decides which document gets which pages, the word jitter, the text
    spans and every storage order."""
    from ocrs_spark.codec import encode_rlei

    rng = random.Random(seed)
    shapes = [(r, c) for r in OCR_PAGES_ROWS for c in OCR_PAGES_COLS]
    reps = OCR_PAGES_IMAGES // len(shapes)
    pages = [
        (r, c, (PAGE_A, PAGE_B)[(i + k) % 2])
        for k in range(reps)
        for i, (r, c) in enumerate(shapes)
    ]
    order = list(range(len(pages)))
    rng.shuffle(order)
    counts = zipf_counts(OCR_PAGES_DOCS, len(pages), cap=32, s=2.0)
    rng.shuffle(counts)

    media, grids = [], {}
    it = iter(order)

    def image_for():
        m = next(it)
        rows, cols, size = pages[m]
        ref = f"page-{m:05d}"
        img = draw_page(size, rows, cols, jitter=rng.randrange(4), tag=m)
        media.append({"media_ref": ref, "bytes": bytearray(encode_rlei(img))})
        grids[ref] = (rows, cols, size)
        return ref, grid_text(rows, cols)

    documents, expected = [], []
    for d, k in enumerate(counts):
        # text, image, text, image, ..., text
        kinds = ["text"] + ["image", "text"] * k
        doc, exp = _document(f"doc-{d:05d}", kinds, rng, image_for, shuffle=True)
        documents.append(doc)
        expected.append(exp)
    return Corpus(documents, media, expected, grids)


# ------------------------------------------------------------ resume_commit

RESUME_DOCS = 640  # a multiple of 16 slices, so the halves are equal
RESUME_SNAPSHOTS = 8  # pre-committed snapshots, covering half the documents


def resume_commit(seed: int) -> Corpus:
    """640 documents of 2 images and 4 text spans; every image is a
    small unique word grid (1-3 rows x 1-4 columns, padded up to the
    detection input).

    The seed picks which half of the documents is pre-committed (slices
    0-7, one snapshot each) and which is left to the restart (slices
    8-15). The restart's half always holds images 0-639, so the work a
    restart OCRs is the same for every seed."""
    from ocrs_spark.codec import encode_rlei

    rng = random.Random(seed)
    ranks = list(range(RESUME_DOCS))
    rng.shuffle(ranks)
    slices = {f"doc-{d:05d}": r % (2 * RESUME_SNAPSHOTS) for d, r in enumerate(ranks)}
    todo_images = iter(range(RESUME_DOCS))
    done_images = iter(range(RESUME_DOCS, 2 * RESUME_DOCS))
    media, grids = [], {}

    def image_for(counter):
        m = next(counter)
        rows, cols = 1 + m % 3, 1 + (m // 3) % 4  # stratified 12 shapes
        ref = f"small-{m:05d}"
        img = draw_page(SMALL, rows, cols, jitter=rng.randrange(4), tag=m)
        media.append({"media_ref": ref, "bytes": bytearray(encode_rlei(img))})
        grids[ref] = (rows, cols, SMALL)
        return ref, grid_text(rows, cols)

    documents, expected = [], []
    for doc_id, k in slices.items():
        counter = done_images if k < RESUME_SNAPSHOTS else todo_images
        kinds = ["text", "image", "text", "text", "image", "text"]
        doc, exp = _document(doc_id, kinds, rng, lambda: image_for(counter), shuffle=True)
        documents.append(doc)
        expected.append(exp)
    return Corpus(documents, media, expected, grids, slices)

"""Shapes of the synthetic interleaved-documents corpus (FIXTURES.md).

- ``make_word_image``: a black RGB image with one line of white word
  rects (the reference's fake-model test image shape,
  ocrs/src/lib.rs:319-333), the media of the flagship rows;
- ``DOCUMENTS_SCHEMA`` / ``MEDIA_SCHEMA``: the ``documents(doc_id,
  spans)`` and ``media(media_ref, bytes, width, height, channels)``
  tables the pipeline reads.

The seeded corpus generator the pipeline tests use lives in
``tests/corpus.py``.
"""

from __future__ import annotations

import numpy as np


def make_word_image(n_words: int, shape=(100, 200)) -> np.ndarray:
    """Black RGB image with one line of n white word rects
    (Rect::from_tlhw(30, i*70, 20, 50) scaled into the given shape)."""
    h, w = shape
    img = np.zeros((h, w, 3), dtype=np.uint8)
    for i in range(n_words):
        left = i * 70
        if left + 50 > w:
            break
        img[30:50, left : left + 50, :] = 255
    return img


DOCUMENTS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
MEDIA_SCHEMA = "media_ref string, bytes binary, width int, height int, channels int"

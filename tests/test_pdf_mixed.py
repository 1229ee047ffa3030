"""Mixed text+image PDF codec and the distributed extraction op.

The Spark/oracle parity of pdf_mixed_extraction is covered by
tests/test_oracles.py (the module is registered in ops.all_queries);
these tests pin the codec-level contracts: positional span order,
payload fidelity for both XObject encodings, graphics-state tracking,
and parser robustness against binary stream bodies.
"""

import numpy as np
import pytest

from ocrs_spark.fixtures import make_word_image
from ocrs_spark.jpeg import decode_jpeg
from ocrs_spark.pdf import (
    PdfParseError,
    _iter_objects,
    encode_pdf,
    encode_pdf_mixed,
    extract_pdf_mixed,
    extract_pdf_text,
    extract_pdf_text_layout,
)

from .jpeg_encode import encode_jpeg


def _img():
    return make_word_image(2)


def test_mixed_roundtrip_order_and_payloads():
    img = _img()
    jp = encode_jpeg(img)
    segments = [
        ("text", ["first half of the document"]),
        ("image", img.tobytes(), img.shape[1], img.shape[0], "flate"),
        ("text", ["second half line one", "second half line two"]),
        ("image", jp, img.shape[1], img.shape[0], "dct"),
        ("text", [""]),
    ]
    spans = extract_pdf_mixed(encode_pdf_mixed(segments))
    assert [s[0] for s in spans] == ["text", "image", "text", "text", "image", "text"]
    assert spans[0][1] == "first half of the document"
    # Flate payload: exact raw RGB bytes back.
    assert spans[1][1:] == (img.tobytes(), img.shape[1], img.shape[0], "flate")
    assert spans[2][1] == "second half line one"
    assert spans[3][1] == "second half line two"
    # DCT payload: the embedded JPEG stream verbatim, still decodable.
    assert spans[4][1] == jp and spans[4][4] == "dct"
    assert np.array_equal(decode_jpeg(spans[4][1]), decode_jpeg(jp))
    # Empty text segment survives as an empty span (offset parity with
    # oracles that emit '' for an exhausted substring).
    assert spans[5] == ("text", "")


def test_mixed_dct_pixels_match_direct_decode():
    img = _img()
    jp = encode_jpeg(img)
    segments = [("image", jp, img.shape[1], img.shape[0], "dct")]
    (span,) = extract_pdf_mixed(encode_pdf_mixed(segments))
    assert np.array_equal(decode_jpeg(span[1]), decode_jpeg(jp))


def test_legacy_extractors_skip_images():
    """extract_pdf_text / extract_pdf_text_layout on a mixed payload
    must return exactly the text spans — the image streams (including
    a DCTDecode one that is not Flate-inflatable) are not content."""
    img = _img()
    segments = [
        ("text", ["alpha beta"]),
        ("image", encode_jpeg(img), img.shape[1], img.shape[0], "dct"),
        ("image", img.tobytes(), img.shape[1], img.shape[0], "flate"),
        ("text", ["gamma delta"]),
    ]
    pdf = encode_pdf_mixed(segments)
    assert extract_pdf_text(pdf) == ["alpha beta", "gamma delta"]
    assert extract_pdf_text_layout(pdf) == ["alpha beta", "gamma delta"]


def test_iter_objects_survives_binary_keywords_in_streams():
    """A pixel payload containing 'endobj' / 'N 0 obj' must not desync
    the object walk — stream bodies are sliced by /Length."""
    img = _img().copy()
    trap = b" endobj 7 0 obj stream "
    flat = img.reshape(-1)
    flat[100 : 100 + len(trap)] = np.frombuffer(trap, np.uint8)
    segments = [
        ("text", ["before"]),
        ("image", img.tobytes(), img.shape[1], img.shape[0], "flate"),
        ("text", ["after"]),
    ]
    pdf = encode_pdf_mixed(segments, compress=False)
    spans = extract_pdf_mixed(pdf)
    assert [s[0] for s in spans] == ["text", "image", "text"]
    assert spans[1][1] == img.tobytes()
    # And the raw object walk sees every object exactly once.
    nums = [n for n, _, _ in _iter_objects(pdf)]
    assert nums == sorted(set(nums))


def test_mixed_q_Q_restores_ctm():
    """The q/Q stack isolates each image's cm: two images placed at
    descending y must order by their own translations, not a leaked
    composite."""
    img = _img()
    segments = [
        ("image", img.tobytes(), img.shape[1], img.shape[0], "flate"),
        ("text", ["middle"]),
        ("image", encode_jpeg(img), img.shape[1], img.shape[0], "dct"),
    ]
    spans = extract_pdf_mixed(encode_pdf_mixed(segments))
    assert [s[0] for s in spans] == ["image", "text", "image"]
    assert spans[0][4] == "flate" and spans[2][4] == "dct"


def test_mixed_errors():
    with pytest.raises(PdfParseError):
        extract_pdf_mixed(b"not a pdf")
    img = _img()
    pdf = encode_pdf_mixed(
        [("image", img.tobytes(), img.shape[1], img.shape[0], "flate")],
        compress=False,  # keep /Im0 visible in the content stream
    )
    # Corrupt the XObject reference: Do now points at a missing name.
    broken = pdf.replace(b"/Im0 Do", b"/ImX Do")
    assert broken != pdf
    with pytest.raises(PdfParseError):
        extract_pdf_mixed(broken)
    with pytest.raises(ValueError):
        encode_pdf_mixed([("image", img.tobytes(), 7, 7, "flate")])
    with pytest.raises(ValueError):
        encode_pdf_mixed([("image", img.tobytes(), 7, 7, "webp")])


def test_plain_text_pdfs_unchanged():
    """The object-map refactor keeps the linear extractor's behavior on
    text-only documents byte-for-byte."""
    pdf = encode_pdf(["a b c", "d e f"], pages=[["a b c"], ["d e f"]])
    assert extract_pdf_text(pdf) == ["a b c", "d e f"]

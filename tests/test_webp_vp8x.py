"""VP8X extended-container decode: ALPH alpha planes over lossy VP8,
VP8X-wrapped stills, and animation stills (first ANMF frame) — the
still-image surface the reference reads via the ``image`` crate's webp
feature (ocrs-cli/Cargo.toml:12). Containers are built from the spec's
chunk layout (RFC 9649); alpha filters are verified by forward-filter /
decode round-trips.
"""

import struct

import numpy as np
import pytest

from ocrs_spark.codec import decode_image
from ocrs_spark.webp import decode_webp, encode_webp

from .vp8enc import encode_vp8


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _riff(*chunks: bytes) -> bytes:
    payload = b"WEBP" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _vp8x(w: int, h: int, alpha=False, animated=False) -> bytes:
    flags = (0x10 if alpha else 0) | (0x02 if animated else 0)
    body = bytes([flags, 0, 0, 0])
    body += struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3]
    return _chunk(b"VP8X", body)


def _vp8l_chunk_body(img: np.ndarray) -> bytes:
    data = encode_webp(img, use_palette=False)
    assert data[12:16] == b"VP8L"
    (size,) = struct.unpack("<I", data[16:20])
    return data[20 : 20 + size]


def _forward_filter(plane: np.ndarray, filt: int) -> np.ndarray:
    """Encoder-side residual for ALPH filter ``filt`` (spec predictors:
    left / above / clipped gradient with first-row/col fallbacks)."""
    h, w = plane.shape
    p = plane.astype(np.int64)
    out = np.zeros_like(p)
    for y in range(h):
        for x in range(w):
            if filt == 0:
                pred = 0
            elif filt == 1:
                pred = p[y, x - 1] if x else (p[y - 1, 0] if y else 0)
            elif filt == 2:
                pred = p[y - 1, x] if y else (p[0, x - 1] if x else 0)
            else:
                if x == 0 and y == 0:
                    pred = 0
                elif y == 0:
                    pred = p[0, x - 1]
                elif x == 0:
                    pred = p[y - 1, 0]
                else:
                    pred = min(
                        255, max(0, p[y, x - 1] + p[y - 1, x] - p[y - 1, x - 1])
                    )
            out[y, x] = (p[y, x] - pred) & 0xFF
    return out.astype(np.uint8)


def test_vp8x_wrapped_vp8l_still_matches_plain():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (21, 17, 3), np.uint8)
    plain = decode_webp(encode_webp(img, use_palette=False))
    wrapped = _riff(_vp8x(17, 21), _chunk(b"VP8L", _vp8l_chunk_body(img)))
    assert np.array_equal(decode_webp(wrapped), plain)
    # and through the magic-byte dispatcher
    assert np.array_equal(decode_image(wrapped), plain)


def test_vp8x_wrapped_vp8_still_matches_plain():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (24, 32, 3), np.uint8)
    payload = encode_vp8(img, qindex=8)
    plain = decode_webp(_riff(_chunk(b"VP8 ", payload)))
    wrapped = decode_webp(_riff(_vp8x(32, 24), _chunk(b"VP8 ", payload)))
    assert np.array_equal(wrapped, plain)


@pytest.mark.parametrize("filt", [0, 1, 2, 3])
def test_alph_raw_filters_roundtrip(filt):
    rng = np.random.default_rng(10 + filt)
    w, h = 19, 13
    img = rng.integers(0, 256, (h, w, 3), np.uint8)
    alpha = rng.integers(0, 256, (h, w), np.uint8)
    head = bytes([(filt << 2) | 0x0])  # compression 0 = raw
    alph = head + _forward_filter(alpha, filt).tobytes()
    data = _riff(
        _vp8x(w, h, alpha=True),
        _chunk(b"ALPH", alph),
        _chunk(b"VP8 ", encode_vp8(img, qindex=8)),
    )
    out = decode_webp(data)
    assert out.shape == (h, w, 4)
    assert np.array_equal(out[:, :, 3], alpha)
    # RGB part identical to the alpha-less decode of the same payload
    plain = decode_webp(_riff(_chunk(b"VP8 ", encode_vp8(img, qindex=8))))
    assert np.array_equal(out[:, :, :3], plain)


def test_alph_lossless_compressed():
    # Compression method 1: headerless VP8L stream, alpha in the GREEN
    # channel. Our VP8L header is exactly 5 byte-aligned bytes
    # (signature + 14+14+1+3 bits), so stripping it yields the
    # headerless stream the ALPH chunk expects.
    rng = np.random.default_rng(42)
    w, h = 23, 11
    alpha = rng.integers(0, 4, (h, w), np.uint8) * 80  # few distinct values
    green_img = np.zeros((h, w, 3), np.uint8)
    green_img[:, :, 1] = alpha
    vp8l = _vp8l_chunk_body(green_img)
    alph = bytes([0x1]) + vp8l[5:]  # filter 0, compression 1
    img = rng.integers(0, 256, (h, w, 3), np.uint8)
    data = _riff(
        _vp8x(w, h, alpha=True),
        _chunk(b"ALPH", alph),
        _chunk(b"VP8 ", encode_vp8(img, qindex=8)),
    )
    out = decode_webp(data)
    assert out.shape == (h, w, 4)
    assert np.array_equal(out[:, :, 3], alpha)


def test_animation_still_decodes_first_frame():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (9, 15, 3), np.uint8)
    plain = decode_webp(encode_webp(img, use_palette=False))
    anim_body = struct.pack("<I", 0)[:4] + b"\x00\x00"  # bg color + loop count
    frame_header = (
        struct.pack("<I", 0)[:3]  # x/2
        + struct.pack("<I", 0)[:3]  # y/2
        + struct.pack("<I", 15 - 1)[:3]
        + struct.pack("<I", 9 - 1)[:3]
        + struct.pack("<I", 100)[:3]  # duration
        + bytes([0])  # flags
    )
    anmf = frame_header + _chunk(b"VP8L", _vp8l_chunk_body(img))
    data = _riff(
        _vp8x(15, 9, animated=True),
        _chunk(b"ANIM", anim_body),
        _chunk(b"ANMF", anmf),
    )
    assert np.array_equal(decode_webp(data), plain)


FIXDIR = __file__.rsplit("/", 1)[0] + "/fixtures/vp8x"


def test_committed_alpha_fixture_decodes_to_stored_pixels():
    """Committed VP8X (ALPH gradient-filtered + lossy VP8) fixture
    decodes to the exact stored pixels, and its thresholded RGB OCRs to
    the same text as the clean word image (the fake recognition model
    reads rows as class log-probs, so lossy noise is thresholded first,
    as in test_vp8's lossy OCR test)."""
    from ocrs_spark import (
        FakeDetectionModel,
        FakeRecognitionModel,
        OcrEngine,
        OcrEngineParams,
    )
    from ocrs_spark.fixtures import make_word_image
    from ocrs_spark.models import fake_alphabet

    data = open(f"{FIXDIR}/word2_alpha.webp", "rb").read()
    out = decode_image(data)
    expected = np.load(f"{FIXDIR}/word2_alpha_decoded.npy")
    assert np.array_equal(out, expected)
    assert out.shape[2] == 4
    assert out[0, 0, 3] == 200 and out[-1, -1, 3] == 255  # ALPH applied
    clean = np.where(out[:, :, :3] > 127, 255, 0).astype(np.uint8)
    assert np.array_equal(clean, make_word_image(2))
    eng = OcrEngine(
        OcrEngineParams(
            detection_model=FakeDetectionModel(),
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
        )
    )
    assert eng.get_text(eng.prepare_input(clean)) == "77"


def test_vp8x_fixture_ocrs_through_spark_pipeline(spark):
    """The committed lossless VP8X fixture runs through the distributed
    OCR pipeline (explode -> dedup media -> mapInPandas -> reweave) and
    produces the exact golden text — VP8X media is a first-class citizen
    of the flagship path, not just the codec layer."""
    from ocrs_spark.fixtures import DOCUMENTS_SCHEMA, MEDIA_SCHEMA
    from ocrs_spark.pipeline import explode_spans, ocr_image_spans

    data = open(f"{FIXDIR}/word2_lossless.webp", "rb").read()
    img = decode_image(data)
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "d1",
                "spans": [
                    {"kind": "text", "text": "before", "media_ref": None, "offset": 0},
                    {"kind": "image", "text": None, "media_ref": "m-vp8x", "offset": 1},
                ],
            }
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    media = spark.createDataFrame(
        [
            {
                "media_ref": "m-vp8x",
                "bytes": data,
                "width": int(img.shape[1]),
                "height": int(img.shape[0]),
                "channels": int(img.shape[2]),
            }
        ],
        schema=MEDIA_SCHEMA,
    )
    rows = ocr_image_spans(explode_spans(docs), media, {"kind": "fake"}).collect()
    assert len(rows) == 1
    assert rows[0].error is None
    assert rows[0].ocr_text == "77"


from hypothesis import given, settings, strategies as st


@st.composite
def alpha_planes(draw):
    w = draw(st.integers(1, 40))
    h = draw(st.integers(1, 30))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w), np.uint8)


@settings(max_examples=30, deadline=None)
@given(alpha_planes(), st.integers(0, 3))
def test_alph_filter_roundtrip_property(plane, filt):
    """Forward-filter -> decode is the identity for every filter and
    every plane shape (incl. 1-wide/1-tall edge geometries where the
    first-row/first-col fallback predictors dominate)."""
    from ocrs_spark.webp import _decode_alph

    body = bytes([(filt << 2)]) + _forward_filter(plane, filt).tobytes()
    h, w = plane.shape
    out = _decode_alph(body, w, h)
    assert np.array_equal(out, plane)

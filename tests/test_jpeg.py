"""Baseline JPEG codec tests: exact decode of the committed fixture,
lossy-roundtrip bounds across shapes/modes, magic-byte dispatch, and a
JPEG-encoded word image flowing through the OCR engine end-to-end.
Counterpart of the reference file scan's JPEG support
(ocrs-cli/src/main.rs:319-323)."""

import os

import numpy as np
import pytest

from ocrs_spark.codec import UnsupportedImageError, decode_image
from ocrs_spark.jpeg import decode_jpeg

from .jpeg_encode import encode_jpeg, encode_jpeg_multiscan, encode_jpeg_progressive

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def test_committed_fixture_decodes_to_stored_pixels():
    with open(os.path.join(FIXTURES, "sample_baseline.jpg"), "rb") as f:
        data = f.read()
    expected = np.load(os.path.join(FIXTURES, "sample_baseline_decoded.npy"))
    got = decode_jpeg(data)
    assert got.shape == expected.shape
    assert np.array_equal(got, expected)
    # And the decode is faithful to the original source pixels within
    # lossy-JPEG bounds (4:2:0 chroma bleeds at hard edges).
    source = np.load(os.path.join(FIXTURES, "sample_baseline_source.npy"))
    err = np.abs(got.astype(int) - source.astype(int))
    assert err.mean() < 3.0 and err.max() <= 48


@pytest.mark.parametrize("subsample", [False, True])
def test_rgb_roundtrip_bounds(subsample):
    g = (np.add.outer(np.arange(64), np.arange(64)) * 2).astype(np.uint8)
    img = np.stack([g, g.T, 255 - g], axis=-1)
    dec = decode_jpeg(encode_jpeg(img, quality=90, subsample=subsample))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= (8 if subsample else 4)


def test_grey_and_odd_sizes():
    img = (np.add.outer(np.arange(33), np.arange(45)) * 3).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == (33, 45, 1)
    assert np.abs(dec[:, :, 0].astype(int) - img.astype(int)).max() <= 2
    flat = np.full((16, 24), 130, np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(flat))[:, :, 0], flat)


def test_decode_image_dispatches_on_jpeg_magic():
    img = np.full((8, 8), 200, np.uint8)
    out = decode_image(encode_jpeg(img))
    assert out.shape == (8, 8, 1) and int(out.mean()) in (199, 200, 201)


@pytest.mark.parametrize("shape", [(8, 16), (33, 45, 3), (64, 64, 3), (17, 23)])
def test_progressive_decodes_identically_to_baseline(shape):
    """Progressive (SOF2: DC first+refine, spectral-selection AC first
    scans, successive-approximation AC refinement with EOB runs) must
    reconstruct EXACTLY the same coefficients as the baseline encoding
    of the same image — pixel output is asserted bit-identical."""
    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=85))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=85))
    assert np.array_equal(base, prog)


@pytest.mark.parametrize("shape", [(33, 45, 3), (17, 23, 3), (48, 80, 3)])
def test_progressive_420_decodes_identically_to_baseline(shape):
    """4:2:0 progressive: the DC scan interleaves 2x2 luma + chroma
    blocks per MCU while AC scans run over each component's own
    non-interleaved block raster — decode must be bit-identical to the
    4:2:0 baseline encoding of the same image."""
    rng = np.random.default_rng(sum(shape) + 1)
    g = rng.integers(0, 256, shape[:2], dtype=np.uint8)
    img = np.stack([g, 255 - g, (g // 2 + 64).astype(np.uint8)], axis=-1)
    base = decode_jpeg(encode_jpeg(img, quality=85, subsample=True))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=85, subsample=True))
    assert np.array_equal(base, prog)


@pytest.mark.parametrize("subsample,ri", [(False, 3), (True, 4), (False, 1)])
def test_progressive_restart_intervals(subsample, ri):
    """Progressive scans with DRI restart markers (byte-aligned RSTn,
    DC predictor + EOB-run reset at every boundary) decode identically
    to the unrestarted baseline encoding."""
    rng = np.random.default_rng(77)
    g = rng.integers(0, 256, (48, 80), dtype=np.uint8)
    img = np.stack([g, 255 - g, (g // 2 + 64).astype(np.uint8)], axis=-1)
    base = decode_jpeg(encode_jpeg(img, quality=85, subsample=subsample))
    data = encode_jpeg_progressive(
        img, quality=85, subsample=subsample, restart_interval=ri
    )
    assert any(bytes([0xFF, 0xD0 + i]) in data for i in range(8))
    assert np.array_equal(base, decode_jpeg(data))


def test_progressive_flat_and_gradient_long_eob_runs():
    flat = np.full((80, 80, 3), 130, np.uint8)
    grad = np.stack([np.tile(np.arange(120, dtype=np.uint8), (90, 1))] * 3, -1)
    for img in (flat, grad):
        assert np.array_equal(
            decode_jpeg(encode_jpeg(img, quality=85)),
            decode_jpeg(encode_jpeg_progressive(img, quality=85)),
        )


def test_committed_progressive_fixture():
    """The committed progressive twin decodes to exactly the same pixels
    as the committed 4:4:4 baseline encoding of the same source."""
    with open(os.path.join(FIXTURES, "sample_progressive.jpg"), "rb") as f:
        data = f.read()
    expected = np.load(os.path.join(FIXTURES, "sample_progressive_decoded.npy"))
    got = decode_jpeg(data)
    assert np.array_equal(got, expected)
    source = np.load(os.path.join(FIXTURES, "sample_baseline_source.npy"))
    assert np.array_equal(got, decode_jpeg(encode_jpeg(source, quality=85)))
    assert b"\xff\xc2" in data  # really SOF2


def test_arithmetic_coding_rejected():
    img = np.full((8, 8), 99, np.uint8)
    data = bytearray(encode_jpeg(img))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC9  # SOF9: arithmetic sequential
    with pytest.raises(UnsupportedImageError, match="arithmetic"):
        decode_jpeg(bytes(data))


def test_jpeg_word_image_ocrs_through_engine():
    """A JPEG-encoded word image must flow through decode_image and the
    fake-model OCR engine like RAWI/PNG payloads do. The fake detection
    model maps pixel intensity to text probability (threshold 0.2), so
    JPEG ringing (|err| <= ~15 ≈ 0.06) must not create or move word
    boxes; the fake RECOGNITION model reads raw rows as class logits,
    so exact-text parity is asserted after binarization (ringing on a
    real recognition net is noise; on the row-reading fake it is signal
    by construction)."""
    from ocrs_spark.engine import OcrEngine, OcrEngineParams
    from ocrs_spark.fixtures import make_word_image
    from ocrs_spark.models import (
        FakeDetectionModel,
        FakeRecognitionModel,
        fake_alphabet,
    )

    img = make_word_image(2)  # two word rects -> '77'
    decoded = decode_image(encode_jpeg(img, quality=95))
    eng = OcrEngine(
        OcrEngineParams(
            detection_model=FakeDetectionModel(),
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
        )
    )
    # Detection on the raw lossy pixels: exactly the two planted words.
    grey = eng.prepare_input(decoded)
    mask = eng.detector.detect_text_pixels_batch([grey])[0]
    words = eng.detector.words_from_mask(mask)
    assert len(words) == 2
    # Full pipeline on the binarized decode: exact golden text.
    binar = np.where(decoded > 127, 255, 0).astype(np.uint8)
    assert eng.get_text(eng.prepare_input(binar)) == "77"


def test_multi_scan_sequential_baseline():
    """A spec-valid NON-interleaved sequential file (one SOS per
    component) decodes identically to the interleaved encoding — the
    unified coefficient-accumulation decoder handles both."""
    g = (np.add.outer(np.arange(32), np.arange(32)) * 4).astype(np.uint8)
    img = np.stack([g, g.T, 255 - g], axis=-1)
    multi = encode_jpeg_multiscan(img, quality=85)
    assert multi.count(b"\xff\xda") == 3  # three single-component scans
    assert np.array_equal(
        decode_jpeg(multi), decode_jpeg(encode_jpeg(img, quality=85))
    )

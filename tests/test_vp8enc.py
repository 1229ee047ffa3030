"""VP8 encoder tests.

The strongest checks live in two places: (a) the committed
``enc_*`` fixtures in tests/fixtures/vp8 were decoded by the SYSTEM
libwebp from bitstreams OUR encoder produced, and test_vp8.py's plane
parity asserts our decoder agrees with that reference decode — i.e.
the encoder's output means the same thing to both decoders; (b) the
round-trips here bound the actual reconstruction error."""

import numpy as np
import pytest

from ocrs_spark.codec import decode_image
from ocrs_spark.vp8 import decode_vp8

from .vp8enc import _rgb_to_yuv420, encode_vp8, encode_webp_lossy

rng = np.random.default_rng(17)


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0 * 255.0 / mse)


@pytest.mark.parametrize("shape", [(24, 40), (16, 16), (17, 33), (50, 7)])
@pytest.mark.parametrize("qindex", [4, 12, 40])
def test_roundtrip_error_bounds(shape, qindex):
    img = rng.integers(0, 256, (*shape, 3), np.uint8).astype(np.uint8)
    y, u, v = decode_vp8(encode_vp8(img, qindex=qindex))
    ys, us, vs = _rgb_to_yuv420(img)
    assert y.shape == ys.shape and u.shape == us.shape
    # Quantization error bound: half a quantizer step through the
    # inexact forward transform; loose factor for accumulation.
    from ocrs_spark.vp8 import AC_QLOOKUP

    bound = AC_QLOOKUP[qindex] * 1.5 + 4
    assert np.abs(y.astype(int) - ys.astype(int)).max() <= bound
    assert np.abs(u.astype(int) - us.astype(int)).max() <= bound
    assert _psnr(y, ys) > 30 - qindex / 4


def test_flat_image_is_tiny_and_exactish():
    img = np.full((64, 48, 3), (10, 200, 120), np.uint8)
    data = encode_webp_lossy(img, qindex=8)
    assert len(data) < 200  # DC-only frame: everything EOBs out
    rgb = decode_image(data)
    assert rgb.shape == img.shape
    assert np.abs(rgb.astype(int) - img.astype(int)).max() <= 6


def test_container_roundtrip_through_dispatcher():
    # Smooth content: the RGB-domain PSNR is then codec error, not the
    # 4:2:0 chroma subsampling loss that dominates on noise.
    yy, xx = np.mgrid[0:40, 0:60]
    img = np.stack(
        [(xx * 2) % 256, (yy * 3) % 256, ((xx + yy)) % 256], axis=-1
    ).astype(np.uint8)
    rgb = decode_image(encode_webp_lossy(img, qindex=8))
    assert rgb.shape == img.shape
    assert _psnr(rgb, img) > 28


def test_greyscale_and_rgba_inputs():
    grey = rng.integers(0, 256, (18, 22), np.uint8).astype(np.uint8)
    rgb = decode_image(encode_webp_lossy(grey, qindex=8))
    assert rgb.shape == (18, 22, 3)
    rgba = rng.integers(0, 256, (18, 22, 4), np.uint8).astype(np.uint8)
    rgb2 = decode_image(encode_webp_lossy(rgba, qindex=8))
    assert rgb2.shape == (18, 22, 3)


def test_word_image_ocrs_after_lossy_self_roundtrip():
    """Our own encoder at high quality preserves a word image well
    enough that the binarized decode OCRs identically — the lossy twin
    of the VP8L round-trip-through-engine test."""
    from ocrs_spark import OcrEngine, OcrEngineParams
    from ocrs_spark.fixtures import make_word_image
    from ocrs_spark.models import (
        FakeDetectionModel,
        FakeRecognitionModel,
        fake_alphabet,
    )

    img = make_word_image(2)
    dec = decode_image(encode_webp_lossy(img, qindex=4))
    clean = np.where(dec > 127, 255, 0).astype(np.uint8)
    assert np.array_equal(clean, img)
    eng = OcrEngine(
        OcrEngineParams(
            detection_model=FakeDetectionModel(),
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
        )
    )
    assert eng.get_text(eng.prepare_input(clean)) == "77"


def test_qindex_monotonic_size():
    img = rng.integers(0, 256, (32, 32, 3), np.uint8).astype(np.uint8)
    sizes = [len(encode_vp8(img, qindex=q)) for q in (4, 40, 100)]
    assert sizes[0] > sizes[1] > sizes[2]

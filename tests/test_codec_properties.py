"""Property-based codec tests (hypothesis): lossless codecs must
round-trip EXACTLY for arbitrary images, and the progressive JPEG
encoding must always decode identically to the baseline encoding of
the same image (they share quantized coefficients by construction)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from ocrs_spark.jpeg import decode_jpeg
from ocrs_spark.webp import decode_webp, encode_webp

from .jpeg_encode import encode_jpeg, encode_jpeg_progressive


@st.composite
def images(draw, max_side=40, channels=st.sampled_from([1, 3, 4])):
    h = draw(st.integers(1, max_side))
    w = draw(st.integers(1, max_side))
    c = draw(channels)
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    kind = draw(st.sampled_from(["random", "flat", "few_colors"]))
    if kind == "random":
        img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    elif kind == "flat":
        img = np.full((h, w, c), int(rng.integers(0, 256)), np.uint8)
    else:
        palette = rng.integers(0, 256, (draw(st.integers(2, 12)), c), dtype=np.uint8)
        img = palette[rng.integers(0, len(palette), (h, w))]
    return img


@settings(max_examples=40, deadline=None)
@given(images())
def test_webp_roundtrip_exact(img):
    out = decode_webp(encode_webp(img))
    src = img if img.shape[2] != 1 else np.repeat(img, 3, axis=2)
    if src.shape[2] == 4 and out.shape[2] == 3:
        assert np.all(src[:, :, 3] == 255)
        src = src[:, :, :3]
    assert np.array_equal(out, src)


@settings(max_examples=25, deadline=None)
@given(images(channels=st.sampled_from([1, 3])), st.integers(30, 95))
def test_progressive_jpeg_equals_baseline(img, quality):
    if img.shape[2] == 1:
        img = img[:, :, 0]
    base = decode_jpeg(encode_jpeg(img, quality=quality))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=quality))
    assert np.array_equal(base, prog)


@settings(max_examples=25, deadline=None)
@given(images(channels=st.sampled_from([3])), st.integers(0, 127))
def test_vp8_lossy_roundtrip_bounded(img, qindex):
    """Lossy VP8: our decoder accepts every bitstream our encoder emits
    for arbitrary content/dimensions/quantizers, reconstruction shape
    matches, and the YUV-domain error stays within the quantizer-step
    bound (the conformance guarantee a lossy codec CAN make)."""
    from ocrs_spark.vp8 import AC_QLOOKUP, decode_vp8
    from .vp8enc import _rgb_to_yuv420, encode_vp8

    y, u, v = decode_vp8(encode_vp8(img, qindex=qindex))
    ys, us, vs = _rgb_to_yuv420(img)
    assert y.shape == ys.shape and u.shape == us.shape and v.shape == vs.shape
    bound = AC_QLOOKUP[qindex] * 1.5 + 4
    assert np.abs(y.astype(int) - ys.astype(int)).max() <= bound
    assert np.abs(u.astype(int) - us.astype(int)).max() <= bound
    assert np.abs(v.astype(int) - vs.astype(int)).max() <= bound

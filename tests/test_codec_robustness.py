"""Corrupt-input robustness for every decoder behind `codec.decode_image`.

The Spark extraction pipeline's quarantine path (`pipeline.py` /
`extraction_quarantine`) relies on decoders raising a clean Python
exception on malformed bytes — never hanging, never looping forever,
never dying with a non-Exception signal — so the executor can record
the failure row and move on.  The reference gets this from the `image`
crate's `Result`-typed decoders (ocrs-cli/src/main.rs reads via
`image::open`, errors bubble as `anyhow::Error`); our from-spec numpy
decoders must honor the same contract.

Strategy: take one small valid byte-stream per format, then decode
- every truncation prefix (stepped),
- seeded random single-byte corruptions,
- random garbage with a valid magic prefix,
and require decode_image() to either return an ndarray (corruption can
land in pixel data and still parse — wrong pixels are fine) or raise a
normal Exception, within a wall-clock budget enforced by SIGALRM.
"""

import os
import signal
import zlib

import numpy as np
import pytest

from ocrs_spark.codec import (
    UnsupportedImageError,
    decode_image,
    encode_png,
    encode_rawi,
    encode_rlei,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _img(h=24, w=36):
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def _samples():
    from .jpeg_encode import encode_jpeg, encode_jpeg_progressive
    from ocrs_spark.webp import encode_webp

    img = _img()
    out = {
        "rawi": encode_rawi(img),
        "rlei": encode_rlei(img),
        "png": encode_png(img),
        "jpeg_baseline": encode_jpeg(img, quality=80),
        "jpeg_progressive": encode_jpeg_progressive(img, quality=80),
        "webp_vp8l": encode_webp(img),
        "webp_vp8": open(os.path.join(FIX, "vp8", "glyphs_q75.webp"), "rb").read(),
        "webp_vp8x": open(os.path.join(FIX, "vp8x", "word2_alpha.webp"), "rb").read(),
    }
    return out


class _Budget:
    """Hard wall-clock cap on a decode attempt via SIGALRM."""

    def __init__(self, seconds):
        self.seconds = seconds

    def __enter__(self):
        signal.signal(signal.SIGALRM, self._fire)
        signal.alarm(self.seconds)
        return self

    def __exit__(self, *exc):
        signal.alarm(0)
        return False

    @staticmethod
    def _fire(signum, frame):
        raise AssertionError("decoder exceeded wall-clock budget on corrupt input")


def _must_not_hang(data: bytes, budget_s: int = 20):
    with _Budget(budget_s):
        try:
            out = decode_image(data)
        except AssertionError:
            raise
        except MemoryError:
            # A corrupted header can declare absurd dimensions; refusing
            # with MemoryError before allocation limits is acceptable
            # only if it surfaces as an Exception, which it does.
            return
        except Exception:
            return
    assert isinstance(out, np.ndarray)


@pytest.mark.parametrize("fmt", sorted(_samples()))
def test_truncations_never_hang(fmt):
    data = _samples()[fmt]
    # Every prefix for short streams; stepped for longer ones.
    step = max(1, len(data) // 97)
    for cut in range(0, len(data), step):
        _must_not_hang(data[:cut])
    _must_not_hang(data[: len(data) - 1])


@pytest.mark.parametrize("fmt", sorted(_samples()))
def test_single_byte_corruptions_never_hang(fmt):
    data = bytearray(_samples()[fmt])
    rng = np.random.default_rng(13)
    n = min(len(data), 60)
    for pos in rng.choice(len(data), size=n, replace=False):
        orig = data[pos]
        data[pos] = int(rng.integers(0, 256))
        _must_not_hang(bytes(data))
        data[pos] = orig


@pytest.mark.parametrize(
    "magic",
    [
        b"RAWI",
        b"RLEI",
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8",
        b"RIFF\xff\xff\x00\x00WEBPVP8 ",
        b"RIFF\xff\xff\x00\x00WEBPVP8L",
        b"RIFF\xff\xff\x00\x00WEBPVP8X",
    ],
)
def test_magic_plus_garbage_never_hangs(magic):
    rng = np.random.default_rng(29)
    for size in (0, 1, 7, 64, 1024):
        body = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        _must_not_hang(magic + body)


def test_empty_and_unknown_bytes_raise_unsupported():
    with pytest.raises(Exception):
        decode_image(b"")
    with pytest.raises(UnsupportedImageError):
        decode_image(b"GIF89a\x00\x00\x00\x00")


def test_png_declared_size_vs_data_mismatch_raises():
    # IHDR claims a huge image but IDAT holds 3 rows: the unfilter pass
    # must notice the short buffer instead of reading out of bounds.
    img = _img(3, 4)
    data = bytearray(encode_png(img))
    ihdr_at = data.index(b"IHDR") + 4
    data[ihdr_at : ihdr_at + 4] = (1 << 20).to_bytes(4, "big")
    # Fix the CRC so the corruption exercises the size check, not the CRC check.
    crc_at = ihdr_at + 13
    data[crc_at : crc_at + 4] = zlib.crc32(bytes(data[ihdr_at - 4 : crc_at])).to_bytes(
        4, "big"
    )
    with _Budget(20):
        with pytest.raises(Exception):
            decode_image(bytes(data))

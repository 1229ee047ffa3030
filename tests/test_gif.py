"""Contracts for the from-spec GIF codec (ocrs_spark/gif.py): round
trips through the uncompressed-literal encoder, and — the real LZW
proof — decoding streams produced by an INDEPENDENT dictionary-based
LZW compressor written here, which exercises multi-character codes,
code-width growth to 12 bits, and the KwKwK self-reference the
literal-only encoder never emits. Plus dispatcher integration and
error paths.
"""

import struct

import numpy as np
import pytest

from ocrs_spark.codec import decode_image
from ocrs_spark.gif import GifError, decode_gif, encode_gif


def _lzw_compress(min_code_size: int, pixels: bytes) -> bytes:
    """Reference dictionary LZW (the spec's actual algorithm), packed
    into GIF sub-blocks — independent of the module under test."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out_codes = []
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    out_codes.append((clear, width))
    cur = b""
    for p in pixels:
        nxt = cur + bytes([p])
        if nxt in table:
            cur = nxt
            continue
        out_codes.append((table[cur], width))
        table[nxt] = next_code
        next_code += 1
        # giflib convention: width for the NEXT code grows when the
        # pre-insert next_code (== post-insert next_code - 1) has
        # reached 2^width, i.e. one entry AFTER the 2^width slot fills.
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            out_codes.append((clear, width))
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        cur = bytes([p])
    if cur:
        out_codes.append((table[cur], width))
    out_codes.append((eoi, width))
    acc = nbits = 0
    bits = bytearray()
    for code, w in out_codes:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        bits.append(acc & 0xFF)
    blocks = bytearray()
    for i in range(0, len(bits), 255):
        b = bits[i : i + 255]
        blocks.append(len(b))
        blocks.extend(b)
    blocks.append(0)
    return bytes(blocks)


# Structural offset of the image descriptor in our encoder's output:
# 13 (header+LSD) + 768 (GCT) + 8 (GCE) — never search for b"," because
# 0x2C is a perfectly valid greyscale palette byte.
_DESC_AT = 13 + 768 + 8


def _gif_with_stream(img: np.ndarray, stream: bytes) -> bytes:
    """Wrap an arbitrary LZW stream in the same container our encoder
    builds (reuse header/GCT/GCE/descriptor, swap the pixel stream)."""
    base = encode_gif(img)
    assert base[_DESC_AT] == 0x2C
    head = base[: _DESC_AT + 10 + 1]  # descriptor (10) + min-code byte
    return head + stream + b";"


def test_independent_compressor_streams_decode():
    rng = np.random.default_rng(7)
    cases = [
        np.zeros((16, 16), np.uint8),  # maximal KwKwK runs
        np.tile(np.arange(256, dtype=np.uint8), (4, 1)),
        rng.integers(0, 4, (64, 64), np.uint8) * 80,  # repetitive
        rng.integers(0, 256, (48, 97), np.uint8),  # width growth deep
    ]
    for img in cases:
        stream = _lzw_compress(8, img.tobytes())
        out, _ = decode_gif(_gif_with_stream(img, stream))
        assert np.array_equal(out, img)


def test_kwkwk_minimal():
    # 'aaa' compresses to codes [a, <a+a>] where the second code is
    # exactly next_code at decode time — the self-referential case.
    img = np.zeros((1, 3), np.uint8)
    stream = _lzw_compress(8, img.tobytes())
    out, _ = decode_gif(_gif_with_stream(img, stream))
    assert np.array_equal(out, img)


def test_roundtrip_and_delay():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (23, 41), np.uint8)
    out, delay = decode_gif(encode_gif(img, delay_cs=250))
    assert np.array_equal(out, img) and delay == 250


def test_dispatcher_and_errors():
    img = np.full((5, 9), 200, np.uint8)
    arr = decode_image(encode_gif(img))
    assert arr.shape == (5, 9, 1) and (arr == 200).all()
    with pytest.raises(GifError):
        decode_gif(b"GIF89a" + b"\x00" * 4)  # truncated header
    buf = bytearray(encode_gif(img))
    assert buf[_DESC_AT] == 0x2C
    buf[_DESC_AT + 9] |= 0x40  # set interlace flag
    with pytest.raises(GifError, match="interlaced"):
        decode_gif(bytes(buf))


def test_animated_roundtrip_and_gce_scoping():
    from ocrs_spark.gif import decode_gif_frames, encode_gif_animated

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, (6, 10), np.uint8) for _ in range(4)]
    delays = [7, 0, 33, 100]
    out = decode_gif_frames(encode_gif_animated(frames, delays))
    assert len(out) == 4
    for (d, f), (ed, ef) in zip(out, zip(delays, frames)):
        assert d == ed and np.array_equal(f, ef)
    # a GCE scopes only the next descriptor: delay 0 frame stays 0
    assert out[1][0] == 0


def test_frozen_width_growth_fixture():
    """A committed GIF whose LZW dictionary crosses the 512 and 1024
    code-width boundaries, frozen as bytes so the decoder and the
    in-test reference compressor cannot drift together: the stream
    follows the giflib/Mozilla width convention (grow when next_code
    reaches 2^width), which the early-change (TIFF) rule desyncs on."""
    import os

    here = os.path.dirname(__file__)
    data = open(os.path.join(here, "fixtures", "width_growth.gif"), "rb").read()
    expected = np.load(os.path.join(here, "fixtures", "width_growth_pixels.npy"))
    out, _ = decode_gif(data)
    assert np.array_equal(out, expected)


def test_color_palette_expands_rgb():
    """A non-greyscale palette decodes to HxWx3 RGB (matching the PNG
    palette path) instead of silently returning the red channel."""
    img = np.arange(20, dtype=np.uint8).reshape(4, 5)
    buf = bytearray(encode_gif(img))
    # Patch the 256-entry GCT (offset 13) to a color palette.
    for i in range(256):
        buf[13 + 3 * i : 13 + 3 * i + 3] = bytes([i, 255 - i, (i * 3) & 0xFF])
    out, _ = decode_gif(bytes(buf))
    assert out.shape == (4, 5, 3)
    flat = img.ravel()
    assert np.array_equal(out.reshape(-1, 3)[:, 0], flat)
    assert np.array_equal(out.reshape(-1, 3)[:, 1], 255 - flat)
    assert np.array_equal(out.reshape(-1, 3)[:, 2], (flat * 3) & 0xFF)


def test_dispatcher_returns_hwc_for_grey_and_colour_palettes():
    """decode_image hands both palette kinds on as HWC uint8, which the
    OCR engine's input preparation accepts."""
    from ocrs_spark import FakeDetectionModel, FakeRecognitionModel, OcrEngine, OcrEngineParams
    from ocrs_spark.models import fake_alphabet

    engine = OcrEngine(
        OcrEngineParams(
            detection_model=FakeDetectionModel(),
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
        )
    )
    img = np.arange(20, dtype=np.uint8).reshape(4, 5)
    grey = encode_gif(img)
    colour = bytearray(grey)
    for i in range(256):  # the 256-entry GCT at offset 13, made colour
        colour[13 + 3 * i : 13 + 3 * i + 3] = bytes([i, 255 - i, (i * 3) & 0xFF])
    for data, channels in ((grey, 1), (bytes(colour), 3)):
        arr = decode_image(data)
        assert arr.shape == (4, 5, channels) and arr.dtype == np.uint8
        assert np.array_equal(arr[:, :, 0], img)
        assert engine.prepare_input(arr).shape == (4, 5)


def test_truncated_gif_raises_giferror():
    """Truncation anywhere in the block walk must surface as GifError
    (the quarantine contract), never IndexError/struct.error."""
    img = np.full((8, 8), 70, np.uint8)
    full = encode_gif(img)
    for cut in (_DESC_AT + 5, _DESC_AT + 12, len(full) - 6, 14):
        with pytest.raises(GifError):
            decode_gif(full[:cut])

#!/usr/bin/env python
"""Commit a cross-validation fixture for the VP8 ENCODER: a bitstream
produced by tests/vp8enc.py plus the YUV planes the system libwebp
decodes from it. The committed test then proves our encoder's output
is decoded identically by the reference decoder — without needing
libwebp at test time. Run:  python scripts/make_vp8enc_fixture.py
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from make_vp8_fixtures import _load_libwebp, decode_yuv, synth_images  # noqa: E402
from tests.vp8enc import encode_webp_lossy  # noqa: E402

OUT_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "fixtures", "vp8")


def main() -> None:
    lib = _load_libwebp()
    imgs = synth_images()
    rng = np.random.default_rng(5)
    skippy = np.full((96, 128, 3), (128, 128, 128), np.uint8)
    skippy[40:56, 40:72] = rng.integers(0, 256, (16, 32, 3))
    cases = {
        "enc_photo_q20": (imgs["photo"], 20),
        "enc_glyphs_q8": (imgs["glyphs"], 8),
        # Mostly-flat frame: most MBs take the mb_skip_coeff path.
        "enc_skippy_q60": (skippy, 60),
    }
    for name, (img, qi) in cases.items():
        data = encode_webp_lossy(img, qindex=qi)
        yp, up, vp = decode_yuv(lib, data)
        with open(os.path.join(OUT_DIR, name + ".webp"), "wb") as f:
            f.write(data)
        np.savez_compressed(
            os.path.join(OUT_DIR, name + ".expected.npz"), y=yp, u=up, v=vp
        )
        print(f"{name}: {img.shape[1]}x{img.shape[0]} q{qi} -> {len(data)} bytes")


if __name__ == "__main__":
    main()

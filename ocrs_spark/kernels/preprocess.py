"""Image preprocessing: validation + greyscale conversion + bias.

Behavioral parity with ``ocrs/src/preprocess.rs``:
- channels must be 1 (grey), 3 (RGB) or 4 (RGBA; alpha ignored)
  (preprocess.rs:112-122);
- greyscale = ITU BT.601 weights [0.299, 0.587, 0.114]
  (preprocess.rs:171);
- u8 inputs are scaled by 1/255 with the scale folded into the weights
  (preprocess.rs:182-187);
- output adds BLACK_VALUE = -0.5, giving a (H, W) float32 image in
  [-0.5, 0.5] (preprocess.rs:128).
"""

from __future__ import annotations

import numpy as np

BLACK_VALUE = np.float32(-0.5)
ITU_WEIGHTS = (0.299, 0.587, 0.114)


class ImageSourceError(ValueError):
    pass


def validate_channels(channels: int) -> None:
    if channels not in (1, 3, 4):
        raise ImageSourceError("channel count is not 1, 3 or 4")


def prepare_image(img: np.ndarray, chw: bool = False) -> np.ndarray:
    """Convert an image array to the normalized (H, W) float32 greyscale
    form expected by the detection/recognition kernels.

    ``img`` is (H, W, C) by default or (C, H, W) when ``chw``; dtype uint8
    (values 0-255) or float (values 0-1). Output values are in
    [BLACK_VALUE, BLACK_VALUE + 1].
    """
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    if chw:
        img = np.moveaxis(img, 0, 2)
    channels = img.shape[2]
    validate_channels(channels)

    if img.dtype == np.uint8:
        scale = np.float32(1.0 / 255.0)
        pix = img.astype(np.float32)
    else:
        scale = np.float32(1.0)
        pix = img.astype(np.float32)

    if channels == 1:
        grey = pix[:, :, 0] * scale
    else:
        # Per-channel weight applied in float32 to match the reference's
        # fused single-precision loop (preprocess.rs:219-245).
        w = np.array(ITU_WEIGHTS, dtype=np.float32) * scale
        grey = pix[:, :, 0] * w[0] + pix[:, :, 1] * w[1] + pix[:, :, 2] * w[2]

    return (grey + BLACK_VALUE).astype(np.float32)

"""Text detection: model-input shaping + connected-component word boxes.

Behavioral counterpart of ``ocrs/src/detection.rs``:
- pad bottom/right with BLACK_VALUE up to model input size
  (detection.rs:155-164);
- bilinear resize to the model's fixed H x W (detection.rs:167-171);
- run model -> per-pixel text probability map;
- slice off padding, resize mask back to the original size
  (detection.rs:186-198);
- threshold at ``text_threshold`` (default 0.2, detection.rs:26-36);
- connected components -> simplify(eps=2) -> min-area rect ->
  expand each side by ``expand_dist`` (3.0) -> drop area < ``min_area``
  (100) (detection.rs:41-62,109-121).

The last step runs as array passes over all components of the mask at
once (``kernels.contours``): one labeling pass, a lockstep Moore walk of
every outer contour that finishes its last few walks in a scalar loop,
level-by-level Douglas-Peucker over every contour, and quickhull plus
rotating calipers over every simplified contour. RotatedRect objects are
built only for the rects that pass the area filter.
"""

from __future__ import annotations

import numpy as np

from ..geometry import RotatedRect
from ..models import Model
from .contours import min_area_rects, simplify_polylines, trace_contours
from .preprocess import BLACK_VALUE
from .resize import resize_bilinear

DEFAULT_MIN_AREA = 100.0
DEFAULT_TEXT_THRESHOLD = 0.2
EXPAND_DIST = 3.0


def find_connected_component_rects(
    mask: np.ndarray, expand_dist: float, min_area: float
) -> list[RotatedRect]:
    x, y, offsets = trace_contours(mask)
    keep = simplify_polylines(x, y, offsets, 2.0)
    kept_offsets = np.concatenate(([0], np.cumsum(keep)))[offsets]
    cx, cy, ux, uy, w, h = min_area_rects(x[keep], y[keep], kept_offsets)
    w = w + 2 * expand_dist
    h = h + 2 * expand_dist
    ok = w * h >= min_area
    return [RotatedRect(*r) for r in zip(*(a[ok].tolist() for a in (cx, cy, ux, uy, w, h)))]


class TextDetector:
    def __init__(
        self,
        model: Model,
        min_area: float = DEFAULT_MIN_AREA,
        text_threshold: float = DEFAULT_TEXT_THRESHOLD,
    ):
        self.model = model
        self.min_area = min_area
        self.text_threshold = text_threshold
        shape = model.input_shape()
        if len(shape) != 4 or shape[2] is None or shape[3] is None:
            raise ValueError("detection model must have fixed H x W input")
        self.in_h, self.in_w = int(shape[2]), int(shape[3])

    def prepare_model_input(self, image: np.ndarray):
        """Pad + resize one (H, W) greyscale image to the model input
        size. Returns (model_input_hw, pad_bottom, pad_right)."""
        img_h, img_w = image.shape
        pad_bottom = max(self.in_h - img_h, 0)
        pad_right = max(self.in_w - img_w, 0)
        if pad_bottom or pad_right:
            image = np.pad(
                image,
                ((0, pad_bottom), (0, pad_right)),
                constant_values=BLACK_VALUE,
            )
        if image.shape != (self.in_h, self.in_w):
            image = resize_bilinear(image, self.in_h, self.in_w)
        return image, pad_bottom, pad_right

    def postprocess_mask(
        self, mask: np.ndarray, pad_bottom: int, pad_right: int, img_h: int, img_w: int
    ) -> np.ndarray:
        """Slice off padding and resize the probability map back to the
        original image size (detection.rs:186-198)."""
        mask = mask[: self.in_h - pad_bottom, : self.in_w - pad_right]
        return resize_bilinear(mask, img_h, img_w)

    def detect_text_pixels(self, image: np.ndarray) -> np.ndarray:
        """(H, W) greyscale in [-0.5, 0.5] -> (H, W) text probability."""
        img_h, img_w = image.shape
        model_in, pad_bottom, pad_right = self.prepare_model_input(image)
        out = self.model.run(model_in[None, None, :, :].astype(np.float32))
        mask = np.asarray(out, dtype=np.float32).reshape(self.in_h, self.in_w)
        return self.postprocess_mask(mask, pad_bottom, pad_right, img_h, img_w)

    def detect_text_pixels_batch(self, images: list[np.ndarray]) -> list[np.ndarray]:
        """Batched variant: all inputs share the model's fixed H x W, so K
        images stack into one NCHW run (the Spark UDF hot path; the
        fixed-size input makes detection trivially batchable, SURVEY §4)."""
        if not images:
            return []
        prepped = [self.prepare_model_input(img) for img in images]
        # Preallocate + assign instead of np.stack: one contiguous buffer,
        # no temporary views (np.stack's concatenate path is slow for
        # many mid-size arrays and churns fresh allocations).
        batch = np.empty((len(images), 1, self.in_h, self.in_w), dtype=np.float32)
        for i, (model_in, _, _) in enumerate(prepped):
            batch[i, 0] = model_in
        out = np.asarray(self.model.run(batch), dtype=np.float32).reshape(
            len(images), self.in_h, self.in_w
        )
        return [
            self.postprocess_mask(out[i], pb, pr, img.shape[0], img.shape[1])
            for i, ((_, pb, pr), img) in enumerate(zip(prepped, images))
        ]

    def detect_words(self, image: np.ndarray) -> list[RotatedRect]:
        prob = self.detect_text_pixels(image)
        return self.words_from_mask(prob)

    def words_from_mask(self, prob: np.ndarray) -> list[RotatedRect]:
        binary = prob > self.text_threshold
        return find_connected_component_rects(binary, EXPAND_DIST, self.min_area)

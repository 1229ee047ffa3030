"""Shared test fixtures mirroring the reference's test_util.rs generators,
the geometry constructors the tests build inputs with, and scalar
wrappers over the array-pass contour kernels."""

from __future__ import annotations

import numpy as np

from ocrs_spark.geometry import Line, Rect, RotatedRect
from ocrs_spark.kernels.contours import (
    _component_runs,
    _scratch,
    simplify_polylines,
    trace_contours,
)


def rect_from_tlhw(top: float, left: float, h: float, w: float) -> Rect:
    return Rect(top, left, top + h, left + w)


def rotated_from_rect(r: Rect) -> RotatedRect:
    cx, cy = (r.left + r.right) / 2.0, (r.top + r.bottom) / 2.0
    return RotatedRect(cx, cy, 0.0, -1.0, r.width, r.height)


def up_axis(r: RotatedRect) -> tuple[float, float]:
    return (r.ux, r.uy)


def resized(r: RotatedRect, w: float, h: float) -> RotatedRect:
    return RotatedRect(r.cx, r.cy, r.ux, r.uy, w, h)


def vertical_overlap(a: Line, b: Line) -> float:
    a0, a1 = min(a.y0, a.y1), max(a.y0, a.y1)
    b0, b1 = min(b.y0, b.y1), max(b.y0, b.y1)
    return min(a1, b1) - max(a0, b0)


def gen_rect_grid(top_left, grid_shape, rect_size, gap_size):
    """Uniform grid of rects (counterpart of ocrs/src/test_util.rs:7-28)."""
    (ty, tx), (rows, cols), (rh, rw), (gh, gw) = top_left, grid_shape, rect_size, gap_size
    return [
        Rect(ty + r * (rh + gh), tx + c * (rw + gw), ty + r * (rh + gh) + rh, tx + c * (rw + gw) + rw)
        for r in range(rows)
        for c in range(cols)
    ]


def union_rects(rects):
    u = rects[0]
    for r in rects[1:]:
        u = u.union(r)
    return u


def gen_test_image(n_words: int, shape=(3, 100, 200)) -> np.ndarray:
    """CHW float image, black with one line of white word rects at
    Rect::from_tlhw(30, i*70, 20, 50) (counterpart of ocrs/src/lib.rs:319-333)."""
    img = np.zeros(shape, dtype=np.float32)
    for i in range(n_words):
        img[:, 30:50, i * 70 : i * 70 + 50] = 1.0
    return img


def label_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """8-connected component labeling of a boolean mask.

    Returns (labels, n) where labels is int32 (0 = background,
    components numbered 1..n in raster order of their first pixel).
    """
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape
    grid, edge, _, _ = _scratch(h, w)
    y, xs, xe, comp, first = _component_runs(mask, grid, edge)
    length = xe - xs
    pixels = np.arange(length.sum()) + np.repeat(y * w + xs - np.cumsum(length) + length, length)
    labels = np.zeros(h * w, dtype=np.int32)
    labels[pixels] = np.repeat(comp + 1, length)
    return labels.reshape(h, w), len(first)


def find_contours_external(mask: np.ndarray) -> list[np.ndarray]:
    """Outer contour of each 8-connected component, as ordered (N, 2)
    int32 arrays of (x, y) border pixels (see trace_contours)."""
    x, y, offsets = trace_contours(mask)
    if len(offsets) == 1:
        return []
    return np.split(np.stack([x, y], axis=1).astype(np.int32), offsets[1:-1])


def simplify_polyline(points, eps: float) -> np.ndarray:
    """Douglas-Peucker of one polyline (see simplify_polylines). Accepts
    a point list or an (N, 2) array; returns an (M, 2) float64 array."""
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) <= 2:
        return pts
    return pts[simplify_polylines(pts[:, 0], pts[:, 1], np.array([0, len(pts)]), eps)]

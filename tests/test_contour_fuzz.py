"""Seeded fuzz of the array-pass contour kernels against the frozen
scalar reference (tests/kernel_reference.py): contour order and points,
Douglas-Peucker polylines, hulls, min-area rects and the detection
rects must all match exactly."""

import numpy as np
import pytest

from ocrs_spark.kernels import contours as C
from ocrs_spark.kernels.detection import TextDetector, find_connected_component_rects
from ocrs_spark.models import FakeDetectionModel

from . import kernel_reference as R
from .util import find_contours_external, label_components, simplify_polyline


def _word_grid(h, w, rows, cols, row_pitch, col_pitch, word_w, step):
    page = np.zeros((h, w), dtype=np.float32)
    for r in range(rows):
        top = 12 + r * row_pitch
        for c in range(cols):
            left = 8 + c * col_pitch + (r % 4) * step
            page[top : top + 20, left : left + word_w] = 1.0
    page[h - 1, 5] = 1.0  # a lone pixel below the minimum area
    return page


def _detected(page):
    """The detection mask of a page, through the fake model's 400x800
    input (a 480x960 page is resized there and back)."""
    det = TextDetector(FakeDetectionModel(400, 800))
    return det.detect_text_pixels(page - 0.5) > det.text_threshold


def _masks():
    rng = np.random.default_rng(20240611)
    out = {}
    for i, density in enumerate(np.linspace(0.05, 0.7, 14)):
        h, w = (int(v) for v in rng.integers(12, 60, 2))
        out[f"random{i}"] = rng.random((h, w)) < density
    single = np.zeros((9, 11), bool)
    single[0, 0] = single[4, 5] = single[8, 10] = single[0, 10] = True
    out["single_pixels"] = single
    lines = np.zeros((24, 30), bool)
    lines[2, 1:29] = True  # horizontal
    lines[5:23, 3] = True  # vertical
    idx = np.arange(14)
    lines[6 + idx, 8 + idx] = True  # diagonal only
    lines[20 - idx, 12 + idx] = True  # anti-diagonal, crossing nothing
    out["lines"] = lines
    border = np.zeros((15, 17), bool)
    border[0, 2:6] = border[-1, 4:9] = border[3:7, 0] = border[8:12, -1] = True
    border[0, -1] = border[-1, 0] = True
    out["borders"] = border
    nested = np.zeros((31, 31), bool)
    for k, fill in enumerate((True, False, True, False, True, False, True)):
        nested[2 * k : 31 - 2 * k, 2 * k : 31 - 2 * k] = fill
    nested[15, 15] = True
    out["nested_rings"] = nested
    out["empty"] = np.zeros((7, 9), bool)
    out["no_rows"] = np.zeros((0, 5), bool)
    out["no_columns"] = np.zeros((4, 0), bool)
    out["all_true"] = np.ones((13, 21), bool)
    out["row"] = rng.random((1, 57)) < 0.5
    out["column"] = rng.random((49, 1)) < 0.5
    out["one_by_one"] = np.ones((1, 1), bool)
    out["grid_400x800"] = _detected(_word_grid(400, 800, 10, 12, 36, 64, 50, 2))
    out["grid_480x960"] = _detected(_word_grid(480, 960, 10, 12, 42, 76, 56, 6))
    framed = _word_grid(400, 800, 8, 10, 36, 64, 50, 2)
    framed[2, 2:-2] = framed[-3, 2:-2] = framed[2:-2, 2] = framed[2:-2, -3] = 1.0
    out["framed_page"] = framed > 0.5
    return out


MASKS = _masks()


@pytest.mark.parametrize("name", sorted(MASKS))
def test_contours_and_rects_match_reference(name):
    mask = MASKS[name]
    got = find_contours_external(mask)
    want = R.find_contours_external(mask)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and np.array_equal(g, w)

    labels, n = label_components(mask)
    runs_by_label, _, _ = R._component_runs(mask)
    assert n == len(runs_by_label)
    ref_labels = np.zeros(mask.shape, np.int32)
    for lbl, runs in enumerate(runs_by_label, start=1):
        for y, s, e in runs:
            ref_labels[y, s:e] = lbl
    assert np.array_equal(labels, ref_labels)

    x, y, offsets = C.trace_contours(mask)
    for eps in (0.5, 2.0, 5.0):
        keep = C.simplify_polylines(x, y, offsets, eps)
        for k, w in enumerate(want):
            a, b = offsets[k], offsets[k + 1]
            ref = R.simplify_polyline(w, eps)
            assert np.array_equal(np.stack([x[a:b], y[a:b]], 1)[keep[a:b]], ref)
            assert np.array_equal(simplify_polyline(w, eps), ref)

    for expand, min_area in ((3.0, 100.0), (0.0, 0.0)):
        assert find_connected_component_rects(mask, expand, min_area) == R.find_connected_component_rects(
            mask, expand, min_area
        )


def test_hull_and_min_area_rect_match_reference_on_point_sets():
    rng = np.random.default_rng(7)
    sets = []
    for _ in range(300):  # small integer grids: duplicates and collinear runs
        n = int(rng.integers(1, 14))
        sets.append(rng.integers(0, int(rng.integers(1, 6)), (n, 2)).astype(np.float64))
    for _ in range(100):  # floats in general position
        sets.append(rng.normal(0, 50, (int(rng.integers(1, 30)), 2)))
    for _ in range(100):  # unions of axis-aligned rect corners (output.py)
        pts = []
        for _ in range(int(rng.integers(1, 6))):
            x0, y0 = rng.uniform(0, 100, 2)
            ww, hh = rng.uniform(0, 20, 2)
            pts += [(x0, y0), (x0 + ww, y0), (x0 + ww, y0 + hh), (x0, y0 + hh)]
        sets.append(np.asarray(pts))
    for pts in sets:
        hx, hy, _ = C.convex_hulls(pts[:, 0], pts[:, 1], np.array([0, len(pts)]))
        assert np.array_equal(np.stack([hx, hy], axis=1), R.convex_hull(pts))
        assert C.min_area_rect(pts) == R.min_area_rect(pts)
    assert C.min_area_rect([]) is None and R.min_area_rect([]) is None


def _cycling_table():
    """Transitions that step right twice, then shuttle between the two
    pixels right of the start forever, never back to the start."""
    dx, nxt = np.zeros(2048, np.int64), np.zeros(2048, np.int64)
    dx[:256], nxt[:256] = 1, 256
    dx[256:512], nxt[256:512] = 1, 512
    dx[512:768], nxt[512:768] = -1, 256
    return dx, np.zeros(2048, np.int64), nxt


@pytest.mark.parametrize("walks", [1, 9])  # scalar tail, lockstep
def test_tracing_guard_raises_instead_of_looping(monkeypatch, walks):
    mask = np.zeros((3, 6 * walks), bool)
    for k in range(walks):
        mask[1, 6 * k + 1 : 6 * k + 5] = True
    dx, dy, nxt = _cycling_table()
    monkeypatch.setattr(C, "_STEP_DX", dx)
    monkeypatch.setattr(C, "_STEP_DY", dy)
    monkeypatch.setattr(C, "_STEP_NEXT", nxt)
    with pytest.raises(RuntimeError, match="did not terminate"):
        C.trace_contours(mask)

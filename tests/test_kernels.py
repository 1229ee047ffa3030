"""Unit tests for the pure-numpy kernels, mirroring the reference's unit
test layer (SURVEY.md §5 layer 1) with the same constants and synthetic
fixtures. Expected values are the reference's own test expectations."""

import math
import random

import numpy as np
import pytest

from ocrs_spark.geometry import Line, Rect, RotatedRect, leftmost_edge, rightmost_edge
from ocrs_spark.kernels.contours import fill_polygon_mask, min_area_rect
from ocrs_spark.kernels.ctc import decode_beam, decode_greedy
from ocrs_spark.kernels.detection import find_connected_component_rects
from ocrs_spark.kernels.layout import (
    find_block_separators,
    find_text_lines,
    group_into_lines,
    max_empty_rects,
)
from ocrs_spark.kernels.preprocess import (
    BLACK_VALUE,
    ImageSourceError,
    prepare_image,
)
from ocrs_spark.kernels.recognition import line_polygon, resized_line_width
from ocrs_spark.kernels.resize import resize_bilinear

from .util import (
    find_contours_external,
    gen_rect_grid,
    label_components,
    rect_from_tlhw,
    rotated_from_rect,
    simplify_polyline,
    union_rects,
    up_axis,
    vertical_overlap,
)


# ---------------------------------------------------------------- preprocess

def test_prepare_image_greyscale_u8():
    data = np.array([0, 128, 255, 64], dtype=np.uint8)
    for img, chw in [(data.reshape(2, 2, 1), False), (data.reshape(1, 2, 2), True)]:
        out = prepare_image(img, chw=chw)
        assert out.shape == (2, 2)
        np.testing.assert_allclose(
            out,
            BLACK_VALUE + np.array([[0, 128 / 255], [1, 64 / 255]], dtype=np.float32),
            atol=1e-5,
        )


def test_prepare_image_rgb_rgba():
    w = [0.299, 0.587, 0.114]

    def grey(r, g, b):
        return BLACK_VALUE + r * w[0] + g * w[1] + b * w[2]

    rgb = np.array([[[100, 150, 200]]], dtype=np.uint8)
    out = prepare_image(rgb)
    assert out.shape == (1, 1)
    assert abs(out[0, 0] - grey(100 / 255, 150 / 255, 200 / 255)) < 1e-5

    rgba = np.array([[[50, 100, 150, 255]]], dtype=np.uint8)
    out = prepare_image(rgba)  # alpha ignored
    assert abs(out[0, 0] - grey(50 / 255, 100 / 255, 150 / 255)) < 1e-5

    rgbf = np.array([[[0.4, 0.6, 0.8]]], dtype=np.float32)
    assert abs(prepare_image(rgbf)[0, 0] - grey(0.4, 0.6, 0.8)) < 1e-5


def test_prepare_image_bad_channels():
    with pytest.raises(ImageSourceError):
        prepare_image(np.zeros((5, 5, 2), dtype=np.uint8))


# ------------------------------------------------------------------ geometry

def test_rotated_rect_corners_reference_order():
    # Mirrors text_items.rs:150-156: up=(0,-1), rect tlhw(0,0,25,30).
    rr = rotated_from_rect(rect_from_tlhw(0, 0, 25, 30))
    assert up_axis(rr) == (0.0, -1.0)
    assert rr.corners() == [(30.0, 25.0), (0.0, 25.0), (0.0, 0.0), (30.0, 0.0)]
    br = rr.bounding_rect()
    assert (br.top, br.left, br.bottom, br.right) == (0, 0, 25, 30)


def test_edges():
    rr = rotated_from_rect(rect_from_tlhw(10, 20, 30, 40))
    le, re_ = leftmost_edge(rr), rightmost_edge(rr)
    assert {le.x0, le.x1} == {20.0}
    assert {re_.x0, re_.x1} == {60.0}
    assert le.downwards().y0 <= le.downwards().y1


def test_line_ops():
    a = Line(0, 0, 10, 0)
    b = Line(5, -5, 5, 5)
    assert a.intersects(b)
    assert not Line(0, 0, 1, 0).intersects(Line(5, 5, 6, 6))
    assert vertical_overlap(Line(0, 0, 0, 10), Line(0, 5, 0, 20)) == 5
    assert Line(0, 0, 10, 0).horizontal_overlap(Line(8, 0, 20, 0)) == 2


# ------------------------------------------------------------------- resize

def test_resize_identity_and_halfpixel():
    img = np.arange(12, dtype=np.float32).reshape(3, 4)
    np.testing.assert_array_equal(resize_bilinear(img, 3, 4), img)
    # Downscale by 2 along W: out col 0 = mean of cols 0,1 (half-pixel).
    out = resize_bilinear(img, 3, 2)
    np.testing.assert_allclose(out[:, 0], (img[:, 0] + img[:, 1]) / 2)
    # Upscale: edges clamp.
    up = resize_bilinear(np.array([[0.0, 1.0]], dtype=np.float32), 1, 4)
    np.testing.assert_allclose(up, [[0.0, 0.25, 0.75, 1.0]])


# ------------------------------------------------------- components/contours

def test_label_components_8conn():
    mask = np.zeros((5, 5), dtype=bool)
    mask[0, 0] = True
    mask[1, 1] = True  # diagonal -> same component under 8-conn
    mask[4, 4] = True
    labels, n = label_components(mask)
    assert n == 2
    assert labels[0, 0] == labels[1, 1] != labels[4, 4]


def test_find_contours_rect():
    mask = np.zeros((10, 10), dtype=bool)
    mask[2:5, 3:8] = True
    (contour,) = find_contours_external(mask)
    xs, ys = contour[:, 0], contour[:, 1]
    assert xs.min() == 3 and xs.max() == 7 and ys.min() == 2 and ys.max() == 4
    # Border length of a 3x5 rect = 2*(3+5) - 4 = 12 pixels.
    assert len(np.unique(contour, axis=0)) == 12


def test_simplify_polyline():
    pts = [(0.0, 0.0), (5.0, 0.1), (10.0, 0.0)]
    assert np.array_equal(simplify_polyline(pts, 2.0), [(0.0, 0.0), (10.0, 0.0)])
    assert len(simplify_polyline(pts, 0.01)) == 3


def test_min_area_rect_axis_aligned():
    pts = [(0, 0), (10, 0), (10, 4), (0, 4), (5, 2)]
    rr = min_area_rect(pts)
    assert rr.width == pytest.approx(10)
    assert rr.height == pytest.approx(4)
    assert up_axis(rr) == (0.0, -1.0)
    br = rr.bounding_rect()
    assert (br.top, br.left, br.bottom, br.right) == (0, 0, 4, 10)


def test_min_area_rect_rotated():
    # 45-degree square of side sqrt(2)*10.
    pts = [(10, 0), (20, 10), (10, 20), (0, 10)]
    rr = min_area_rect(pts)
    assert rr.area() == pytest.approx(200, rel=1e-6)


def test_find_connected_component_rects_grid():
    # Mirrors detection.rs:212-246.
    mask = np.zeros((400, 400), dtype=bool)
    rects = gen_rect_grid((10, 10), (5, 5), (10, 50), (10, 5))
    for r in rects:
        er = r.adjust_tlbr(0, 0, 1, 1)
        mask[int(er.top) : int(er.bottom), int(er.left) : int(er.right)] = True
    comps = find_connected_component_rects(mask, 0.0, 100.0)
    assert len(comps) == 25
    for c in comps:
        assert sorted([round(c.height), round(c.width)]) == [10, 50]


def test_fill_polygon_mask_rect():
    poly = [(0, 0), (32, 0), (32, 64), (0, 64)]
    mask = fill_polygon_mask(poly, Rect(0, 0, 64, 32))
    assert mask.all()  # full coverage with half-open bottom/right


# -------------------------------------------------------------------- layout

def test_group_into_lines_orders_left_to_right():
    rects = [rotated_from_rect(rect_from_tlhw(0, x, 10, 8)) for x in (20, 0, 40)]
    (line,) = group_into_lines(rects, [])
    assert [r.bounding_rect().left for r in line] == [0, 20, 40]


def test_group_into_lines_separator_blocks():
    rects = [rotated_from_rect(rect_from_tlhw(0, x, 10, 8)) for x in (0, 20)]
    sep = Line(15, -5, 15, 15)
    lines = group_into_lines(rects, [sep])
    assert len(lines) == 2


def test_max_empty_rects_two_columns():
    # Mirrors empty_rects.rs:239-277.
    page = Rect(0, 0, 80, 90)
    left_col = gen_rect_grid((0, 0), (10, 5), (5, 5), (3, 2))
    lb = union_rects(left_col)
    right_col = gen_rect_grid((0, lb.right + 20), (10, 5), (5, 5), (3, 2))
    rb = union_rects(right_col)
    best = next(max_empty_rects(left_col + right_col, page, lambda r: float(r.area()), 0, 0))
    assert best == Rect(0, lb.right, 80, rb.left)


def test_max_empty_rects_none():
    # Mirrors empty_rects.rs:279-294.
    b = Rect(0, 0, 5, 5)
    assert list(max_empty_rects([b], b, lambda r: float(r.area()), 0, 0)) == []
    empty = Rect.from_hw(0, 0)
    assert list(max_empty_rects([], empty, lambda r: float(r.area()), 0, 0)) == []


def test_find_block_separators():
    # Mirrors layout_analysis.rs:243-291: 2 lines x 2 overlapping words.
    words = [
        rotated_from_rect(r)
        for r in gen_rect_grid((0, 0), (2, 2), (10, 20), (50, -5))
    ]
    assert len(find_block_separators(words)) == 2


def test_find_text_lines_two_columns_reading_order():
    # Mirrors layout_analysis.rs:293-350 (seeded shuffle -> reading order).
    left_col = gen_rect_grid((0, 0), (10, 5), (5, 5), (3, 2))
    lb = union_rects(left_col)
    right_col = gen_rect_grid((0, lb.right + 20), (10, 5), (5, 5), (3, 2))
    words = [rotated_from_rect(r) for r in left_col + right_col]
    random.Random(1234).shuffle(words)
    lines = find_text_lines(words)
    assert len(lines) == 20
    for line in lines:
        assert len(line) == 5
        br = line[0].bounding_rect()
        for w in line[1:]:
            br = br.union(w.bounding_rect())
        assert abs(br.height - 5) <= 1
        assert abs(br.width - (5 * 7 - 2)) <= 1


# ---------------------------------------------------------------- recognition

def test_resized_line_width_clamps():
    assert resized_line_width(100, 50, 64) == 128
    assert resized_line_width(1, 100, 64) == 10  # min clamp
    assert resized_line_width(100000, 10, 64) == 2400  # max clamp


def test_line_polygon_simple_and_contains_centers():
    # Mirrors recognition.rs:570-595 invariants.
    words = []
    for i in range(5):
        up = (0.0, -1.0) if i % 2 == 0 else (0.0, 1.0)
        words.append(RotatedRect(i * 20.0, 10.0, up[0], up[1], 10.0, 5.0))
    poly = line_polygon(words)
    assert len(poly) == 20
    br = Rect(
        min(p[1] for p in poly),
        min(p[0] for p in poly),
        max(p[1] for p in poly) + 1,
        max(p[0] for p in poly) + 1,
    )
    mask = fill_polygon_mask(poly, br)
    for w in words:
        cx, cy = w.bounding_rect().center()
        assert mask[int(round(cy)) - int(br.top), int(round(cx)) - int(br.left)]


# ----------------------------------------------------------------------- ctc

def test_ctc_greedy():
    # Frame argmax [0,3,3,0,3,5] -> labels 3,3,5 at pos 1,4,5.
    n_classes = 8
    logits = np.full((6, n_classes), -10.0, dtype=np.float32)
    for t, lbl in enumerate([0, 3, 3, 0, 3, 5]):
        logits[t, lbl] = 0.0
    steps = decode_greedy(logits)
    assert steps == [(1, 3), (4, 3), (5, 5)]


def test_ctc_beam_beats_greedy_on_path_merge_fixture():
    """The canonical case where beam and greedy genuinely differ
    (rten CtcDecoder::decode_beam semantics, recognition.rs:512-514):
    two frames, P(blank)=0.6 / P(a)=0.4 each. Greedy takes the
    per-frame argmax (blank, blank) -> ''. Beam sums paths per prefix:
      prefix a@t0: (a,blank)=0.24 + (a,a)=0.16        -> 0.40
      prefix ''  : (blank,blank)                      -> 0.36
      prefix a@t1: (blank,a)                          -> 0.24
    so the best hypothesis is 'a' emitted at frame 0 — hand-computed,
    not compared against greedy."""
    logits = np.log(np.array([[0.6, 0.4], [0.6, 0.4]], dtype=np.float64))
    assert decode_greedy(logits) == []
    assert decode_beam(logits, 100) == [(0, 1)]
    # Tighter beams that still hold both prefixes agree.
    assert decode_beam(logits, 2) == [(0, 1)]


def test_ctc_beam_matches_greedy_on_peaky_input():
    rng = np.random.default_rng(42)
    logits = rng.normal(size=(12, 10)).astype(np.float32) * 5
    g = [lbl for _, lbl in decode_greedy(logits)]
    b = [lbl for _, lbl in decode_beam(logits, 16)]
    assert g == b

"""Geometry primitives for the OCR kernels.

Re-implements (from public API behavior, not code) the subset of the
``rten-imageproc`` geometry types used by the reference engine
(robertknight/ocrs): axis-aligned ``Rect``, oriented ``RotatedRect``,
and 2D line segments.  Coordinates follow image conventions: ``y``
grows downward, points are ``(x, y)`` floats unless noted.

Reference parity notes (cited file:line are in /root/reference):
- RotatedRect corner order matches ``ocrs/src/text_items.rs:139-156``
  (test_item_rotated_rect): for up=(0,-1) the corners are
  [bottom-right, bottom-left, top-left, top-right].
- ``rightmost_edge``/``leftmost_edge`` mirror ``ocrs/src/geom_util.rs:6-17``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Rect:
    """Axis-aligned rectangle, tlbr convention; right/bottom exclusive for
    fill purposes (width = right-left)."""

    top: float
    left: float
    bottom: float
    right: float

    @staticmethod
    def from_hw(h: float, w: float) -> "Rect":
        return Rect(0, 0, h, w)

    @property
    def width(self) -> float:
        return self.right - self.left

    @property
    def height(self) -> float:
        return self.bottom - self.top

    def area(self) -> float:
        return max(self.width, 0) * max(self.height, 0)

    def is_empty(self) -> bool:
        return self.width <= 0 or self.height <= 0

    def center(self) -> tuple[float, float]:
        """(x, y) center. For integer rects uses integer division to mirror
        Rust's integer center used when sorting obstacles
        (empty_rects.rs:58-61)."""
        if isinstance(self.left, int) and isinstance(self.right, int):
            return ((self.left + self.right) // 2, (self.top + self.bottom) // 2)
        return ((self.left + self.right) / 2.0, (self.top + self.bottom) / 2.0)

    def union(self, o: "Rect") -> "Rect":
        return Rect(
            min(self.top, o.top),
            min(self.left, o.left),
            max(self.bottom, o.bottom),
            max(self.right, o.right),
        )

    def intersects(self, o: "Rect") -> bool:
        return (
            self.left < o.right
            and self.right > o.left
            and self.top < o.bottom
            and self.bottom > o.top
        )

    def intersection_area(self, o: "Rect") -> float:
        w = min(self.right, o.right) - max(self.left, o.left)
        h = min(self.bottom, o.bottom) - max(self.top, o.top)
        return max(w, 0) * max(h, 0)

    def iou(self, o: "Rect") -> float:
        inter = self.intersection_area(o)
        union = self.area() + o.area() - inter
        return inter / union if union > 0 else 0.0

    def adjust_tlbr(self, dt: float, dl: float, db: float, dr: float) -> "Rect":
        return Rect(self.top + dt, self.left + dl, self.bottom + db, self.right + dr)

    def integral(self) -> "Rect":
        return Rect(
            int(math.floor(self.top)),
            int(math.floor(self.left)),
            int(math.ceil(self.bottom)),
            int(math.ceil(self.right)),
        )

    def to_int(self) -> "Rect":
        return Rect(int(self.top), int(self.left), int(self.bottom), int(self.right))

    def corners(self) -> list[tuple[float, float]]:
        """Corners as (x, y), in [tl, tr, br, bl] order."""
        return [
            (self.left, self.top),
            (self.right, self.top),
            (self.right, self.bottom),
            (self.left, self.bottom),
        ]


def bounding_rect_of_points(points) -> Rect:
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    return Rect(min(ys), min(xs), max(ys), max(xs))


@dataclass(frozen=True)
class RotatedRect:
    """Oriented rect: center (cx, cy), unit up-axis (ux, uy), width along the
    axis perpendicular to up, height along up."""

    cx: float
    cy: float
    ux: float
    uy: float
    width: float
    height: float

    def center(self) -> tuple[float, float]:
        return (self.cx, self.cy)

    def corners(self) -> list[tuple[float, float]]:
        """Corner order per reference convention (text_items.rs:153-156):
        [c - up*h/2 - perp*w/2, c - up*h/2 + perp*w/2,
         c + up*h/2 + perp*w/2, c + up*h/2 - perp*w/2]
        where perp(ux, uy) = (uy, -ux)."""
        px, py = self.uy, -self.ux
        hx, hy = self.ux * self.height / 2.0, self.uy * self.height / 2.0
        wx, wy = px * self.width / 2.0, py * self.width / 2.0
        return [
            (self.cx - hx - wx, self.cy - hy - wy),
            (self.cx - hx + wx, self.cy - hy + wy),
            (self.cx + hx + wx, self.cy + hy + wy),
            (self.cx + hx - wx, self.cy + hy - wy),
        ]

    def bounding_rect(self) -> Rect:
        return bounding_rect_of_points(self.corners())

    def area(self) -> float:
        return self.width * self.height

    def orient_towards(self, tx: float, ty: float) -> "RotatedRect":
        """Flip the up axis (if needed) so it points towards (tx, ty)."""
        if self.ux * tx + self.uy * ty < 0:
            return RotatedRect(self.cx, self.cy, -self.ux, -self.uy, self.width, self.height)
        return self


@dataclass(frozen=True)
class Line:
    """Line segment from (x0, y0) to (x1, y1)."""

    x0: float
    y0: float
    x1: float
    y1: float

    def center(self) -> tuple[float, float]:
        return ((self.x0 + self.x1) / 2.0, (self.y0 + self.y1) / 2.0)

    def horizontal_overlap(self, o: "Line") -> float:
        a0, a1 = min(self.x0, self.x1), max(self.x0, self.x1)
        b0, b1 = min(o.x0, o.x1), max(o.x0, o.x1)
        return min(a1, b1) - max(a0, b0)

    def intersects(self, o: "Line") -> bool:
        """Segment intersection via orientation tests."""

        def orient(ax, ay, bx, by, cx, cy):
            v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
            return (v > 0) - (v < 0)

        d1 = orient(o.x0, o.y0, o.x1, o.y1, self.x0, self.y0)
        d2 = orient(o.x0, o.y0, o.x1, o.y1, self.x1, self.y1)
        d3 = orient(self.x0, self.y0, self.x1, self.y1, o.x0, o.y0)
        d4 = orient(self.x0, self.y0, self.x1, self.y1, o.x1, o.y1)
        if d1 != d2 and d3 != d4:
            return True

        def on_seg(ax, ay, bx, by, px, py):
            return min(ax, bx) <= px <= max(ax, bx) and min(ay, by) <= py <= max(ay, by)

        if d1 == 0 and on_seg(o.x0, o.y0, o.x1, o.y1, self.x0, self.y0):
            return True
        if d2 == 0 and on_seg(o.x0, o.y0, o.x1, o.y1, self.x1, self.y1):
            return True
        if d3 == 0 and on_seg(self.x0, self.y0, self.x1, self.y1, o.x0, o.y0):
            return True
        if d4 == 0 and on_seg(self.x0, self.y0, self.x1, self.y1, o.x1, o.y1):
            return True
        return False

    def downwards(self) -> "Line":
        """Endpoints sorted top-to-bottom (geom_util.rs:20-26)."""
        if self.y0 <= self.y1:
            return self
        return Line(self.x1, self.y1, self.x0, self.y0)


def rightmost_edge(r: RotatedRect) -> Line:
    """Edge through the two corners with largest x (geom_util.rs:6-10)."""
    cs = sorted(r.corners(), key=lambda p: p[0])
    return Line(cs[2][0], cs[2][1], cs[3][0], cs[3][1])


def leftmost_edge(r: RotatedRect) -> Line:
    cs = sorted(r.corners(), key=lambda p: p[0])
    return Line(cs[0][0], cs[0][1], cs[1][0], cs[1][1])

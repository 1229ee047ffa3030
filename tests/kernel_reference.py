"""Frozen scalar reference of the contour kernels.

This is the per-component, per-point implementation that
``ocrs_spark.kernels.contours`` replaced with array passes over all
components of an image. It is kept, unchanged in behaviour, only so
that ``tests/test_contour_fuzz.py`` can check the array kernels against
it point for point: contour order and points, the Douglas-Peucker
polylines, hulls, min-area rects and the detection rects.
"""

from __future__ import annotations

import math

import numpy as np

from ocrs_spark.geometry import RotatedRect

from .util import resized

# Moore neighborhood in clockwise order starting from W (dx, dy).
_MOORE = [(-1, 0), (-1, -1), (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1)]


def _component_runs(mask: np.ndarray):
    """Row-run union-find labeling. Returns (runs_by_label, h, w) where
    runs_by_label[i] is the list of (y, start, end) half-open runs of
    component i+1, in raster order of first appearance."""
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape

    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    diff = padded[:, 1:] - padded[:, :-1]
    sy, sx = np.nonzero(diff == 1)
    _, ex = np.nonzero(diff == -1)
    n = len(sy)

    parent = list(range(n + 1))  # union-find over run ids 1..n

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    runs = list(zip(sy.tolist(), sx.tolist(), ex.tolist()))
    prev: list[tuple[int, int, int]] = []  # (start, end, run_id) of row-1
    cur: list[tuple[int, int, int]] = []
    cur_row = -1
    for i, (y, s, e) in enumerate(runs):
        rid = i + 1
        if y != cur_row:
            prev = cur if y == cur_row + 1 else []
            cur = []
            cur_row = y
        # 8-connectivity: overlap with previous row extended by 1 col.
        for ps, pe, pid in prev:
            if ps < e + 1 and pe > s - 1:
                union(rid, pid)
        cur.append((s, e, rid))

    # Resolve roots to dense component labels in raster order.
    root_to_label: dict[int, int] = {}
    runs_by_label: list[list[tuple[int, int, int]]] = []
    for i, (y, s, e) in enumerate(runs):
        r = find(i + 1)
        lbl = root_to_label.get(r)
        if lbl is None:
            lbl = len(runs_by_label)
            root_to_label[r] = lbl
            runs_by_label.append([])
        runs_by_label[lbl].append((y, s, e))
    return runs_by_label, h, w


def _ring_index(dx: int, dy: int) -> int:
    for i, (mx, my) in enumerate(_MOORE):
        if (mx, my) == (dx, dy):
            return i
    raise ValueError((dx, dy))


def _build_trace_table():
    """Transition table for table-driven Moore tracing: for (backtrack
    direction, 8-bit neighborhood mask) precompute the full step — the
    clockwise scan from the backtrack, the move to the first foreground
    neighbor, and the new backtrack direction (toward the last
    background cell examined). Encodes exactly the scan the loop in the
    pre-table implementation performed, so traces are bit-identical."""
    table = [[None] * 256 for _ in range(8)]
    for bdir in range(8):
        for nb in range(256):
            step = None
            for k in range(1, 9):
                d = (bdir + k) & 7
                if nb & (1 << d):
                    dx, dy = _MOORE[d]
                    # Last background examined: ring slot before the hit
                    # (for k == 1 that's the old backtrack itself, which
                    # the scan has not moved past — same as the loop
                    # leaving bx,by untouched).
                    pbx, pby = _MOORE[(bdir + k - 1) & 7]
                    step = (dx, dy, _ring_index(pbx - dx, pby - dy))
                    break
            table[bdir][nb] = step  # None = isolated pixel
    return table


_TRACE_TABLE = _build_trace_table()


def _neighbor_bits(crop: np.ndarray) -> bytes:
    """Flat row-major uint8 mask per cell: bit i set iff the Moore
    neighbor i is foreground. Pure slice arithmetic (no per-cell Python
    objects); crop carries a 1-pixel False border."""
    g = crop.view(np.uint8) if crop.dtype == bool else crop.astype(np.uint8)
    h, w = g.shape
    nb = np.zeros((h, w), np.uint8)
    for i, (dx, dy) in enumerate(_MOORE):
        ys0, ys1 = max(0, -dy), h - max(0, dy)
        xs0, xs1 = max(0, -dx), w - max(0, dx)
        nb[ys0:ys1, xs0:xs1] |= g[ys0 + dy : ys1 + dy, xs0 + dx : xs1 + dx] << i
    return nb.tobytes()


def _trace_on_grid(crop: np.ndarray, sx: int, sy: int, max_steps: int) -> list[tuple[int, int]]:
    """Moore-neighbor tracing (clockwise, Jacob's stopping criterion) on
    a padded boolean array (crop[y, x]; 1-pixel False border).
    ``(sx, sy)`` is the topmost-leftmost foreground pixel. Returns
    border pixels (x, y) in traversal order.

    The per-step neighbor scan is a single lookup in _TRACE_TABLE keyed
    by the precomputed (vectorized) neighborhood bitmask — the per-step
    Python work is one bytes index + one table fetch instead of an
    8-neighbor scan. Returns an (N, 2) int32 array (flat int appends
    into array.array beat building N coordinate tuples)."""
    import array as _array

    nb = _neighbor_bits(crop)
    w = crop.shape[1]
    table = _TRACE_TABLE
    coords = _array.array("i", (sx, sy))
    push = coords.append
    cx, cy = sx, sy
    bdir = 0  # entered the start pixel from the West
    fmx = fmy = -1  # first move (Jacob's stopping criterion)
    for _ in range(max_steps):
        step = table[bdir][nb[cy * w + cx]]
        if step is None:
            break  # isolated pixel
        dx, dy, bdir = step
        nx, ny = cx + dx, cy + dy
        if cx == sx and cy == sy:
            if fmx < 0:
                fmx, fmy = nx, ny
            elif nx == fmx and ny == fmy:
                break  # completed the loop
        cx, cy = nx, ny
        push(nx)
        push(ny)
    else:
        raise RuntimeError("contour tracing did not terminate")
    return np.frombuffer(coords, dtype=np.int32).reshape(-1, 2)


def find_contours_external(mask: np.ndarray) -> list[np.ndarray]:
    """Outer contour of each 8-connected component, as ordered (N, 2)
    int32 arrays of (x, y) border pixels (counterpart of rten-imageproc
    find_contours with RetrievalMode::External, used at detection.rs:46).

    Each component is traced on its own padded bounding-box crop (built
    from the labeling runs), so cost scales with component perimeter,
    not image area."""
    runs_by_label, h, w = _component_runs(mask)
    contours = []
    for runs in runs_by_label:
        y0 = runs[0][0]
        y1 = runs[-1][0]
        x0 = min(s for _, s, _ in runs)
        x1 = max(e for _, _, e in runs)
        ch, cw = y1 - y0 + 1, x1 - x0
        crop = np.zeros((ch + 2, cw + 2), dtype=bool)
        for y, s, e in runs:
            crop[y - y0 + 1, s - x0 + 1 : e - x0 + 1] = True
        # Start = topmost-leftmost pixel (raster order of first run).
        sx, sy = runs[0][1] - x0 + 1, 1
        pts = _trace_on_grid(crop, sx, sy, 4 * ((ch + 2) * (cw + 2) + 8))
        contours.append(pts + np.array([x0 - 1, y0 - 1], dtype=np.int32))
    return contours


def simplify_polyline(points, eps: float) -> np.ndarray:
    """Douglas-Peucker simplification, endpoints kept (counterpart of
    rten-imageproc simplify_polygon at detection.rs:50). Accepts a
    point list or an (N, 2) array; returns an (M, 2) float64 array.

    Pure-Python DP over scalar floats: contours are a few hundred
    points, where per-call numpy overhead dwarfs the arithmetic. The
    per-element float ops (sub, mul, abs, divide-by-seg_len, strict >
    first-max) are the exact IEEE sequence of the vectorized form this
    replaces, so the kept set is bit-identical."""
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return pts
    xs = pts[:, 0].tolist()
    ys = pts[:, 1].tolist()
    keep = [False] * n
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        x0, y0 = xs[i0], ys[i0]
        ex, ey = xs[i1] - x0, ys[i1] - y0
        seg_len = math.hypot(ex, ey)
        best = -1.0
        bi = -1
        if seg_len == 0:
            for j in range(i0 + 1, i1):
                d = math.hypot(xs[j] - x0, ys[j] - y0)
                if d > best:
                    best, bi = d, j
        else:
            for j in range(i0 + 1, i1):
                d = abs(ex * (ys[j] - y0) - ey * (xs[j] - x0)) / seg_len
                if d > best:
                    best, bi = d, j
        if best > eps:
            keep[bi] = True
            stack.append((i0, bi))
            stack.append((bi, i1))
    return pts[keep]


def convex_hull(points) -> np.ndarray:
    """Andrew monotone chain. Returns hull points (x, y) CCW in image
    coords (y down), shape (m, 2) float64. Pure-Python over scalar
    floats (inputs are simplified contours of a handful of points where
    numpy per-call overhead dominates); dedup + lexicographic sort
    matches np.unique's row ordering."""
    pts = np.asarray(points, dtype=np.float64)
    uniq = sorted(set(map(tuple, pts.tolist())))
    if len(uniq) <= 2:
        return np.asarray(uniq, dtype=np.float64).reshape(-1, 2)

    def half(seq):
        out = []
        for px, py in seq:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append((px, py))
        return out

    lower = half(uniq)
    upper = half(uniq[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def min_area_rect(points) -> RotatedRect | None:
    """Minimum-area oriented bounding rect via rotating calipers over hull
    edges (counterpart of rten-imageproc min_area_rect at
    detection.rs:52). Up axis is oriented towards (0, -1) so horizontal
    input yields width = x-extent, height = y-extent."""
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) == 0:
        return None
    hull = convex_hull(pts)
    if len(hull) == 1:
        return RotatedRect(hull[0][0], hull[0][1], 0.0, -1.0, 0.0, 0.0)
    if len(hull) == 2:
        (x0, y0), (x1, y1) = hull
        dx, dy = x1 - x0, y1 - y0
        length = math.hypot(dx, dy)
        ux, uy = (-dy / length, dx / length) if length else (0.0, -1.0)
        rr = RotatedRect((x0 + x1) / 2, (y0 + y1) / 2, ux, uy, length, 0.0)
        return rr.orient_towards(0.0, -1.0)

    # Rotating calipers over the (tiny) hull in pure Python: project
    # every hull point on every edge direction and take the first
    # minimal-area edge. Same elementwise IEEE mul+add as the
    # vectorized form this replaces (no FMA/matmul), so results are
    # bit-identical; at hull sizes of 4-10 points the scalar loop beats
    # the ~15 numpy calls it replaces.
    hx = hull[:, 0].tolist()
    hy = hull[:, 1].tolist()
    m = len(hx)
    best_area = None
    best = None
    for a in range(m):
        b = (a + 1) % m
        evx, evy = hx[b] - hx[a], hy[b] - hy[a]
        # np.hypot, not math.hypot: they can differ in the last ulp and
        # the unit-vector rounding must match the prior vectorized form.
        elen = float(np.hypot(evx, evy))
        if elen == 0:
            continue
        uex, uey = evx / elen, evy / elen
        upx, upy = -uey, uex
        emin = emax = hx[0] * uex + hy[0] * uey
        pmin = pmax = hx[0] * upx + hy[0] * upy
        for j in range(1, m):
            pe = hx[j] * uex + hy[j] * uey
            pp = hx[j] * upx + hy[j] * upy
            if pe < emin:
                emin = pe
            elif pe > emax:
                emax = pe
            if pp < pmin:
                pmin = pp
            elif pp > pmax:
                pmax = pp
        area = (emax - emin) * (pmax - pmin)
        if best_area is None or area < best_area:
            best_area = area
            best = (uex, uey, upx, upy, emin, emax, pmin, pmax)
    ex, ey, px, py, emin_, emax_, pmin_, pmax_ = best
    ws_i = emax_ - emin_
    hs_i = pmax_ - pmin_
    ce = (emax_ + emin_) / 2
    cp = (pmax_ + pmin_) / 2
    # Width along the edge direction; height along perpendicular.
    # Up axis = the axis along "height", pointing up-ish.
    rr = RotatedRect(ce * ex + cp * px, ce * ey + cp * py, px, py, ws_i, hs_i)
    # Normalize: make the up axis the one closest to vertical, and point
    # it towards (0, -1) (mirrors orient_towards usage,
    # text_items.rs:26-29).
    if abs(rr.uy) < abs(rr.ux):
        # Swap axes: up becomes the perpendicular of current up.
        rr = RotatedRect(rr.cx, rr.cy, rr.uy, -rr.ux, rr.height, rr.width)
    return rr.orient_towards(0.0, -1.0)


def find_connected_component_rects(mask: np.ndarray, expand_dist: float, min_area: float) -> list[RotatedRect]:
    """Detection word rects: contour -> simplify(eps=2) -> min-area rect
    -> expand -> min-area filter, one component at a time."""
    rects = []
    for contour in find_contours_external(mask):
        rect = min_area_rect(simplify_polyline(contour, 2.0))
        if rect is None:
            continue
        rect = resized(rect, rect.width + 2 * expand_dist, rect.height + 2 * expand_dist)
        if rect.area() >= min_area:
            rects.append(rect)
    return rects

"""Connected components, contour tracing, polygon simplification,
min-area rects and polygon rasterization, in numpy array passes.

Behavioral counterparts of the rten-imageproc routines used by
``ocrs/src/detection.rs:41-62`` (find_contours RetrievalMode::External,
simplify_polygon eps=2, min_area_rect) and
``ocrs/src/recognition.rs:91-126`` (Polygon::fill_iter). Implemented from
the published algorithms (Suzuki-Abe border following via Moore tracing,
Douglas-Peucker, quickhull, rotating calipers) — no reference code
reused.

One image's mask goes through a fixed number of numpy passes over all
of its components at once, not a Python loop per component or per
contour point:

- Labeling. Foreground runs come from one diff of the padded mask. The
  runs of the row above that touch a run (8-connectivity) form a
  contiguous range found with searchsorted. Components come from
  min-label hooking plus pointer jumping over those run pairs; the root
  of a component is its first run, so components are numbered in raster
  order of their first pixel.
- Tracing. The 8-neighbour code of every pixel is computed once per
  image. Every component's Moore walk (clockwise from its
  topmost-leftmost pixel, Jacob's stopping criterion) then advances in
  lockstep: one transition-table lookup per step for all walks. When
  fewer than ``_SCALAR_TAIL`` walks are left they finish in a scalar
  loop over the same table. That loop is the tail of the lockstep walk,
  not a second tracer: it keeps one long contour (a page frame) from
  holding numpy to a few pixels per call.
- Simplification. Douglas-Peucker runs level by level over the open
  chords of every contour: per-chord maximum via reduceat, the first
  maximum wins, and the chord splits there when that maximum is > eps.
- Fitting. Quickhull runs level by level over every point set; rotating
  calipers then project each hull on all of its edges in one pass, and
  the rects come out as arrays.

Contour coordinates are integers, so every cross product and squared
length here is exact in float64 and the square roots are correctly
rounded: they equal the ``math.hypot`` of a per-point formulation. The
per-component scalar kernels these passes replaced are kept in
``tests/kernel_reference.py``, and ``tests/test_contour_fuzz.py`` checks
the passes against them point for point.
"""

from __future__ import annotations

import math

import numpy as np

from ..geometry import Rect, RotatedRect

# Moore neighborhood in clockwise order starting from W (dx, dy).
_MOORE = [(-1, 0), (-1, -1), (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1)]

# Tracing finishes in the scalar loop once fewer walks than this are left.
_SCALAR_TAIL = 8

# Single-slot scratch for one mask shape: zero-padded mask, run
# boundaries, neighbour codes and a shift buffer, reused across same-shaped masks
# (Spark Python workers are single-threaded processes). Fresh pages
# fault in slowly on the target hosts, and allocating ~1 MB of
# temporaries per image measurably throttles concurrent workers (see
# malloc_tuning.py).
_SCRATCH = None


def _scratch(h: int, w: int):
    global _SCRATCH
    if _SCRATCH is None or _SCRATCH[0] != (h, w):
        _SCRATCH = (
            (h, w),
            np.zeros((h + 2, w + 2), np.uint8),
            np.empty((h, w + 1), bool),
            np.zeros((h + 2) * (w + 2), np.uint8),
            np.empty(max(h * (w + 2) - 2, 0), np.uint8),
        )
    return _SCRATCH[1:]


def _component_runs(mask: np.ndarray, grid: np.ndarray, edge: np.ndarray):
    """Foreground runs of ``mask`` and their 8-connected components.

    Fills ``grid`` with the mask inside a 1-pixel zero border. Returns
    (y, xs, xe, comp, first): run i covers columns [xs[i], xe[i]) of row
    y[i], runs in raster order; comp[i] is its component, numbered in
    raster order of the first pixel; first[k] is component k's first
    run."""
    w = mask.shape[1]
    grid[1:-1, 1:-1] = mask
    np.not_equal(grid[1:-1, 1:], grid[1:-1, :-1], out=edge)
    # Boundaries alternate start, end along a row, so one pass finds
    # both, as flat keys y * (w + 1) + x.
    bounds = np.flatnonzero(edge)
    ks, ke = bounds[0::2], bounds[1::2]
    stride = w + 1
    y = ks // stride
    xs = ks - y * stride
    xe = ke - y * stride
    # The runs of the row above that touch run i (start <= xe[i] and
    # end >= xs[i]) are the range [lo[i], hi[i]); a key shifted by one
    # row never reaches a run two rows away.
    lo = np.searchsorted(ke, ks - stride)
    hi = np.searchsorted(ks, ke - stride, side="right")
    cnt = np.maximum(hi - lo, 0)
    idx = np.arange(len(ks))
    ea = np.repeat(idx, cnt)
    eb = np.arange(len(ea)) - np.repeat(np.cumsum(cnt) - cnt - lo, cnt)
    # Every run points at an earlier run of its component, a root at
    # itself. Start from the first touching run above; then jump
    # pointers to the roots and hook the larger of two roots that a run
    # pair joins to the smaller, until no pair joins two trees. A
    # component's root is then its first run.
    lab = np.where(cnt > 0, lo, idx)
    while True:
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up
        ra, rb = lab[ea], lab[eb]
        join = ra != rb
        if not join.any():
            break
        ra, rb = ra[join], rb[join]
        np.minimum.at(lab, np.maximum(ra, rb), np.minimum(ra, rb))
    root = lab == idx
    return y, xs, xe, (np.cumsum(root) - 1)[lab], np.flatnonzero(root)


def _build_trace_table():
    """Moore-tracing transitions indexed by ``256 * bdir + code`` (the
    backtrack direction and the 8-bit neighbourhood code): the clockwise
    scan from the backtrack stops at the first foreground neighbour,
    which gives the move (dx, dy); the new backtrack is the last
    background cell scanned, as a direction from the new pixel. Returns
    (dx, dy, 256 * new bdir); code 0, an isolated pixel, has no move."""
    dx, dy, nxt = (np.zeros(2048, np.int64) for _ in range(3))
    for bdir in range(8):
        for code in range(1, 256):
            k = next(k for k in range(1, 9) if code >> ((bdir + k) & 7) & 1)
            mx, my = _MOORE[(bdir + k) & 7]
            # For k == 1 the last background scanned is the old
            # backtrack itself.
            bx, by = _MOORE[(bdir + k - 1) & 7]
            key = 256 * bdir + code
            dx[key], dy[key] = mx, my
            nxt[key] = 256 * _MOORE.index((bx - mx, by - my))
    return dx, dy, nxt


_STEP_DX, _STEP_DY, _STEP_NEXT = _build_trace_table()


def _neighbour_codes(grid: np.ndarray, codes: np.ndarray, tmp: np.ndarray) -> np.ndarray:
    """8-neighbour code of every pixel of the padded ``grid``, flat: bit
    i set iff Moore neighbour i is foreground. Computed on flat offsets,
    so the border columns get meaningless codes; walks never visit
    them."""
    g = grid.reshape(-1)
    w2 = grid.shape[1]
    lo = w2 + 1
    hi = max(len(g) - w2 - 1, lo)
    core = codes[lo:hi]
    for i, (dx, dy) in enumerate(_MOORE):
        src = g[lo + dx + dy * w2 : hi + dx + dy * w2]
        if i == 0:
            core[...] = src
        else:
            np.left_shift(src, i, out=tmp)
            core |= tmp
    return codes


def trace_contours(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Outer contour of every 8-connected component of a boolean mask
    (counterpart of rten-imageproc find_contours with
    RetrievalMode::External, used at detection.rs:46).

    Returns (x, y, offsets): contour k is points offsets[k]:offsets[k+1]
    of the int64 coordinate arrays, components in raster order of their
    first pixel. A contour lists border pixels in clockwise walking
    order, from the topmost-leftmost pixel back to it (a single pixel is
    one point)."""
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape
    grid, edge, codes, tmp = _scratch(h, w)
    ry, rxs, rxe, comp, first = _component_runs(mask, grid, edge)
    ncomp = len(first)
    w2 = w + 2
    code = _neighbour_codes(grid, codes, tmp)
    start = (ry[first] + 1) * w2 + rxs[first] + 1
    # A walk is deterministic in (pixel, backtrack): one that outlasts
    # the 8 states per pixel of its component never stops.
    budget = 8 * np.bincount(comp, weights=rxe - rxs, minlength=ncomp).astype(np.int64) + 2
    dpos = _STEP_DX + _STEP_DY * w2

    # Step 0: every walk enters its start pixel from the West, and its
    # first move fixes Jacob's criterion: the walk stops when it is
    # about to leave the start pixel by that move again. Single pixels
    # do not walk.
    key = code[start].astype(np.int64)
    wid = np.flatnonzero(key)
    s0, key, left = start[wid], key[wid], budget[wid]
    pos = s0 + dpos[key]
    back = _STEP_NEXT[key]
    fm = pos
    ids, steps = [wid], [pos]
    t = 1
    limit = left.min(initial=1 << 62)
    while len(wid) >= _SCALAR_TAIL:
        if t > limit:
            raise RuntimeError("contour tracing did not terminate")
        key = back + code[pos]
        nxt = pos + dpos[key]
        done = (nxt == fm) & (pos == s0)
        if done.any():
            go = ~done
            wid, s0, fm, left, key, nxt = wid[go], s0[go], fm[go], left[go], key[go], nxt[go]
            limit = left.min(initial=1 << 62)
        back = _STEP_NEXT[key]
        pos = nxt
        ids.append(wid)
        steps.append(pos)
        t += 1

    # The scalar tail: the last few walks, same table, same stopping rule.
    tails = []
    if len(wid):
        cv, dl, nl = memoryview(code), dpos.tolist(), _STEP_NEXT.tolist()
        for w_, p, b, s, f, n in zip(*(a.tolist() for a in (wid, pos, back, s0, fm, left))):
            pts = []
            for _ in range(n - t + 1):
                k = b + cv[p]
                q = p + dl[k]
                if p == s and q == f:
                    break
                b = nl[k]
                p = q
                pts.append(p)
            else:
                raise RuntimeError("contour tracing did not terminate")
            tails.append((w_, pts))

    # Step i of a walk is point i + 1 of its contour; point 0 is the start.
    ids_all = np.concatenate(ids)
    counts = np.bincount(ids_all, minlength=ncomp) + 1
    for w_, pts in tails:
        counts[w_] += len(pts)
    offsets = np.zeros(ncomp + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    flat = np.empty(offsets[-1], dtype=np.int64)
    flat[offsets[:-1]] = start
    step_no = np.repeat(np.arange(len(ids)), [len(a) for a in ids])
    flat[offsets[ids_all] + 1 + step_no] = np.concatenate(steps)
    for w_, pts in tails:
        flat[offsets[w_ + 1] - len(pts) : offsets[w_ + 1]] = pts
    y, x = np.divmod(flat, w2)
    return x - 1, y - 1, offsets


def simplify_polylines(x, y, offsets, eps: float) -> np.ndarray:
    """Douglas-Peucker over every polyline at once, endpoints kept
    (counterpart of rten-imageproc simplify_polygon at detection.rs:50).
    Polyline k is points offsets[k]:offsets[k+1], each non-empty.
    Returns the boolean mask of the kept points.

    A point's distance is to its chord's line, or to the chord's start
    when the chord has zero length (a closed contour)."""
    xf = np.asarray(x, dtype=np.float64)
    yf = np.asarray(y, dtype=np.float64)
    keep = np.zeros(len(xf), dtype=bool)
    i0, i1 = offsets[:-1], offsets[1:] - 1
    keep[i0] = keep[i1] = True
    while True:
        chord = i1 > i0 + 1
        i0, i1 = i0[chord], i1[chord]
        if not len(i0):
            return keep
        inner = i1 - i0 - 1
        seg0 = np.cumsum(inner) - inner
        sid = np.repeat(np.arange(len(inner)), inner)
        j = np.arange(inner.sum()) + np.repeat(i0 + 1 - seg0, inner)
        x0, y0 = xf[i0], yf[i0]
        ex, ey = xf[i1] - x0, yf[i1] - y0
        length = np.sqrt(ex * ex + ey * ey)
        dx, dy = xf[j] - x0[sid], yf[j] - y0[sid]
        closed = length == 0
        d = np.abs(ex[sid] * dy - ey[sid] * dx) / np.where(closed, 1.0, length)[sid]
        pc = closed[sid]
        if pc.any():
            d[pc] = np.sqrt(dx[pc] * dx[pc] + dy[pc] * dy[pc])
        best = np.maximum.reduceat(d, seg0)
        bi = np.minimum.reduceat(np.where(d == best[sid], j, len(xf)), seg0)
        split = best > eps
        i0, i1, bi = i0[split], i1[split], bi[split]
        keep[bi] = True
        i0, i1 = np.concatenate((i0, bi)), np.concatenate((bi, i1))


def convex_hulls(x, y, offsets) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Convex hull of every point set at once. Returns (hx, hy,
    hull_offsets): the strictly convex vertices of set k, CCW in image
    coords (y down) from its lexicographically smallest point, in
    monotone-chain order (lower chain left to right, then upper chain
    right to left; collinear points dropped). One or two distinct points
    come back as they are; an empty set has an empty hull.

    Quickhull, level by level: each outside point belongs to one hull
    edge found so far. Every such edge takes its outside point farthest
    from it (on a tie, the one farthest along the edge, so that it is a
    vertex), and its other outside points move to the two new edges or
    drop."""
    xf = np.asarray(x, dtype=np.float64)
    yf = np.asarray(y, dtype=np.float64)
    nset = len(offsets) - 1
    sid = np.repeat(np.arange(nset), np.diff(offsets))
    order = np.lexsort((yf, xf, sid))
    xs, ys, ss = xf[order], yf[order], sid[order]
    new = np.ones(len(xs), dtype=bool)
    new[1:] = (ss[1:] != ss[:-1]) | (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])
    xs, ys, ss = xs[new], ys[new], ss[new]
    count = np.bincount(ss, minlength=nset)
    lo = (np.cumsum(count) - count)[ss]  # lexicographically first point
    hi = lo + count[ss] - 1  # and last
    # Part 0 is the lower chain lo -> hi, part 1 the upper chain hi -> lo.
    verts = [np.unique(lo), np.unique(hi[hi > lo])]
    parts = [np.zeros(len(verts[0]), np.int64), np.ones(len(verts[1]), np.int64)]
    pt = np.arange(len(xs))
    side = _outside(xs, ys, lo, hi, pt)
    up = side < 0
    ea, eb = np.where(up, hi, lo), np.where(up, lo, hi)
    part = up.astype(np.int64)
    live = side != 0
    pt, ea, eb, part = pt[live], ea[live], eb[live], part[live]
    n = len(xs)
    while len(pt):
        dist = _outside(xs, ys, ea, eb, pt)
        along = (xs[eb] - xs[ea]) * (xs[pt] - xs[ea]) + (ys[eb] - ys[ea]) * (ys[pt] - ys[ea])
        edge = ea * n + eb
        order = np.lexsort((along, dist, edge))
        pt, ea, eb, part, edge = pt[order], ea[order], eb[order], part[order], edge[order]
        last = np.ones(len(pt), dtype=bool)
        last[:-1] = edge[1:] != edge[:-1]
        far = pt[last]
        verts.append(far)
        parts.append(part[last])
        c = far[np.cumsum(last) - last]  # the far point of each one's edge
        to_a = _outside(xs, ys, ea, c, pt) > 0
        live = to_a | (_outside(xs, ys, c, eb, pt) > 0)
        ea, eb = np.where(to_a, ea, c), np.where(to_a, c, eb)
        pt, ea, eb, part = pt[live], ea[live], eb[live], part[live]
    v = np.concatenate(verts)
    vpart = np.concatenate(parts)
    v = v[np.lexsort((np.where(vpart == 0, v, -v), vpart, ss[v]))]
    hull_offsets = np.zeros(nset + 1, dtype=np.int64)
    np.cumsum(np.bincount(ss[v], minlength=nset), out=hull_offsets[1:])
    return xs[v], ys[v], hull_offsets


def _outside(xs, ys, a, b, p) -> np.ndarray:
    """Distance of point p from the line of the directed hull edge
    a -> b, times the edge length: > 0 outside the hull walked CCW in
    image coords (the lower chain's outside is below it), < 0 inside."""
    ax, ay = xs[a], ys[a]
    return (ys[b] - ay) * (xs[p] - ax) - (xs[b] - ax) * (ys[p] - ay)


def min_area_rects(x, y, offsets) -> tuple[np.ndarray, ...]:
    """Minimum-area oriented rect of every point set at once, by
    rotating calipers over the hull edges (counterpart of rten-imageproc
    min_area_rect at detection.rs:52). Set k is points
    offsets[k]:offsets[k+1], each non-empty. Returns float64 arrays
    (cx, cy, ux, uy, width, height), the up axis oriented towards
    (0, -1), so horizontal input yields width = x-extent, height =
    y-extent.

    Every hull is projected on each of its edge directions in one pass,
    and the first edge (in hull order) of minimal area wins. One point
    gives a zero-size rect, two a zero-height rect along their
    segment."""
    hx, hy, hoff = convex_hulls(x, y, offsets)
    m = np.diff(hoff)
    cx, cy = hx[hoff[:-1]], hy[hoff[:-1]]
    ux, uy = np.zeros(len(m)), np.full(len(m), -1.0)
    width, height = np.zeros(len(m)), np.zeros(len(m))

    seg = np.flatnonzero(m == 2)
    i = hoff[seg]
    dx, dy = hx[i + 1] - hx[i], hy[i + 1] - hy[i]
    # math.hypot: these sets may be float corners (output.py), where the
    # square root of the squared length can differ in the last place.
    length = np.array([math.hypot(u, v) for u, v in zip(dx.tolist(), dy.tolist())])
    cx[seg], cy[seg] = (hx[i] + hx[i + 1]) / 2, (hy[i] + hy[i + 1]) / 2
    ux[seg], uy[seg], width[seg] = -dy / length, dx / length, length

    big = np.flatnonzero(m >= 3)
    if len(big):
        mb = m[big]
        ne = mb.sum()
        e0 = np.cumsum(mb) - mb  # first edge of each hull
        hull_of = np.repeat(np.arange(len(big)), mb)
        rank = np.arange(ne) - e0[hull_of]
        a = hoff[big][hull_of] + rank
        b = np.where(rank == mb[hull_of] - 1, a + 1 - mb[hull_of], a + 1)
        evx, evy = hx[b] - hx[a], hy[b] - hy[a]
        elen = np.hypot(evx, evy)
        ex, ey = evx / elen, evy / elen
        px, py = -ey, ex
        # Every edge direction against every point of its hull.
        rows = mb[hull_of]
        r0 = np.cumsum(rows) - rows
        e_of = np.repeat(np.arange(ne), rows)
        q = np.arange(rows.sum()) + np.repeat(hoff[big][hull_of] - r0, rows)
        pe = hx[q] * ex[e_of] + hy[q] * ey[e_of]
        pp = hx[q] * px[e_of] + hy[q] * py[e_of]
        emin, emax = np.minimum.reduceat(pe, r0), np.maximum.reduceat(pe, r0)
        pmin, pmax = np.minimum.reduceat(pp, r0), np.maximum.reduceat(pp, r0)
        area = (emax - emin) * (pmax - pmin)
        amin = np.minimum.reduceat(area, e0)
        k = np.minimum.reduceat(np.where(area == amin[hull_of], np.arange(ne), ne), e0)
        ce, cp = (emax[k] + emin[k]) / 2, (pmax[k] + pmin[k]) / 2
        cx[big], cy[big] = ce * ex[k] + cp * px[k], ce * ey[k] + cp * py[k]
        # Width along the edge, height along its perpendicular, which is
        # the up axis; then make the up axis the one closest to vertical.
        bux, buy, bw, bh = px[k], py[k], emax[k] - emin[k], pmax[k] - pmin[k]
        swap = np.abs(buy) < np.abs(bux)
        ux[big], uy[big] = np.where(swap, buy, bux), np.where(swap, -bux, buy)
        width[big], height[big] = np.where(swap, bh, bw), np.where(swap, bw, bh)

    # orient_towards(0, -1) (text_items.rs:26-29)
    flip = ux * 0.0 + uy * -1.0 < 0
    ux[flip], uy[flip] = -ux[flip], -uy[flip]
    return cx, cy, ux, uy, width, height


def min_area_rect(points) -> RotatedRect | None:
    """Minimum-area oriented rect of one point set (see min_area_rects);
    None for no points."""
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    if not len(pts):
        return None
    rect = min_area_rects(pts[:, 0], pts[:, 1], np.array([0, len(pts)]))
    return RotatedRect(*(float(a[0]) for a in rect))


def fill_polygon_mask(points: list[tuple[int, int]], bounds: Rect) -> np.ndarray:
    """Rasterize a polygon into a boolean mask over ``bounds`` (integral
    rect), using even-odd scanline with half-open [min, max) edge and
    span conventions (counterpart of Polygon::fill_iter used at
    recognition.rs:110-117)."""
    top, left = int(bounds.top), int(bounds.left)
    h, w = int(bounds.height), int(bounds.width)
    mask = np.zeros((h, w), dtype=bool)
    if not points or h <= 0 or w <= 0:
        return mask
    n = len(points)
    edges = []
    for i in range(n):
        x0, y0 = points[i]
        x1, y1 = points[(i + 1) % n]
        if y0 == y1:
            continue
        edges.append((float(x0), float(y0), float(x1), float(y1)))
    if not edges:
        return mask
    # All row-edge intersections in one vectorized pass; the per-row
    # span writing below sees the same sorted xs the scalar loop built.
    e = np.asarray(edges, dtype=np.float64)  # (k, 4): x0 y0 x1 y1
    yy = (top + np.arange(h, dtype=np.float64))[:, None]  # (h, 1)
    ylo = np.minimum(e[:, 1], e[:, 3])[None, :]
    yhi = np.maximum(e[:, 1], e[:, 3])[None, :]
    active = (ylo <= yy) & (yy < yhi)  # half-open edge span
    t = (yy - e[:, 1][None, :]) / (e[:, 3] - e[:, 1])[None, :]
    xs_all = e[:, 0][None, :] + t * (e[:, 2] - e[:, 0])[None, :]
    xs_all = np.where(active, xs_all, np.inf)
    xs_sorted = np.sort(xs_all, axis=1)
    counts = active.sum(axis=1)
    for row in range(h):
        c = int(counts[row])
        xs = xs_sorted[row]
        for j in range(0, c - 1, 2):
            a = int(math.ceil(xs[j]))
            b = int(math.ceil(xs[j + 1]))  # half-open [a, b)
            a = max(a, left)
            b = min(b, left + w)
            if b > a:
                mask[row, a - left : b - left] = True
    return mask

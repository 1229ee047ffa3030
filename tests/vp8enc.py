"""Minimal conformant lossy WebP (VP8) keyframe encoder, the input
generator of the VP8 decoder tests (the package only decodes lossy
WebP, like the reference CLI).

Counterpart of :mod:`ocrs_spark.vp8` (the decoder), from the same
public spec (RFC 6386); no reference code reused. "Minimal" means the
simplest legal bitstream, not a reduced format: every choice below is
a degree of freedom the format gives the encoder —

- all macroblocks use 16x16 DC_PRED luma + DC_PRED chroma (so every MB
  carries a Y2 block);
- no segmentation, no loop-filter deltas, loop filter level 0 (legal;
  the decoder then applies no deblocking, which also makes the decoded
  planes exactly equal the encoder's own reconstruction);
- a single token partition and the spec's default coefficient
  probabilities (no updates);
- one quantizer index for the whole frame.

Conformance is a property of the bitstream + the normative decoder,
so the forward transforms need only invert the spec's exact-integer
inverse transforms approximately: they are derived numerically as the
float inverses of this repo's own inverse WHT/DCT butterflies, and the
quantizer absorbs the rounding. The encoder tracks reconstruction
(prediction from reconstructed pixels, exactly like the decoder) so
its output planes match the decoder's bit-for-bit.

Tests round-trip through :func:`ocrs_spark.vp8.decode_vp8` and pin a
committed fixture against the system libwebp's decode of our own
bitstream (scripts/make_vp8enc_fixture.py) — cross-validating the
encoder against the reference decoder, not just our own.
"""

from __future__ import annotations

import struct

import numpy as np

from ocrs_spark.vp8 import (
    _BANDS,
    _CAT_BASES,
    _CAT_PROBS,
    _KF_YMODE_PROB,
    _UV_MODE_TREE,
    _KF_UV_MODE_PROB,
    _KF_YMODE_TREE,
    _ZIGZAG,
    AC_QLOOKUP,
    B_PRED,
    COEFF_PROBS,
    DC_PRED,
    DC_QLOOKUP,
    _idct_blocks,
    _inv_wht,
)


class _BoolEncoder:
    """Boolean arithmetic encoder (RFC 6386 §7.2): the exact inverse of
    the decoder's renormalization, with byte-walk carry propagation."""

    def __init__(self):
        self.out = bytearray()
        self.range = 255
        self.bottom = 0
        self.bit_count = 24

    def bool(self, prob: int, value: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if value:
            self.bottom += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.bottom & (1 << 31):  # carry out of the 32-bit window
                i = len(self.out) - 1
                while self.out[i] == 255:
                    self.out[i] = 0
                    i -= 1
                self.out[i] += 1
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= (1 << 24) - 1
                self.bit_count = 8

    def literal(self, value: int, n: int) -> None:
        for shift in range(n - 1, -1, -1):
            self.bool(128, (value >> shift) & 1)

    def tree(self, tree, probs, leaf: int, start: int = 0) -> None:
        # Walk from `start` emitting the branch bits that reach `leaf`.
        path = self._path(tree, leaf, start)
        i = start
        for bit in path:
            self.bool(probs[i >> 1], bit)
            i = tree[i + bit]

    @staticmethod
    def _path(tree, leaf: int, start: int):
        # DFS for the (unique) path whose terminal value is -leaf.
        stack = [(start, [])]
        while stack:
            i, path = stack.pop()
            for bit in (0, 1):
                nxt = tree[i + bit]
                if nxt <= 0:
                    if -nxt == leaf:
                        return path + [bit]
                else:
                    stack.append((nxt, path + [bit]))
        raise ValueError(f"leaf {leaf} not in tree")

    def finish(self) -> bytes:
        for _ in range(32):
            self.bool(128, 0)
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Forward transforms: float inverses of the repo's exact inverse
# butterflies (quantization absorbs the tiny nonlinearity of the
# inverse's >>16 truncations).


def _inverse_matrix(apply_int_inverse, scale_fix) -> np.ndarray:
    A = np.empty((16, 16))
    for j in range(16):
        e = np.zeros(16)
        e[j] = 1.0
        A[:, j] = scale_fix(e)
    return np.linalg.inv(A)


def _idct_float(c: np.ndarray) -> np.ndarray:
    c = c.reshape(4, 4).astype(np.float64)
    s2, c1 = 35468 / 65536.0, 20091 / 65536.0
    t = np.empty((4, 4))
    for j in range(4):
        i0, i1, i2, i3 = c[0, j], c[1, j], c[2, j], c[3, j]
        a1, b1 = i0 + i2, i0 - i2
        cc = i1 * s2 - (i3 + i3 * c1)
        d1 = (i1 + i1 * c1) + i3 * s2
        t[0, j], t[1, j], t[2, j], t[3, j] = a1 + d1, b1 + cc, b1 - cc, a1 - d1
    out = np.empty((4, 4))
    for i in range(4):
        i0, i1, i2, i3 = t[i, 0], t[i, 1], t[i, 2], t[i, 3]
        a1, b1 = i0 + i2, i0 - i2
        cc = i1 * s2 - (i3 + i3 * c1)
        d1 = (i1 + i1 * c1) + i3 * s2
        out[i] = [(a1 + d1) / 8, (b1 + cc) / 8, (b1 - cc) / 8, (a1 - d1) / 8]
    return out.reshape(16)


def _iwht_float(c: np.ndarray) -> np.ndarray:
    c = c.reshape(4, 4).astype(np.float64)
    t = np.empty((4, 4))
    for j in range(4):
        a1 = c[0, j] + c[3, j]
        b1 = c[1, j] + c[2, j]
        c1 = c[1, j] - c[2, j]
        d1 = c[0, j] - c[3, j]
        t[0, j], t[1, j], t[2, j], t[3, j] = a1 + b1, c1 + d1, a1 - b1, d1 - c1
    out = np.empty((4, 4))
    for i in range(4):
        a1 = t[i, 0] + t[i, 3]
        b1 = t[i, 1] + t[i, 2]
        c1 = t[i, 1] - t[i, 2]
        d1 = t[i, 0] - t[i, 3]
        out[i] = [(a1 + b1) / 8, (c1 + d1) / 8, (a1 - b1) / 8, (d1 - c1) / 8]
    return out.reshape(16)


_FDCT = _inverse_matrix(None, _idct_float)
_FWHT = _inverse_matrix(None, _iwht_float)


def _quantize(vec: np.ndarray, dq_dc: int, dq_ac: int) -> np.ndarray:
    q = np.empty(16, np.int64)
    q[0] = np.rint(vec[0] / dq_dc)
    q[1:] = np.rint(vec[1:] / dq_ac)
    return np.clip(q, -2047, 2047)


# ---------------------------------------------------------------------------
# Token writing (mirror of vp8._get_coeffs)


def _write_value(be: _BoolEncoder, p, v: int) -> None:
    av = abs(v)
    be.bool(p[2], av > 1)
    if av == 1:
        pass
    else:
        if av <= 4:
            be.bool(p[3], 0)
            if av == 2:
                be.bool(p[4], 0)
            else:
                be.bool(p[4], 1)
                be.bool(p[5], av - 3)
        else:
            be.bool(p[3], 1)
            cat = next(
                i for i in range(5, -1, -1) if av >= _CAT_BASES[i]
            )
            if cat <= 1:
                be.bool(p[6], 0)
                be.bool(p[7], cat)
            else:
                be.bool(p[6], 1)
                if cat <= 3:
                    be.bool(p[8], 0)
                    be.bool(p[9], cat - 2)
                else:
                    be.bool(p[8], 1)
                    be.bool(p[10], cat - 4)
            extra = av - _CAT_BASES[cat]
            for shift in range(len(_CAT_PROBS[cat]) - 1, -1, -1):
                be.bool(_CAT_PROBS[cat][shift_idx := len(_CAT_PROBS[cat]) - 1 - shift],
                        (extra >> shift) & 1)
    be.bool(128, 1 if v < 0 else 0)


def _write_coeffs(be: _BoolEncoder, plane_probs, ctx: int, first: int,
                  levels) -> bool:
    """Write one block's quantized levels (raster order, pre-zigzag is
    handled by the caller passing scan-ordered levels). Returns nz."""
    eob = 0
    for n in range(first, 16):
        if levels[n]:
            eob = n + 1
    p = plane_probs[_BANDS[first]][ctx]
    if eob <= first:
        be.bool(p[0], 0)  # immediate EOB
        return False
    n = first
    while n < eob:
        be.bool(p[0], 1)  # not EOB (only reachable after a nonzero)
        while levels[n] == 0:
            be.bool(p[1], 0)  # DCT_0
            n += 1
            p = plane_probs[_BANDS[n]][0]
        be.bool(p[1], 1)
        v = int(levels[n])
        _write_value(be, p, v)
        nctx = 1 if abs(v) == 1 else 2
        n += 1
        if n == 16:
            return True
        p = plane_probs[_BANDS[n]][nctx]
    be.bool(p[0], 0)  # EOB after the last nonzero
    return True


# ---------------------------------------------------------------------------


def _rgb_to_yuv420(rgb: np.ndarray):
    r = rgb[..., 0].astype(np.int32)
    g = rgb[..., 1].astype(np.int32)
    b = rgb[..., 2].astype(np.int32)
    y = ((66 * r + 129 * g + 25 * b + 128) >> 8) + 16
    u_full = ((-38 * r - 74 * g + 112 * b + 128) >> 8) + 128
    v_full = ((112 * r - 94 * g - 18 * b + 128) >> 8) + 128
    h, w = y.shape
    uh, uw = (h + 1) // 2, (w + 1) // 2

    def sub(p):
        pp = np.empty((uh * 2, uw * 2), np.int32)
        pp[:h, :w] = p
        if h & 1:
            pp[h, :w] = p[h - 1]
        if w & 1:
            pp[:h, w] = p[:, w - 1]
        if h & 1 and w & 1:
            pp[h, w] = p[h - 1, w - 1]
        q = (pp[0::2, 0::2] + pp[0::2, 1::2] + pp[1::2, 0::2] + pp[1::2, 1::2] + 2) >> 2
        return q

    return (
        np.clip(y, 0, 255).astype(np.uint8),
        np.clip(sub(u_full), 0, 255).astype(np.uint8),
        np.clip(sub(v_full), 0, 255).astype(np.uint8),
    )


def _pad_to_mb(plane: np.ndarray, size: int) -> np.ndarray:
    h, w = plane.shape
    H = (h + size - 1) // size * size
    W = (w + size - 1) // size * size
    out = np.empty((H, W), plane.dtype)
    out[:h, :w] = plane
    out[h:, :w] = plane[h - 1:h, :]  # replicate bottom row
    out[:, w:] = out[:, w - 1:w]     # replicate right column
    return out


def encode_vp8(rgb: np.ndarray, qindex: int = 12) -> bytes:
    """Encode an HWC uint8 RGB image as a VP8 keyframe chunk payload.
    ``qindex`` 0..127 picks the frame quantizer (lower = better)."""
    if rgb.ndim == 2:
        rgb = np.repeat(rgb[:, :, None], 3, axis=2)
    if rgb.shape[2] == 4:
        rgb = rgb[:, :, :3]
    height, width = rgb.shape[:2]
    if not (0 < width < 1 << 14 and 0 < height < 1 << 14):
        raise ValueError("VP8 dimensions must be 1..16383")
    qindex = max(0, min(127, int(qindex)))

    ysrc, usrc, vsrc = _rgb_to_yuv420(rgb)
    Y = _pad_to_mb(ysrc, 16).astype(np.int32)
    U = _pad_to_mb(usrc, 8).astype(np.int32)
    V = _pad_to_mb(vsrc, 8).astype(np.int32)
    mb_h, mb_w = Y.shape[0] // 16, Y.shape[1] // 16

    y1dc = DC_QLOOKUP[qindex]
    y1ac = AC_QLOOKUP[qindex]
    y2dc = DC_QLOOKUP[qindex] * 2
    y2ac = max(8, AC_QLOOKUP[qindex] * 155 // 100)
    uvdc = DC_QLOOKUP[min(qindex, 117)]
    uvac = AC_QLOOKUP[qindex]

    # Reconstruction planes with the decoder's virtual borders.
    RY = np.empty((Y.shape[0] + 1, Y.shape[1] + 1), np.int32)
    RU = np.empty((U.shape[0] + 1, U.shape[1] + 1), np.int32)
    RV = np.empty((V.shape[0] + 1, V.shape[1] + 1), np.int32)
    for P in (RY, RU, RV):
        P[0, :] = 127
        P[1:, 0] = 129

    n_mb = mb_h * mb_w
    y2_levels = np.zeros((n_mb, 16), np.int64)
    y_levels = np.zeros((n_mb, 16, 16), np.int64)
    u_levels = np.zeros((n_mb, 4, 16), np.int64)
    v_levels = np.zeros((n_mb, 4, 16), np.int64)

    def dc_pred(P, y0, x0, size, my, mx):
        A = P[y0 - 1, x0:x0 + size]
        L = P[y0:y0 + size, x0 - 1]
        if my > 0 and mx > 0:
            return (int(A.sum()) + int(L.sum()) + size) >> (5 if size == 16 else 4)
        if my > 0:
            return (int(A.sum()) + (size >> 1)) >> (4 if size == 16 else 3)
        if mx > 0:
            return (int(L.sum()) + (size >> 1)) >> (4 if size == 16 else 3)
        return 128

    def blocks_of(res, size):
        # size x size residual -> (size/4)^2 blocks of 16, raster order.
        nb = size // 4
        return res.reshape(nb, 4, nb, 4).transpose(0, 2, 1, 3).reshape(nb * nb, 16)

    for my in range(mb_h):
        for mx in range(mb_w):
            mb = my * mb_w + mx
            # ---- luma: 16x16 DC prediction, Y2 + 16 AC blocks
            y0, x0 = 1 + my * 16, 1 + mx * 16
            pred = dc_pred(RY, y0, x0, 16, my, mx)
            res = Y[my * 16:(my + 1) * 16, mx * 16:(mx + 1) * 16] - pred
            blocks = blocks_of(res, 16).astype(np.float64)
            coefs = blocks @ _FDCT.T
            dcs = coefs[:, 0].copy()
            wht = _FWHT @ dcs
            qy2 = _quantize(wht, y2dc, y2ac)
            y2_levels[mb] = qy2[list(_ZIGZAG)]  # scan order for writing
            # Decoder-side DC path: dequantize y2, inverse WHT.
            deq_y2 = [int(qy2[i]) * (y2dc if i == 0 else y2ac) for i in range(16)]
            dc_out = _inv_wht(deq_y2)
            deq = np.empty((16, 16), np.int64)
            for b in range(16):
                qb = _quantize(coefs[b], 1 << 30, y1ac)  # DC slot unused
                qb[0] = 0
                y_levels[mb, b] = qb[list(_ZIGZAG)]
                deq[b] = qb * y1ac
                deq[b, 0] = dc_out[b]
            recon = _idct_blocks(deq).reshape(4, 4, 4, 4).transpose(0, 2, 1, 3).reshape(16, 16)
            RY[y0:y0 + 16, x0:x0 + 16] = np.clip(pred + recon, 0, 255)
            # ---- chroma
            for SRC, RP, levels in ((U, RU, u_levels), (V, RV, v_levels)):
                c0y, c0x = 1 + my * 8, 1 + mx * 8
                cpred = dc_pred(RP, c0y, c0x, 8, my, mx)
                cres = SRC[my * 8:(my + 1) * 8, mx * 8:(mx + 1) * 8] - cpred
                cblocks = blocks_of(cres, 8).astype(np.float64)
                ccoefs = cblocks @ _FDCT.T
                cdeq = np.empty((4, 16), np.int64)
                for b in range(4):
                    qb = _quantize(ccoefs[b], uvdc, uvac)
                    levels[mb, b] = qb[list(_ZIGZAG)]
                    cdeq[b] = qb * uvac
                    cdeq[b, 0] = qb[0] * uvdc
                crecon = _idct_blocks(cdeq).reshape(2, 2, 4, 4).transpose(0, 2, 1, 3).reshape(8, 8)
                RP[c0y:c0y + 8, c0x:c0x + 8] = np.clip(cpred + crecon, 0, 255)

    # ------------------------------------------------ partition 1
    be = _BoolEncoder()
    be.literal(0, 1)  # color_space
    be.literal(0, 1)  # clamping_type
    be.literal(0, 1)  # segmentation_enabled
    be.literal(0, 1)  # filter_type (normal; level 0 disables anyway)
    be.literal(0, 6)  # loop_filter_level = 0
    be.literal(0, 3)  # sharpness
    be.literal(0, 1)  # lf delta enabled
    be.literal(0, 2)  # log2 token partitions = 0 -> 1 partition
    be.literal(qindex, 7)  # y_ac_qi
    for _ in range(5):  # no quant deltas
        be.literal(0, 1)
    be.literal(0, 1)  # refresh_entropy_probs
    # No coefficient probability updates: one zero bool per update prob.
    from ocrs_spark.vp8 import COEFF_UPDATE_PROBS

    for t in range(4):
        for b in range(8):
            for c in range(3):
                upd = COEFF_UPDATE_PROBS[t][b][c]
                for p in range(11):
                    be.bool(upd[p], 0)
    # mb_no_coeff_skip: flag all-zero MBs so their token blocks are not
    # coded at all — the decoder's skip path (zeroed contexts, no token
    # reads) is a distinct code path worth exercising end-to-end.
    skip_flags = [
        not (
            y2_levels[mb].any()
            or y_levels[mb].any()
            or u_levels[mb].any()
            or v_levels[mb].any()
        )
        for mb in range(n_mb)
    ]
    use_skip = any(skip_flags)
    skip_prob = 128
    be.literal(1 if use_skip else 0, 1)
    if use_skip:
        be.literal(skip_prob, 8)
    for mb in range(n_mb):
        if use_skip:
            be.bool(skip_prob, 1 if skip_flags[mb] else 0)
        be.tree(_KF_YMODE_TREE, _KF_YMODE_PROB, DC_PRED)
        be.tree(_UV_MODE_TREE, _KF_UV_MODE_PROB, DC_PRED)
    part1 = be.finish()

    # ------------------------------------------------ token partition
    te = _BoolEncoder()
    probs = COEFF_PROBS
    above_y = np.zeros((mb_w, 4), np.uint8)
    above_u = np.zeros((mb_w, 2), np.uint8)
    above_v = np.zeros((mb_w, 2), np.uint8)
    above_y2 = np.zeros(mb_w, np.uint8)
    for my in range(mb_h):
        left_y = np.zeros(4, np.uint8)
        left_u = np.zeros(2, np.uint8)
        left_v = np.zeros(2, np.uint8)
        left_y2 = 0
        for mx in range(mb_w):
            mb = my * mb_w + mx
            if use_skip and skip_flags[mb]:
                # Skipped MB: no tokens; contexts zero (all our MBs
                # carry Y2, so its context zeroes too — decoder rule).
                left_y[:] = 0
                above_y[mx, :] = 0
                left_u[:] = 0
                above_u[mx, :] = 0
                left_v[:] = 0
                above_v[mx, :] = 0
                left_y2 = 0
                above_y2[mx] = 0
                continue
            ctx = above_y2[mx] + left_y2
            nz = _write_coeffs(te, probs[1], ctx, 0, y2_levels[mb])
            above_y2[mx] = left_y2 = 1 if nz else 0
            for b in range(16):
                r, c = b >> 2, b & 3
                ctx = above_y[mx, c] + left_y[r]
                nz = _write_coeffs(te, probs[0], ctx, 1, y_levels[mb, b])
                above_y[mx, c] = left_y[r] = 1 if nz else 0
            for levels, pl, anz, lnz in (
                (u_levels, probs[2], above_u, left_u),
                (v_levels, probs[2], above_v, left_v),
            ):
                for b in range(4):
                    r, c = b >> 1, b & 1
                    ctx = anz[mx, c] + lnz[r]
                    nz = _write_coeffs(te, pl, ctx, 0, levels[mb, b])
                    anz[mx, c] = lnz[r] = 1 if nz else 0
    tokens = te.finish()

    # ------------------------------------------------ frame assembly
    tag = (len(part1) << 5) | (1 << 4) | 0  # keyframe, version 0, show
    header = bytes(
        [tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF]
    ) + b"\x9d\x01\x2a" + struct.pack("<HH", width, height)
    return header + part1 + tokens


def encode_webp_lossy(rgb: np.ndarray, qindex: int = 12) -> bytes:
    """Wrap an encoded VP8 keyframe in a RIFF WebP container."""
    payload = encode_vp8(rgb, qindex=qindex)
    if len(payload) & 1:
        padded = payload + b"\x00"
    else:
        padded = payload
    chunk = b"VP8 " + struct.pack("<I", len(payload)) + padded
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

"""Pure-Python/numpy baseline and progressive JPEG decoder (ITU-T T.81
public spec).

Counterpart of the reference file scan's JPEG support
(ocrs-cli/src/main.rs:319-323 loads PNG/JPEG/WebP via the image crate):
real corpora are mostly JPEG, and this sandbox has no native codec, so
JPEG decoding is implemented from the spec the same way the PNG reader
in codec.py is.

Baseline sequential DCT (SOF0/SOF1, interleaved or multi-scan
non-interleaved) AND progressive DCT (SOF2: spectral selection,
successive approximation, EOB runs — T.81 G.1.2), 8-bit, grey or
YCbCr, any sampling factors with integer ratios (4:4:4, 4:2:2, 4:2:0),
restart intervals. Every scan accumulates into persistent per-component
coefficient arrays; one vectorized IDCT runs at the end. Arithmetic
coding, 12-bit and hierarchical JPEG raise UnsupportedImageError.

The reference CLI only decodes JPEG, and so does the package: the
encoders that generate the decoder's test inputs live in
``tests/jpeg_encode.py``.

Throughput note: the IDCT and color transforms are vectorized numpy
over whole planes; the entropy decoder is a per-symbol Python loop. In
the Spark pipeline decode happens inside mapInPandas where a real
deployment would swap in a native codec via the same decode_image seam.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec import UnsupportedImageError


def _zigzag_positions():
    """Zigzag scan order: list of (row, col), index 0..63."""
    out = []
    for d in range(15):
        diag = [(d - k, k) for k in range(max(0, d - 7), min(d, 7) + 1)]
        if d % 2 == 1:
            diag.reverse()
        out.extend(diag)
    return out


_ZIGZAG = _zigzag_positions()
# flat index (row*8+col) of the i-th zigzag entry
_ZIGZAG_FLAT = np.array([r * 8 + c for r, c in _ZIGZAG])

# Orthonormal DCT-II basis: dct2(B) = _C @ B @ _C.T, idct2 = _C.T @ B @ _C.
_C = np.zeros((8, 8))
for _u in range(8):
    _cu = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _C[_u, _x] = 0.5 * _cu * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _build_decoder(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman: (length, code) -> value."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table




class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill_byte(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed
            else:
                # Marker mid-entropy-data: treat as truncated stream
                # padding (spec allows optional fill before markers).
                self.pos -= 1
                b = 0
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill_byte()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.acc = 0
        self.nbits = 0
        if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
            self.pos += 2
            return
        raise UnsupportedImageError("expected JPEG restart marker")


def _read_huff(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bits(1)
        v = table.get((length, code))
        if v is not None:
            return v
    raise UnsupportedImageError("invalid JPEG Huffman code")


def _receive_extend(br: _BitReader, size: int) -> int:
    if size == 0:
        return 0
    v = br.read_bits(size)
    if v < (1 << (size - 1)):
        v -= (1 << size) - 1
    return v


def _skip_to_marker(data: bytes, pos: int) -> int:
    """Advance past entropy-coded data to the next real marker (skipping
    stuffed 0xFF00 and RSTn)."""
    n = len(data)
    while pos < n - 1:
        if data[pos] == 0xFF and data[pos + 1] not in (0x00,) and not (
            0xD0 <= data[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return n


class _ScanDecoder:
    """Entropy decode of one scan (sequential or progressive) into the
    persistent per-component zigzag coefficient arrays (T.81 G.1.2)."""

    def __init__(self, br, coeffs, htables, progressive, restart_interval):
        self.br = br
        self.coeffs = coeffs
        self.htables = htables
        self.progressive = progressive
        self.restart_interval = restart_interval
        self.eobrun = 0

    def run(self, frame, scan_comps, ss, se, ah, al, mcux, mcuy, hmax, vmax):
        br = self.br
        preds = {c["id"]: 0 for c in scan_comps}
        unit = 0

        def maybe_restart():
            nonlocal preds
            if (
                self.restart_interval
                and unit
                and unit % self.restart_interval == 0
            ):
                br.restart()
                preds = {c["id"]: 0 for c in scan_comps}
                self.eobrun = 0

        if len(scan_comps) > 1:  # interleaved: MCU order
            for my in range(mcuy):
                for mx in range(mcux):
                    maybe_restart()
                    for c in scan_comps:
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                self._block(
                                    c,
                                    my * c["v"] + by,
                                    mx * c["h"] + bx,
                                    ss,
                                    se,
                                    ah,
                                    al,
                                    preds,
                                )
                    unit += 1
        else:  # non-interleaved: the component's own block raster
            c = scan_comps[0]
            w, h = frame["w"], frame["h"]
            comp_w = -(-w * c["h"] // hmax)
            comp_h = -(-h * c["v"] // vmax)
            bxs = -(-comp_w // 8)
            bys = -(-comp_h // 8)
            for by in range(bys):
                for bx in range(bxs):
                    maybe_restart()
                    self._block(c, by, bx, ss, se, ah, al, preds)
                    unit += 1

    def _block(self, c, by, bx, ss, se, ah, al, preds):
        zz = self.coeffs[c["id"]][by, bx]
        if not self.progressive:
            self._sequential(c, zz, preds)
        elif ss == 0:
            if ah == 0:
                self._dc_first(c, zz, al, preds)
            else:
                self._dc_refine(zz, al)
        else:
            if ah == 0:
                self._ac_first(c, zz, ss, se, al)
            else:
                self._ac_refine(c, zz, ss, se, al)

    def _sequential(self, c, zz, preds):
        br = self.br
        dc_tbl = self.htables[(0, c["dc"])]
        ac_tbl = self.htables[(1, c["ac"])]
        s = _read_huff(br, dc_tbl)
        preds[c["id"]] += _receive_extend(br, s)
        zz[0] = preds[c["id"]]
        k = 1
        while k < 64:
            rs = _read_huff(br, ac_tbl)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise UnsupportedImageError("JPEG AC run overflow")
            zz[k] = _receive_extend(br, s)
            k += 1

    def _dc_first(self, c, zz, al, preds):
        s = _read_huff(self.br, self.htables[(0, c["dc"])])
        preds[c["id"]] += _receive_extend(self.br, s)
        zz[0] = preds[c["id"]] << al

    def _dc_refine(self, zz, al):
        if self.br.read_bits(1):
            zz[0] |= 1 << al

    def _ac_first(self, c, zz, ss, se, al):
        if self.eobrun > 0:
            self.eobrun -= 1
            return
        br = self.br
        ac_tbl = self.htables[(1, c["ac"])]
        k = ss
        while k <= se:
            rs = _read_huff(br, ac_tbl)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    self.eobrun = (1 << r) - 1
                    if r:
                        self.eobrun += br.read_bits(r)
                    break
                k += 16
            else:
                k += r
                if k > se:
                    raise UnsupportedImageError("JPEG AC run overflow")
                zz[k] = _receive_extend(br, s) << al
                k += 1

    def _ac_refine(self, c, zz, ss, se, al):
        """Successive-approximation AC refinement (T.81 G.1.2.3): new
        coefficients are placed with bit al; already-nonzero ones
        receive a correction bit whenever the scan passes over them."""
        br = self.br
        ac_tbl = self.htables[(1, c["ac"])]
        p1 = 1 << al
        k = ss
        if self.eobrun == 0:
            while k <= se:
                rs = _read_huff(br, ac_tbl)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r < 15:
                        # Full run count INCLUDING this block: the tail
                        # loop below still owes this block's correction
                        # bits, then decrements (unlike _ac_first, where
                        # the current block ends with nothing to read).
                        self.eobrun = 1 << r
                        if r:
                            self.eobrun += br.read_bits(r)
                        break
                    newval = 0  # ZRL: skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise UnsupportedImageError("bad AC refinement size")
                    newval = p1 if br.read_bits(1) else -p1
                # Advance over r zero-history coefficients, applying
                # correction bits to nonzero ones crossed on the way
                # (history-nonzero coefficients never count toward r).
                while k <= se:
                    if zz[k] != 0:
                        if br.read_bits(1):
                            if not (abs(int(zz[k])) & p1):
                                zz[k] += p1 if zz[k] > 0 else -p1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if s != 0:
                    if k > se:
                        raise UnsupportedImageError("JPEG AC refine overflow")
                    zz[k] = newval
                k += 1
        if self.eobrun > 0:
            # Inside an EOB run only correction bits are coded.
            while k <= se:
                if zz[k] != 0 and br.read_bits(1):
                    if not (abs(int(zz[k])) & p1):
                        zz[k] += p1 if zz[k] > 0 else -p1
                k += 1
            self.eobrun -= 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline (SOF0/SOF1) or progressive (SOF2) JPEG to an
    HWC uint8 array (1 or 3 channels). Multi-scan sequential files are
    handled by the same coefficient-accumulation path as progressive."""
    if data[:2] != b"\xff\xd8":
        raise UnsupportedImageError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    restart_interval = 0
    coeffs: dict[int, np.ndarray] = {}
    mcux = mcuy = hmax = vmax = 0
    saw_scan = False

    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            raise UnsupportedImageError("bad JPEG marker stream")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 15
                if prec != 0:
                    raise UnsupportedImageError("16-bit quant tables unsupported")
                zz = np.frombuffer(seg, dtype=np.uint8, count=64, offset=p + 1)
                q = np.zeros(64)
                q[_ZIGZAG_FLAT] = zz
                qtables[tid] = q.reshape(8, 8).astype(np.float64)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tclass, tid = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                htables[(tclass, tid)] = _build_decoder(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 baseline, SOF2 progressive
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise UnsupportedImageError(f"{prec}-bit JPEG unsupported")
            progressive = marker == 0xC2
            comps = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if hmax < 1 or vmax < 1 or any(
                hmax % c["h"] or vmax % c["v"] for c in comps
            ):
                raise UnsupportedImageError(
                    "non-integer JPEG sampling ratios unsupported"
                )
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            coeffs = {
                c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
                for c in comps
            }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise UnsupportedImageError(
                "unsupported JPEG coding (lossless/arithmetic/hierarchical)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise UnsupportedImageError("JPEG SOS before SOF")
            ns = seg[0]
            by_id = {c["id"]: c for c in frame["comps"]}
            scan_comps = []
            for i in range(ns):
                cid, tt = seg[1 + 2 * i : 3 + 2 * i]
                if cid not in by_id:
                    raise UnsupportedImageError("JPEG scan names unknown component")
                c = dict(by_id[cid])
                c["dc"], c["ac"] = tt >> 4, tt & 15
                scan_comps.append(c)
            ss, se, a = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = a >> 4, a & 15
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            br = _BitReader(data, pos + seglen)
            _ScanDecoder(br, coeffs, htables, progressive, restart_interval).run(
                frame, scan_comps, ss, se, ah, al, mcux, mcuy, hmax, vmax
            )
            saw_scan = True
            pos = _skip_to_marker(data, br.pos)
            continue
        pos += seglen
    if frame is None or not saw_scan:
        raise UnsupportedImageError("JPEG missing SOF/SOS")

    # Dequantize + vectorized IDCT over every block of every component.
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    out_planes = []
    for c in comps:
        zz = coeffs[c["id"]].astype(np.float64)  # (by, bx, 64) zigzag
        nat = np.zeros_like(zz)
        nat[:, :, _ZIGZAG_FLAT] = zz
        blocks = nat.reshape(zz.shape[0], zz.shape[1], 8, 8) * qtables[c["tq"]]
        spatial = np.einsum("iu,ryuv,vj->ryij", _C.T, blocks, _C) + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(
            zz.shape[0] * 8, zz.shape[1] * 8
        )
        ch = -(-h * c["v"] // vmax)
        cw = -(-w * c["h"] // hmax)
        p = plane[:ch, :cw]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out_planes.append(p[:h, :w])

    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)[:, :, None]
    if len(out_planes) != 3:
        raise UnsupportedImageError(f"{len(out_planes)}-component JPEG unsupported")
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)

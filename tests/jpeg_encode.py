"""JPEG encoders (ITU-T T.81), the input generators of the decoder tests.

``ocrs_spark.jpeg`` only decodes, like the reference CLI. These encoders
produce the streams its property, robustness and fixture tests decode:

- ``encode_jpeg``: baseline sequential, standard Annex K quantization
  with IJG quality scaling and Annex K Huffman tables, 4:4:4 or 4:2:0;
- ``encode_jpeg_progressive``: a 5-stage spectral-selection +
  successive-approximation scan script with per-scan frequency-built
  Huffman tables; 4:4:4, 4:2:0 or greyscale;
- ``encode_jpeg_multiscan``: multi-scan sequential (one
  non-interleaved scan per component).

The DCT and color transforms are vectorized numpy over whole planes;
the entropy coder is a per-symbol Python loop, fine for test inputs.
"""

from __future__ import annotations

import struct

import numpy as np

from ocrs_spark.codec import UnsupportedImageError
from ocrs_spark.jpeg import _C, _ZIGZAG_FLAT
from ocrs_spark.webp import _package_merge

# Annex K.1 / K.2 base quantization tables (row-major 8x8).
_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
).reshape(8, 8)

_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.float64,
).reshape(8, 8)

# Annex K.3 standard Huffman tables: (BITS[1..16], HUFFVAL).
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _scaled_qtable(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling (1..100)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = np.floor((base * scale + 50) / 100)
    return np.clip(q, 1, 255)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: value -> (code, length)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


# ------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits

    def restart_marker(self, idx: int) -> None:
        """Byte-align and emit RSTn (markers bypass byte stuffing)."""
        self.align()
        self.out += bytes([0xFF, 0xD0 + (idx & 7)])

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (size, appended bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_blocks(writer, plane, qtable, dc_codes, ac_codes, pred):
    """DCT + quantize + Huffman-encode every 8x8 block of a plane (row-
    major block order). Returns the updated DC predictor."""
    h, w = plane.shape
    shifted = plane.astype(np.float64) - 128.0
    # Vectorized 2D DCT of all blocks at once.
    blocks = shifted.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
    coefs = np.einsum("ux,ryxc,cv->ryuv", _C, blocks, _C.T)
    quant = np.round(coefs / qtable).astype(np.int32)
    for by in range(quant.shape[0]):
        for bx in range(quant.shape[1]):
            pred = _encode_one_block(writer, quant[by, bx], dc_codes, ac_codes, pred)
    return pred


def _encode_one_block(writer, qblock, dc_codes, ac_codes, pred):
    zz = qblock.reshape(-1)[_ZIGZAG_FLAT]
    diff = int(zz[0]) - pred
    pred = int(zz[0])
    size, bits = _magnitude(diff)
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(bits, size)
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    end = (last_nz[-1] + 2) if last_nz.size else 1
    for k in range(1, end):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        writer.write(bits, size)
        run = 0
    if end < 64:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return pred


def _pad_to(plane: np.ndarray, mult_h: int, mult_w: int) -> np.ndarray:
    h, w = plane.shape
    ph = (-h) % mult_h
    pw = (-w) % mult_w
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _rgb_to_ycbcr(img: np.ndarray):
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def _dqt_segment(tid: int, qtable: np.ndarray) -> bytes:
    zz = qtable.reshape(-1)[_ZIGZAG_FLAT].astype(np.uint8)
    return b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, tid) + zz.tobytes()


def _dht_segment(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    payload = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload


def encode_jpeg(img: np.ndarray, quality: int = 85, subsample: bool = False) -> bytes:
    """Encode an HW / HW1 (grey) or HWC-RGB uint8 array as baseline
    JPEG. ``subsample=True`` emits 4:2:0 chroma (2x2-averaged), else
    4:4:4."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[:, :, 0]
    grey = img.ndim == 2
    if not grey and img.shape[2] != 3:
        raise UnsupportedImageError(f"cannot JPEG-encode {img.shape[2]} channels")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise UnsupportedImageError("empty image")

    qy = _scaled_qtable(_Q_LUMA, quality)
    qc = _scaled_qtable(_Q_CHROMA, quality)
    dc_y = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_y = _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)

    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(
        [1, 1, 0]
    ) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    out += _dqt_segment(0, qy)
    if not grey:
        out += _dqt_segment(1, qc)

    if grey:
        comps = [(1, 1, 1, 0)]
    elif subsample:
        comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    else:
        comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    out += _dht_segment(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += _dht_segment(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not grey:
        out += _dht_segment(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += _dht_segment(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)

    sos = bytes([len(comps)])
    for cid, _, _, tq in comps:
        sos += bytes([cid, (tq << 4) | tq])  # DC/AC table id == quant id
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    writer = _BitWriter()
    if grey:
        plane = _pad_to(img.astype(np.float64), 8, 8)
        _encode_blocks(writer, plane, qy, dc_y, ac_y, 0)
    else:
        y, cb, cr = _rgb_to_ycbcr(img)
        if subsample:
            y = _pad_to(y, 16, 16)
            cb = _pad_to(cb, 16, 16)
            cr = _pad_to(cr, 16, 16)
            # 2x2 box average, then the chroma planes are 8|: one block
            # per MCU.
            cb = cb.reshape(cb.shape[0] // 2, 2, cb.shape[1] // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(cr.shape[0] // 2, 2, cr.shape[1] // 2, 2).mean(axis=(1, 3))
            preds = {1: 0, 2: 0, 3: 0}
            # Interleaved MCUs: 4 Y blocks (2x2), 1 Cb, 1 Cr per MCU.
            # Quantize whole planes once, then emit in MCU order.
            planes = {1: (y, qy, dc_y, ac_y), 2: (cb, qc, dc_c, ac_c), 3: (cr, qc, dc_c, ac_c)}
            quants = {}
            for cid, (p, q, _, _) in planes.items():
                sh = p.astype(np.float64) - 128.0
                blocks = sh.reshape(p.shape[0] // 8, 8, p.shape[1] // 8, 8).transpose(0, 2, 1, 3)
                quants[cid] = np.round(
                    np.einsum("ux,ryxc,cv->ryuv", _C, blocks, _C.T) / q
                ).astype(np.int32)
            mcuy, mcux = y.shape[0] // 16, y.shape[1] // 16
            for my in range(mcuy):
                for mx in range(mcux):
                    for by in range(2):
                        for bx in range(2):
                            preds[1] = _encode_one_block(
                                writer, quants[1][my * 2 + by, mx * 2 + bx], dc_y, ac_y, preds[1]
                            )
                    preds[2] = _encode_one_block(writer, quants[2][my, mx], dc_c, ac_c, preds[2])
                    preds[3] = _encode_one_block(writer, quants[3][my, mx], dc_c, ac_c, preds[3])
        else:
            y = _pad_to(y, 8, 8)
            cb = _pad_to(cb, 8, 8)
            cr = _pad_to(cr, 8, 8)
            planes = [(y, qy, dc_y, ac_y), (cb, qc, dc_c, ac_c), (cr, qc, dc_c, ac_c)]
            quants = []
            for p, q, dcc, acc in planes:
                sh = p.astype(np.float64) - 128.0
                blocks = sh.reshape(p.shape[0] // 8, 8, p.shape[1] // 8, 8).transpose(0, 2, 1, 3)
                quants.append(np.round(np.einsum("ux,ryxc,cv->ryuv", _C, blocks, _C.T) / q).astype(np.int32))
            preds = [0, 0, 0]
            mcuy, mcux = y.shape[0] // 8, y.shape[1] // 8
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci, (_, _, dcc, acc) in enumerate(planes):
                        preds[ci] = _encode_one_block(writer, quants[ci][my, mx], dcc, acc, preds[ci])
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -------------------------------------------------- progressive encoder


def _jpeg_huffman_spec(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """(BITS, HUFFVAL) for a canonical JPEG Huffman table built from
    symbol frequencies (length-limited to 16). A dummy symbol 256 with
    frequency 1 is added and then dropped: it sorts after every real
    symbol so it absorbs the final (all-ones) code, satisfying JPEG's
    prohibition of all-1 codes without disturbing the real codes."""
    f = {s: max(1, int(c)) for s, c in freqs.items() if c > 0}
    if not f:
        f = {0: 1}
    f[256] = 1
    lengths = _package_merge(f, 16)
    pairs = sorted((l, s) for s, l in lengths.items())
    bits = [0] * 16
    vals: list[int] = []
    for l, s in pairs:
        if s == 256:
            continue
        bits[l - 1] += 1
        vals.append(s)
    return bits, vals


def _play_ops(ops, codes, writer) -> None:
    for op in ops:
        if op[0] == "s":
            c, n = codes[op[1]]
            writer.write(c, n)
        elif op[0] == "r":
            writer.restart_marker(op[1])
        else:
            writer.write(op[1], op[2])


def _count_syms(ops) -> dict[int, int]:
    freq: dict[int, int] = {}
    for op in ops:
        if op[0] == "s":
            freq[op[1]] = freq.get(op[1], 0) + 1
    return freq


def _dc_first_ops(qcoeffs, comps, mcux, mcuy, al, restart_interval=0):
    """Interleaved DC scan ops per component table class (one op list
    per component id); RSTn sentinels + DC predictor resets every
    ``restart_interval`` MCUs."""
    preds = {c["id"]: 0 for c in comps}
    merged: list = []  # (component id, op) in interleaved stream order
    unit = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and unit and unit % restart_interval == 0:
                merged.append((None, ("r", rst)))
                rst = (rst + 1) & 7
                preds = {c["id"]: 0 for c in comps}
            unit += 1
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        dc = int(qcoeffs[c["id"]][my * c["v"] + by, mx * c["h"] + bx, 0])
                        v = dc >> al  # arithmetic shift per T.81 point transform
                        diff = v - preds[c["id"]]
                        preds[c["id"]] = v
                        size, bits_ = _magnitude(diff)
                        merged.append((c["id"], ("s", size)))
                        if size:
                            merged.append((c["id"], ("b", bits_, size)))
    return merged


def _dc_refine_ops(qcoeffs, comps, mcux, mcuy, al, restart_interval=0):
    merged: list = []
    unit = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and unit and unit % restart_interval == 0:
                merged.append((None, ("r", rst)))
                rst = (rst + 1) & 7
            unit += 1
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        dc = int(qcoeffs[c["id"]][my * c["v"] + by, mx * c["h"] + bx, 0])
                        merged.append((c["id"], ("b", (dc >> al) & 1, 1)))
    return merged


def _trunc_shift(v: int, al: int) -> int:
    """AC point transform: divide by 2^al truncating toward zero."""
    return -((-v) >> al) if v < 0 else v >> al


def _flush_eobrun(ops, state):
    n = state["eobrun"]
    if n:
        r = n.bit_length() - 1
        ops.append(("s", r << 4))
        if r:
            ops.append(("b", n - (1 << r), r))
        state["eobrun"] = 0
    ops.extend(state["pending"])
    state["pending"] = []


def _ac_first_ops(blocks, ss, se, al):
    """Ops for one component's AC first scan (T.81 G.1.2.2), blocks in
    non-interleaved raster order; EOB runs across blocks."""
    ops: list = []
    state = {"eobrun": 0, "pending": []}
    for zz in blocks:
        r = 0
        any_emitted = False
        for k in range(ss, se + 1):
            v = _trunc_shift(int(zz[k]), al)
            if v == 0:
                r += 1
                continue
            _flush_eobrun(ops, state)
            while r > 15:
                ops.append(("s", 0xF0))
                r -= 16
            size, bits_ = _magnitude(v)
            ops.append(("s", (r << 4) | size))
            ops.append(("b", bits_, size))
            r = 0
            any_emitted = True
        if r > 0 or not any_emitted:
            state["eobrun"] += 1
            if state["eobrun"] == 0x7FFF:
                _flush_eobrun(ops, state)
    _flush_eobrun(ops, state)
    return ops


def _ac_refine_ops(blocks, ss, se, al):
    """Ops for one component's AC refinement scan (T.81 G.1.2.3, the
    libjpeg BE-buffer discipline): correction bits for history-nonzero
    coefficients are buffered and flushed immediately after the next
    emitted code; a ZRL is emitted at the FIRST nonzero coefficient
    reached once the zero-history run exceeds 15 (and only when a later
    newly-nonzero coefficient exists in the block — otherwise the run
    folds into the EOB run)."""
    ops: list = []
    state = {"eobrun": 0, "pending": []}
    for zz in blocks:
        absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        eob_rel = -1  # last newly-nonzero position (relative)
        for i, t in enumerate(absv):
            if t == 1:
                eob_rel = i
        r = 0
        bits: list = []  # correction bits since the last emitted code
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i <= eob_rel:
                _flush_eobrun(ops, state)
                ops.append(("s", 0xF0))
                ops.extend(bits)
                bits = []
                r -= 16
            if t > 1:
                bits.append(("b", t & 1, 1))
                continue
            _flush_eobrun(ops, state)
            v = int(zz[ss + i])
            ops.append(("s", (r << 4) | 1))
            ops.append(("b", 1 if v > 0 else 0, 1))
            ops.extend(bits)
            bits = []
            r = 0
        if r > 0 or bits:
            state["eobrun"] += 1
            state["pending"].extend(bits)
            if state["eobrun"] == 0x7FFF:
                _flush_eobrun(ops, state)
    _flush_eobrun(ops, state)
    return ops


def _component_qcoeffs(img: np.ndarray, quality: int, subsample: bool):
    """Shared encoder front half: quantized zigzag coefficient arrays per
    component at interleaved padded dims, plus frame metadata."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, nch = img.shape
    qy = _scaled_qtable(_Q_LUMA, quality)
    qc = _scaled_qtable(_Q_CHROMA, quality)
    if nch == 1:
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0}]
        planes = {1: img[:, :, 0].astype(np.float64)}
        qts = {0: qy}
    elif nch == 3 and subsample:
        # 4:2:0: pad to MCU multiples first, then 2x2 box-average the
        # chroma — the same order as the baseline encoder, so the
        # quantized coefficients are identical between the two.
        y, cb, cr = _rgb_to_ycbcr(img)
        y = _pad_to(y, 16, 16)
        cb = _pad_to(cb, 16, 16)
        cr = _pad_to(cr, 16, 16)
        cb = cb.reshape(cb.shape[0] // 2, 2, cb.shape[1] // 2, 2).mean(axis=(1, 3))
        cr = cr.reshape(cr.shape[0] // 2, 2, cr.shape[1] // 2, 2).mean(axis=(1, 3))
        comps = [
            {"id": 1, "h": 2, "v": 2, "tq": 0},
            {"id": 2, "h": 1, "v": 1, "tq": 1},
            {"id": 3, "h": 1, "v": 1, "tq": 1},
        ]
        planes = {1: y, 2: cb, 3: cr}
        qts = {0: qy, 1: qc}
    elif nch == 3:
        y, cb, cr = _rgb_to_ycbcr(img)
        comps = [
            {"id": 1, "h": 1, "v": 1, "tq": 0},
            {"id": 2, "h": 1, "v": 1, "tq": 1},
            {"id": 3, "h": 1, "v": 1, "tq": 1},
        ]
        planes = {1: y, 2: cb, 3: cr}
        qts = {0: qy, 1: qc}
    else:
        raise UnsupportedImageError(f"cannot encode {nch}-channel JPEG")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    qcoeffs = {}
    for c in comps:
        p = _pad_to(planes[c["id"]], mcuy * c["v"] * 8, mcux * c["h"] * 8)
        sh = p.astype(np.float64) - 128.0
        blocks = sh.reshape(p.shape[0] // 8, 8, p.shape[1] // 8, 8).transpose(0, 2, 1, 3)
        q = np.round(
            np.einsum("ux,ryxc,cv->ryuv", _C, blocks, _C.T) / qts[c["tq"]]
        ).astype(np.int32)
        # store zigzag-ordered flat coefficients
        flat = q.reshape(q.shape[0], q.shape[1], 64)
        zz = flat[:, :, _ZIGZAG_FLAT]
        qcoeffs[c["id"]] = zz
    return h, w, comps, qcoeffs, qts, mcux, mcuy, hmax, vmax


def _sos_segment(scan_comps, table_ids, ss, se, ah, al) -> bytes:
    seg = bytes([len(scan_comps)])
    for c in scan_comps:
        dc_id, ac_id = table_ids[c["id"]]
        seg += bytes([c["id"], (dc_id << 4) | ac_id])
    seg += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", len(seg) + 2) + seg


def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode a progressive (SOF2) JPEG — greyscale, 4:4:4 or 4:2:0.

    Scan script (a realistic spectral-selection + successive-
    approximation ladder, exercising every progressive decode path):
      1. DC first, all components interleaved (Ah=0, Al=1)
      2. DC refine (Ah=1, Al=0)
      3. per component: AC 1..5  first (Al=1)
      4. per component: AC 6..63 first (Al=1)
      5. per component: AC 1..63 refine (Ah=1, Al=0)
    AC Huffman tables are built per scan from actual symbol frequencies
    (Annex K tables lack the EOBn codes progressive needs)."""
    h, w, comps, qcoeffs, qts, mcux, mcuy, hmax, vmax = _component_qcoeffs(
        img, quality, subsample
    )

    out = bytearray(b"\xff\xd8")
    out += _dqt_segment(0, qts[0])
    if 1 in qts:
        out += _dqt_segment(1, qts[1])
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)  # DRI
    # DC tables: Annex K (sizes 0..11 are all present).
    out += _dht_segment(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    if len(comps) > 1:
        out += _dht_segment(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
    dc_codes = {
        1: _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
        2: _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
        3: _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    }
    table_ids = {c["id"]: (0 if c["id"] == 1 else 1, 0) for c in comps}

    def comp_blocks(c):
        bxs = -(-(-(-w * c["h"] // hmax)) // 8)
        bys = -(-(-(-h * c["v"] // vmax)) // 8)
        zz = qcoeffs[c["id"]]
        return [zz[by, bx] for by in range(bys) for bx in range(bxs)]

    # Scan 1: DC first (interleaved, Al=1).
    out += _sos_segment(comps, table_ids, 0, 0, 0, 1)
    bw = _BitWriter()
    for cid, op in _dc_first_ops(qcoeffs, comps, mcux, mcuy, 1, restart_interval):
        if op[0] == "r":
            bw.restart_marker(op[1])
        elif op[0] == "s":
            c, n = dc_codes[cid][op[1]]
            bw.write(c, n)
        else:
            bw.write(op[1], op[2])
    out += bw.flush()

    # Scan 2: DC refine (Ah=1, Al=0) — raw bits only.
    out += _sos_segment(comps, table_ids, 0, 0, 1, 0)
    bw = _BitWriter()
    for _, op in _dc_refine_ops(qcoeffs, comps, mcux, mcuy, 0, restart_interval):
        if op[0] == "r":
            bw.restart_marker(op[1])
        else:
            bw.write(op[1], op[2])
    out += bw.flush()

    # AC scans per component, custom per-scan Huffman table id 0.
    ac_scans = [(1, 5, 0, 1), (6, 63, 0, 1), (1, 63, 1, 0)]
    for ss, se, ah, al in ac_scans:
        for c in comps:
            blocks = comp_blocks(c)
            fn = _ac_refine_ops if ah else _ac_first_ops
            if restart_interval:
                ops = []
                rst = 0
                for start in range(0, len(blocks), restart_interval):
                    if start:
                        ops.append(("r", rst))
                        rst = (rst + 1) & 7
                    ops.extend(fn(blocks[start : start + restart_interval], ss, se, al))
            else:
                ops = fn(blocks, ss, se, al)
            bits, vals = _jpeg_huffman_spec(_count_syms(ops))
            out += _dht_segment(1, 0, bits, vals)
            codes = _build_codes(bits, vals)
            out += _sos_segment(
                [c], {c["id"]: (table_ids[c["id"]][0], 0)}, ss, se, ah, al
            )
            bw = _BitWriter()
            _play_ops(ops, codes, bw)
            out += bw.flush()

    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_multiscan(img: np.ndarray, quality: int = 85) -> bytes:
    """Encode a sequential baseline (SOF0) JPEG as one NON-interleaved
    scan per component (spec-valid ns=1 scans; 4:4:4 or greyscale) —
    the multi-scan sequential shape real encoders sometimes emit, which
    the unified coefficient-accumulation decoder handles alongside
    progressive."""
    h, w, comps, qcoeffs, qts, mcux, mcuy, hmax, vmax = _component_qcoeffs(
        img, quality, False
    )
    out = bytearray(b"\xff\xd8")
    out += _dqt_segment(0, qts[0])
    if 1 in qts:
        out += _dqt_segment(1, qts[1])
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += _dht_segment(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if len(comps) > 1:
        out += _dht_segment(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += _dht_segment(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    luma_codes = (
        _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
    )
    chroma_codes = (
        _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
        _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
    )
    for c in comps:
        tid = 0 if c["id"] == 1 else 1
        dc_codes, ac_codes = luma_codes if tid == 0 else chroma_codes
        out += _sos_segment([c], {c["id"]: (tid, tid)}, 0, 63, 0, 0)
        bw = _BitWriter()
        bxs = -(-(-(-w * c["h"] // hmax)) // 8)
        bys = -(-(-(-h * c["v"] // vmax)) // 8)
        pred = 0
        for by in range(bys):
            for bx in range(bxs):
                zz = qcoeffs[c["id"]][by, bx]
                nat = np.zeros(64, np.int32)
                nat[_ZIGZAG_FLAT] = zz
                pred = _encode_one_block(
                    bw, nat.reshape(8, 8), dc_codes, ac_codes, pred
                )
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)

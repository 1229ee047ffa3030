"""Image codecs for media payloads — stdlib + numpy only.

Two formats:

1. ``RAWI`` — a deterministic uncompressed container used by the test
   fixtures (header magic + dims + raw HWC u8 pixels). This keeps the
   Spark-side plumbing (binary column -> decode -> numpy batch) fully
   real without PIL/cv2, per the sandbox constraints.

2. PNG (decode + minimal encode) — a pure-Python PNG reader (zlib
   inflate + scanline unfiltering; color types 0/2/3/4/6, bit depths
   1-16, PLTE/tRNS, Adam7 interlacing) so the reference's real test
   images (ocrs-cli/test-data/*.png) and real-corpus PNG variants load
   as pixel arrays. Counterpart of the reference's file image scan
   (ocrs-cli/src/main.rs:319-323), which supports PNG/JPEG/WebP via the
   image crate; JPEG (ocrs_spark.jpeg, baseline T.81) and lossless WebP
   (ocrs_spark.webp, VP8L) are pure-Python spec implementations
   dispatched from decode_image below.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

RAWI_MAGIC = b"RAWI"


class UnsupportedImageError(ValueError):
    pass


def encode_rawi(img: np.ndarray) -> bytes:
    """HWC (or HW) uint8 image -> RAWI bytes."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    return RAWI_MAGIC + struct.pack("<BIII", 1, h, w, c) + img.tobytes()


def decode_rawi(data: bytes) -> np.ndarray:
    if data[:4] != RAWI_MAGIC:
        raise UnsupportedImageError("not a RAWI payload")
    _, h, w, c = struct.unpack("<BIII", data[4:17])
    pixels = np.frombuffer(data, dtype=np.uint8, count=h * w * c, offset=17)
    return pixels.reshape(h, w, c)


RLEI_MAGIC = b"RLEI"


def encode_rlei(img: np.ndarray) -> bytes:
    """Run-length-encoded image container (HWC/HW uint8). Synthetic page
    images (flat regions) compress ~50-100x, letting benches ship large
    pixel arrays through broadcast joins at KB wire cost."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    flat = img.reshape(-1)
    # Run boundaries where the value changes.
    change = np.nonzero(np.diff(flat))[0] + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [flat.size]))
    values = flat[starts]
    lengths = (ends - starts).astype(np.uint32)
    return (
        RLEI_MAGIC
        + struct.pack("<BIII I", 1, h, w, c, len(values))
        + values.tobytes()
        + lengths.tobytes()
    )


def decode_rlei(data: bytes) -> np.ndarray:
    if data[:4] != RLEI_MAGIC:
        raise UnsupportedImageError("not a RLEI payload")
    _, h, w, c, n = struct.unpack("<BIII I", data[4:21])
    values = np.frombuffer(data, dtype=np.uint8, count=n, offset=21)
    lengths = np.frombuffer(data, dtype=np.uint32, count=n, offset=21 + n)
    # Guard before np.repeat: a corrupted uint32 run length would other-
    # wise allocate up to 4 GiB per run (a decode bomb the quarantine
    # path must see as a clean error, not an executor stall).
    if int(lengths.sum(dtype=np.int64)) != h * w * c:
        raise UnsupportedImageError("RLEI runs disagree with declared size")
    return np.repeat(values, lengths).reshape(h, w, c)


# ------------------------------------------------------------------- PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (3 = palette: one index sample)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 interlace passes: (x_start, x_step, y_start, y_step).
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, height: int, row_bytes: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters -> (height, row_bytes)."""
    if len(raw) != height * (row_bytes + 1):
        raise UnsupportedImageError("PNG data length mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, row_bytes + 1)
    filters = rows[:, 0]
    out = np.zeros((height, row_bytes), dtype=np.uint8)
    for y in range(height):
        line = rows[y, 1:].astype(np.int32)
        f = filters[y]
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(row_bytes, np.int32)
        if f == 0:
            cur = line
        elif f == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, row_bytes):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 3:  # Average
            cur = line.copy()
            for x in range(row_bytes):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = line.copy()
            for x in range(row_bytes):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise UnsupportedImageError(f"unknown PNG filter {f}")
        out[y] = cur.astype(np.uint8)
    return out


def _png_samples(rows: np.ndarray, width: int, channels: int, depth: int) -> np.ndarray:
    """(h, row_bytes) filtered bytes -> (h, width*channels) samples at
    the FILE's value range (sub-8 depths NOT yet scaled; 16-bit kept at
    full precision as uint16 so tRNS color-key matching can compare
    exact samples per the PNG spec before reducing to 8-bit)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : width * channels]
    if depth == 16:
        be = rows.reshape(h, -1)[:, : width * channels * 2]
        return (
            (be[:, 0::2].astype(np.uint16) << 8) | be[:, 1::2].astype(np.uint16)
        )
    # 1/2/4-bit packed, MSB-first; only 1-sample color types use them.
    bits = np.unpackbits(rows, axis=1)
    per = depth
    n = width  # channels == 1 for sub-byte depths
    idx = np.arange(n * per).reshape(n, per)
    vals = np.zeros((h, n), np.uint8)
    for b in range(per):
        vals = (vals << 1) | bits[:, idx[:, b]]
    return vals


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to an HWC uint8 array.

    Full baseline coverage, mirroring what the reference reads through
    the ``image`` crate: color types 0/2/3/4/6, bit depths 1/2/4/8/16
    (16-bit rendered to 8 via the high byte), PLTE + tRNS (palette
    alpha and grey/RGB color-key transparency), all five scanline
    filters, and Adam7 interlacing.
    """
    if data[:8] != _PNG_SIG:
        raise UnsupportedImageError("not a PNG")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    plte = trns = None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
        elif ctype == b"PLTE":
            plte = np.frombuffer(chunk, np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = chunk
        elif ctype == b"IDAT":
            idat.extend(chunk)
        elif ctype == b"IEND":
            break
    if color_type not in _PNG_CHANNELS:
        raise UnsupportedImageError(f"unsupported PNG color type {color_type}")
    if bit_depth not in (1, 2, 4, 8, 16) or (
        bit_depth < 8 and color_type not in (0, 3)
    ) or (bit_depth == 16 and color_type == 3):
        raise UnsupportedImageError(
            f"invalid PNG depth/type {bit_depth}/{color_type}"
        )
    channels = _PNG_CHANNELS[color_type]
    bytes_per_px = max(1, channels * bit_depth // 8)

    def row_bytes(w):
        return (w * channels * bit_depth + 7) // 8

    raw = zlib.decompress(bytes(idat))
    samples = np.zeros(
        (height, width * channels), np.uint16 if bit_depth == 16 else np.uint8
    )
    if not interlace:
        rows = _png_unfilter(raw, height, row_bytes(width), bytes_per_px)
        samples = _png_samples(rows, width, channels, bit_depth)
    elif interlace == 1:
        off = 0
        for x0, xs, y0, ys in _ADAM7:
            pw = (width - x0 + xs - 1) // xs
            ph = (height - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            nbytes = ph * (row_bytes(pw) + 1)
            rows = _png_unfilter(raw[off:off + nbytes], ph, row_bytes(pw), bytes_per_px)
            off += nbytes
            ps = _png_samples(rows, pw, channels, bit_depth).reshape(ph, pw, channels)
            samples.reshape(height, width, channels)[
                y0::ys, x0::xs, :
            ] = ps
    else:
        raise UnsupportedImageError(f"unknown PNG interlace {interlace}")

    img = samples.reshape(height, width, channels)
    if color_type == 3:
        if plte is None:
            raise UnsupportedImageError("palette PNG without PLTE")
        idx = img[:, :, 0]
        if idx.max() >= len(plte):
            raise UnsupportedImageError("palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, np.uint8)
            return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
        return rgb
    if bit_depth < 8:  # greyscale: scale to full 8-bit range
        img = (img.astype(np.uint16) * 255 // ((1 << bit_depth) - 1)).astype(np.uint8)
    if trns is not None and color_type in (0, 2):
        # Color-key transparency: tRNS holds 16-bit samples. The PNG
        # spec requires the match against the FULL-precision sample
        # values, so for 16-bit images compare before the 8-bit
        # reduction; sub-8 depths were scaled injectively, so the key
        # is scaled the same way and compared after.
        key = np.frombuffer(trns, ">u2").astype(np.uint16)
        if bit_depth < 8:
            key = (key * 255 // ((1 << bit_depth) - 1)).astype(np.uint8)
        elif bit_depth == 8:
            key = key.astype(np.uint8)
        match = np.all(img == key[None, None, :], axis=2)
        if bit_depth == 16:
            img = (img >> 8).astype(np.uint8)
        alpha = np.where(match, 0, 255).astype(np.uint8)
        return np.concatenate([img, alpha[:, :, None]], axis=2)
    if bit_depth == 16:  # render to 8-bit via the high byte (image crate)
        img = (img >> 8).astype(np.uint8)
    return img


def encode_png(img: np.ndarray) -> bytes:
    """Encode an HWC (or HW) uint8 array as an 8-bit PNG (filter 0).
    Used for debug text-map/text-mask outputs (counterpart of
    ocrs-cli/src/main.rs:423-436)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if color_type is None:
        raise UnsupportedImageError(f"cannot encode {c}-channel PNG")
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        data = ctype + payload
        return struct.pack(">I", len(payload)) + data + struct.pack(
            ">I", zlib.crc32(data) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_image(data: bytes) -> np.ndarray:
    """Dispatch on magic bytes -> HWC uint8 array."""
    if data[:4] == RAWI_MAGIC:
        return decode_rawi(data)
    if data[:4] == RLEI_MAGIC:
        return decode_rlei(data)
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from .webp import decode_webp

        return decode_webp(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        frame, _delay = decode_gif(data)
        # grey palettes decode to HxW, colour palettes to HxWx3
        return frame[:, :, None] if frame.ndim == 2 else frame
    raise UnsupportedImageError(
        "unsupported image format (RAWI, RLEI, PNG, baseline/progressive "
        "JPEG, lossless + lossy WebP, and GIF supported)"
    )

"""Text recognition: line extraction, width-bucketed batching, CTC decode,
char geometry.

Behavioral counterpart of ``ocrs/src/recognition.rs``:
- ``line_polygon``: clockwise polygon hugging the word rects
  (recognition.rs:29-55);
- ``resized_line_width`` = clamp(height * aspect, 10, 2400)
  (recognition.rs:58-75);
- ``prepare_text_line``: scanline-fill the polygon, copy greyscale pixels
  into a BLACK_VALUE-initialized crop, bilinear-resize to
  (input_height, resized_width) (recognition.rs:91-126);
- width buckets = next multiple of 50, <= 20 lines per batch
  (recognition.rs:429-459);
- recognition model run: NCHW -> [seq, batch, class], transposed
  (recognition.rs:341-360);
- excluded chars set to -inf before decoding (recognition.rs:547-561);
- char geometry: start_x = pos * round(rec_input_len / ctc_input_len),
  scaled back to line coords; steps starting at/after the line right edge
  are padding artifacts and dropped (recognition.rs:241-311);
- results re-sorted to input line order (recognition.rs:530-535);
- empty decoded lines -> None (recognition.rs:304-308).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ..geometry import Line, Rect, RotatedRect, bounding_rect_of_points, leftmost_edge, rightmost_edge
from ..models import Model
from .contours import fill_polygon_mask
from .ctc import decode_beam, decode_greedy
from .preprocess import BLACK_VALUE
from .resize import resize_bilinear

MIN_LINE_WIDTH = 10.0
MAX_LINE_WIDTH = 2400.0
WIDTH_BUCKET = 50
MAX_LINES_PER_GROUP = 20


def line_polygon(words: list[RotatedRect]) -> list[tuple[int, int]]:
    """Clockwise polygon containing the line's word rects, floored to int
    coords (recognition.rs:29-55)."""
    poly: list[tuple[int, int]] = []
    for w in words:
        left = leftmost_edge(w).downwards()
        right = rightmost_edge(w).downwards()
        poly.append((int(left.x0), int(left.y0)))
        poly.append((int(right.x0), int(right.y0)))
    for w in reversed(words):
        left = leftmost_edge(w).downwards()
        right = rightmost_edge(w).downwards()
        poly.append((int(right.x1), int(right.y1)))
        poly.append((int(left.x1), int(left.y1)))
    return poly


def resized_line_width(orig_width: float, orig_height: float, height: int) -> int:
    aspect = orig_width / orig_height
    return int(min(max(height * aspect, MIN_LINE_WIDTH), MAX_LINE_WIDTH))


def polygon_bounding_rect(poly: list[tuple[int, int]]) -> Rect:
    return bounding_rect_of_points(poly)


def prepare_text_line(
    image: np.ndarray,
    page_rect: Rect,
    polygon: list[tuple[int, int]],
    resized_width: int,
    output_height: int,
) -> np.ndarray:
    """Extract and resize one line image from the (H, W) greyscale page."""
    page_index_rect = page_rect.adjust_tlbr(0, 0, -1, -1)
    line_rect = polygon_bounding_rect(polygon).to_int()
    lh, lw = int(line_rect.height), int(line_rect.width)
    line_img = np.full((lh, lw), BLACK_VALUE, dtype=np.float32)

    fill = fill_polygon_mask(polygon, line_rect)
    ys, xs = np.nonzero(fill)
    in_y = ys + int(line_rect.top)
    in_x = xs + int(line_rect.left)
    ok = (
        (in_x >= page_index_rect.left)
        & (in_x <= page_index_rect.right)
        & (in_y >= page_index_rect.top)
        & (in_y <= page_index_rect.bottom)
        & (xs <= page_index_rect.right)
        & (ys <= page_index_rect.bottom)
        & (xs >= page_index_rect.left)
        & (ys >= page_index_rect.top)
    )
    line_img[ys[ok], xs[ok]] = image[in_y[ok], in_x[ok]]

    return resize_bilinear(line_img, output_height, resized_width)


@dataclass
class TextRecLine:
    index: int
    polygon: list[tuple[int, int]]
    resized_width: int


@dataclass
class TextChar:
    char: str
    rect: Rect


@dataclass
class TextLine:
    chars: list[TextChar]

    def text(self) -> str:
        return "".join(c.char for c in self.chars)

    def bounding_rect(self) -> Rect:
        br = self.chars[0].rect
        for c in self.chars[1:]:
            br = br.union(c.rect)
        return br

    def words(self) -> list["TextLine"]:
        out, cur = [], []
        for c in self.chars:
            if c.char == " ":
                if cur:
                    out.append(TextLine(cur))
                cur = []
            else:
                cur.append(c)
        if cur:
            out.append(TextLine(cur))
        return out


def polygon_slices_bounding_rects(
    poly: list[tuple[int, int]], slices: list[tuple[int, int]]
) -> list[Rect | None]:
    """Bounding rect of each slice of the polygon with X in [min_x,
    max_x] (recognition.rs:162-193), for many slices of the SAME polygon
    in one vectorized pass over (slices x edges) — the per-char geometry
    reconstruction calls this once per line instead of walking the
    polygon edge list per recognized char. Semantics (clipping rules,
    banker's rounding of the edge-x intersections, endpoint fallbacks)
    are identical to the reference's scalar loop."""
    if not slices:
        return []
    pts = np.asarray(poly, dtype=np.float64)
    nxt = np.roll(pts, -1, axis=0)
    x0, y0, x1, y1 = pts[:, 0], pts[:, 1], nxt[:, 0], nxt[:, 1]
    swap = x0 > x1  # rightwards(): endpoints sorted left-to-right
    ex0 = np.where(swap, x1, x0)
    ey0 = np.where(swap, y1, y0)
    ex1 = np.where(swap, x0, x1)
    ey1 = np.where(swap, y0, y1)
    s = np.asarray(slices, dtype=np.float64)
    sx = s[:, 0][:, None]  # (S, 1) vs (E,) edges
    ex = s[:, 1][:, None]
    skip = ((ex0 < sx) & (ex1 < sx)) | ((ex0 > ex) & (ex1 > ex))
    denom = ex1 - ex0
    sloped = denom != 0
    safe_denom = np.where(sloped, denom, 1.0)
    t_s = (sx - ex0) / safe_denom
    t_e = (ex - ex0) / safe_denom
    valid_s = sloped & (sx >= ex0) & (sx <= ex1)
    valid_e = sloped & (ex >= ex0) & (ex <= ex1)
    # np.rint == Python round() (both half-to-even).
    ys = np.where(valid_s, np.rint(ey0 + t_s * (ey1 - ey0)), ey0)
    xs = np.where(valid_s, sx, ex0)
    ye = np.where(valid_e, np.rint(ey0 + t_e * (ey1 - ey0)), ey1)
    xe = np.where(valid_e, ex, ex1)
    inf = np.inf
    lo_x = np.where(skip, inf, np.minimum(xs, xe)).min(axis=1)
    hi_x = np.where(skip, -inf, np.maximum(xs, xe)).max(axis=1)
    lo_y = np.where(skip, inf, np.minimum(ys, ye)).min(axis=1)
    hi_y = np.where(skip, -inf, np.maximum(ys, ye)).max(axis=1)
    kept = ~skip.all(axis=1)
    return [
        Rect(int(lo_y[i]), int(lo_x[i]), int(hi_y[i]), int(hi_x[i])) if kept[i] else None
        for i in range(len(slices))
    ]


class TextRecognizer:
    def __init__(self, model: Model):
        self.model = model
        shape = model.input_shape()
        self.rec_input_height = int(shape[2]) if shape[2] is not None else 50

    def run(self, batch: np.ndarray) -> np.ndarray:
        """NCHW batch -> (batch, seq, class) log-probs."""
        out = np.asarray(self.model.run(batch.astype(np.float32)), dtype=np.float32)
        if out.ndim != 3:
            raise ValueError(f"expected recognition output to have 3 dims but it has {out.ndim}")
        return out.transpose(1, 0, 2)

    def prepare_line_input(self, image: np.ndarray, words: list[RotatedRect]) -> np.ndarray:
        h, w = image.shape
        page_rect = Rect.from_hw(h, w)
        line_rect = _words_bounding_rect(words).integral()
        poly = line_polygon(words)
        width = resized_line_width(line_rect.width, line_rect.height, self.rec_input_height)
        return prepare_text_line(image, page_rect, poly, width, self.rec_input_height)

    def recognize_text_lines(
        self,
        image: np.ndarray,
        lines: list[list[RotatedRect]],
        alphabet: str,
        excluded_char_labels: list[int] | None = None,
        beam_width: int | None = None,
    ) -> list[TextLine | None]:
        h, w = image.shape
        page_rect = Rect.from_hw(h, w)
        rec_h = self.rec_input_height

        # Width-bucketed batching (recognition.rs:429-459). Buckets are
        # built in deterministic line order (the reference uses a HashMap
        # whose iteration order is arbitrary; per-line outputs are
        # identical either way and are re-sorted by index below).
        groups: dict[int, list[TextRecLine]] = {}
        for index, words in enumerate(lines):
            line_rect = _words_bounding_rect(words).integral()
            width = resized_line_width(line_rect.width, line_rect.height, rec_h)
            group_width = -(-width // WIDTH_BUCKET) * WIDTH_BUCKET  # next multiple of 50
            groups.setdefault(group_width, []).append(
                TextRecLine(index, line_polygon(words), width)
            )

        batches: list[tuple[int, list[TextRecLine]]] = []
        for group_width in sorted(groups):
            bucket = groups[group_width]
            for i in range(0, len(bucket), MAX_LINES_PER_GROUP):
                batches.append((group_width, bucket[i : i + MAX_LINES_PER_GROUP]))

        results: list[tuple[TextRecLine, int, int, list[tuple[int, int]]]] = []
        for group_width, batch_lines in batches:
            batch = np.full(
                (len(batch_lines), 1, rec_h, group_width), BLACK_VALUE, dtype=np.float32
            )
            for bi, line in enumerate(batch_lines):
                img = prepare_text_line(image, page_rect, line.polygon, line.resized_width, rec_h)
                batch[bi, 0, :, : line.resized_width] = img
            out = self.run(batch)  # (batch, seq, class)
            if len(alphabet) + 1 != out.shape[2]:
                raise ValueError(
                    f"output column count ({out.shape[2]}) does not match "
                    f"alphabet size ({len(alphabet) + 1})"
                )
            ctc_input_len = out.shape[1]
            for bi, line in enumerate(batch_lines):
                logits = out[bi]
                if excluded_char_labels:
                    logits = logits.copy()
                    logits[:, excluded_char_labels] = -np.inf
                steps = (
                    decode_beam(logits, beam_width)
                    if beam_width
                    else decode_greedy(logits)
                )
                results.append((line, group_width, ctc_input_len, steps))

        results.sort(key=lambda r: r[0].index)
        return [
            _text_line_from_steps(line, rec_input_len, ctc_input_len, steps, alphabet)
            for line, rec_input_len, ctc_input_len, steps in results
        ]


def _words_bounding_rect(words: list[RotatedRect]) -> Rect:
    br = words[0].bounding_rect()
    for wd in words[1:]:
        br = br.union(wd.bounding_rect())
    return br


def _text_line_from_steps(
    line: TextRecLine,
    rec_input_len: int,
    ctc_input_len: int,
    steps: list[tuple[int, int]],
    alphabet: str,
) -> TextLine | None:
    """Char geometry reconstruction (recognition.rs:241-311)."""
    line_rect = polygon_bounding_rect(line.polygon)
    x_scale = line_rect.width / line.resized_width if line.resized_width else 0.0
    downsample = int(round(rec_input_len / ctc_input_len)) if ctc_input_len else 1

    kept: list[tuple[str, int, int]] = []
    for i, (pos, label) in enumerate(steps):
        start_x = pos * downsample
        end_x = steps[i + 1][0] * downsample if i + 1 < len(steps) else line.resized_width
        sx = int(line_rect.left) + int(start_x * x_scale)
        ex = int(line_rect.left) + int(end_x * x_scale)
        if sx >= line_rect.right:
            continue  # padding artifact
        ch = alphabet[label - 1] if 0 <= label - 1 < len(alphabet) else "?"
        kept.append((ch, sx, ex))
    rects = polygon_slices_bounding_rects(
        line.polygon, [(sx, ex) for _, sx, ex in kept]
    )
    chars = [
        TextChar(ch, rect) for (ch, _, _), rect in zip(kept, rects) if rect is not None
    ]
    return TextLine(chars) if chars else None


def format_text_output(text_lines: list[TextLine | None]) -> str:
    """Lines joined by newline, None lines skipped
    (ocrs-cli/src/output.rs:88-95)."""
    return "\n".join(line.text() for line in text_lines if line is not None)


def excluded_labels_for_allowed_chars(alphabet: str, allowed: str) -> list[int]:
    """CTC labels (i+1) of alphabet chars not in ``allowed``
    (lib.rs:153-170)."""
    return [i + 1 for i, ch in enumerate(alphabet) if ch not in allowed]

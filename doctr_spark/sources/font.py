"""Deterministic 5x7 raster font: renderer + glyph recognizer tables.

Plays the role of the reference's synthetic text image generator
(doctr/datasets/generator/base.py:18-54, used by tests/conftest.py:27-42 to
build golden PDF fixtures): pages rendered here are the OCR-able payloads of
the synthetic transcript corpus, and the glyph tables double as the
"weights" of the deterministic recognizer (operators/recognition.py).

Layout contract (all in font pixels, x the rendering scale ``s``):
- glyph box 5x7 cells, char gap 2s, word gap 7s, line pitch 16s (7s glyph +
  9s leading), page margin 8s, page width 640 by default.
- The detection model family for these pages ("ink-fuse",
  operators/detection.py): proba map = INK_LEVEL (0.98) on the ink mask
  dilated vertically by 4s and horizontally by 3s, BG_LEVEL (0.02)
  elsewhere; postprocessor config INK_MODEL_POSTPROC (bin=0.3, box=0.1,
  unclip_ratio=0.2).
  With this geometry every adjacent glyph pair of a word bridges into one
  connected component, words/lines never merge, and unclipped crop margins
  never reach neighboring ink (see tests/test_font_reco.py).

The ink rule lives here and only here: ``ink_mask`` (a pixel is ink when
its grayscale mean is below 128) and ``ink_bounds`` (the trim to the ink
extent). The artefact gate, the detectors, the recognizers, the
orientation classifiers and the page statistics all call these two, so
they cannot disagree on what ink a page holds.

The fused extraction stage masks each page once (one raster per page,
``plans/pipeline.py``) and reads words straight off the page's cell grid
with ``read_word_cells``; ``read_word_crop`` masks and trims a pixel crop
first, then reads its cells through the same memo.
"""

from __future__ import annotations

import numpy as np

from ..functions.vocabs import FONT, UNKNOWN_CHAR

# 7 rows x 5 cols, '#' = ink
_G = {
    "A": [".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"],
    "B": ["####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."],
    "C": [".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."],
    "D": ["####.", "#...#", "#...#", "#...#", "#...#", "#...#", "####."],
    "E": ["#####", "#....", "#....", "####.", "#....", "#....", "#####"],
    "F": ["#####", "#....", "#....", "####.", "#....", "#....", "#...."],
    "G": [".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".###."],
    "H": ["#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"],
    "I": [".###.", "..#..", "..#..", "..#..", "..#..", "..#..", ".###."],
    "J": ["..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."],
    "K": ["#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"],
    "L": ["#....", "#....", "#....", "#....", "#....", "#....", "#####"],
    "M": ["#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"],
    "N": ["#...#", "##..#", "#.#.#", "#..##", "#...#", "#...#", "#...#"],
    "O": [".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."],
    "P": ["####.", "#...#", "#...#", "####.", "#....", "#....", "#...."],
    "Q": [".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"],
    "R": ["####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"],
    "S": [".####", "#....", "#....", ".###.", "....#", "....#", "####."],
    "T": ["#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."],
    "U": ["#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."],
    "V": ["#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."],
    "W": ["#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"],
    "X": ["#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"],
    "Y": ["#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."],
    "Z": ["#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"],
    "0": [".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."],
    "1": ["..#..", ".##..", "..#..", "..#..", "..#..", "..#..", ".###."],
    "2": [".###.", "#...#", "....#", "..##.", ".#...", "#....", "#####"],
    "3": [".###.", "#...#", "....#", "..##.", "....#", "#...#", ".###."],
    "4": ["...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."],
    "5": ["#####", "#....", "####.", "....#", "....#", "#...#", ".###."],
    "6": [".###.", "#....", "#....", "####.", "#...#", "#...#", ".###."],
    "7": ["#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."],
    "8": [".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."],
    "9": [".###.", "#...#", "#...#", ".####", "....#", "....#", ".###."],
    "!": ["..#..", "..#..", "..#..", "..#..", "..#..", ".....", "..#.."],
    "?": [".###.", "#...#", "....#", "..##.", "..#..", ".....", "..#.."],
    ".": [".....", ".....", ".....", ".....", ".....", ".....", "..#.."],
    ",": [".....", ".....", ".....", ".....", ".....", "..#..", ".#..."],
    ":": [".....", "..#..", ".....", ".....", ".....", "..#..", "....."],
    ";": [".....", "..#..", ".....", ".....", ".....", "..#..", ".#..."],
    "'": ["..#..", "..#..", ".....", ".....", ".....", ".....", "....."],
    '"': [".#.#.", ".#.#.", ".....", ".....", ".....", ".....", "....."],
    "(": ["...#.", "..#..", ".#...", ".#...", ".#...", "..#..", "...#."],
    ")": [".#...", "..#..", "...#.", "...#.", "...#.", "..#..", ".#..."],
    "-": [".....", ".....", ".....", ".###.", ".....", ".....", "....."],
    "+": [".....", "..#..", "..#..", "#####", "..#..", "..#..", "....."],
    "=": [".....", ".....", "#####", ".....", "#####", ".....", "....."],
    "/": ["....#", "....#", "...#.", "..#..", ".#...", "#....", "#...."],
    "%": ["##..#", "##..#", "...#.", "..#..", ".#...", "#..##", "#..##"],
    "$": ["..#..", ".####", "#.#..", ".###.", "..#.#", "####.", "..#.."],
    "#": [".#.#.", ".#.#.", "#####", ".#.#.", "#####", ".#.#.", ".#.#."],
    "@": [".###.", "#...#", "#.###", "#.#.#", "#.###", "#....", ".###."],
    "&": [".##..", "#..#.", "#..#.", ".##..", "#.#.#", "#..#.", ".##.#"],
    "*": [".....", "#.#.#", ".###.", "#####", ".###.", "#.#.#", "....."],
    "<": ["...#.", "..#..", ".#...", "#....", ".#...", "..#..", "...#."],
    ">": [".#...", "..#..", "...#.", "....#", "...#.", "..#..", ".#..."],
    "[": [".###.", ".#...", ".#...", ".#...", ".#...", ".#...", ".###."],
    "]": [".###.", "...#.", "...#.", "...#.", "...#.", "...#.", ".###."],
    "_": [".....", ".....", ".....", ".....", ".....", ".....", "#####"],
}

GLYPH_H, GLYPH_W = 7, 5


def glyph_bitmap(ch: str) -> np.ndarray:
    """(7,5) uint8 bitmap of a font char."""
    rows = _G[ch]
    return np.array([[1 if c == "#" else 0 for c in row] for row in rows], dtype=np.uint8)


def ink_mask(img: np.ndarray) -> np.ndarray:
    """Boolean ink mask of a page or crop: dark (below 128) on the white
    page; an (H, W, C) image is folded to its channel mean first."""
    return (img if img.ndim == 2 else img.mean(axis=-1)) < 128


def ink_bounds(ink: np.ndarray) -> tuple[int, int, int, int] | None:
    """``(y0, y1, x0, x1)`` of the ink extent of a 2-D mask, ends exclusive;
    None when the mask holds no ink. Axis any() + argmax allocates no index
    array over the mask (this runs once per crop in the recognizer's hot
    loop)."""
    rows = ink.any(axis=1)
    if not rows.any():
        return None
    cols = ink.any(axis=0)
    return (
        int(rows.argmax()), len(rows) - int(rows[::-1].argmax()),
        int(cols.argmax()), len(cols) - int(cols[::-1].argmax()),
    )


def _trim(bm: np.ndarray) -> np.ndarray:
    """Crop a bitmap to its ink bounding box (empty -> (0,0))."""
    bounds = ink_bounds(bm)
    if bounds is None:
        return np.zeros((0, 0), dtype=np.uint8)
    y0, y1, x0, x1 = bounds
    return bm[y0:y1, x0:x1]


def build_glyph_lut() -> dict[bytes, str]:
    """Trimmed-pattern -> char lookup table (the recognizer 'weights').
    Patterns are guaranteed unique (tests assert it)."""
    lut: dict[bytes, str] = {}
    for ch in FONT:
        key = _pattern_key(_trim(glyph_bitmap(ch)))
        if key in lut:
            raise ValueError(f"glyph collision: {ch!r} vs {lut[key]!r}")
        lut[key] = ch
    return lut


def _pattern_key(bm: np.ndarray) -> bytes:
    return bm.shape[0].to_bytes(2, "big") + bm.shape[1].to_bytes(2, "big") + bm.astype(np.uint8).tobytes()


# decoded-word memo for read_word_crop, keyed on exact trimmed-cell bytes
# (bounded; per-worker lifetime like the model cache)
_WORD_MEMO: dict[bytes, str] = {}


# ------------------------------------------------------------------ layout

CHAR_GAP_CELLS = 2  # blank cells between glyphs of a word
WORD_GAP_CELLS = 7  # blank cells between words
LINE_PITCH_CELLS = 16  # glyph height 7 + leading 9
MARGIN_CELLS = 8
DEFAULT_SCALE = 3
DEFAULT_WIDTH = 640


def layout_words(words: list[str], scale: int = DEFAULT_SCALE, width: int = DEFAULT_WIDTH) -> tuple[list[tuple[str, int, int, int, int]], int]:
    """Greedy left-to-right/top-to-bottom word layout.

    Returns ([(word, x0, y0, x1, y1)], page_height) with pixel boxes being
    the exact ink extents (x1/y1 exclusive).
    """
    s = scale
    margin = MARGIN_CELLS * s
    placed: list[tuple[str, int, int, int, int]] = []
    x, line = margin, 0
    for w in words:
        w_px = (len(w) * GLYPH_W + (len(w) - 1) * CHAR_GAP_CELLS) * s
        if x > margin and x + w_px > width - margin:
            line += 1
            x = margin
        y = margin + line * LINE_PITCH_CELLS * s
        placed.append((w, x, y, x + w_px, y + GLYPH_H * s))
        x += w_px + WORD_GAP_CELLS * s
    height = margin * 2 + (line * LINE_PITCH_CELLS + GLYPH_H) * s
    return placed, height


def render_page(words: list[str], scale: int = DEFAULT_SCALE, width: int = DEFAULT_WIDTH) -> tuple[np.ndarray, list[tuple[str, int, int, int, int]]]:
    """Render words onto a white page (uint8, ink=0, bg=255).

    Returns (image, word boxes). All chars must be in the FONT vocab.
    """
    s = scale
    placed, height = layout_words(words, scale, width)
    img = np.full((height, width), 255, dtype=np.uint8)
    for word, x0, y0, _, _ in placed:
        cx = x0
        for ch in word:
            bm = glyph_bitmap(ch)
            block = np.kron(bm, np.ones((s, s), dtype=np.uint8))
            region = img[y0 : y0 + GLYPH_H * s, cx : cx + GLYPH_W * s]
            region[block > 0] = 0
            cx += (GLYPH_W + CHAR_GAP_CELLS) * s
    return img, placed


def expected_page_lines(words: list[str], scale: int = DEFAULT_SCALE, width: int = DEFAULT_WIDTH) -> list[str]:
    """Ground-truth reading-order lines for a rendered page: words grouped by
    layout line, joined by single spaces (the Line.render() invariant)."""
    placed, _ = layout_words(words, scale, width)
    lines: dict[int, list[str]] = {}
    for word, _, y0, _, _ in placed:
        lines.setdefault(y0, []).append(word)
    return [" ".join(ws) for _, ws in sorted(lines.items())]


# -------------------------------------------------------------- recognizer

_LUT: dict[bytes, str] | None = None


def _lut() -> dict[bytes, str]:
    global _LUT
    if _LUT is None:
        _LUT = build_glyph_lut()
    return _LUT


def read_word_crop(crop: np.ndarray, scale: int, unknown: str = UNKNOWN_CHAR) -> str:
    """Decode one word crop: trim white margins, downsample the whole word
    to CELL space once (the trim anchors the cell grid — every rendered
    ink pixel sits on it), then read the cells (``read_word_cells``).
    Misaligned crops (non-grid content) fall back to the pixel-space path.

    The crop is sliced from the *original* page, so margins added by the
    detector's unclip expansion are plain white and trim away.
    """
    if crop.size == 0:
        return ""
    ink = ink_mask(crop)
    bounds = ink_bounds(ink)
    if bounds is None:
        return ""
    y0, y1, x0, x1 = bounds
    ink = ink[y0:y1, x0:x1]
    h, w = ink.shape
    if scale > 1 and (h % scale or w % scale):
        return _read_word_crop_px(ink, scale, unknown)
    return read_word_cells(ink[::scale, ::scale].astype(np.uint8), unknown)


def read_word_cells(cells: np.ndarray, unknown: str = UNKNOWN_CHAR) -> str:
    """Decode one word's ink-trimmed 0/1 cell bitmap: segment at blank cell
    runs >= 2 (glyph gaps are exactly CHAR_GAP_CELLS = 2; intra-glyph
    blanks are <= 1) and match each vertically-trimmed glyph pattern.
    ``read_word_crop`` comes here after its trim and downsample; the fused
    stage comes here straight from the page's cell grid, whose cells under
    a word box are the same bitmap, so both read through one memo."""
    if cells.size == 0:
        return ""
    # word-level memo on the exact trimmed-cell bytes (a few hundred bytes
    # per word, collision-free): corpora repeat words Zipfian-ly, and the
    # per-glyph segment/trim/match loop below is the recognizer's hot loop
    # — a hit replaces ~20 small-array numpy calls with one dict lookup
    memo_key = unknown.encode() + _pattern_key(cells)  # decode depends on BOTH
    hit = _WORD_MEMO.get(memo_key)
    if hit is not None:
        return hit
    idx = np.flatnonzero(cells.any(axis=0))
    if idx.size == 0:
        return ""
    brk = np.flatnonzero(np.diff(idx) > 2)
    starts = np.concatenate(([idx[0]], idx[brk + 1]))
    ends = np.concatenate((idx[brk], [idx[-1]])) + 1

    lut = _lut()
    chars = []
    for s0, s1 in zip(starts.tolist(), ends.tolist()):
        chars.append(lut.get(_pattern_key(_trim(cells[:, s0:s1])), unknown))
    word = "".join(chars)
    if len(_WORD_MEMO) < 65536:
        _WORD_MEMO[memo_key] = word
    return word


def _read_word_crop_px(ink: np.ndarray, scale: int, unknown: str) -> str:
    """Pixel-space fallback for crops whose trimmed extents are not cell
    multiples (rotated fragments, artefact slivers): per-glyph trim +
    downsample, emitting ``unknown`` for off-grid glyphs."""
    col_has_ink = ink.any(axis=0)
    spans = _column_spans(col_has_ink, scale)
    lut = _lut()
    chars = []
    for s0, s1 in spans:
        glyph = _trim(ink[:, s0:s1].astype(np.uint8))
        h, w = glyph.shape
        if h % scale == 0 and w % scale == 0 and h > 0:
            cells = glyph[::scale, ::scale]
            chars.append(lut.get(_pattern_key(cells), unknown))
        else:
            chars.append(unknown)
    return "".join(chars)


def _column_spans(col_has_ink: np.ndarray, scale: int) -> list[tuple[int, int]]:
    """Maximal ink column spans separated by blank runs strictly wider than
    ``scale`` px (intra-glyph blank columns are at most one cell wide).
    Vectorized: a span break is a gap between consecutive ink columns
    exceeding ``scale`` blanks."""
    idx = np.flatnonzero(col_has_ink)
    if idx.size == 0:
        return []
    brk = np.flatnonzero(np.diff(idx) > scale + 1)
    starts = np.concatenate(([idx[0]], idx[brk + 1]))
    ends = np.concatenate((idx[brk], [idx[-1]])) + 1
    return list(zip(starts.tolist(), ends.tolist()))

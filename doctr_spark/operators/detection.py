"""Text-detection kernels: a DB-style postprocessor in pure numpy and a
deterministic "detector model" for the synthetic raster pages.

Behavioral parity targets in the reference:
- postprocess contract: binarize proba map at bin_thresh, 3x3 morphological
  opening, connected components, min-size filter, objectness = mean proba
  over the component bbox, score filter at box_thresh, unclip expansion by
  distance = area*unclip_ratio/perimeter, relative [0,1] output (N,5)
  (doctr/models/detection/core.py:33-95 and
   differentiable_binarization/base.py:41-152; defaults bin_thresh=0.3,
   box_thresh=0.1, unclip_ratio=1.5).
- The neural forward pass (DBNet) is replaced by ``ink_proba_map``: a
  deterministic proba map derived from the rendered page (ink mask dilated
  horizontally so intra-word char gaps fuse while inter-word gaps stay
  open). This mirrors how the reference's own unit tests drive the
  postprocessor with synthetic maps (tests/common/test_models_detection.py).

Everything is vectorized numpy; connected components use run-length
union-find (no per-pixel Python loops).
"""

from __future__ import annotations

import numpy as np

from ..sources.font import ink_mask

BIN_THRESH = 0.3
BOX_THRESH = 0.1
# ink-fuse dilation radii in CELLS (word-gap bridge / line-band expansion).
# Single source of truth: ink_word_boxes' fuse steps, the cell-space fast
# path's edge guards and the canvas separators all derive from these —
# change them here only.
H_DILATE_CELLS = 3
V_DILATE_CELLS = 4
UNCLIP_RATIO = 1.5
MIN_SIZE_BOX = 2

# postprocessor presets per detector family (reference defaults: DB at
# bin .3/box .1/unclip 1.5; FAST and LinkNet at bin .1/box .1/unclip 1.0
# — same postprocess contract, different thresholds)
DB_POSTPROC = {"bin_thresh": 0.3, "box_thresh": 0.1, "unclip_ratio": 1.5}
FAST_POSTPROC = {"bin_thresh": 0.1, "box_thresh": 0.1, "unclip_ratio": 1.0}
LINKNET_POSTPROC = {"bin_thresh": 0.1, "box_thresh": 0.1, "unclip_ratio": 1.0}


# ------------------------------------------------------------- morphology


def _window(m: np.ndarray, radius: int, axis: int, op) -> np.ndarray:
    """``op`` (bitwise or/and) of a 0/1 mask over windows of 2*radius+1
    cells along an axis, centred on each cell and zero-padded.

    The mask goes into a buffer with ``radius`` zero cells on each side
    along the axis. Each pass ors (ands) the buffer in place with itself
    shifted by k = 1, 2, 4, ... cells, which doubles the window each cell
    covers, and the last shift is cut so the window ends at exactly
    2*radius+1. No cumsum: log2(2*radius+1) passes of one byte-wise ufunc
    each. A shift along the axis is a shift of the flat buffer by k times
    the axis stride; where that reads across the end of a line it only
    spoils cells beyond the first n of the line, which no kept cell reads."""
    n = m.shape[axis]
    shape = list(m.shape)
    shape[axis] += 2 * radius
    buf = np.zeros(shape, dtype=np.uint8)  # C order, so the flat view below is the buffer
    buf[(slice(None),) * axis + (slice(radius, radius + n),)] = m
    flat, width = buf.reshape(-1), 1
    while width < 2 * radius + 1:
        k = min(width, 2 * radius + 1 - width)
        cut = flat.size - k * buf.strides[axis]  # the cells with a cell k further along the axis
        op(flat[:cut], flat[flat.size - cut :], out=flat[:cut])
        width += k
    return buf[(slice(None),) * axis + (slice(0, n),)]


def _dilate_axis(m: np.ndarray, radius: int, axis: int) -> np.ndarray:
    return _window(m, radius, axis, np.bitwise_or)


def _erode_axis(m: np.ndarray, radius: int, axis: int) -> np.ndarray:
    return _window(m, radius, axis, np.bitwise_and)


def binary_open3(m: np.ndarray) -> np.ndarray:
    """3x3 opening (erosion then dilation) — despeckles the bitmap exactly
    like the reference's cv2.MORPH_OPEN with a 3x3 kernel. Separable:
    erode rows+cols, then dilate rows+cols."""
    e = _erode_axis(_erode_axis(m.astype(np.uint8), 1, 0), 1, 1)
    return _dilate_axis(_dilate_axis(e, 1, 0), 1, 1)


def dilate_horizontal(m: np.ndarray, radius: int) -> np.ndarray:
    """Horizontal dilation by ``radius`` px each side (fuses char gaps)."""
    return _dilate_axis(m, radius, 1)


def dilate_vertical(m: np.ndarray, radius: int) -> np.ndarray:
    """Vertical dilation by ``radius`` px each side."""
    return _dilate_axis(m, radius, 0)


# ------------------------------------------------- connected components


def connected_components(bitmap: np.ndarray) -> list[tuple[int, int, int, int]]:
    """8-connected components of a 0/1 bitmap via row-run union-find.

    Returns component bboxes as (xmin, ymin, xmax, ymax) *inclusive* pixel
    coords, in raster order of their topmost-leftmost run (deterministic).
    """
    return list(zip(*(c.tolist() for c in _component_runs(bitmap)[0])))


def _component_runs(bitmap: np.ndarray) -> tuple[tuple[np.ndarray, ...], tuple[np.ndarray, ...]]:
    """``connected_components`` as four int64 arrays (xmin, ymin, xmax,
    ymax), for callers that score and filter the boxes with array ops, and
    the row runs they were labelled from: (starts, stops, offsets), sorted
    by (row, start), each run covering columns [start, stop), the runs of
    row y at ``offsets[y]:offsets[y + 1]``."""
    h, w = bitmap.shape
    # all runs at once: pad each row with zeros; where a cell differs from
    # its left neighbour a run starts or stops, alternately within each
    # row (vectorized, no row loop)
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = bitmap
    flips = np.flatnonzero(padded[:, 1:] != padded[:, :-1])
    rows, starts, stops = flips[0::2] // (w + 1), flips[0::2] % (w + 1), flips[1::2] % (w + 1)
    n = len(rows)
    offsets = np.concatenate(([0], np.cumsum(np.bincount(rows, minlength=h))))
    if n == 0:
        return (np.empty(0, dtype=np.int64),) * 4, (starts, stops, offsets)

    # --- edges between overlapping runs of consecutive rows, vectorized
    # over the whole page at once. Runs are globally sorted by (row, start)
    # and within-row disjoint, so composite keys row*(w+2)+coord are sorted
    # ascending for both starts and stops; for each run j (row y, span
    # [s,e)) the overlap candidates in row y-1 form the contiguous global
    # index range [first run with stop >= s, last run with start <= e)
    # clamped to row y-1's slice (one-pixel slack => 8-connectivity).
    span = w + 2
    ps_key = rows * span + starts
    pe_key = rows * span + stops
    prev_key = (rows - 1) * span
    lo = np.searchsorted(pe_key, prev_key + starts - 1, side="right")
    hi = np.searchsorted(ps_key, prev_key + stops, side="right")
    lo = np.maximum(lo, offsets[np.maximum(rows - 1, 0)])
    hi = np.minimum(hi, offsets[rows])
    m = np.maximum(hi - lo, 0)
    m[rows == 0] = 0
    total = int(m.sum())
    if total:
        v = np.repeat(np.arange(n), m)
        # ragged arange: concatenate(arange(lo_j, hi_j) for all j), no loop
        keep = m > 0
        lk, mk = lo[keep], m[keep]
        steps = np.ones(total, dtype=np.int64)
        heads = np.concatenate(([0], np.cumsum(mk)[:-1]))
        steps[heads] = lk - np.concatenate(([0], lk[:-1] + mk[:-1] - 1))
        u = np.cumsum(steps)
    else:
        u = v = np.empty(0, dtype=np.int64)

    # --- min-label propagation with pointer jumping: converges to label =
    # min run index of the component — the same root the old min-root
    # union-find produced, so output order is unchanged
    labels = np.arange(n)
    while True:
        prev = labels
        if len(u):
            m2 = np.minimum(labels[u], labels[v])
            labels = labels.copy()
            np.minimum.at(labels, u, m2)
            np.minimum.at(labels, v, m2)
        labels = np.minimum(labels, labels[labels])
        if np.array_equal(labels, prev):
            break

    # --- per-component bbox (inclusive), in raster order of the root run
    roots, inv = np.unique(labels, return_inverse=True)
    k = len(roots)
    xmin = np.full(k, w, dtype=np.int64)
    xmax = np.full(k, -1, dtype=np.int64)
    ymin = np.full(k, h, dtype=np.int64)
    ymax = np.full(k, -1, dtype=np.int64)
    np.minimum.at(xmin, inv, starts)
    np.maximum.at(xmax, inv, stops - 1)
    np.minimum.at(ymin, inv, rows)
    np.maximum.at(ymax, inv, rows)
    return (xmin, ymin, xmax, ymax), (starts, stops, offsets)


# ------------------------------------------------------------ postprocess


def box_score(pred: np.ndarray, xmin: int, ymin: int, xmax: int, ymax: int) -> float:
    """Mean proba over the inclusive bbox region (objectness)."""
    h, w = pred.shape[:2]
    x0 = int(np.clip(xmin, 0, w - 1))
    x1 = int(np.clip(xmax, 0, w - 1))
    y0 = int(np.clip(ymin, 0, h - 1))
    y1 = int(np.clip(ymax, 0, h - 1))
    return float(pred[y0 : y1 + 1, x0 : x1 + 1].mean())


def unclip_box(xmin: int, ymin: int, xmax: int, ymax: int, unclip_ratio: float = UNCLIP_RATIO) -> tuple[int, int, int, int]:
    """Expand an inclusive pixel bbox by the DB unclip distance
    d = area*ratio/perimeter, with outward integer rounding (floor mins,
    ceil maxes) — the analytic equivalent of a round-joint polygon offset
    followed by a bounding rect, for axis-aligned components."""
    bw = xmax - xmin + 1
    bh = ymax - ymin + 1
    d = (bw * bh) * unclip_ratio / (2.0 * (bw + bh))
    return (
        int(np.floor(xmin - d)),
        int(np.floor(ymin - d)),
        int(np.ceil(xmax + d)),
        int(np.ceil(ymax + d)),
    )


def bitmap_to_boxes(
    pred: np.ndarray,
    bitmap: np.ndarray,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
    min_size_box: int = MIN_SIZE_BOX,
    score_mask: np.ndarray | None = None,
    levels: tuple[float, float] | None = None,
) -> np.ndarray:
    """Connected components of the (already opened) bitmap -> (N,5) relative
    [xmin,ymin,xmax,ymax,score] boxes, clipped to [0,1].

    When the proba map is two-level (bg where mask=0, fg where mask=1),
    pass ``score_mask``+``levels`` instead of ``pred``: the score
    bg + (fg-bg)*mean(mask[region]) is then exactly the proba mean without
    a float map. One box at a time, this is the reference the ink model's
    array-op scoring (``_canvas_boxes``) is tested against."""
    h, w = bitmap.shape[:2]
    out: list[list[float]] = []
    for x0, y0, x1, y1 in connected_components(bitmap):
        # extent filter mirrors the reference's contour-extent < min_size drop
        if (x1 - x0) < min_size_box or (y1 - y0) < min_size_box:
            continue
        if score_mask is not None and levels is not None:
            bg, fg = levels
            score = bg + (fg - bg) * float(score_mask[y0 : y1 + 1, x0 : x1 + 1].mean())
        else:
            score = box_score(pred, x0, y0, x1, y1)
        if score < box_thresh:
            continue
        ex0, ey0, ex1, ey1 = unclip_box(x0, y0, x1, y1, unclip_ratio)
        if (ex1 - ex0) < min_size_box or (ey1 - ey0) < min_size_box:
            continue
        out.append(
            [
                ex0 / w,
                ey0 / h,
                (ex1 + 1) / w,
                (ey1 + 1) / h,
                score,
            ]
        )
    if not out:
        return np.zeros((0, 5), dtype=np.float64)
    return np.clip(np.asarray(out, dtype=np.float64), 0.0, 1.0)


def postprocess_proba_map(
    proba: np.ndarray,
    bin_thresh: float = BIN_THRESH,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = UNCLIP_RATIO,
) -> np.ndarray:
    """Full DB-style postprocess of one (H,W) proba map -> (N,5) boxes."""
    bitmap = binary_open3((proba >= bin_thresh).astype(np.uint8))
    return bitmap_to_boxes(proba, bitmap, box_thresh, unclip_ratio)


# ----------------------------------------------- deterministic "model"

# the ink-fuse model's two proba levels (on fused ink / elsewhere)
INK_LEVEL, BG_LEVEL = 0.98, 0.02
# postprocessor config for the ink-fuse model family: the deterministic
# model does not shrink text regions the way DB training targets do, so its
# unclip ratio is small (just enough to add a safety margin to crops).
INK_MODEL_POSTPROC = {"bin_thresh": BIN_THRESH, "box_thresh": BOX_THRESH, "unclip_ratio": 0.2}


def ink_proba_map(
    img: np.ndarray,
    scale: int,
    ink_level: float = INK_LEVEL,
    bg_level: float = BG_LEVEL,
) -> np.ndarray:
    """Deterministic stand-in for the DBNet forward pass on raster-font
    pages: ink mask (dark pixels on a white page) dilated vertically by 4s
    and horizontally by 3s. With the font layout (char gap 2s + up to 2s of
    blank glyph edge columns per side => worst inter-glyph ink gap 6s; word
    gap 7s; line leading 9s) this provably fuses every glyph pair of a word
    into one 8-connected blob while keeping words and lines separate."""
    ink = ink_mask(img).astype(np.uint8)
    fused = dilate_horizontal(
        dilate_vertical(ink, V_DILATE_CELLS * scale), H_DILATE_CELLS * scale
    )
    return np.where(fused > 0, ink_level, bg_level).astype(np.float64)


def ink_word_boxes(
    img: np.ndarray,
    scale: int,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = INK_MODEL_POSTPROC["unclip_ratio"],
    ink_level: float = INK_LEVEL,
    bg_level: float = BG_LEVEL,
) -> np.ndarray:
    """Fused fast path of ink_proba_map + postprocess_proba_map: identical
    boxes/scores, but all-integer masks (no float64 HxW map). Binarizing the
    two-level proba at bin_thresh reproduces the fused mask exactly, so the
    pipeline skips straight from masks to components. One page is a batch
    of one: ``ink_word_boxes_batch`` is the only implementation."""
    return ink_word_boxes_batch([img], scale, box_thresh, unclip_ratio, ink_level, bg_level)[0]


def ink_word_boxes_batch(
    pages: list[np.ndarray],
    scale: int,
    box_thresh: float = BOX_THRESH,
    unclip_ratio: float = INK_MODEL_POSTPROC["unclip_ratio"],
    ink_level: float = INK_LEVEL,
    bg_level: float = BG_LEVEL,
    *,
    rasters: list[tuple[np.ndarray, int]] | None = None,
) -> list[np.ndarray]:
    """``[ink_word_boxes(p, scale) for p in pages]``, bit for bit, with the
    morphology, components and scoring run once per canvas of pages.

    The renderer places ink on an s-aligned cell grid, so s x s pooling is
    lossless for an aligned page and dilation by (4, 3) CELLS equals
    dilation by (4s, 3s) px on s^2 = 9x fewer pixels. Aligned pages of one
    cell width stack into one cell canvas. A page that is not aligned
    (skewed scans, arbitrary rasters, pages under one cell, scale 1) is a
    canvas of its own, which is the full-resolution path.

    ``rasters``: each page's ``_page_mask(page, scale)``, when the caller
    has built them; they are built here otherwise. This is the keyword the
    batch-entry contract (``plans/models.py``) hands every entry: the fused
    stage builds each page's raster once, passes it here, and reuses it in
    its artefact gate and recognizer."""
    masks, dims, canvases = [], [], {}
    if rasters is None:
        rasters = [_page_mask(img, scale) for img in pages]
    for i, (img, (mask, cs)) in enumerate(zip(pages, rasters)):
        masks.append(mask)
        dims.append(img.shape[:2])
        canvases.setdefault(("cells", mask.shape[1]) if cs > 1 else ("page", i), []).append(i)
    out: list[np.ndarray] = [np.empty(0)] * len(pages)
    for (kind, _), idx in canvases.items():
        cs = scale if kind == "cells" else 1
        boxes = _canvas_boxes(
            [masks[i] for i in idx], [dims[i] for i in idx], cs,
            V_DILATE_CELLS * scale // cs, H_DILATE_CELLS * scale // cs,
            box_thresh, unclip_ratio, (bg_level, ink_level),
        )
        for i, page_boxes in zip(idx, boxes):
            out[i] = page_boxes
    return out


def _page_mask(img: np.ndarray, scale: int) -> tuple[np.ndarray, int]:
    """The page's ink raster (mask, cs): its 0/1 ink cells and cs = scale
    when it is aligned (scale > 1), else its pixel ink mask and cs = 1.
    Pixel (y, x) of an aligned page is ink exactly when cell
    (y // cs, x // cs) is, and the edge strips under one cell are blank."""
    ink = ink_mask(img)
    cells = _ink_cells_if_aligned(ink, scale) if scale > 1 else None
    return (ink, 1) if cells is None else (cells, scale)


# the batch entry of the default detector (plans/models.py contract)
ink_word_boxes.batch = ink_word_boxes_batch
ink_word_boxes_batch.single = ink_word_boxes


def _canvas_boxes(
    masks: list[np.ndarray],
    dims: list[tuple[int, int]],
    cs: int,
    v_radius: int,
    h_radius: int,
    box_thresh: float,
    unclip_ratio: float,
    levels: tuple[float, float],
) -> list[np.ndarray]:
    """Ink-fuse boxes of same-width masks, one (N, 5) array per mask.

    Each mask is a page's ink at ``cs`` x ``cs`` px per element, ``dims``
    the page's pixel (h, w). The masks stack into one canvas ``v_radius``
    blank rows apart, so the vertical dilation of one page reaches no ink
    of another; zeroing the separator rows after it clips each page's
    dilation to the page, as dilating the page alone would. Then one
    horizontal dilation and one labelling serve every page. The 3x3
    opening of the generic postprocess is the identity here: the fused
    mask is a union of rectangles of at least 3x3, and opening such a
    union returns it.

    A component's score is its box's fused-cell count over the box area,
    the exact mean ``bitmap_to_boxes`` takes. The count comes from the row
    runs the labelling built: the overlaps of [x0, x1] with every run of
    rows y0..y1 (one index band, since runs are sorted by row), other
    components' runs included, summed by one ragged ``arange`` and a
    weighted ``bincount``, with no cumsum over the canvas. Many tall
    components can make the bands longer than the canvas has cells; then
    an integer summed-area table counts instead, so time and memory stay
    O(canvas) either way."""
    heights = np.array([m.shape[0] for m in masks])
    tops = np.concatenate(([0], np.cumsum(heights[:-1] + v_radius)))
    canvas = np.zeros((int(tops[-1] + heights[-1]), masks[0].shape[1]), dtype=np.uint8)
    on_page = np.zeros(len(canvas), dtype=bool)
    for top, m in zip(tops.tolist(), masks):
        canvas[top : top + len(m)] = m
        on_page[top : top + len(m)] = True
    fused = _dilate_axis(canvas, v_radius, 0)
    del canvas
    fused[~on_page] = 0
    fused = _dilate_axis(fused, h_radius, 1)
    (x0, y0, x1, y1), (starts, stops, offsets) = _component_runs(fused)
    band, lengths = offsets[y0], offsets[y1 + 1] - offsets[y0]
    if lengths.sum() <= fused.size:
        box = np.repeat(np.arange(len(x0)), lengths)
        run = np.arange(lengths.sum()) + np.repeat(band - np.cumsum(lengths) + lengths, lengths)
        overlap = np.minimum(stops[run], x1[box] + 1) - np.maximum(starts[run], x0[box])
        filled = np.bincount(box, weights=np.maximum(overlap, 0), minlength=len(x0))
    else:
        sat = np.pad(fused.cumsum(0, dtype=np.int64).cumsum(1), ((1, 0), (1, 0)))
        filled = sat[y1 + 1, x1 + 1] - sat[y0, x1 + 1] - sat[y1 + 1, x0] + sat[y0, x0]
    bg, fg = levels
    score = bg + (fg - bg) * (filled / ((y1 - y0 + 1) * (x1 - x0 + 1)))

    # inclusive pixel bbox on its own page, then the DB unclip
    page = np.searchsorted(tops, y0, side="right") - 1
    y0, y1 = y0 - tops[page], y1 - tops[page]
    px0, py0, px1, py1 = x0 * cs, y0 * cs, (x1 + 1) * cs - 1, (y1 + 1) * cs - 1
    bw, bh = px1 - px0 + 1, py1 - py0 + 1
    d = (bw * bh) * unclip_ratio / (2.0 * (bw + bh))
    ex0, ey0, ex1, ey1 = np.floor(px0 - d), np.floor(py0 - d), np.ceil(px1 + d), np.ceil(py1 + d)
    keep = (
        (px1 - px0 >= MIN_SIZE_BOX) & (py1 - py0 >= MIN_SIZE_BOX) & (score >= box_thresh)
        & (ex1 - ex0 >= MIN_SIZE_BOX) & (ey1 - ey0 >= MIN_SIZE_BOX)
    )
    page_h, page_w = np.array(dims, dtype=np.int64).reshape(-1, 2)[page].T
    boxes = np.stack([ex0 / page_w, ey0 / page_h, (ex1 + 1) / page_w, (ey1 + 1) / page_h, score], axis=1)
    return np.split(np.clip(boxes[keep], 0.0, 1.0), np.searchsorted(page[keep], np.arange(1, len(masks))))


def _ink_cells_if_aligned(ink: np.ndarray, s: int) -> np.ndarray | None:
    """Cell-space (H/s, W/s) 0/1 downsampling of an ink mask, or None when
    the mask is not exactly s-aligned (any partially-inked cell, or ink in
    the partial edge strips / near enough to them that pixel-space dilation
    would enter the strips the cell grid cannot represent).

    The edge guards below derive from the CELL dilation radii of
    ink_word_boxes' fuse step, ``H_DILATE_CELLS`` / ``V_DILATE_CELLS``
    (radius + 1), so changing the fuse radii cannot silently
    desynchronize the guard from the dilation reach."""
    H, W = ink.shape
    hc, wc = H // s, W // s
    if hc == 0 or wc == 0:
        return None
    core = ink[: hc * s, : wc * s]
    # strided-slice adds beat a reshape(hc,s,wc,s).sum((1,3)) ~10x here
    # (contiguous row reads, no 4-d intermediate); uint8 is safe to s=15
    dt = np.uint8 if s * s <= 255 else np.int32
    rows = core[0::s].astype(dt, copy=True)
    for i in range(1, s):
        rows += core[i::s]
    cellsum = rows[:, 0::s].copy()
    for i in range(1, s):
        cellsum += rows[:, i::s]
    full = s * s
    if not bool(((cellsum == 0) | (cellsum == full)).all()):
        return None
    if W - wc * s and ink[:, wc * s :].any():
        return None
    if H - hc * s and ink[hc * s :, :].any():
        return None
    cells = (cellsum > 0).astype(np.uint8)
    # conservative guard: ink within dilation reach of a partial edge strip
    # would dilate into pixels the cell grid cannot express -> full-res path
    if W - wc * s and cells[:, max(wc - (H_DILATE_CELLS + 1), 0) :].any():
        return None
    if H - hc * s and cells[max(hc - (V_DILATE_CELLS + 1), 0) :, :].any():
        return None
    return cells

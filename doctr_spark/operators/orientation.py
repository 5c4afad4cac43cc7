"""Page/crop orientation operators (reference §2.4 semantics):

- rotate_page / rectify_crops: np.rot90 by quarter turns
  (doctr/models/_utils.py:117-133 rectify_crops rotates crops by the
  classifier's predicted orientation)
- rectify_loc_preds: np.roll of polygon point order
  (doctr/models/_utils.py:136-153)
- estimate_page_orientation: the deterministic stand-in for the
  MobileNetV3 0/90/180/270 classifier (classification/predictor): score
  each quarter turn by how many decoded glyphs hit the font table, pick
  the argmax (ties -> smallest k). Like the recognizer itself, this is a
  deterministic "model" so per-turn equality stays well-defined.

docTR's default pipeline (assume_straight_pages=True) skips orientation
entirely; ours does too — the pipeline enables this stage via
``detect_orientation=True``.
"""

from __future__ import annotations

import numpy as np

from ..functions.vocabs import UNKNOWN_CHAR
from ..sources.font import ink_mask, read_word_crop
from .detection import ink_word_boxes
from .geometry import extract_crops


def rotate_page(img: np.ndarray, k: int) -> np.ndarray:
    """Rotate by k quarter turns counter-clockwise."""
    return np.rot90(img, k % 4)


def rectify_crops(crops: list[np.ndarray], orientations: list[int]) -> list[np.ndarray]:
    """Rotate each crop back upright given its predicted orientation
    (k quarter turns to apply)."""
    return [np.rot90(c, k % 4) if k % 4 else c for c, k in zip(crops, orientations)]


def rectify_loc_preds(quads: np.ndarray, orientations: list[int]) -> np.ndarray:
    """Re-align polygon point order after crop rotation (np.roll on the
    point axis by the orientation index)."""
    q = np.asarray(quads, dtype=np.float64)
    out = q.copy()
    for i, k in enumerate(orientations):
        out[i] = np.roll(q[i], k % 4, axis=0)
    return out


def orientation_score(img: np.ndarray, scale: int, max_words: int = 6) -> float:
    """Fraction of decoded glyphs that hit the font table on up to
    ``max_words`` detected boxes (0.0 when nothing is detected)."""
    boxes = ink_word_boxes(img, scale)
    if boxes.shape[0] == 0:
        return 0.0
    crops = extract_crops(img, boxes[:max_words, :4])
    total = known = 0
    for c in crops:
        if c.size == 0:
            continue
        word = read_word_crop(c, scale)
        total += len(word)
        known += sum(1 for ch in word if ch != UNKNOWN_CHAR)
    return known / total if total else 0.0


def estimate_page_orientation(img: np.ndarray, scale: int, max_words: int = 6) -> int:
    """Number of quarter turns k such that rot90(img, k) is upright.
    Deterministic argmax of glyph-hit rate over the four orientations;
    ties resolve to the smallest k (0 wins on fully ambiguous pages)."""
    best_k, best_score = 0, -1.0
    for k in range(4):
        score = orientation_score(np.rot90(img, k), scale, max_words)
        if score > best_score:
            best_k, best_score = k, score
        if best_score == 1.0 and k == 0:
            break  # upright and fully readable: skip the other rotations
    return best_k


# ------------------------------------------------ arbitrary-angle skew


# rows of the output canvas per block of rotate_page_float's inverse map
_ROTATE_BLOCK_ROWS = 64


def rotate_page_float(img: np.ndarray, angle_deg: float, fill: int = 255) -> np.ndarray:
    """Rotate a grayscale page by an arbitrary float angle about its
    center (positive = counter-clockwise on screen), canvas expanded to
    fit, nearest-neighbor sampling, white background fill — the numpy
    analog of reference ``rotate_image(page, angle, expand=True)``
    (utils/geometry.py:283-328; theirs pads with black because it rotates
    seg bitmaps, ours fills with paper white)."""
    a = np.deg2rad(angle_deg)
    h, w = img.shape[:2]
    c, s = np.cos(a), np.sin(a)
    # snap the trig fuzz of exact quarter turns (cos 90deg = 6e-17) so
    # k*90 rotations become lossless index permutations on an exact canvas
    c = 0.0 if abs(c) < 1e-12 else (round(c) if abs(c - round(c)) < 1e-12 else c)
    s = 0.0 if abs(s) < 1e-12 else (round(s) if abs(s - round(s)) < 1e-12 else s)
    H = int(np.ceil(abs(h * c) + abs(w * s)))
    W = int(np.ceil(abs(w * c) + abs(h * s)))
    cx, cy = (W - 1) / 2.0, (H - 1) / 2.0
    ox, oy = (w - 1) / 2.0, (h - 1) / 2.0
    dx = np.arange(W) - cx
    out = np.full((H, W), fill, dtype=img.dtype)
    # the inverse map a block of rows at a time, so the index and float
    # arrays stay a few block-sized buffers, not eight page-sized ones
    for r0 in range(0, H, _ROTATE_BLOCK_ROWS):
        dy = (np.arange(r0, min(r0 + _ROTATE_BLOCK_ROWS, H)) - cy)[:, None]
        # inverse map (output px -> source px); y grows downward, so this
        # pair makes positive angles turn the page content ccw on screen
        xi = np.rint(c * dx - s * dy + ox).astype(np.int64)
        yi = np.rint(s * dx + c * dy + oy).astype(np.int64)
        valid = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
        out[r0 : r0 + len(dy)][valid] = img[yi[valid], xi[valid]]
    return out


def estimate_skew_angle(
    img: np.ndarray,
    scale: int,
    n_ct: int = 70,
    line_ratio: float = 3.0,
    lower_area: int = 100,
) -> float:
    """Contour-path fine-angle estimator (reference
    ``models/_utils.py:32-114`` semantics, cv2-free): threshold the page
    to ink, dilate to merge words into text lines (kernel ~ page_dim/100,
    the reference's MORPH_RECT analog), take connected components,
    keep the ``n_ct`` most elongated ones above ``lower_area``, fit each a
    min-area rotated rect (rotating calipers), keep line-like rects
    (aspect > ``line_ratio``), and return the median long-edge angle.

    Contract: the returned angle ``a`` uprights the page —
    ``rotate_page_float(page, a)`` makes the text lines horizontal
    (golden-tested round trip in tests/test_orientation_export.py)."""
    from .detection import connected_components, dilate_horizontal, dilate_vertical
    from .geometry import min_area_rect

    ink = ink_mask(img).astype(np.uint8)
    kx = max(1, img.shape[1] // 100)
    ky = max(1, img.shape[0] // 100)
    mask = dilate_vertical(dilate_horizontal(ink, kx), ky)
    cands = []
    for x0, y0, x1, y1 in connected_components(mask):
        sub = mask[y0 : y1 + 1, x0 : x1 + 1]
        area = int(sub.sum())
        if area <= lower_area:
            continue
        bw, bh = x1 - x0 + 1, y1 - y0 + 1
        cands.append((max(bw / bh, bh / bw), x0, y0, sub))
    cands.sort(key=lambda t: -t[0])
    angles = []
    for _, x0, y0, sub in cands[:n_ct]:
        ys, xs = np.nonzero(sub)
        rect = min_area_rect(np.stack([xs + x0, ys + y0], axis=1))
        e1, e2 = rect[1] - rect[0], rect[2] - rect[1]
        l1, l2 = float(np.hypot(*e1)), float(np.hypot(*e2))
        long_e, wlen, hlen = (e1, l1, l2) if l1 >= l2 else (e2, l2, l1)
        if hlen == 0 or wlen / hlen <= line_ratio:
            continue  # only line-like components vote
        ang = float(np.degrees(np.arctan2(long_e[1], long_e[0])))
        ang = ((ang + 90.0) % 180.0) - 90.0  # fold into (-90, 90]
        angles.append(ang)
    if not angles:
        return 0.0
    # long-edge angle of a line skewed ccw-on-screen is -skew in y-down
    # image coords; returning the median directly gives the uprighting
    # angle for rotate_page_float
    return float(np.median(angles))


def estimate_orientation_combined(img: np.ndarray, scale: int) -> float:
    """Quarter-turn classifier + contour fine angle, combined the way the
    reference merges the general page orientation with the contour
    estimate (models/_utils.py:102-114): classify k quarter turns first,
    estimate the residual fine skew on the k-rotated page, and return the
    total uprighting angle ``90*k + fine`` folded into (-180, 180]."""
    k = estimate_page_orientation(img, scale)
    fine = estimate_skew_angle(np.rot90(img, k), scale)
    total = 90.0 * k + fine
    if total > 180.0:
        total -= 360.0
    return total

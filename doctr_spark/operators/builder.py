"""Reading-order document builder: the relational kernel of the engine.

Behavioral parity targets (reference doctr/models/builder.py):
- sort key  = xmin + 2*ymax / median(heights)            (builder.py:63)
- line break when |y_center - mean(line y_centers)| >= median_height/2
                                                          (builder.py:103-146)
- sub-line break when xmin_i - xmax_prev >= paragraph_break (0.035)
                                                          (builder.py:65-101)
- render joins per functions/render.py

A page holds a handful of boxes (about 8 on the bench corpus), so the
reading order runs on Python floats from one ``tolist()`` of the straight
boxes: per-call numpy costs more than the arithmetic at that size. Each
float is the float64 numpy gave: the key takes the same operations in the
same order, and the median is numpy's (the middle of the sorted values, or
the mean of the two middle ones). Sorts are stable, ties in input order
and NaN last, as ``np.argsort(kind="stable")``, so every CPU gives the same
order. The sort key and sub-line split are also SQL-expressible and get
DuckDB oracle twins in __spark_entry__.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..functions.render import render_page
from .geometry import deskewed_straight_boxes, quads_to_straight, resolve_enclosing_bbox

PARAGRAPH_BREAK = 0.035
_NAN, _INF = float("nan"), float("inf")


def _straight(boxes: np.ndarray) -> np.ndarray:
    """(N, 4) float64 boxes; rotated (N, 4, 2) input is de-skewed by the
    estimated page angle and THEN min/max-collapsed — full parity with
    reference models/builder.py:55-62 (rotate_boxes by
    -estimate_page_angle, min_angle=5, then concatenate(min(1), max(1)))."""
    b = np.asarray(boxes, dtype=np.float64)
    return deskewed_straight_boxes(b, min_angle=5.0) if b.ndim == 3 else b.reshape(-1, 4)


def _has_nan(values: list[float]) -> bool:
    total = sum(values)  # NaN when a value is, or when +inf and -inf meet
    return total != total and any(v != v for v in values)


def _median(values: list[float]) -> float:
    """``np.median``: NaN when any value is NaN (or there is none), else
    the middle sorted value or the mean of the two middle ones (up to the
    sign of a zero, which no caller can tell apart)."""
    s = [_NAN] if _has_nan(values) else sorted(values) or [_NAN]
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _order(values: list[float]) -> list[int]:
    """``np.argsort(values, kind="stable").tolist()``: ties in input order,
    NaN last (a NaN compares false both ways, so it gets a key of its own)."""
    if _has_nan(values):
        return sorted(range(len(values)), key=lambda i: (values[i] != values[i], values[i]))
    return sorted(range(len(values)), key=values.__getitem__)


def _keys(rows: list[list[float]]) -> tuple[list[float], float]:
    """(reading-order key per straight box, xmin + 2*ymax/median_height;
    the median height). A zero median divides as numpy does: +-inf, or
    NaN for 0/0."""
    med_h = _median([y1 - y0 for _, y0, _, y1 in rows])
    return [x0 + (2.0 * y1 / med_h if med_h else 2.0 * y1 * _INF) for x0, _, _, y1 in rows], med_h


def reading_order_keys(boxes: np.ndarray) -> np.ndarray:
    """Scalar reading-order key per box: xmin + 2*ymax/median_height."""
    return np.array(_keys(np.asarray(boxes, dtype=np.float64).reshape(-1, 4).tolist())[0], dtype=np.float64)


def reading_order(rows: list[list[float]]) -> list[int]:
    """Indices of straight boxes, given as lists, in reading order."""
    return _order(_keys(rows)[0])


def sort_boxes(boxes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sort boxes top-to-bottom / left-to-right (rotated input de-skewed
    first, see ``_straight``). Returns (order indices, straight boxes)."""
    b = _straight(boxes)
    return np.array(reading_order(b.tolist()), dtype=np.int64), b


def resolve_sub_lines(boxes: np.ndarray, word_idcs: list[int], paragraph_break: float = PARAGRAPH_BREAK) -> list[list[int]]:
    """Within one vertical line, sort words by xmin and split where the
    horizontal gap to the previous word is >= paragraph_break. ``boxes``
    may also be the straight boxes' ``tolist()``."""
    rows = boxes if isinstance(boxes, list) else np.asarray(boxes, dtype=np.float64).tolist()
    idcs = [word_idcs[j] for j in _order([rows[i][0] for i in word_idcs])]
    lines, current = [], idcs[:1]
    for i in idcs[1:]:
        if rows[i][0] - rows[current[-1]][2] >= paragraph_break:
            lines.append(current)
            current = []
        current.append(i)
    lines.append(current)
    return lines


def resolve_lines(boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> list[list[int]]:
    """Group boxes into reading-order lines: greedy vertical clustering over
    the sorted sequence (running mean of line y-centers, threshold = half the
    median box height), then horizontal sub-line splits."""
    return _lines(_straight(boxes).tolist(), paragraph_break)


def _lines(rows: list[list[float]], paragraph_break: float) -> list[list[int]]:
    keys, med_h = _keys(rows)
    y_centers = [(y0 + y1) / 2 for _, y0, _, y1 in rows]
    lines, current, y_center_sum = [], [], 0.0
    for idx in _order(keys):
        y_center = y_centers[idx]
        if current and abs(y_center - y_center_sum / len(current)) >= med_h / 2:
            lines.extend(resolve_sub_lines(rows, current, paragraph_break))
            current, y_center_sum = [], 0.0
        current.append(idx)
        y_center_sum += y_center
    return lines + resolve_sub_lines(rows, current, paragraph_break) if current else lines


def resolve_blocks(boxes: np.ndarray, lines: list[list[int]], t: float = 0.1) -> list[list[list[int]]]:
    """Group lines into blocks by clustering 6-dim geometric line features
    with a distance threshold.

    The reference clusters with scipy fclusterdata(t=0.1,
    criterion='distance') — single-linkage under a distance cutoff, which
    is exactly connected components of the graph {d(i,j) <= t} — computed
    here directly (no scipy). Off by default in the pipeline, like the
    reference's resolve_blocks=False default.
    """
    b = np.asarray(boxes, dtype=np.float64)
    if b.ndim == 3:
        b = quads_to_straight(b)
    line_boxes = np.array([resolve_enclosing_bbox(b[line]) for line in lines])
    x0, y0, x1, y1 = line_boxes[:, 0], line_boxes[:, 1], line_boxes[:, 2], line_boxes[:, 3]
    feats = np.stack(
        ((x0 + y1) / 2, (y0 + x1) / 2, (x0 + x1) / 2, (y0 + y1) / 2, x0, y0), axis=-1
    )
    d2 = ((feats[:, None, :] - feats[None, :, :]) ** 2).sum(-1)
    adj = d2 <= t * t
    n = len(lines)
    labels = np.full(n, -1, dtype=np.int64)
    blocks: list[list[list[int]]] = []
    for i in range(n):
        if labels[i] >= 0:
            continue
        stack, members = [i], []
        labels[i] = len(blocks)
        while stack:
            u = stack.pop()
            members.append(u)
            for v in np.flatnonzero(adj[u]):
                if labels[v] < 0:
                    labels[int(v)] = len(blocks)
                    stack.append(int(v))
        blocks.append([lines[m] for m in sorted(members)])
    return blocks


@dataclass
class BuiltPage:
    """Flat, Arrow-friendly page structure (words carry line/block ids)."""

    text: str
    words: list[dict] = field(default_factory=list)  # value, conf, box, line_idx, word_idx, block_idx


def build_page(
    boxes: np.ndarray,
    values: list[str],
    scores: np.ndarray | None = None,
    resolve: bool = True,
    paragraph_break: float = PARAGRAPH_BREAK,
    group_blocks: bool = False,
) -> BuiltPage:
    """Assemble detected words into lines -> block(s) -> page text.

    Default mirrors DocumentBuilder with resolve_blocks=False (the
    reference default, builder.py:33): all lines form one block, so
    page.render() == "\\n".join(line texts). With ``group_blocks`` lines
    cluster geometrically into blocks joined by "\\n\\n".
    """
    b = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    if b.shape[0] != len(values):
        raise ValueError(f"boxes/values length mismatch: {b.shape[0]} vs {len(values)}")
    if b.shape[0] == 0:
        return BuiltPage(text="")
    rows = b.tolist()
    confidences = [1.0] * len(rows) if scores is None else np.asarray(scores, dtype=np.float64).tolist()

    line_groups = _lines(rows, paragraph_break) if resolve else [reading_order(rows)]
    block_groups = resolve_blocks(b, line_groups) if group_blocks and len(line_groups) > 1 else [line_groups]

    words_out: list[dict] = []
    block_texts: list[list[list[str]]] = []
    line_idx = 0
    for block_idx, block in enumerate(block_groups):
        line_texts: list[list[str]] = []
        for group in block:
            line_texts.append([values[i] for i in group])
            for pos, i in enumerate(group):
                x0, y0, x1, y1 = rows[i]
                words_out.append(
                    {
                        "value": values[i],
                        "confidence": confidences[i],
                        "xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1,
                        "line_idx": line_idx,
                        "word_idx": pos,
                        "block_idx": block_idx,
                    }
                )
            line_idx += 1
        block_texts.append(line_texts)

    return BuiltPage(text=render_page(block_texts), words=words_out)


def line_rbboxes(quads: np.ndarray) -> list[tuple[list[list[int]], np.ndarray]]:
    """Rotated-geometry line resolution: group (N,4,2) word quads into
    reading-order lines (de-skewed keys, builder parity) and give each line
    its enclosing ROTATED bbox via min-area rect — the reference's
    non-export_as_straight_boxes `_build_blocks` geometry
    (models/builder.py + utils/geometry.py:99-118), no cv2.

    Returns [(word_indices, (4,2) rbbox)] per line."""
    from .geometry import resolve_enclosing_rbbox

    q = np.asarray(quads, dtype=np.float64)
    lines = resolve_lines(q)
    return [(line, resolve_enclosing_rbbox([q[line]])) for line in lines]

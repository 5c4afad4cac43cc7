"""Reading-order document builder: the relational kernel of the engine.

Behavioral parity targets (reference doctr/models/builder.py):
- sort key  = xmin + 2*ymax / median(heights)            (builder.py:63)
- line break when |y_center - mean(line y_centers)| >= median_height/2
                                                          (builder.py:103-146)
- sub-line break when xmin_i - xmax_prev >= paragraph_break (0.035)
                                                          (builder.py:65-101)
- render joins per functions/render.py

The per-page workload is tiny (<=1e3 boxes), so these run as plain numpy
inside the Arrow-batched extraction UDF; the sort key and sub-line split are
also SQL-expressible and get DuckDB oracle twins in __spark_entry__.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..functions.render import render_page
from .geometry import deskewed_straight_boxes, quads_to_straight, resolve_enclosing_bbox

PARAGRAPH_BREAK = 0.035


def reading_order_keys(boxes: np.ndarray) -> np.ndarray:
    """Scalar reading-order key per box: xmin + 2*ymax/median_height."""
    b = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    med_h = np.median(b[:, 3] - b[:, 1])
    return b[:, 0] + 2.0 * b[:, 3] / med_h


def sort_boxes(boxes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sort boxes top-to-bottom / left-to-right. Rotated (N,4,2) input is
    de-skewed by the estimated page angle and THEN min/max-collapsed to
    straight boxes — full parity with reference models/builder.py:55-62
    (rotate_boxes by -estimate_page_angle, min_angle=5, then
    concatenate(min(1), max(1))), so line resolution afterwards operates on
    the straightened page. Returns (order indices, straight boxes)."""
    b = np.asarray(boxes, dtype=np.float64)
    if b.ndim == 3:
        b = deskewed_straight_boxes(b, min_angle=5.0)
    return np.argsort(reading_order_keys(b), kind="quicksort"), b


def resolve_sub_lines(boxes: np.ndarray, word_idcs: list[int], paragraph_break: float = PARAGRAPH_BREAK) -> list[list[int]]:
    """Within one vertical line, sort words by xmin and split where the
    horizontal gap to the previous word is >= paragraph_break."""
    b = np.asarray(boxes, dtype=np.float64)
    order = np.argsort(b[np.asarray(word_idcs, dtype=np.int64), 0], kind="quicksort")
    idcs = [word_idcs[i] for i in order.tolist()]
    if len(idcs) < 2:
        return [idcs]
    lines: list[list[int]] = []
    current = [idcs[0]]
    for i in idcs[1:]:
        gap = b[i, 0] - b[current[-1], 2]
        if gap >= paragraph_break:
            lines.append(current)
            current = []
        current.append(i)
    lines.append(current)
    return lines


def resolve_lines(boxes: np.ndarray, paragraph_break: float = PARAGRAPH_BREAK) -> list[list[int]]:
    """Group boxes into reading-order lines: greedy vertical clustering over
    the sorted sequence (running mean of line y-centers, threshold = half the
    median box height), then horizontal sub-line splits."""
    idxs, b = sort_boxes(boxes)
    y_med = np.median(b[:, 3] - b[:, 1])

    y_centers = ((b[:, 1] + b[:, 3]) / 2).tolist()

    lines: list[list[int]] = []
    current: list[int] = [int(idxs[0])]
    y_center_sum = y_centers[idxs[0]]
    for raw_idx in idxs[1:]:
        idx = int(raw_idx)
        y_center = y_centers[idx]
        if abs(y_center - y_center_sum / len(current)) >= y_med / 2:
            lines.extend(resolve_sub_lines(b, current, paragraph_break))
            current = []
            y_center_sum = 0.0
        current.append(idx)
        y_center_sum += y_center
    if current:
        lines.extend(resolve_sub_lines(b, current, paragraph_break))
    return lines


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
    if scores is None:
        scores = np.ones(b.shape[0], dtype=np.float64)

    line_groups = resolve_lines(b, paragraph_break) if resolve else [list(sort_boxes(b)[0])]
    if group_blocks and len(line_groups) > 1:
        block_groups = resolve_blocks(b, line_groups)
    else:
        block_groups = [line_groups]

    words_out: list[dict] = []
    block_texts: list[list[list[str]]] = []
    line_idx = 0
    for block_idx, block in enumerate(block_groups):
        line_texts: list[list[str]] = []
        for group in block:
            texts = [values[i] for i in group]
            line_texts.append(texts)
            for pos, i in enumerate(group):
                words_out.append(
                    {
                        "value": values[i],
                        "confidence": float(scores[i]),
                        "xmin": float(b[i, 0]),
                        "ymin": float(b[i, 1]),
                        "xmax": float(b[i, 2]),
                        "ymax": float(b[i, 3]),
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

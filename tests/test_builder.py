"""Builder geometry goldens — the seven published reading-order cases
(mirrors the reference's parametrized fixtures,
tests/common/test_models_builder.py:187-230)."""

import numpy as np
import pytest

from doctr_spark.operators.builder import (
    build_page,
    reading_order_keys,
    resolve_lines,
    resolve_sub_lines,
    sort_boxes,
)
from doctr_spark.operators.geometry import quads_to_straight, resolve_enclosing_bbox


@pytest.mark.parametrize(
    ("boxes", "expected_order"),
    [
        # vertical stack: bottom-listed first in input, reading order flips
        ([[0, 0.5, 0.1, 0.6], [0, 0.3, 0.2, 0.4], [0, 0, 0.1, 0.1]], [2, 1, 0]),
        # diagonal
        ([[0.7, 0.5, 0.85, 0.6], [0.2, 0.3, 0.4, 0.4], [0, 0, 0.1, 0.1]], [2, 1, 0]),
        # same line
        ([[0, 0.5, 0.1, 0.6], [0.15, 0.5, 0.25, 0.6], [0.5, 0.5, 0.6, 0.6]], [0, 1, 2]),
        # almost same line
        ([[0, 0.5, 0.1, 0.6], [0.2, 0.49, 0.35, 0.59], [0.8, 0.52, 0.9, 0.63]], [0, 1, 2]),
    ],
)
def test_sort_boxes(boxes, expected_order):
    order, straight = sort_boxes(np.asarray(boxes, dtype=np.float64))
    assert order.tolist() == expected_order
    assert straight.shape == (len(boxes), 4)


def test_sort_boxes_rotated_reference_fixture():
    # reference tests/common/test_models_builder.py test_sort_boxes "rot"
    quads = [
        [[0.1, 0.1], [0.2, 0.2], [0.15, 0.25], [0.05, 0.15]],
        [[0.5, 0.5], [0.6, 0.6], [0.55, 0.65], [0.45, 0.55]],
    ]
    order, straight = sort_boxes(np.asarray(quads, dtype=np.float64))
    assert order.tolist() == [0, 1]
    assert straight.shape == (2, 4)


def test_sort_boxes_deskews_skewed_page():
    """Parity with reference builder.py:55-62: an 8-degree page skew drops
    the right-hand word of line 1 below line 2's left word in raw
    coordinates (min/max collapse alone orders [0, 2, 1]); de-skewing by
    -estimate_page_angle restores true reading order [0, 1, 2]."""
    from doctr_spark.operators.geometry import quads_to_straight, rotate_boxes

    line = np.array(
        [[0.05, 0.40, 0.20, 0.45], [0.75, 0.40, 0.95, 0.45], [0.05, 0.50, 0.20, 0.55]]
    )
    quads = np.stack(
        [line[:, [0, 1]], line[:, [2, 1]], line[:, [2, 3]], line[:, [0, 3]]], axis=1
    )
    skewed = rotate_boxes(quads, 8.0, min_angle=0.0)
    # sanity: the naive collapse really is wrong on this fixture
    naive = np.argsort(
        __import__("doctr_spark.operators.builder", fromlist=["reading_order_keys"])
        .reading_order_keys(quads_to_straight(skewed))
    ).tolist()
    assert naive == [0, 2, 1]
    order, _ = sort_boxes(skewed)
    assert order.tolist() == [0, 1, 2]


def test_sort_key_formula():
    b = np.array([[0.1, 0.2, 0.3, 0.4], [0.0, 0.0, 0.2, 0.1]])
    med_h = np.median(b[:, 3] - b[:, 1])
    expect = b[:, 0] + 2 * b[:, 3] / med_h
    assert np.allclose(reading_order_keys(b), expect)


@pytest.mark.parametrize(
    ("boxes", "expected_lines"),
    [
        # vertical: three separate lines
        ([[0, 0.5, 0.1, 0.6], [0, 0.3, 0.2, 0.4], [0, 0, 0.1, 0.1]], [[2], [1], [0]]),
        # diagonal: three separate lines
        ([[0.7, 0.5, 0.85, 0.6], [0.2, 0.3, 0.4, 0.4], [0, 0, 0.1, 0.1]], [[2], [1], [0]]),
        # same vertical band, gap after second word -> sub-line split
        ([[0, 0.5, 0.14, 0.6], [0.15, 0.5, 0.25, 0.6], [0.5, 0.5, 0.6, 0.6]], [[0, 1], [2]]),
        # ~same line, then far word
        ([[0, 0.5, 0.18, 0.6], [0.2, 0.48, 0.35, 0.58], [0.8, 0.52, 0.9, 0.63]], [[0, 1], [2]]),
        # two lines: first two words together, third below
        ([[0, 0.3, 0.48, 0.45], [0.5, 0.28, 0.75, 0.42], [0, 0.45, 0.1, 0.55]], [[0, 1], [2]]),
        # wide gap on first line -> split, then second line
        ([[0, 0.3, 0.4, 0.35], [0.75, 0.28, 0.95, 0.42], [0, 0.45, 0.1, 0.55]], [[0], [1], [2]]),
    ],
)
def test_resolve_lines(boxes, expected_lines):
    assert resolve_lines(np.asarray(boxes, dtype=np.float64)) == expected_lines


def test_resolve_lines_rotated_quads():
    quads = [
        [[0.1, 0.1], [0.2, 0.2], [0.15, 0.25], [0.05, 0.15]],
        [[0.5, 0.5], [0.6, 0.6], [0.55, 0.65], [0.45, 0.55]],
    ]
    assert resolve_lines(np.asarray(quads, dtype=np.float64)) == [[0], [1]]


def test_resolve_sub_lines_gap():
    boxes = np.array([[0.0, 0, 0.1, 0.1], [0.11, 0, 0.2, 0.1], [0.5, 0, 0.6, 0.1]])
    assert resolve_sub_lines(boxes, [0, 1, 2]) == [[0, 1], [2]]
    # gap just under the 0.035 threshold stays together
    boxes2 = np.array([[0.0, 0, 0.1, 0.1], [0.134, 0, 0.2, 0.1]])
    assert resolve_sub_lines(boxes2, [0, 1]) == [[0, 1]]
    # gap exactly at threshold splits (>= semantics)
    boxes3 = np.array([[0.0, 0, 0.1, 0.1], [0.135, 0, 0.2, 0.1]])
    assert resolve_sub_lines(boxes3, [0, 1]) == [[0], [1]]


def test_rotated_quad_to_straight_export():
    # quad -> enclosing straight bbox (reference golden:
    # tests/common/test_models_builder.py:74-88)
    quad = np.array([[[0.5, 0.5], [0.6, 0.6], [0.55, 0.65], [0.45, 0.55]]])
    out = quads_to_straight(quad)
    assert np.allclose(out[0], [0.45, 0.5, 0.6, 0.65])


def test_enclosing_bbox():
    boxes = np.array([[0.1, 0.2, 0.3, 0.4], [0.05, 0.3, 0.2, 0.5]])
    assert np.allclose(resolve_enclosing_bbox(boxes), [0.05, 0.2, 0.3, 0.5])


def test_build_page_render():
    boxes = np.array(
        [[0.0, 0.0, 0.1, 0.1], [0.12, 0.0, 0.2, 0.1], [0.0, 0.5, 0.1, 0.6]]
    )
    page = build_page(boxes, ["hello", "world", "below"])
    assert page.text == "hello world\nbelow"
    assert len(page.words) == 3
    assert page.words[0]["value"] == "hello"
    assert page.words[0]["line_idx"] == 0
    assert page.words[2]["line_idx"] == 1


def test_build_page_empty():
    page = build_page(np.zeros((0, 4)), [])
    assert page.text == ""
    assert len(page.words) == 0


def test_resolve_blocks_groups_far_lines():
    from doctr_spark.operators.builder import resolve_blocks

    # two tight lines at the top, one far line at the bottom
    boxes = np.array(
        [
            [0.1, 0.10, 0.4, 0.14],
            [0.1, 0.16, 0.4, 0.20],
            [0.1, 0.80, 0.4, 0.84],
        ]
    )
    lines = [[0], [1], [2]]
    blocks = resolve_blocks(boxes, lines, t=0.1)
    assert blocks == [[[0], [1]], [[2]]]


def test_build_page_with_blocks():
    boxes = np.array(
        [
            [0.1, 0.10, 0.4, 0.14],
            [0.1, 0.16, 0.4, 0.20],
            [0.1, 0.80, 0.4, 0.84],
        ]
    )
    page = build_page(boxes, ["top", "middle", "bottom"], group_blocks=True)
    assert page.text == "top\nmiddle\n\nbottom"  # blocks joined by \n\n
    assert page.words[2]["block_idx"] == 1
    # default stays single-block
    page2 = build_page(boxes, ["top", "middle", "bottom"])
    assert page2.text == "top\nmiddle\nbottom"


def test_detection_hook_applied():
    from doctr_spark.plans.pipeline import extract_turn_ocr
    from doctr_spark.sources.font import render_page as rp
    from doctr_spark.sources.payloads import encode_page_bundle

    img, _ = rp(["AAA", "BBB"], scale=3)
    bundle = encode_page_bundle([img], 3)
    full, _, n_all, _, _, _, _ = extract_turn_ocr(bundle)
    assert full == "AAA BBB" and n_all == 2
    drop_low_x = lambda b: b[b[:, 0] > 0.1]  # noqa: E731
    hooked, _, n_hooked, _, _, _, _ = extract_turn_ocr(bundle, detection_hooks=[drop_low_x])
    assert n_hooked == 1 and hooked == "BBB"


def test_line_rbboxes_rotated_geometry():
    """Rotated lines keep rotated enclosing geometry: for a 10-degree
    skewed two-word line, the min-area rbbox is much tighter than the
    axis-aligned enclosure (the reference's rotated _build_blocks path)."""
    from doctr_spark.operators.builder import line_rbboxes
    from doctr_spark.operators.geometry import rotate_boxes

    line = np.array([[0.10, 0.40, 0.30, 0.46], [0.32, 0.40, 0.52, 0.46]])
    quads = np.stack(
        [line[:, [0, 1]], line[:, [2, 1]], line[:, [2, 3]], line[:, [0, 3]]], axis=1
    )
    skewed = rotate_boxes(quads, 10.0, min_angle=0.0)
    out = line_rbboxes(skewed)
    assert len(out) == 1 and sorted(out[0][0]) == [0, 1]
    rb = out[0][1]

    def quad_area(q):
        return 0.5 * abs(
            sum(q[i][0] * q[(i + 1) % 4][1] - q[(i + 1) % 4][0] * q[i][1] for i in range(4))
        )

    aligned = np.concatenate([skewed.reshape(-1, 2).min(0), skewed.reshape(-1, 2).max(0)])
    aligned_area = (aligned[2] - aligned[0]) * (aligned[3] - aligned[1])
    true_area = 0.42 * 0.06  # the un-skewed line extent
    assert quad_area(rb) <= aligned_area * 0.85  # rotated enclosure is tighter
    assert quad_area(rb) >= true_area * 0.95  # and still covers the line


def test_pluggable_orientation_model():
    """A custom orienter injects through the seam and the default path is
    unchanged (rotated page still extracts exactly)."""
    import numpy as np

    from doctr_spark.plans.pipeline import extract_pages_ocr
    from doctr_spark.sources.font import expected_page_lines, render_page

    words = ["ROTATED", "SEAM", "42"]
    img, _ = render_page(words, scale=3)
    rot = np.ascontiguousarray(np.rot90(img, 3))  # stored rotated by 270 ccw
    calls = []

    def fixed_orienter(page, scale):
        calls.append(page.shape)
        return 1  # one ccw quarter turn rights a 270-ccw-stored page

    text, *_ = extract_pages_ocr([rot], 3, detect_orientation=True, orienter=fixed_orienter)
    assert calls and text == "\n".join(expected_page_lines(words, scale=3))


# ---- the Python-float builder against the numpy builder it replaced

from doctr_spark.operators.geometry import deskewed_straight_boxes, rotate_boxes  # noqa: E402


def _ref_sort_boxes(boxes):
    """The numpy builder's sort, with its quicksort made stable."""
    b = np.asarray(boxes, dtype=np.float64)
    if b.ndim == 3:
        b = deskewed_straight_boxes(b, min_angle=5.0)
    med_h = np.median(b[:, 3] - b[:, 1])
    return np.argsort(b[:, 0] + 2.0 * b[:, 3] / med_h, kind="stable"), b


def _ref_resolve_sub_lines(b, word_idcs, paragraph_break=0.035):
    order = np.argsort(b[np.asarray(word_idcs, dtype=np.int64), 0], kind="stable")
    idcs = [word_idcs[i] for i in order.tolist()]
    if len(idcs) < 2:
        return [idcs]
    lines, current = [], [idcs[0]]
    for i in idcs[1:]:
        if b[i, 0] - b[current[-1], 2] >= paragraph_break:
            lines.append(current)
            current = []
        current.append(i)
    lines.append(current)
    return lines


def _ref_resolve_lines(boxes, paragraph_break=0.035):
    idxs, b = _ref_sort_boxes(boxes)
    y_med = np.median(b[:, 3] - b[:, 1])
    y_centers = ((b[:, 1] + b[:, 3]) / 2).tolist()
    lines, current = [], [int(idxs[0])]
    y_center_sum = y_centers[idxs[0]]
    for raw_idx in idxs[1:]:
        idx = int(raw_idx)
        if abs(y_centers[idx] - y_center_sum / len(current)) >= y_med / 2:
            lines.extend(_ref_resolve_sub_lines(b, current, paragraph_break))
            current, y_center_sum = [], 0.0
        current.append(idx)
        y_center_sum += y_centers[idx]
    lines.extend(_ref_resolve_sub_lines(b, current, paragraph_break))
    return lines


def _ref_words(boxes, values, scores):
    b = np.asarray(boxes, dtype=np.float64)
    words = []
    for line_idx, group in enumerate(_ref_resolve_lines(b)):
        for pos, i in enumerate(group):
            words.append({"value": values[i], "confidence": float(scores[i]), "xmin": float(b[i, 0]),
                          "ymin": float(b[i, 1]), "xmax": float(b[i, 2]), "ymax": float(b[i, 3]),
                          "line_idx": line_idx, "word_idx": pos, "block_idx": 0})
    return words


def _random_page(rng, n):
    """n word boxes on a few text lines, with jitter, gaps around the
    paragraph break and (sometimes) coordinates on a coarse grid, so keys,
    heights and xmins tie."""
    line = rng.integers(0, max(1, n // 3), n)
    h = rng.uniform(0.02, 0.06)
    y0 = line * h * 1.4 + rng.normal(0, h / 5, n) + 0.05
    x0 = rng.uniform(0, 0.9, n)
    boxes = np.stack([x0, y0, x0 + rng.uniform(0.01, 0.1, n), y0 + h * rng.uniform(0.7, 1.3, n)], axis=1)
    return np.round(boxes, 2) if rng.random() < 0.3 else boxes


def test_builder_equals_numpy_builder_on_random_straight_boxes():
    rng = np.random.default_rng(18)
    for _ in range(400):
        n = int(rng.integers(1, 41))
        boxes = _random_page(rng, n)
        values, scores = [f"w{i}" for i in range(n)], rng.random(n).astype(np.float32)
        order, straight = sort_boxes(boxes)
        ref_order, _ = _ref_sort_boxes(boxes)
        assert order.dtype == np.int64 and order.tolist() == ref_order.tolist()
        assert np.array_equal(straight, boxes)
        assert np.array_equal(reading_order_keys(boxes), boxes[:, 0] + 2.0 * boxes[:, 3] / np.median(boxes[:, 3] - boxes[:, 1]))
        assert resolve_lines(boxes) == _ref_resolve_lines(boxes)
        page = build_page(boxes, values, scores)
        assert page.words == _ref_words(boxes, values, scores)
        assert page.text == "\n".join(" ".join(values[i] for i in line) for line in _ref_resolve_lines(boxes))
        assert build_page(boxes, values, resolve=False).text == " ".join(values[i] for i in ref_order)


def test_builder_equals_numpy_builder_on_rotated_quads():
    rng = np.random.default_rng(19)
    for _ in range(200):
        boxes = _random_page(rng, int(rng.integers(1, 41)))
        quads = np.stack([boxes[:, [0, 1]], boxes[:, [2, 1]], boxes[:, [2, 3]], boxes[:, [0, 3]]], axis=1)
        quads = rotate_boxes(quads, float(rng.uniform(-30, 30)), min_angle=0.0)
        order, straight = sort_boxes(quads)
        ref_order, ref_straight = _ref_sort_boxes(quads)
        assert order.tolist() == ref_order.tolist() and np.array_equal(straight, ref_straight)
        assert resolve_lines(quads) == _ref_resolve_lines(quads)


@pytest.mark.parametrize("n", [4, 5, 8, 16, 17, 33, 40])
def test_tied_reading_order_keys_keep_input_order(n):
    """Boxes whose keys tie sort in input order (np.argsort kind="stable"),
    whatever the CPU's quicksort would do; so do tied xmins in a line and
    tied keys within a KIE class."""
    from doctr_spark.operators.kie import build_kie_page

    rng = np.random.default_rng(n)
    rows = rng.integers(0, 3, n)  # three lines of identical boxes
    boxes = np.stack([np.full(n, 0.1), rows * 0.1, np.full(n, 0.2), rows * 0.1 + 0.05], axis=1)
    assert sort_boxes(boxes)[0].tolist() == np.argsort(rows, kind="stable").tolist()
    assert resolve_lines(boxes) == [np.flatnonzero(rows == r).tolist() for r in range(3) if (rows == r).any()]
    kie = build_kie_page(boxes, [str(i) for i in range(n)])
    assert [p["value"] for p in kie["number"]] == [str(i) for i in np.argsort(rows, kind="stable")]


def test_sort_fixture_with_a_tie_keeps_input_order():
    from doctr_spark.plans.entry_queries import SORT_FIXTURES

    for case_id, boxes, expected in SORT_FIXTURES:
        assert sort_boxes(np.asarray(boxes))[0].tolist() == expected, case_id


def test_degenerate_boxes_sort_as_numpy():
    """A zero median height divides as numpy does (+-inf, NaN for 0/0) and
    NaN keys sort last, so degenerate boxes order as before."""
    flat = np.array([[0.3, 0.0, 0.4, 0.0], [0.1, 0.2, 0.2, 0.2], [0.2, -0.1, 0.3, -0.1], [0.0, 0.0, 0.1, 0.0]])
    with np.errstate(divide="ignore", invalid="ignore"):
        assert sort_boxes(flat)[0].tolist() == _ref_sort_boxes(flat)[0].tolist() == [2, 1, 0, 3]
    nan = flat.copy()
    nan[1, 3] = np.nan
    with np.errstate(invalid="ignore"):
        assert sort_boxes(nan)[0].tolist() == _ref_sort_boxes(nan)[0].tolist()
    assert sort_boxes(np.zeros((0, 4)))[0].tolist() == []

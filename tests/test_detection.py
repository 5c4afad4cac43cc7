"""Detection postprocessor goldens on synthetic proba maps (style of the
reference's tests/common/test_models_detection.py)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from doctr_spark.operators.detection import (
    binary_open3,
    bitmap_to_boxes,
    box_score,
    connected_components,
    postprocess_proba_map,
    unclip_box,
)
from doctr_spark.operators.geometry import box_iou_matrix, nms


def _map_with_rects(h, w, rects, fg=0.9, bg=0.05):
    m = np.full((h, w), bg)
    for x0, y0, x1, y1 in rects:
        m[y0:y1, x0:x1] = fg
    return m


def test_connected_components_basic():
    bm = np.zeros((20, 40), dtype=np.uint8)
    bm[2:8, 3:13] = 1
    bm[12:18, 20:35] = 1
    comps = connected_components(bm)
    assert comps == [(3, 2, 12, 7), (20, 12, 34, 17)]


def test_connected_components_diagonal_touch():
    bm = np.zeros((4, 4), dtype=np.uint8)
    bm[0, 0] = 1
    bm[1, 1] = 1  # 8-connectivity joins diagonals
    comps = connected_components(bm)
    assert len(comps) == 1


def test_opening_removes_speckle():
    bm = np.zeros((10, 10), dtype=np.uint8)
    bm[5, 5] = 1  # single pixel
    bm[1:5, 1:5] = 1  # 4x4 block survives
    opened = binary_open3(bm)
    assert opened[5, 5] == 0
    assert opened[2, 2] == 1


def test_box_score_mean():
    pred = np.zeros((10, 10))
    pred[2:5, 2:5] = 1.0
    assert box_score(pred, 2, 2, 4, 4) == 1.0
    assert box_score(pred, 0, 0, 9, 9) == pytest.approx(9 / 100)


def test_unclip_expansion():
    # 10x10 box at (5,5)-(14,14): d = 100*1.5/(2*20) = 3.75
    x0, y0, x1, y1 = unclip_box(5, 5, 14, 14, 1.5)
    assert (x0, y0) == (1, 1)  # floor(5-3.75)
    assert (x1, y1) == (18, 18)  # ceil(14+3.75)


def test_two_rects_detected():
    proba = _map_with_rects(100, 200, [(10, 10, 60, 30), (100, 50, 180, 80)])
    boxes = postprocess_proba_map(proba)
    assert boxes.shape == (2, 5)
    # scores = mean over expanded bbox region > box_thresh
    assert (boxes[:, 4] > 0.1).all()
    # first rect: ink region [10,60)x[10,30) must be inside the detected box
    b0 = boxes[np.argsort(boxes[:, 0])][0]
    assert b0[0] <= 10 / 200 and b0[2] >= 60 / 200
    assert b0[1] <= 10 / 100 and b0[3] >= 30 / 100


def test_small_component_dropped():
    proba = _map_with_rects(50, 50, [(10, 10, 12, 12)])  # 2x2 -> extent 1 < 2
    boxes = postprocess_proba_map(proba)
    assert boxes.shape[0] == 0


def test_low_score_dropped():
    proba = _map_with_rects(50, 50, [(5, 5, 30, 30)], fg=0.35)
    # passes bin_thresh 0.3 but a high box_thresh filters it
    boxes = postprocess_proba_map(proba, box_thresh=0.9)
    assert boxes.shape[0] == 0


def test_boxes_clipped_to_unit():
    proba = _map_with_rects(40, 40, [(0, 0, 30, 30)])
    boxes = postprocess_proba_map(proba)
    assert (boxes[:, :4] >= 0).all() and (boxes[:, :4] <= 1).all()


def test_iou_and_nms():
    a = np.array([[0, 0, 1, 1]])
    b = np.array([[0.5, 0.5, 1.5, 1.5], [2, 2, 3, 3]])
    iou = box_iou_matrix(a, b)
    assert iou[0, 0] == pytest.approx(0.25 / 1.75)
    assert iou[0, 1] == 0.0
    stack = np.array([[0, 0, 1, 1, 0.9], [0.05, 0.05, 1.05, 1.05, 0.8], [2, 2, 3, 3, 0.7]])
    keep = nms(stack, thresh=0.5)
    assert keep == [0, 2]


def test_bitmap_to_boxes_scores_from_pred():
    pred = _map_with_rects(60, 60, [(10, 10, 40, 40)], fg=0.8)
    bitmap = (pred >= 0.3).astype(np.uint8)
    boxes = bitmap_to_boxes(pred, bitmap)
    assert boxes.shape[0] == 1
    assert boxes[0, 4] == pytest.approx(0.8, abs=1e-6)


def test_postproc_presets():
    from doctr_spark.operators.detection import DB_POSTPROC, FAST_POSTPROC, LINKNET_POSTPROC

    proba = _map_with_rects(100, 200, [(10, 10, 60, 30)], fg=0.2)
    # visible to FAST thresholds (bin .1) but below DB's bin_thresh .3
    assert postprocess_proba_map(proba, **FAST_POSTPROC).shape[0] == 1
    assert postprocess_proba_map(proba, **DB_POSTPROC).shape[0] == 0
    assert LINKNET_POSTPROC["unclip_ratio"] == 1.0


def test_polygon_iou_values():
    from doctr_spark.operators.geometry import polygon_iou

    sq = lambda x0, y0, x1, y1: [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
    A = np.asarray([sq(0, 0, 2, 2)], dtype=np.float64)
    B = np.asarray([sq(1, 0, 3, 2), sq(0, 0, 2, 2), sq(5, 5, 6, 6)], dtype=np.float64)
    out = polygon_iou(A, B)
    assert out.shape == (1, 3)
    np.testing.assert_allclose(out[0], [1 / 3, 1.0, 0.0], atol=1e-12)
    # rotated diamond inscribed in the square: inter = diamond area = 2
    D = np.asarray([[[1, 0], [2, 1], [1, 2], [0, 1]]], dtype=np.float64)
    np.testing.assert_allclose(polygon_iou(A, D), [[0.5]], atol=1e-12)
    # orientation-invariant (clockwise inputs)
    np.testing.assert_allclose(polygon_iou(A, D[:, ::-1, :]), [[0.5]], atol=1e-12)
    np.testing.assert_allclose(polygon_iou(D[:, ::-1, :], A), [[0.5]], atol=1e-12)
    # matches the straight-box IoU on axis-aligned quads
    straight = polygon_iou(A, B)
    from doctr_spark.operators.geometry import box_iou_matrix

    boxes_a = np.asarray([[0, 0, 2, 2]], dtype=np.float64)
    boxes_b = np.asarray([[1, 0, 3, 2], [0, 0, 2, 2], [5, 5, 6, 6]], dtype=np.float64)
    np.testing.assert_allclose(straight, box_iou_matrix(boxes_a, boxes_b), atol=1e-12)


def test_fast_reparameterize_output_equivalence():
    """The fused single conv reproduces the 4-branch FAST layer's output
    exactly (pre-activation): relu(bn(conv3x3) + bn(conv3x1) + bn(conv1x3)
    + bn_id(x)) == relu(conv_fused(x) + bias) — the reference
    reparameterize contract (models/modules/layers/pytorch.py:141-230),
    verified numerically."""
    import numpy as np

    from doctr_spark.operators.reparam import (
        batchnorm,
        conv2d_same,
        reparameterize_fast_layer,
    )

    rng = np.random.default_rng(5)
    C = 4  # in == out so the identity branch is active

    def rand_bn():
        return {
            "gamma": rng.standard_normal(C),
            "beta": rng.standard_normal(C),
            "mean": rng.standard_normal(C),
            "var": rng.uniform(0.5, 2.0, C),
            "eps": 1e-5,
        }

    k_main = rng.standard_normal((C, C, 3, 3))
    k_ver = rng.standard_normal((C, C, 3, 1))
    k_hor = rng.standard_normal((C, C, 1, 3))
    bn_main, bn_ver, bn_hor, bn_id = rand_bn(), rand_bn(), rand_bn(), rand_bn()

    x = rng.standard_normal((2, C, 7, 9))
    unfused = (
        batchnorm(conv2d_same(x, k_main), bn_main)
        + batchnorm(conv2d_same(x, k_ver), bn_ver)
        + batchnorm(conv2d_same(x, k_hor), bn_hor)
        + batchnorm(x, bn_id)
    )
    kernel, bias = reparameterize_fast_layer(
        k_main, bn_main, k_ver, bn_ver, k_hor, bn_hor, id_bn=bn_id
    )
    fused = conv2d_same(x, kernel, bias)
    assert np.allclose(np.maximum(unfused, 0), np.maximum(fused, 0), atol=1e-9)


def test_fast_reparameterize_partial_branches():
    import numpy as np

    from doctr_spark.operators.reparam import (
        batchnorm,
        conv2d_same,
        fuse_conv_bn,
        reparameterize_fast_layer,
    )

    rng = np.random.default_rng(6)
    bn = {
        "gamma": rng.standard_normal(3),
        "beta": rng.standard_normal(3),
        "mean": rng.standard_normal(3),
        "var": rng.uniform(0.5, 2.0, 3),
        "eps": 1e-5,
    }
    k = rng.standard_normal((3, 2, 3, 3))  # out != in: no identity branch
    x = rng.standard_normal((1, 2, 5, 5))
    kernel, bias = reparameterize_fast_layer(k, bn)
    assert np.allclose(batchnorm(conv2d_same(x, k), bn), conv2d_same(x, kernel, bias), atol=1e-9)
    kf, bf = fuse_conv_bn(k, bn)
    assert np.allclose(kernel, kf) and np.allclose(bias, bf)


def _full_res_boxes(page, scale, box_thresh=0.1, unclip_ratio=0.2):
    """The full-resolution ink-fuse path, one box at a time: pixel-space
    dilation by (4s, 3s) and bitmap_to_boxes' per-component scoring."""
    from doctr_spark.operators.detection import dilate_horizontal, dilate_vertical

    ink = (page < 128).astype(np.uint8)
    fused = dilate_horizontal(dilate_vertical(ink, 4 * scale), 3 * scale)
    return bitmap_to_boxes(
        None, fused, box_thresh=box_thresh, unclip_ratio=unclip_ratio, score_mask=fused, levels=(0.02, 0.98)
    )


def _same_bits(a, b):
    return a.dtype == b.dtype and a.shape == b.shape and a.tobytes() == b.tobytes()


def test_cell_fast_path_bit_equal_to_full_res():
    """ink_word_boxes' cell-space fast path (s-aligned pooling + cell-unit
    dilation + cell-space components) returns boxes BIT-IDENTICAL — scores
    included — to the full-resolution dilation path, on pages and all
    quarter-turn rotations; a 1px-shifted (non-aligned) page falls back to
    the full-resolution path and still matches it exactly."""
    from doctr_spark.operators.detection import _ink_cells_if_aligned, ink_word_boxes
    from doctr_spark.sources.font import DEFAULT_SCALE, render_page

    for words in (["HELLO", "WORLD"], ["A+B=C", "R&D", "#1"], ["WHY?", "GO!", "KILO"]):
        img, _ = render_page(words, scale=DEFAULT_SCALE)
        # upright pages are s-aligned and take the fast path
        assert _ink_cells_if_aligned((img < 128).astype(np.uint8), DEFAULT_SCALE) is not None
        for k in range(4):
            # rotations of a 640-wide page break alignment (640 % 3 != 0)
            # and exercise the fallback; either way boxes are identical
            pg = np.rot90(img, k)
            assert _same_bits(ink_word_boxes(pg, DEFAULT_SCALE), _full_res_boxes(pg, DEFAULT_SCALE))
    # 1px shift breaks cell alignment -> exact full-res fallback
    img, _ = render_page(["HELLO", "WORLD"], scale=DEFAULT_SCALE)
    shifted = np.full_like(img, 255)
    shifted[:, 1:] = img[:, :-1]
    assert _ink_cells_if_aligned((shifted < 128).astype(np.uint8), DEFAULT_SCALE) is None
    assert _same_bits(ink_word_boxes(shifted, DEFAULT_SCALE), _full_res_boxes(shifted, DEFAULT_SCALE))


@st.composite
def _page_batches(draw):
    """(pages, scale): cell-aligned pages (some with blank edge strips
    narrower than a cell), pages shifted off the cell grid, pixel noise,
    blank pages and pages under one cell, over two main widths so that
    pages share canvases and some do not."""
    scale = draw(st.sampled_from([1, 2, 3]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    kinds = st.sampled_from(["aligned", "edges", "shifted", "noise", "blank", "tiny"])
    pages = []
    for kind in draw(st.lists(kinds, max_size=6)):
        if kind == "tiny":
            h, w = draw(st.integers(0, scale)), draw(st.integers(0, scale))
            pages.append(np.where(rng.random((h, w)) < 0.5, 0, 255).astype(np.uint8))
            continue
        hc, wc = draw(st.integers(1, 12)), draw(st.sampled_from([9, 17, 9, 17, 4]))
        cells = rng.random((hc, wc)) < draw(st.sampled_from([0.05, 0.25, 0.7]))
        if kind == "blank":
            cells[:] = False
        if kind == "edges":  # ink on the first and last rows and columns
            cells[[0, -1], :] = cells[:, [0, -1]] = True
        ink = np.kron(cells, np.ones((scale, scale), dtype=bool))
        if draw(st.booleans()):
            ink = np.pad(ink, ((0, draw(st.integers(0, scale - 1))), (0, draw(st.integers(0, scale - 1)))))
        if kind == "shifted":
            ink = np.roll(ink, 1, axis=draw(st.integers(0, 1)))
        if kind == "noise":
            ink = rng.random(ink.shape) < 0.3
        pages.append(np.where(ink, 0, 255).astype(np.uint8))
    return pages, scale


@settings(max_examples=300, deadline=None)
@given(_page_batches(), st.sampled_from([0.1, 0.5, 0.8, 0.95]), st.sampled_from([0.2, 1.5]))
def test_ink_word_boxes_batch_equals_per_page_and_full_res(batch, box_thresh, unclip_ratio):
    """The batch entry of the default detector returns, page for page, the
    bits of ink_word_boxes on that page and of the full-resolution path,
    whatever mix of aligned and unaligned pages and widths shares a call."""
    from doctr_spark.operators.detection import ink_word_boxes, ink_word_boxes_batch

    pages, scale = batch
    got = ink_word_boxes_batch(pages, scale, box_thresh, unclip_ratio)
    assert len(got) == len(pages)
    for page, boxes in zip(pages, got):
        assert _same_bits(boxes, ink_word_boxes(page, scale, box_thresh, unclip_ratio))
        assert _same_bits(boxes, _full_res_boxes(page, scale, box_thresh, unclip_ratio))


def test_ink_word_boxes_batch_pages_meet_at_the_separator():
    """Ink on the last row of one page and the first row of the next, with
    the rows between blank on one side: each page's dilation stops at its
    own edge, as when the page is detected alone."""
    from doctr_spark.operators.detection import ink_word_boxes, ink_word_boxes_batch

    top = np.zeros((16, 12), dtype=bool)
    top[0, 2] = True  # ink far from the bottom edge
    bottom = np.zeros((16, 12), dtype=bool)
    bottom[0, 6] = bottom[-1, 9] = True
    cells = [top, bottom, top[::-1], bottom]
    pages = [np.where(np.kron(c, np.ones((3, 3), dtype=bool)), 0, 255).astype(np.uint8) for c in cells]
    got = ink_word_boxes_batch(pages, 3)
    assert all(_same_bits(b, ink_word_boxes(p, 3)) for p, b in zip(pages, got))
    assert all(_same_bits(b, _full_res_boxes(p, 3)) for p, b in zip(pages, got))
    assert [len(b) for b in got] == [1, 2, 1, 2]


def test_ink_word_boxes_batch_on_rendered_pages():
    """Rendered pages of several widths and every quarter turn in one call,
    and the empty call."""
    from doctr_spark.operators.detection import ink_word_boxes, ink_word_boxes_batch
    from doctr_spark.sources.font import DEFAULT_SCALE, render_page

    pages = []
    for words, width in ((["HELLO", "WORLD"], 640), (["A+B=C", "R&D", "#1"], 320), (["WHY?", "GO!"], 640)):
        img, _ = render_page(words, scale=DEFAULT_SCALE, width=width)
        pages += [img, np.rot90(img)]
    got = ink_word_boxes_batch(pages, DEFAULT_SCALE)
    assert all(_same_bits(b, ink_word_boxes(p, DEFAULT_SCALE)) for p, b in zip(pages, got))
    assert sum(len(b) for b in got) > 0
    assert ink_word_boxes_batch([], DEFAULT_SCALE) == []
    assert ink_word_boxes.batch is ink_word_boxes_batch and ink_word_boxes_batch.single is ink_word_boxes


def _window_count(m: np.ndarray, radius: int, axis: int) -> np.ndarray:
    """The cumsum morphology the shifted-window dilation replaced, kept as
    its reference: the zero-padded sliding-window sum of width 2*radius+1
    along an axis, from one int16 cumsum."""
    n = m.shape[axis]

    def span(start: int, stop: int | None) -> tuple:
        index = [slice(None)] * m.ndim
        index[axis] = slice(start, stop)
        return tuple(index)

    shape = list(m.shape)
    shape[axis] = n + 2 * radius + 1
    c = np.zeros(shape, dtype=np.int16)
    np.cumsum(m, axis=axis, dtype=np.int16, out=c[span(radius + 1, radius + 1 + n)])
    c[span(radius + 1 + n, None)] = c[span(radius + n, radius + 1 + n)]
    return c[span(2 * radius + 1, None)] - c[span(0, n)]


@settings(max_examples=400, deadline=None)
@given(
    h=st.integers(0, 40), w=st.integers(0, 40), radius=st.integers(0, 12),
    axis=st.integers(0, 1), density=st.sampled_from([0.05, 0.4, 0.9, 1.0]), seed=st.integers(0, 2**32 - 1),
)
def test_shifted_window_morphology_equals_window_count(h, w, radius, axis, density, seed):
    """Dilation and erosion by shifted ors and ands equal the window-count
    definition (count > 0, count == 2*radius+1) on random 0/1 masks, and
    the reference itself is the window sum taken directly."""
    from doctr_spark.operators.detection import _dilate_axis, _erode_axis

    m = (np.random.default_rng(seed).random((h, w)) < density).astype(np.uint8)
    m = [m, np.asfortranarray(m), np.rot90(np.rot90(m))][seed % 3]  # C, F and negative-stride layouts
    lines = np.moveaxis(m, axis, 0)  # the summed axis first
    sums = [lines[max(i - radius, 0) : i + radius + 1].sum(axis=0) for i in range(len(lines))]
    count = _window_count(m, radius, axis)
    assert np.array_equal(count, np.moveaxis(np.array(sums, dtype=np.int64).reshape(lines.shape), 0, axis))
    dilated, eroded = _dilate_axis(m, radius, axis), _erode_axis(m.astype(bool), radius, axis)
    assert dilated.dtype == eroded.dtype == np.uint8
    assert np.array_equal(dilated, count > 0) and np.array_equal(eroded, count == 2 * radius + 1)


def test_binary_open3_equals_window_count_opening():
    """The 3x3 opening of the npz and .onnx detectors' postprocess, against
    the same opening built from window counts."""
    rng = np.random.default_rng(7)
    for shape, density in (((31, 47), 0.5), ((64, 9), 0.8), ((1, 5), 1.0), ((0, 4), 0.5)):
        m = (rng.random(shape) < density).astype(np.uint8)
        e = (_window_count((_window_count(m, 1, 0) == 3).astype(np.uint8), 1, 1) == 3).astype(np.uint8)
        ref = (_window_count((_window_count(e, 1, 0) > 0).astype(np.uint8), 1, 1) > 0).astype(np.uint8)
        assert np.array_equal(binary_open3(m), ref)


def _bars_and_blobs(rng, h, n_bars, n_blobs):
    """A cell mask of ``n_bars`` full-height bars four columns apart (each
    its own component after a one-cell dilation) and random blobs right of
    them, whose boxes take in other components' runs."""
    m = np.zeros((h, 4 * n_bars + 16), dtype=np.uint8)
    m[:, 0 : 4 * n_bars : 4] = 1
    for _ in range(n_blobs):
        y, x = rng.integers(0, h - 3), rng.integers(4 * n_bars + 1, m.shape[1] - 3)
        m[y : y + rng.integers(1, 4), x : x + rng.integers(1, 4)] = 1
    return m


@pytest.mark.parametrize(("n_bars", "table"), [(0, False), (2, False), (12, True)])
def test_canvas_scores_from_runs_and_from_the_table(n_bars, table):
    """_canvas_boxes scores every component exactly as bitmap_to_boxes
    does one box at a time, on the run branch and, when the boxes' row
    bands hold more runs than the canvas has cells (many tall bars), on
    the summed-area-table branch."""
    from doctr_spark.operators.detection import _canvas_boxes, _component_runs, _dilate_axis

    rng = np.random.default_rng(n_bars)
    for _ in range(5):
        pages = [_bars_and_blobs(rng, int(rng.integers(8, 30)), n_bars, 12) for _ in range(2)]
        fused_pages = [_dilate_axis(_dilate_axis(p, 1, 0), 1, 1) for p in pages]
        got = _canvas_boxes(pages, [p.shape for p in pages], 1, 1, 1, 0.0, 0.5, (0.02, 0.98))
        for fused, boxes in zip(fused_pages, got):
            ref = bitmap_to_boxes(None, fused, box_thresh=0.0, unclip_ratio=0.5, score_mask=fused, levels=(0.02, 0.98))
            assert _same_bits(boxes, ref)
        # which branch the canvas took: its bands' run count against its cells
        canvas = np.zeros((sum(len(p) + 1 for p in pages) - 1, pages[0].shape[1]), dtype=np.uint8)
        canvas[: len(fused_pages[0])], canvas[len(fused_pages[0]) + 1 :] = fused_pages
        (x0, y0, x1, y1), (_, _, offsets) = _component_runs(canvas)
        assert (int((offsets[y1 + 1] - offsets[y0]).sum()) > canvas.size) == table

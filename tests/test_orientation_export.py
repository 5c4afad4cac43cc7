"""Orientation, resize/padding, rotated crops, export formats, KIE, metrics."""

import numpy as np
import pytest

from doctr_spark.functions.export import export_hocr, page_export, page_from_dict, page_to_json
from doctr_spark.functions.metrics import hungarian_min, localization_confusion, ocr_matches
from doctr_spark.operators.builder import build_page
from doctr_spark.operators.detection import ink_word_boxes
from doctr_spark.operators.geometry import extract_crops, extract_rotated_crop
from doctr_spark.operators.kie import build_kie_page, classify_token, render_kie_page
from doctr_spark.operators.orientation import (
    estimate_page_orientation,
    rectify_crops,
    rectify_loc_preds,
    rotate_page,
)
from doctr_spark.operators.preprocess import normalize_batch, remove_padding, resize_page
from doctr_spark.sources import font


def _ocr_page(words, scale=3, k=0):
    img, _ = font.render_page(words, scale=scale)
    return np.rot90(img, k)


@pytest.mark.parametrize("k", [0, 1, 2, 3])
def test_estimate_page_orientation(k):
    img = _ocr_page("THE QUICK BROWN FOX JUMPS OVER".split(), k=k)
    est = estimate_page_orientation(img, 3)
    # rot90(img, est) must be upright: est + k = 0 mod 4 reverses the applied turn
    assert (est + k) % 4 == 0 or est == (4 - k) % 4


@pytest.mark.parametrize("k", [1, 2, 3])
def test_rotated_page_full_loop(k):
    words = "ROTATED PAGE TEST 123!".split()
    img = _ocr_page(words, k=k)
    est = estimate_page_orientation(img, 3)
    upright = rotate_page(img, est)
    boxes = ink_word_boxes(upright, 3)
    crops = extract_crops(upright, boxes[:, :4])
    texts = [font.read_word_crop(c, 3) for c in crops]
    page = build_page(boxes[:, :4], texts, boxes[:, 4])
    assert page.text == "\n".join(font.expected_page_lines(words, scale=3))


def test_rectify_crops_and_loc_preds():
    crop = np.arange(12).reshape(3, 4)
    [out] = rectify_crops([crop], [1])
    assert out.shape == (4, 3)
    quads = np.array([[[0, 0], [1, 0], [1, 1], [0, 1]]], dtype=float)
    rolled = rectify_loc_preds(quads, [1])
    assert rolled[0].tolist() == [[0, 1], [0, 0], [1, 0], [1, 1]]


def test_extract_rotated_crop_axis_aligned():
    img, placed = font.render_page(["HELLO"], scale=3)
    word, x0, y0, x1, y1 = placed[0]
    h, w = img.shape
    quad = np.array([[x0 / w, y0 / h], [x1 / w, y0 / h], [x1 / w, y1 / h], [x0 / w, y1 / h]])
    crop = extract_rotated_crop(img, quad)
    assert font.read_word_crop(crop, 3) == "HELLO"


def test_resize_and_remove_padding():
    img = np.full((100, 50), 255, dtype=np.uint8)
    img[40:60, 10:30] = 0
    resized, tf = resize_page(img, (100, 100), preserve_aspect_ratio=True, symmetric_pad=True)
    assert resized.shape == (100, 100)
    # the padded-canvas box maps back to the original relative box
    padded_box = np.array([[tf[0] + 0.2 * tf[2], tf[1] + 0.4 * tf[3], tf[0] + 0.6 * tf[2], tf[1] + 0.6 * tf[3]]])
    back = remove_padding(padded_box, tf)
    assert np.allclose(back, [[0.2, 0.4, 0.6, 0.6]], atol=1e-9)
    # no-op transform when aspect not preserved
    r2, tf2 = resize_page(img, (80, 80), preserve_aspect_ratio=False)
    assert r2.shape == (80, 80) and tf2 == (0.0, 0.0, 1.0, 1.0)


def test_normalize_batch():
    x = np.full((2, 4, 4), 255, dtype=np.uint8)
    out = normalize_batch(x, mean=(0.5,), std=(0.5,))
    assert out.dtype == np.float32
    assert np.allclose(out, 1.0)


def test_page_export_roundtrip():
    boxes = np.array([[0.0, 0.0, 0.1, 0.1], [0.12, 0.0, 0.2, 0.1]])
    page = build_page(boxes, ["hello", "world"])
    d = page_export(page.words, (100, 200))
    assert d["dimensions"] == (100, 200)
    assert d["blocks"][0]["lines"][0]["words"][0]["value"] == "hello"
    flat = page_from_dict(d)
    assert [w["value"] for w in flat] == ["hello", "world"]
    js = page_to_json(page.words, (100, 200))
    assert '"value": "hello"' in js


def test_export_hocr():
    boxes = np.array([[0.1, 0.1, 0.3, 0.2], [0.4, 0.1, 0.6, 0.2]])
    page = build_page(boxes, ["AB", "CD"])
    xml = export_hocr(page.words, (100, 200))
    assert 'class="ocr_page"' in xml and 'class="ocrx_word"' in xml
    assert "bbox 20 10 60 20" in xml  # 0.1*200, 0.1*100, 0.3*200, 0.2*100
    assert ">AB</span>" in xml and 'x_wconf 100' in xml


def test_kie_build_and_render():
    boxes = np.array(
        [[0.0, 0.0, 0.1, 0.1], [0.2, 0.0, 0.3, 0.1], [0.0, 0.3, 0.1, 0.4], [0.2, 0.3, 0.3, 0.4]]
    )
    values = ["HELLO", "42", "WORLD", "+"]
    kie = build_kie_page(boxes, values)
    assert [p["value"] for p in kie["word"]] == ["HELLO", "WORLD"]
    assert [p["value"] for p in kie["number"]] == ["42"]
    assert [p["value"] for p in kie["symbol"]] == ["+"]
    assert render_kie_page(kie) == "number: 42\n\nsymbol: +\n\nword: HELLO\n\nword: WORLD"
    assert classify_token("A1") == "word"


def test_hungarian_optimal():
    cost = np.array([[4, 1, 3], [2, 0, 5], [3, 2, 2]])
    pairs = hungarian_min(cost)
    total = sum(cost[r, c] for r, c in pairs)
    assert total == 5  # optimal: (0,1)+(1,0)+(2,2) = 1+2+2
    # rectangular
    pairs2 = hungarian_min(np.array([[1.0, 9.0, 9.0], [9.0, 1.0, 9.0]]))
    assert set(pairs2) == {(0, 0), (1, 1)}


def test_localization_and_ocr_metrics():
    gt = np.array([[0.0, 0.0, 0.2, 0.2], [0.5, 0.5, 0.7, 0.7]])
    pred = np.array([[0.01, 0.0, 0.2, 0.2], [0.5, 0.5, 0.7, 0.69], [0.9, 0.9, 1.0, 1.0]])
    n, iou_sum = localization_confusion(gt, pred)
    assert n == 2 and iou_sum > 1.8
    loc, both = ocr_matches(gt, ["A", "B"], pred, ["A", "X", "C"])
    assert loc == 2 and both == 1
    assert localization_confusion(np.zeros((0, 4)), pred) == (0, 0.0)


def test_rotate_boxes_and_deskew():
    from doctr_spark.operators.geometry import deskewed_straight_boxes, rotate_boxes

    # an axis-aligned quad rotated by 10 deg comes back axis-aligned
    quad = np.array([[[0.4, 0.45], [0.6, 0.45], [0.6, 0.55], [0.4, 0.55]]])
    skewed = rotate_boxes(quad, 10.0)
    unskewed = rotate_boxes(skewed, -10.0)
    assert np.allclose(unskewed, quad, atol=1e-12)
    # small angles are a no-op
    assert np.allclose(rotate_boxes(quad, 0.5), quad)
    straight = deskewed_straight_boxes(skewed)
    assert np.allclose(straight, [[0.4, 0.45, 0.6, 0.55]], atol=0.01)


def test_export_kie_xml():
    import numpy as np

    from doctr_spark.functions.export import export_kie_xml
    from doctr_spark.operators.kie import build_kie_page

    boxes = np.array([[0.0, 0.0, 0.1, 0.1], [0.2, 0.0, 0.3, 0.1], [0.0, 0.3, 0.1, 0.4]])
    preds = build_kie_page(boxes, ["HELLO", "42", "+"])
    xml = export_kie_xml(preds, (200, 400))
    # reference io/elements.py:496-590 structure: one carea PER PREDICTION
    # (global count), nested par/line/word all sharing the word bbox
    assert xml.count('class="ocr_carea"') == 3
    assert xml.count('class="ocr_par"') == 3
    assert xml.count('class="ocr_line"') == 3
    assert xml.count('class="ocrx_word"') == 3
    assert '<div class="ocr_carea" id="number_prediction_1" title="bbox 80 0 120 20">' in xml
    assert 'id="number_word_1" title="bbox 80 0 120 20; x_wconf 100">42</span>' in xml
    assert "baseline 0 0; x_size 0; x_descenders 0; x_ascenders 0" in xml
    # classes sorted: number < symbol < word; count runs globally
    assert xml.index("number_prediction_1") < xml.index("symbol_prediction_2") < xml.index("word_prediction_3")


def test_detection_metric_reference_example():
    """The reference DetectionMetric docstring example
    (utils/metrics.py:472-476): one gt, two preds, best IoU 0.49 < 0.5."""
    import numpy as np

    from doctr_spark.functions.metrics import detection_matches, detection_metric_summary

    m, tot_iou, ng, npred = detection_matches(
        np.asarray([[0, 0, 100, 100]], dtype=np.float64),
        np.zeros(1, dtype=np.int64),
        np.asarray([[0, 0, 70, 70], [110, 95, 200, 150]], dtype=np.float64),
        np.array([0, 1], dtype=np.int64),
    )
    assert (m, ng, npred) == (0, 1, 2)
    assert abs(tot_iou - 0.49) < 1e-9  # 70*70 / 100*100 best-IoU + 0
    recall, precision, mean_iou = detection_metric_summary(m, tot_iou, ng, npred)
    assert recall == 0.0 and precision == 0.0 and mean_iou == 0.24  # round(0.245, 2)


def test_detection_metric_class_gate_and_empty():
    import numpy as np

    from doctr_spark.functions.metrics import detection_matches, detection_metric_summary

    # same box, wrong class -> localization assigned but not counted
    m, tiou, ng, npred = detection_matches(
        np.asarray([[0, 0, 1, 1]]), np.asarray([3]), np.asarray([[0, 0, 1, 1]]), np.asarray([4])
    )
    assert (m, tiou, ng, npred) == (0, 1.0, 1, 1)
    # empty sides -> None summaries like the reference
    assert detection_metric_summary(0, 0.0, 0, 0) == (None, None, None)


def test_text_match_four_levels(spark):
    from doctr_spark.functions.metrics import text_match

    df = spark.createDataFrame(
        [("grass", "grass"), ("56", "56"), ("True", "true"), ("EUR", "€")],
        "gt string, pred string",
    )
    row = text_match(df, "gt", "pred").collect()[0]
    # the reference TextMatch fixture: raw .5, caseless .75, anyascii .75, unicase 1
    assert row["n"] == 4
    assert row["raw_acc"] == 0.5
    assert row["caseless_acc"] == 0.75
    assert row["anyascii_acc"] == 0.75
    assert row["unicase_acc"] == 1.0


def test_min_area_rect_and_enclosing_rbbox():
    import numpy as np

    from doctr_spark.operators.geometry import (
        convex_hull,
        min_area_rect,
        resolve_enclosing_rbbox,
    )

    # axis-aligned cloud -> its own bbox
    pts = np.array([[0, 0], [2, 0], [2, 1], [0, 1], [1, 0.5]])
    r = min_area_rect(pts)
    assert np.allclose(sorted(map(tuple, r)), [[0, 0], [0, 1], [2, 0], [2, 1]])
    # 45-degree diamond: min-area rect IS the diamond (area 2), not the
    # axis-aligned bbox (area 4)
    diam = np.array([[1, 0], [2, 1], [1, 2], [0, 1]], dtype=float)
    r2 = min_area_rect(diam)
    area = 0.5 * abs(
        sum(
            r2[i][0] * r2[(i + 1) % 4][1] - r2[(i + 1) % 4][0] * r2[i][1]
            for i in range(4)
        )
    )
    assert abs(area - 2.0) < 1e-9
    # enclosing rbbox over two skewed quads covers every input point
    q1 = np.array([[[0, 0], [1, 0.2], [0.96, 0.4], [-0.04, 0.2]]])
    q2 = np.array([[[2, 0.4], [3, 0.6], [2.96, 0.8], [1.96, 0.6]]])
    rb = resolve_enclosing_rbbox([q1, q2])
    assert rb.shape == (4, 2)
    hull = convex_hull(np.concatenate([q1.reshape(-1, 2), q2.reshape(-1, 2)]))
    # every hull point inside (or on) the rect: check via the rect's edges
    for p in hull:
        for i in range(4):
            a, b = rb[i], rb[(i + 1) % 4]
            assert np.cross(b - a, p - a) >= -1e-9


def test_artefact_nodes_in_export():
    """Artefacts flow detector -> pipeline -> export tree as typed nodes
    with [TYPE] render semantics (reference io/elements.py:109-138), and
    never pollute the extracted text."""
    import numpy as np

    from doctr_spark.functions.export import artefact_render, page_export
    from doctr_spark.plans.pipeline import extract_turn_ocr
    from doctr_spark.sources.corpus import _append_artefact
    from doctr_spark.sources.font import expected_page_lines, render_page
    from doctr_spark.sources.payloads import encode_page_bundle

    words = ["ALPHA", "BRAVO", "42"]
    img, _ = render_page(words, scale=3)
    img = _append_artefact(img, seed=12345, scale=3)
    bundle = encode_page_bundle([img], 3)
    text, n_pages, n_boxes, n_artefacts, _, word_dicts, artefacts = extract_turn_ocr(bundle)
    assert text == "\n".join(expected_page_lines(words, scale=3))  # text unpolluted
    assert n_artefacts == 1 and len(artefacts) == 1
    a = artefacts[0]
    assert a["type"] == "block" and a["confidence"] > 0.3 and a["page_idx"] == 0
    assert 0.0 <= a["xmin"] < a["xmax"] <= 1.0

    d = page_export(word_dicts, img.shape, artefacts=artefacts)
    nodes = d["blocks"][0]["artefacts"]
    assert len(nodes) == 1
    assert nodes[0]["type"] == "block"
    assert nodes[0]["geometry"] == ((a["xmin"], a["ymin"]), (a["xmax"], a["ymax"]))
    assert artefact_render(nodes[0]["type"]) == "[BLOCK]"


def test_kie_entity_classes():
    import numpy as np

    from doctr_spark.operators.kie import build_kie_page, classify_token, render_kie_page

    assert classify_token("a.b@c.io") == "email"
    assert classify_token("https://x.org/d") == "url"
    assert classify_token("2026-08-17") == "date"
    assert classify_token("17/08/26") == "date"
    assert classify_token("42") == "number"
    assert classify_token("HELLO") == "word"
    boxes = np.array([[0.0, 0.0, 0.1, 0.1], [0.2, 0.0, 0.3, 0.1], [0.0, 0.3, 0.1, 0.4]])
    kie = build_kie_page(boxes, ["a@b.io", "2026-08-17", "PAY"])
    assert set(kie) == {"email", "date", "word"}
    assert render_kie_page(kie) == "date: 2026-08-17\n\nemail: a@b.io\n\nword: PAY"


def _full_monotone_chain(points):
    """The reference hull: Andrew's monotone chain over every point, with
    one ``np.cross`` per turn test."""
    import numpy as np

    pts = np.unique(np.asarray(points, dtype=np.float64).reshape(-1, 2), axis=0)
    if len(pts) <= 2:
        return pts

    def half(iterable):
        chain = []
        for p in iterable:
            while len(chain) >= 2 and np.cross(chain[-1] - chain[-2], p - chain[-2]) <= 0:
                chain.pop()
            chain.append(p)
        return chain

    return np.array(half(pts)[:-1] + half(pts[::-1])[:-1])


def test_convex_hull_matches_the_full_monotone_chain():
    """``convex_hull`` runs the chain over each column's extreme points
    only; its hull arrays equal the full chain's on random integer clouds
    (pixel blobs, thin lines, single columns and rows) and float clouds."""
    import numpy as np

    from doctr_spark.operators.geometry import convex_hull

    rng = np.random.default_rng(7)
    clouds = [np.zeros((0, 2)), np.array([[3, 4]]), np.array([[2, 2]] * 5), np.array([[1, 1], [1, 5], [1, 3]]), np.array([[0, 2], [4, 2], [2, 2]])]
    for _ in range(300):
        n, w, h = rng.integers(1, 400), rng.integers(1, 60), rng.integers(1, 60)
        clouds.append(np.stack([rng.integers(0, w, n), rng.integers(0, h, n)], axis=1))
    blob = rng.random((40, 90)) < 0.6
    clouds.append(np.stack(np.nonzero(blob)[::-1], axis=1))
    clouds += [rng.normal(size=(int(rng.integers(3, 200)), 2)) * 50 for _ in range(50)]
    for cloud in clouds:
        new, ref = convex_hull(cloud), _full_monotone_chain(cloud)
        assert new.dtype == ref.dtype and new.shape == ref.shape and (new == ref).all(), cloud


# --------------------------- arbitrary-angle skew (straighten_pages path)


def test_estimate_skew_angle_goldens():
    """Contour-path fine-angle estimator recovers known skews within 0.2
    degrees across the supported range (reference models/_utils.py:32-114
    semantics: threshold -> dilate-merge -> line contours -> median)."""
    from doctr_spark.operators.orientation import estimate_skew_angle, rotate_page_float

    img, _ = font.render_page(
        ["HELLO", "WORLD", "SPARK", "GRAFT", "ALPHA", "BRAVO", "DELTA", "ECHO"], scale=3
    )
    for s in (-12, -8, -3, 3, 7, 12):
        est = estimate_skew_angle(rotate_page_float(img, s), 3)
        assert abs(est - (-s)) < 0.2, (s, est)
    assert estimate_skew_angle(img, 3) == 0.0


def _rotate_page_float_whole_canvas(img, angle_deg, fill=255):
    """The reference for rotate_page_float: the inverse map of the whole
    output canvas at once (about 80 bytes per output pixel)."""
    a = np.deg2rad(angle_deg)
    h, w = img.shape[:2]
    c, s = np.cos(a), np.sin(a)
    c = 0.0 if abs(c) < 1e-12 else (round(c) if abs(c - round(c)) < 1e-12 else c)
    s = 0.0 if abs(s) < 1e-12 else (round(s) if abs(s - round(s)) < 1e-12 else s)
    H = int(np.ceil(abs(h * c) + abs(w * s)))
    W = int(np.ceil(abs(w * c) + abs(h * s)))
    yy, xx = np.indices((H, W))
    cx, cy = (W - 1) / 2.0, (H - 1) / 2.0
    ox, oy = (w - 1) / 2.0, (h - 1) / 2.0
    dx = xx - cx
    dy = yy - cy
    xs = c * dx - s * dy + ox
    ys = s * dx + c * dy + oy
    xi = np.rint(xs).astype(np.int64)
    yi = np.rint(ys).astype(np.int64)
    valid = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
    out = np.full((H, W), fill, dtype=img.dtype)
    out[valid] = img[yi[valid], xi[valid]]
    return out


def test_rotate_page_float_equals_the_whole_canvas_map():
    """The blocked inverse map gives the whole-canvas map's output bit for
    bit, on random pages and angles, quarter turns and pages taller than a
    block included."""
    from doctr_spark.operators.orientation import rotate_page_float

    rng = np.random.default_rng(17)
    angles = [0.0, 90.0, -90.0, 180.0, 270.0, 0.5, -7.0, 45.0]
    for i in range(60):
        h, w = (int(v) for v in rng.integers(1, 200, size=2))
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        angle = angles[i] if i < len(angles) else float(rng.uniform(-180, 180))
        got = rotate_page_float(img, angle)
        ref = _rotate_page_float_whole_canvas(img, angle)
        assert got.shape == ref.shape and np.array_equal(got, ref), (h, w, angle)


def test_rotate_page_float_memory_is_a_few_bytes_per_pixel():
    """Straightening a large page holds the output canvas plus block-sized
    buffers, not eight canvas-sized index and float arrays."""
    import tracemalloc

    from doctr_spark.operators.orientation import rotate_page_float

    img = np.full((1024, 1024), 255, dtype=np.uint8)
    img[::7, ::5] = 0
    tracemalloc.start()
    try:
        out = rotate_page_float(img, 7.0)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 4 * out.size, (peak, out.size)


def test_straighten_pages_recovers_geometry():
    """Float-skewed page through the straighten_pages second-pass path:
    detection recovers the exact word-box structure (count, line grouping,
    per-word glyph counts). Glyph identity after two nearest-neighbor
    resamples is out of reach for the exact glyph matcher by design — a
    resample-tolerant recognizer (real CRNN via the model seam) is the
    production path, so the golden pins the structure, not the chars."""
    from doctr_spark.operators.orientation import rotate_page_float
    from doctr_spark.plans.pipeline import extract_pages_ocr

    words = ["HELLO", "WORLD", "SPARK", "GRAFT", "ALPHA", "BRAVO", "DELTA", "ECHO"]
    img, _ = font.render_page(words, scale=3)
    base = extract_pages_ocr([img], 3)
    assert base[0] == "HELLO WORLD SPARK GRAFT ALPHA\nBRAVO DELTA ECHO"
    for s in (-8, 5, 12):
        skewed = rotate_page_float(img, s)
        fixed = extract_pages_ocr([skewed], 3, straighten_pages=True)
        # same box count as the upright baseline...
        assert fixed[2] == base[2], (s, fixed[2], base[2])
        # ...and the same text structure: line count, words per line,
        # chars per word (the unknown glyph marker has length 1)
        def shape(text):
            return [[len(w) for w in line.split(" ")] for line in text.split("\n")]

        assert shape(fixed[0]) == shape(base[0]), (s, fixed[0])


def test_straighten_pages_noop_on_straight_input():
    """The flag must not perturb already-straight pages: output is
    byte-identical with and without straighten_pages (angle gate)."""
    from doctr_spark.plans.pipeline import extract_pages_ocr

    img, _ = font.render_page(["UPRIGHT", "PAGE", "STAYS", "EXACT"], scale=3)
    assert extract_pages_ocr([img], 3, straighten_pages=True) == extract_pages_ocr([img], 3)


def test_estimate_orientation_combined_quarter_turns():
    """Combined classifier+contour estimator on pure quarter turns: the
    returned angle uprights the page (rotate_page_float round trip
    reproduces the upright render exactly for k*90 angles)."""
    from doctr_spark.operators.orientation import (
        estimate_orientation_combined,
        rotate_page_float,
    )

    img, _ = font.render_page("THE QUICK BROWN FOX JUMPS OVER".split(), scale=3)
    for k in range(4):
        rotated = np.rot90(img, k)
        total = estimate_orientation_combined(rotated, 3)
        assert total % 90 == 0
        restored = rotate_page_float(rotated, total)
        assert restored.shape == img.shape
        assert np.array_equal(restored, img), k


def test_artefact_taxonomy_end_to_end():
    """Typed artefact classes (reference contrib/artefacts.py labels:
    bar_code / qr_code / photo, with block as the solid fallback) flow
    detector -> classify -> pipeline artefact nodes -> [TYPE] render:
    a page with text plus three artefact patterns yields one typed node
    each, none of which leak into the extracted text."""
    from doctr_spark.functions.export import artefact_render
    from doctr_spark.plans.pipeline import extract_pages_ocr

    img, _ = font.render_page(["SOME", "TEXT"], scale=3)
    h, w = img.shape
    clear = 27  # 9s clearance: vertical fusing never bridges regions
    bar = np.zeros((30, 96), bool)
    for x in range(0, 96, 6):
        bar[:, x : x + 3] = True
    yy, xx = np.indices((36, 72))
    qr = (yy // 6 + xx // 6) % 2 == 0
    ht = np.indices((36, 72)).sum(0) % 2 == 0
    blocks = [bar, qr, ht]
    total_h = h + sum(clear + b.shape[0] for b in blocks) + 24
    page = np.full((total_h, w), 255, dtype=np.uint8)
    page[:h] = img
    y = h
    for b in blocks:
        y += clear
        page[y : y + b.shape[0], 24 : 24 + b.shape[1]][b] = 0
        y += b.shape[0]

    text, _, n_boxes, n_artefacts, _, words, artefacts = extract_pages_ocr([page], 3)
    assert text == "SOME TEXT"  # artefacts never contribute to the render
    assert n_artefacts == 3
    assert [a["type"] for a in sorted(artefacts, key=lambda a: a["ymin"])] == [
        "bar_code",
        "qr_code",
        "photo",
    ]
    assert artefact_render("bar_code") == "[BAR_CODE]"
    assert all(0.0 < a["confidence"] <= 1.0 for a in artefacts)

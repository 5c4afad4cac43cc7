"""One ink raster per page: the artefact gate (``plans/pipeline.py:_ink_gate``)
and the default recognizer's ``cells`` entry read each page's cell grid, and
give the decisions and texts of the per-crop path they replace: mask every
pixel crop, trim it, and read it with ``font.read_word_crop``."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from doctr_spark.operators import detection
from doctr_spark.operators.detection import _page_mask, ink_word_boxes
from doctr_spark.operators.geometry import extract_crops, to_absolute
from doctr_spark.plans import models, pipeline
from doctr_spark.plans.pipeline import _extract_batch, _ink_gate, extract_pages_ocr
from doctr_spark.sources import font
from doctr_spark.sources.corpus import TRANSCRIPT_SCHEMA, make_transcripts_pdf
from doctr_spark.sources.font import ink_bounds, ink_mask, render_page

COLUMNS = [c.split()[0] for c in TRANSCRIPT_SCHEMA.split(", ")]
WORDS = ["HELLO", "BBB", "###", "#", "I", ".", "A1", "WORLD!", "%@&", "X"]


def oracle_gate(crops, scale):
    """The per-crop gate: (keep, gated) from each pixel crop's own ink."""
    keep, gated = [], []
    for i, c in enumerate(crops):
        if c.size == 0:
            continue
        c_ink = ink_mask(c)
        bounds = ink_bounds(c_ink)
        if bounds is not None:
            y0, y1, x0, x1 = bounds
            area = (y1 - y0) * (x1 - x0)
            fill = float(c_ink.sum()) / area
            big = area > pipeline.ARTEFACT_MIN_AREA_CELLS * scale * scale
        else:
            fill, big = 0.0, False
        (gated if fill > pipeline.ARTEFACT_FILL_THRESH and big else keep).append(i)
    return keep, gated


def _block(kind, rng, hc, wc):
    """A (hc, wc) cell pattern: a solid, a bar code or a QR-like grid."""
    if kind == "solid":
        return np.ones((hc, wc), dtype=np.uint8)
    if kind == "bar":
        return np.broadcast_to(rng.random(wc) < 0.6, (hc, wc)).astype(np.uint8)
    return (rng.random((hc, wc)) < 0.55).astype(np.uint8)


@st.composite
def gated_pages(draw):
    """(page, scale, boxes): a rendered page with cell-aligned solid, bar
    and QR blocks under its text (or the same page shifted a pixel, which
    is not aligned), and boxes that cut, clip, miss or cover its ink."""
    scale = draw(st.sampled_from([2, 3]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    img, _ = render_page(draw(st.lists(st.sampled_from(WORDS), min_size=1, max_size=10)), scale)
    rows = [img]
    for kind in draw(st.lists(st.sampled_from(["solid", "bar", "qr"]), max_size=3)):
        hc, wc = draw(st.integers(2, 16)), draw(st.integers(2, 60))
        x0 = draw(st.integers(8, img.shape[1] // scale - wc - 8))
        band = np.zeros((hc + 9, img.shape[1] // scale + 1), dtype=np.uint8)
        band[9:, x0 : x0 + wc] = _block(kind, rng, hc, wc)
        band = np.kron(band, np.ones((scale, scale), dtype=np.uint8))[:, : img.shape[1]]
        rows.append(np.where(band > 0, 0, 255).astype(np.uint8))
    page = np.concatenate(rows + [np.full((8 * scale, img.shape[1]), 255, dtype=np.uint8)])
    if draw(st.booleans()):
        page = np.roll(page, 1, axis=draw(st.integers(0, 1)))
    h, w = page.shape
    px = to_absolute(ink_word_boxes(page, scale)[:, :4], h, w)
    # a detector box keeps blank cells around its ink: tighten some boxes
    # to their ink, so that the jitter below cuts inked cells
    for box in px[rng.random(len(px)) < 0.5]:
        bounds = ink_bounds(ink_mask(page[box[1] : box[3], box[0] : box[2]]))
        if bounds:
            box[:] = box[0] + bounds[2], box[1] + bounds[0], box[0] + bounds[3], box[1] + bounds[1]
    px += rng.integers(-scale, scale + 1, size=px.shape)
    extra = [
        (0, 0, w, h),  # the whole page
        (-5 * scale, -5 * scale, w // 3, h // 2),  # clipped at the page edge
        (w // 2, h // 3, w // 2, h),  # zero width
        (w // 4, h // 2, w + 9, h + 9),
    ]
    px = np.concatenate([px, np.array(draw(st.lists(st.sampled_from(extra), max_size=4)), dtype=np.int64).reshape(-1, 4)])
    boxes = np.concatenate([px / [w, h, w, h], np.full((len(px), 1), 0.9)], axis=1)
    return page, scale, boxes[rng.permutation(len(boxes))]


def plain(recognizer):
    """``recognizer`` without its entries: the crop path."""
    return lambda crops, scale: recognizer(crops, scale)


@settings(max_examples=200, deadline=None)
@given(gated_pages())
def test_raster_gate_and_cells_equal_the_per_crop_path(case):
    page, scale, boxes = case
    rec = models.resolve_model(*models.DEFAULT_RECOGNIZER)
    raster = _page_mask(page, scale)
    crops = extract_crops(page, boxes[:, :4])
    px = to_absolute(boxes[:, :4], *page.shape)
    keep, gated, trims = _ink_gate(raster, px, scale)
    assert (keep, gated) == oracle_gate(crops, scale)
    # a pixel mask is a raster of 1 x 1 cells: the same decisions, no trims
    assert _ink_gate((ink_mask(page), 1), px, scale) == (keep, gated, None)
    mask, cs = raster
    if trims is not None:
        assert cs == scale
        for (y0, y1, x0, x1), i in zip(trims, keep):
            ink = ink_mask(crops[i])
            bounds = ink_bounds(ink)
            trimmed = ink[bounds[0] : bounds[1], bounds[2] : bounds[3]] if bounds else ink[:0, :0]
            assert np.array_equal(np.kron(mask[y0:y1, x0:x1], np.ones((cs, cs), dtype=np.uint8)), trimmed)
        bitmaps = [mask[y0:y1, x0:x1] for y0, y1, x0, x1 in trims]
        assert rec.cells(bitmaps, scale) == rec([crops[i] for i in keep], scale)

    def fixed(img, s):
        return boxes

    # the whole chain: cells recognizer on this raster, against pixel crops
    # read on a raster that is not aligned (the per-crop path for every box)
    out = extract_pages_ocr([page], scale, detector=fixed, kie=True)
    ref = extract_pages_ocr(
        [page], scale, detector=fixed, recognizer=plain(rec), kie=True, rasters=[(ink_mask(page), 1)]
    )
    assert out == ref
    assert out[3] == len(gated)


def test_gate_takes_both_outcomes_and_both_paths():
    """A cell-aligned solid block is gated, a word is kept, and a box that
    cuts the word's ink sends the page's recognizer to pixel crops."""
    scale = 3
    img, placed = render_page(["HELLO"], scale)
    page = np.concatenate([img, np.full((40 * scale, img.shape[1]), 255, dtype=np.uint8)])
    page[img.shape[0] + 9 * scale : img.shape[0] + 29 * scale, 24 * scale : 84 * scale] = 0
    raster = _page_mask(page, scale)
    assert raster[1] == scale
    px = to_absolute(ink_word_boxes(page, scale)[:, :4], *page.shape)
    keep, gated, trims = _ink_gate(raster, px, scale)
    assert len(keep) == 1 and len(gated) == 1 and trims is not None
    _, x0, y0, x1, y1 = placed[0]
    cut = np.array([[x0 + 1, y0, x1, y1]])
    keep, gated, trims = _ink_gate(raster, cut, scale)
    assert (keep, gated, trims) == ([0], [], None)


def _ocr_batch():
    return make_transcripts_pdf(6, ocr_ratio=1.0, html_ratio=0.0)[COLUMNS]


def test_default_path_builds_one_raster_per_page(monkeypatch):
    """On the default path each page's mask and cell grid are built once,
    for detection, gate and recognizer together, and no word crop is cut
    and re-masked."""
    batch = _ocr_batch()
    expected = _extract_batch(batch)
    cell_grids, crop_reads = [], []
    cells_if_aligned, read_word_crop = detection._ink_cells_if_aligned, font.read_word_crop

    def count_cells(*args, **kwargs):
        cell_grids.append(1)
        return cells_if_aligned(*args, **kwargs)

    def count_reads(*args, **kwargs):
        crop_reads.append(1)
        return read_word_crop(*args, **kwargs)

    monkeypatch.setattr(detection, "_ink_cells_if_aligned", count_cells)
    monkeypatch.setattr(font, "read_word_crop", count_reads)
    recognizer = models._load_glyph_recognizer()  # binds the counted read_word_crop
    out = _extract_batch(batch, recognizer=recognizer)
    assert out.equals(expected) and (out["payload_kind"] == "ocr").all()
    assert len(cell_grids) == out["n_pages"].sum() and crop_reads == []
    # the per-crop path reads every kept crop and gives the same rows
    assert out.equals(_extract_batch(batch, recognizer=plain(recognizer)))
    assert len(crop_reads) == out["n_boxes"].sum()

"""The fused per-turn extraction pipeline.

Topology (cf. SURVEY.md §3.1's Spark lifecycle): parquet/Iceberg scan ->
[optional salted repartition] -> ONE Arrow-batched ``mapInPandas`` stage
that routes each turn by payload kind and runs the full extraction chain
in-process (decode -> detect -> crop -> recognize(CTC) -> build -> render,
or DOM-strip for HTML, or identity for plain text) -> window-ordered
output.

Per turn the stage runs one straight path (``_extract_batch``): parse the
tool envelope and route by payload kind (``_route_turn``) inside ONE
quarantine, so under ``error_policy='capture'`` any failure, a malformed
envelope included, becomes a payload_kind='error' row; then ``_turn_row``
builds the output row from the route result.

Every OCR page takes one path. The route decodes a page bundle, PDF or
image and turns its pages upright (``_upright``: orientation, then
straightening, when asked for), so a failure there becomes the turn's
error row. The upright pages queue in ``_DetectChunk`` until the next turn
would push the queue past ``DETECT_CHUNK_PIXELS``, and at the end of the
batch. Then one detection call labels every queued page when the detector
has a batch entry (``plans/models.py``; the default one does), else each
page is detected on its own. Every batch entry takes the same call,
``batch(pages, scale, rasters=rasters)``; the stage names no detector.
The rest of the chain runs on each queued turn inside its own
quarantine. Rows, their order and their error messages are those of
detecting page by page; if the chunk's call raises, each turn falls back
to per-page detection. The cap bounds the decoded pages a worker holds,
whatever the Arrow batch size.

One ink raster per page: a page's ink mask, and its cell grid when its ink
lies on the renderer's s x s cells (``detection._page_mask``), is built
once. When the detector has a batch entry the chunk builds it, hands it
to the entry and on to the chain; a detector without one is called page
by page inside ``extract_pages_ocr``, which builds it there. The artefact
gate (``_ink_gate``) reads each box's ink off it with one cell rule for
every raster (a pixel mask is a raster of 1 x 1 cells), and the default
recognizer reads each kept word's trimmed cells off it through its
``cells`` entry, so no crop is masked again. Custom recognizers, and
pages or boxes the cell grid cannot describe, get pixel crops as before.

Fixed cost per task: the stage function calls ``prepare_worker``
(``plans/worker.py``) after its models resolve. Once per Python worker it
makes ``zipimport`` re-read an archive on PySpark's per-task
``importlib.invalidate_caches()`` only when the archive changed (on Python
3.11 every task re-read ``pyspark.zip``, py4j and the spark-core jar:
0.13-0.42 s per task in ``scripts/fixed_cost.py`` on 4 cores), and freezes
the warm heap so the daemon's per-task ``gc.collect()`` skips it (35-81 ms
there). Outputs are unchanged; only reused workers gain.

What counts as ink is one rule, ``sources/font.py``'s ``ink_mask`` and
``ink_bounds``: the artefact gate here, the detectors, the recognizers and
the orientation classifiers all call it, so they agree on every page.

Fusing the det/reco/build stages into a single UDF is the deliberate
scale choice: page images dwarf the text they produce, so they must never
cross a shuffle boundary — only (conv_id, turn_idx, extracted_text, words,
metrics) leave the stage. Catalyst handles column pruning into the scan
(only the 6 input columns are read) and AQE handles post-stage exchanges.

Skew: heavy per-row work is independent across turns, so parallelism comes
from parquet input splits (maxPartitionBytes), NOT from a key shuffle; a
single 10^5-turn conversation therefore spreads over many tasks naturally.
``salt_partitions`` forces an explicit even re-spread by (conv_id,
turn_idx) hash for pathological file layouts (few huge row groups).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial
from operator import itemgetter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.html import extract_main_text, looks_like_html
from ..functions.render import PAGE_SEP, document_render_agg
from ..operators.builder import build_page
from ..operators.detection import _page_mask
from ..operators.geometry import extract_crops, to_absolute
from ..operators.orientation import estimate_skew_angle, rotate_page, rotate_page_float
from ..sources.font import DEFAULT_SCALE, ink_bounds
from ..sources.payloads import decode_page_bundle, parse_tool_envelope
from .models import (
    DEFAULT_DETECTOR,
    DEFAULT_ORIENTATION,
    DEFAULT_RECOGNIZER,
    ModelLoader,
    resolve_model,
)
from .worker import prepare_worker

EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, role string, ts timestamp, payload_kind string, "
    "extracted_text string, n_pages int, n_boxes int, n_artefacts int, n_chars int, "
    "strip_ratio double, min_conf double, "
    "words array<struct<value:string, confidence:double, xmin:double, "
    "ymin:double, xmax:double, ymax:double, page_idx:int, line_idx:int, word_idx:int>>, "
    "artefacts array<struct<type:string, confidence:double, xmin:double, "
    "ymin:double, xmax:double, ymax:double, page_idx:int>>, "
    "error string"
)

# KIE route (reference models/kie_predictor): the same fused stage also
# emits per-class flat prediction lists + the KIEDocument render
EXTRACT_KIE_SCHEMA = EXTRACT_SCHEMA + (
    ", predictions map<string, array<struct<value:string, confidence:double, "
    "xmin:double, ymin:double, xmax:double, ymax:double, page_idx:int>>>, "
    "kie_text string"
)

# a detected region is a non-text artefact when the ink fill of its
# TRIMMED ink bbox exceeds the threshold AND the region is larger than a
# couple of glyphs: the densest possible font words ('BBB', '###') trim
# to exactly 60/133 = 0.451 fill (OCR-bank words <= 0.39) while bar/QR/
# halftone patterns sit at >= 0.5 and solids at 1.0 — 0.475 splits the
# measured gap. The area floor (in font cells, x scale^2 px) keeps one-
# and two-glyph dense words ('#' trims to 0.57) on the text path. Typed
# classification of gated regions lives in operators/artefacts.py (the
# deterministic stand-in for the reference's ONNX ArtefactDetector
# plugin, contrib/artefacts.py).
ARTEFACT_FILL_THRESH = 0.475
ARTEFACT_MIN_AREA_CELLS = 100


def extract_turn_ocr(
    bundle: bytes,
    detect_orientation: bool = False,
    detection_hooks: list | None = None,
    detector=None,
    recognizer=None,
    orienter=None,
    straighten_pages: bool = False,
    kie: bool = False,
) -> tuple:
    """Decode a page bundle and run [orient ->] detect -> [hooks ->] crop ->
    recognize -> build per page.

    Returns (document_text, n_pages, n_boxes, n_artefacts, min_conf, words,
    artefacts) — artefacts are the typed non-text nodes (reference
    io/elements.py:109-138): they carry geometry/type/confidence, render as
    [TYPE] via functions/export.artefact_render, and never contribute to
    the extracted text.
    ``detect_orientation`` mirrors docTR's optional orientation stage
    (default off = the assume_straight_pages fast path).
    ``detection_hooks``: callables (boxes:(N,5)) -> (N,5) applied to the
    detector output before cropping — the predictor add_hook() extension
    point (reference models/predictor/base.py:193-199).
    ``detector`` / ``recognizer``: resolved model instances following the
    plans/models.py contracts (default: the deterministic kernels) — the
    model-agnostic seam matching reference detection/zoo.py:59-71 /
    recognition/zoo.py:41-52 custom-model injection.
    """
    return extract_pages_ocr(
        *decode_page_bundle(bundle), detect_orientation, detection_hooks, detector,
        recognizer, orienter, straighten_pages=straighten_pages, kie=kie,
    )


def extract_pages_ocr(
    pages: list[np.ndarray],
    scale: int,
    detect_orientation: bool = False,
    detection_hooks: list | None = None,
    detector=None,
    recognizer=None,
    orienter=None,
    straighten_pages: bool = False,
    straighten_min_angle: float = 1.0,
    kie: bool = False,
    page_boxes: list[np.ndarray] | None = None,
    rasters: list[tuple[np.ndarray, int]] | None = None,
) -> tuple:
    """OCR chain over already-decoded grayscale pages (the shared core of
    the bundle / PDF / image payload routes). The pages are first turned
    upright by ``_upright`` (``detect_orientation``, ``orienter``,
    ``straighten_pages``, ``straighten_min_angle``); the fused stage does
    that in each turn's route and calls this with the flags off.

    ``kie``: the KIE predictor route (reference models/kie_predictor/
    pytorch.py:69-182) — the SAME det/reco chain, but each page's words go
    through the KIE builder (operators/kie.py: per-class flat Prediction
    lists, class lists in reading order) instead of only the Line/Block
    tree; the return tuple gains (predictions, kie_text) where
    ``predictions`` maps class -> [prediction dicts + page_idx] across
    pages and ``kie_text`` is the per-page KIE render joined by the page
    separator (KIEDocument.render semantics, io/elements.py:459-463).

    ``page_boxes``: the detector's output for each page, when the caller
    has already run it (the fused stage detects a chunk of pages in one
    call); the detector is then not called.

    One ink raster per page: ``rasters`` holds each page's
    ``detection._page_mask`` (its ink cells when the page is aligned, else
    its pixel ink mask), when the caller has built them for a detector's
    batch entry (the fused stage's chunk does); otherwise each upright
    page's raster is built here, after the page is detected. The artefact
    gate (``_ink_gate``) reads every crop's ink off that raster, and a
    recognizer with a ``cells`` entry
    (``plans/models.py``; the default one has it) reads each kept word's
    trimmed cells off it too, on an aligned page whose kept boxes cut no
    inked cell. Every other recognizer and page gets the pixel crops of
    ``extract_crops``."""
    if detector is None:
        detector = resolve_model(*DEFAULT_DETECTOR)
    if recognizer is None:
        recognizer = resolve_model(*DEFAULT_RECOGNIZER)
    pages = _upright(pages, scale, detect_orientation, orienter, straighten_pages, straighten_min_angle)
    read_cells = _model_entry(recognizer, "cells")
    page_texts: list[str] = []
    words_out: list[dict] = []
    artefacts_out: list[dict] = []
    kie_preds: dict[str, list[dict]] = {}
    kie_page_texts: list[str] = []
    n_boxes = 0
    n_artefacts = 0
    min_conf = 1.0
    for page_idx, img in enumerate(pages):
        boxes = detector(img, scale) if page_boxes is None else page_boxes[page_idx]
        for hook in detection_hooks or ():
            boxes = hook(boxes)
        raster = _page_mask(img, scale) if rasters is None else rasters[page_idx]
        keep, gated, trims = _ink_gate(raster, to_absolute(boxes[:, :4], *img.shape[:2]), scale)
        # pixel crops for what reads pixels: the artefact classifier, and a
        # recognizer that cannot read this page's cells
        read_pixels = read_cells is None or trims is None
        crops = extract_crops(img, boxes[:, :4]) if gated or read_pixels else None
        # artefact split (solid non-text regions skip recognition and, like
        # the reference's Artefact nodes, do not contribute to the text)
        for i in gated:
            from ..operators.artefacts import classify_artefact

            a_type, a_conf = classify_artefact(crops[i])
            n_artefacts += 1
            artefacts_out.append(
                {
                    "type": a_type,
                    "confidence": a_conf,
                    "xmin": float(boxes[i, 0]),
                    "ymin": float(boxes[i, 1]),
                    "xmax": float(boxes[i, 2]),
                    "ymax": float(boxes[i, 3]),
                    "page_idx": page_idx,
                }
            )
        boxes = boxes[keep]
        if read_pixels:
            preds = recognizer([crops[i] for i in keep], scale)
        else:
            cells = raster[0]
            preds = read_cells([cells[y0:y1, x0:x1] for y0, y1, x0, x1 in trims], scale)
        values = [p[0] for p in preds]
        confs = np.array([p[1] for p in preds]) if preds else np.zeros(0)
        built = build_page(boxes[:, :4], values, boxes[:, 4])
        page_texts.append(built.text)
        n_boxes += len(values)
        if confs.size:
            min_conf = min(min_conf, float(confs.min()))
        for w in built.words:
            w["page_idx"] = page_idx
            words_out.append(w)
        if kie:
            from ..operators.kie import build_kie_page, render_kie_page

            page_preds = build_kie_page(
                boxes[:, :4], values, confs if confs.size else None
            )
            kie_page_texts.append(render_kie_page(page_preds))
            for cls, cls_preds in page_preds.items():
                for p in cls_preds:
                    p["page_idx"] = page_idx
                kie_preds.setdefault(cls, []).extend(cls_preds)
    base = (
        PAGE_SEP.join(page_texts), len(pages), n_boxes, n_artefacts, min_conf,
        words_out, artefacts_out,
    )
    if kie:
        return base + (kie_preds, PAGE_SEP.join(kie_page_texts))
    return base


def _upright(pages, scale, detect_orientation, orienter, straighten_pages, straighten_min_angle=1.0):
    """The pages turned upright, each in turn. With ``detect_orientation``
    a page takes the quarter turns of ``orienter`` (the OrientationPredictor
    contract, (page, scale) -> quarter turns; the default one when None).

    ``straighten_pages`` mirrors the reference's non-straight path
    (models/predictor/base.py:91-113, predictor/pytorch.py:97-103): a page
    whose skew angle, estimated from its merged text-line geometry (the
    seg-map analog of the first detection pass), reaches
    ``straighten_min_angle`` degrees is rotated by it, and detection runs
    on the straightened page, the second pass. With the glyph-matcher
    recognizer, resampled glyphs decode exactly only when the cell grid
    survives (quarter turns); a real CRNN through the model seam is the
    tolerant path for float skews."""
    if not (detect_orientation or straighten_pages):
        return pages
    if orienter is None and detect_orientation:
        orienter = resolve_model(*DEFAULT_ORIENTATION)
    upright = []
    for img in pages:
        if detect_orientation:
            img = rotate_page(img, orienter(img, scale))
        if straighten_pages:
            angle = estimate_skew_angle(img, scale)
            if abs(angle) >= straighten_min_angle:
                img = rotate_page_float(img, angle)
        upright.append(img)
    return upright


def _ink_gate(raster, px, scale):
    """The zero-size drop and the artefact gate of one page's boxes:
    ``(keep, gated, trims)``. ``keep`` lists the boxes whose crops go on
    to the recognizer and ``gated`` the artefacts: crops whose trimmed ink
    fill exceeds ARTEFACT_FILL_THRESH over a trimmed area of more than
    ARTEFACT_MIN_AREA_CELLS cells. ``trims`` holds each kept crop's
    trimmed ink extent ``(y0, y1, x0, x1)`` in cells of an aligned
    ``raster``, or is None when the page is not aligned or a kept crop
    cuts an inked cell.

    ``raster`` is the page's ``(mask, cs)`` (``detection._page_mask``) and
    ``px`` the pixel boxes of the crops (x0, y0, x1, y1, ends exclusive,
    as ``to_absolute`` gives them). One cell rule serves every raster: a
    crop that cuts no inked cell holds whole inked cells only, so its ink
    count is its cell count times cs^2 and its trimmed extent its cells'
    extent times cs, and the gate reads the cells under the box, never
    the pixels. The pixel mask of a page that is not aligned is a raster
    of 1 x 1 cells, which no crop can cut, so the rule there gives exactly
    the numbers of counting the crop's pixels. Only a crop that cuts an
    inked cell of an aligned page takes the rule on its pixels, expanded
    from the cells under it. The loop is per box on purpose: a page holds
    about eight boxes, and a few numpy calls on each box's cells cost
    less than array ops over the boxes (each numpy call on a tiny array
    costs about a microsecond)."""
    mask, cs = raster
    keep, gated, trims = [], [], []
    for i, (x0, y0, x1, y1) in enumerate(px.tolist()):
        if x1 <= x0 or y1 <= y0:
            continue  # the zero-size drop
        # the cells the crop covers in full; the crop cuts an inked cell
        # when the cells it covers in part hold ink
        trim, top, left = None, -(-y0 // cs), -(-x0 // cs)
        cells = mask[top : y1 // cs, left : x1 // cs]
        count = np.count_nonzero(cells)
        if np.count_nonzero(mask[y0 // cs : -(-y1 // cs), x0 // cs : -(-x1 // cs)]) == count:
            trim, artefact = (top, top, left, left), False
            if count:
                rows, cols = cells.any(axis=1).tolist(), cells.any(axis=0).tolist()
                ty0, ty1 = rows.index(True), len(rows) - rows[::-1].index(True)
                tx0, tx1 = cols.index(True), len(cols) - cols[::-1].index(True)
                trim = (top + ty0, top + ty1, left + tx0, left + tx1)
                area = (ty1 - ty0) * (tx1 - tx0) * cs * cs
                artefact = _is_artefact(count * cs * cs, area, scale)
        if trim is None:  # the pixels of the cells under the crop
            top, left = y0 // cs, x0 // cs
            cells = mask[top : -(-y1 // cs), left : -(-x1 // cs)]
            ink = cells.repeat(cs, 0).repeat(cs, 1)[y0 - top * cs : y1 - top * cs, x0 - left * cs : x1 - left * cs]
            bounds = ink_bounds(ink)
            if bounds is None:
                artefact = False
            else:
                by0, by1, bx0, bx1 = bounds
                artefact = _is_artefact(int(ink.sum()), (by1 - by0) * (bx1 - bx0), scale)
        if artefact:
            gated.append(i)
        else:
            keep.append(i)
            trims.append(trim)
    return keep, gated, (trims if cs > 1 and None not in trims else None)


def _is_artefact(ink: int, area: int, scale: int) -> bool:
    """The artefact rule on a crop's trimmed ink: ``ink`` pixels over the
    trimmed ``area`` (pixels)."""
    return ink / area > ARTEFACT_FILL_THRESH and area > ARTEFACT_MIN_AREA_CELLS * scale * scale

def _extract_batch(
    pdf: pd.DataFrame,
    detect_orientation: bool = False,
    detector=None,
    recognizer=None,
    orienter=None,
    error_policy: str = "capture",
    straighten_pages: bool = False,
    kie: bool = False,
) -> pd.DataFrame:
    if detector is None:
        detector = resolve_model(*DEFAULT_DETECTOR)
    # bound per batch, not at import, so a wrapped extract_pages_ocr counts
    ocr = partial(extract_pages_ocr, detector=detector, recognizer=recognizer, kie=kie)
    upright = partial(_upright, detect_orientation=detect_orientation, orienter=orienter, straighten_pages=straighten_pages)
    rows: list = []
    chunk = _DetectChunk(_model_entry(detector, "batch"), ocr, rows, error_policy, kie)
    for conv_id, turn_idx, role, text, tool, ts in zip(
        pdf["conv_id"], pdf["turn_idx"], pdf["role"], pdf["text"], pdf["tool"], pdf["ts"]
    ):
        turn = (conv_id, turn_idx, role, ts, text)
        try:
            kind, out, error = _quarantine(error_policy, _route_turn, tool, text, upright)
        except Exception:
            chunk.flush()  # an earlier queued turn's failure is raised first
            raise
        if kind == "pages":
            chunk.add(len(rows), turn, *out)
            rows.append(None)
        else:
            rows.append(_turn_row(*turn, kind, out, error, kie))
    chunk.flush()
    columns = _ROW_COLUMNS + ["predictions", "kie_text"] if kie else _ROW_COLUMNS
    return pd.DataFrame(rows, columns=columns)


def _model_entry(model, name):
    """The model's optional entry ``name`` (the detector's ``batch``, the
    recognizer's ``cells``: ``plans/models.py`` contracts), or None. An
    entry names its model in ``single``: a wrapper made with
    ``functools.wraps`` copies the entry but is not that model, so the
    wrapper's own logic is never skipped."""
    entry = getattr(model, name, None)
    return entry if getattr(entry, "single", None) is model else None


# pixel budget of one chunked detection call: the decoded pages the stage
# holds between detections, so a worker's memory stays bounded whatever
# the Arrow batch size
DETECT_CHUNK_PIXELS = 1 << 21


class _DetectChunk:
    """Upright OCR turns waiting for detection.

    ``add`` queues a turn's pages, flushing the queue first when the turn
    would push its pixel total past ``DETECT_CHUNK_PIXELS`` or has another
    scale. When the detector has a batch entry, ``flush`` builds each
    queued page's ink raster once and detects every queued page in one
    ``detect_batch(pages, scale, rasters=rasters)`` call, whatever the
    entry, then hands the rasters on to the chain. It runs the rest of the
    OCR chain on each turn inside the turn's own quarantine and writes its
    row into its slot. Without a batch entry, or when the chunk's call
    raises (a two-argument entry raises ``TypeError`` on ``rasters``),
    each turn detects its pages one by one, so a failure lands on the turn
    that holds the bad page."""

    def __init__(self, detect_batch, ocr, rows, error_policy, kie):
        self.detect_batch, self.ocr, self.rows = detect_batch, ocr, rows
        self.error_policy, self.kie = error_policy, kie
        self.turns: list = []  # (slot, turn, pages, scale)
        self.pixels = 0

    def add(self, slot, turn, pages, scale):
        pixels = sum(p.size for p in pages)
        if self.turns and (self.pixels + pixels > DETECT_CHUNK_PIXELS or scale != self.turns[0][3]):
            self.flush()
        self.turns.append((slot, turn, pages, scale))
        self.pixels += pixels

    def flush(self):
        turns, self.turns, self.pixels = self.turns, [], 0
        boxes = rasters = None
        if turns and self.detect_batch is not None:
            pages, scale = [p for *_, pages, _ in turns for p in pages], turns[0][3]
            try:
                # one ink raster per page, for detection and the chain
                rasters = [_page_mask(p, scale) for p in pages]
                boxes = self.detect_batch(pages, scale, rasters=rasters)
            except Exception:  # noqa: BLE001 — per-page detection below finds the turn
                boxes = rasters = None
        start = 0
        for slot, turn, pages, scale in turns:
            own = slice(start, start + len(pages))
            start += len(pages)
            kind, out, error = _quarantine(
                self.error_policy, self._chain, pages, scale,
                None if boxes is None else boxes[own], None if rasters is None else rasters[own],
            )
            self.rows[slot] = _turn_row(*turn, kind, out, error, self.kie)

    def _chain(self, pages, scale, page_boxes, rasters):
        return "ocr", self.ocr(pages, scale, page_boxes=page_boxes, rasters=rasters)


def _quarantine(error_policy, route, *args):
    """``(kind, out, error)`` of one turn's ``route(*args)``. A failure, a
    malformed envelope or corrupt payload included, must not kill a
    10^12-turn job: under 'capture' it becomes kind='error' with a bounded
    message; error_policy='raise' keeps strict semantics."""
    try:
        return (*route(*args), None)
    except Exception as exc:  # noqa: BLE001 — per-turn quarantine
        if error_policy != "capture":
            raise
        return "error", "", f"{type(exc).__name__}: {exc}"[:500]


def _route_turn(tool, text, upright):
    """Parse one turn's envelope and dispatch by payload kind; returns
    (kind, out). A page bundle is decoded, a PDF or image rasterized by its
    env-gated library and folded to grayscale, and the pages turned upright
    by ``upright`` (the batch's ``_upright``): kind 'pages', out (pages,
    scale), for the stage's detection chunk. html/plain outs are text."""
    kind, blob = (parse_tool_envelope(tool) if tool else None) or (None, None)
    if kind == "page_bundle":
        pages, scale = decode_page_bundle(blob)
        return "pages", (upright(pages, scale), scale)
    if kind in ("pdf", "image"):
        from ..sources.payloads import read_image, read_pdf_pages, to_grayscale

        raw_pages = read_pdf_pages(blob) if kind == "pdf" else [read_image(blob)]
        return "pages", (upright([to_grayscale(p) for p in raw_pages], DEFAULT_SCALE), DEFAULT_SCALE)
    if text and looks_like_html(text):
        return "html", extract_main_text(text)
    return "plain", text or ""


_ROW_COLUMNS = [
    "conv_id", "turn_idx", "role", "ts", "payload_kind", "extracted_text",
    "n_pages", "n_boxes", "n_artefacts", "n_chars", "strip_ratio", "min_conf",
    "words", "artefacts", "error",
]
# the struct fields of the words / artefacts / predictions columns, in
# schema order
_BOX_FIELDS = ("confidence", "xmin", "ymin", "xmax", "ymax", "page_idx")
_word_fields = itemgetter("value", *_BOX_FIELDS, "line_idx", "word_idx")
_artefact_fields = itemgetter("type", *_BOX_FIELDS)
_prediction_fields = itemgetter("value", *_BOX_FIELDS)


def _turn_row(conv_id, turn_idx, role, ts, text, kind, out, error, kie):
    """The output row of one turn: an 'ocr' out is the ``extract_pages_ocr``
    tuple; any other out is the text (``min_conf`` 0.0 on an error row)."""
    if kind == "ocr":
        extracted, n_pages, n_boxes, n_artefacts, min_conf, words, artefacts, *kie_out = out
    else:
        extracted, n_pages, n_boxes, n_artefacts, words, artefacts = out, 0, 0, 0, (), ()
        min_conf, kie_out = (0.0 if kind == "error" else 1.0), ({}, "")
    row = {
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "role": role,
        "ts": ts,
        "payload_kind": kind,
        "extracted_text": extracted,
        "n_pages": n_pages,
        "n_boxes": n_boxes,
        "n_artefacts": n_artefacts,
        "n_chars": len(extracted),
        "strip_ratio": len(extracted) / len(text) if kind == "html" else 1.0,
        "min_conf": float(min_conf),
        "words": [_word_fields(w) for w in words],
        "artefacts": [_artefact_fields(a) for a in artefacts],
        "error": error,
    }
    if kie:
        predictions, kie_text = kie_out
        row["predictions"] = {
            cls: [_prediction_fields(p) for p in preds] for cls, preds in predictions.items()
        }
        row["kie_text"] = kie_text
    return row


def extract_turns(
    df: DataFrame,
    salt_partitions: int | None = None,
    detect_orientation: bool = False,
    detector: ModelLoader | None = None,
    recognizer: ModelLoader | None = None,
    orienter: ModelLoader | None = None,
    error_policy: str = "capture",
    straighten_pages: bool = False,
    kie: bool = False,
) -> DataFrame:
    """Fused extraction over a transcript DataFrame.

    ``salt_partitions``: optional explicit re-spread by (conv_id, turn_idx)
    hash before the heavy stage — only needed when the input file layout is
    pathologically skewed; the shuffle moves payload bytes, so default off.
    ``detect_orientation``: enable the per-page orientation classifier
    (docTR's non-assume_straight_pages path; ~2-4x detection cost).
    ``orienter``: a ``(cache_key, loader)`` pair for a custom classifier;
    it requires ``detect_orientation=True`` (ValueError otherwise).
    ``detector`` / ``recognizer``: ``(cache_key, loader)`` pairs for custom
    models (plans/models.py contracts). The loader runs lazily ONCE per
    Python worker process — real NN weights load per executor core, not per
    task or batch (SURVEY.md §4.4 lifecycle) — and the resolved model
    serves every subsequent batch that worker handles.
    ``error_policy``: 'capture' (default) quarantines per-turn envelope,
    decode and OCR failures as payload_kind='error' rows with the message
    in the ``error`` column — one corrupt payload in 10^12 turns must not
    fail the job; 'raise' propagates (strict/debug).
    ``straighten_pages``: estimate each page's float skew angle from its
    merged line geometry and re-run detection on the de-skewed page
    (reference predictor straighten_pages path; see ``_upright``).
    ``kie``: the kie_predictor entry point (reference models/
    kie_predictor/pytorch.py:69-182) — the output gains ``predictions``
    (map class -> reading-ordered Prediction structs, per-class detection
    head semantics via the KIE builder) and ``kie_text`` (the KIEDocument
    render). Same fused single-stage plan: page bytes still never cross a
    shuffle; only the extra slim map column leaves the stage.
    """
    if orienter is not None and not detect_orientation:
        raise ValueError("orienter needs detect_orientation=True; without it no page is oriented")
    if error_policy not in ("capture", "raise"):
        raise ValueError(f"error_policy must be 'capture' or 'raise', not {error_policy!r}")
    src = df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    if salt_partitions:
        src = src.repartition(salt_partitions, F.xxhash64("conv_id", "turn_idx"))
    det_key, det_loader = detector or DEFAULT_DETECTOR
    rec_key, rec_loader = recognizer or DEFAULT_RECOGNIZER
    orient_key, orient_loader = orienter or DEFAULT_ORIENTATION

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        det = resolve_model(det_key, det_loader)
        rec = resolve_model(rec_key, rec_loader)
        ori = resolve_model(orient_key, orient_loader) if detect_orientation else None
        prepare_worker()
        for pdf in batches:
            if len(pdf):
                yield _extract_batch(
                    pdf, detect_orientation, detector=det, recognizer=rec,
                    orienter=ori, error_policy=error_policy,
                    straighten_pages=straighten_pages, kie=kie,
                )

    return src.mapInPandas(run, schema=EXTRACT_KIE_SCHEMA if kie else EXTRACT_SCHEMA)


def ordered_turns(extracted: DataFrame) -> DataFrame:
    """Stable per-conversation ordering: never rely on row order after a
    shuffle — materialize the (conv_id, turn_idx) rank explicitly."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return extracted.withColumn("turn_rank", F.row_number().over(w))


def conversation_documents(extracted: DataFrame) -> DataFrame:
    """Collapse a conversation's turns into one document string (turns joined
    in turn_idx order by the page separator) + rollup metrics."""
    return (
        extracted.groupBy("conv_id")
        .agg(
            document_render_agg("extracted_text", "turn_idx").alias("document_text"),
            F.count("*").alias("n_turns"),
            F.sum("n_boxes").alias("n_boxes"),
            F.sum("n_chars").alias("n_chars"),
        )
    )

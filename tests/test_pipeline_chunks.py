"""The fused stage's chunked detection (``plans/pipeline.py:_DetectChunk``):
page-bundle turns of an Arrow batch are detected a bounded chunk at a time
through the detector's batch entry, which takes the stage's ink rasters,
and every row, error message and failure mode stays that of the per-turn
path, mutated bundles in the chunk included. No Spark: these drive
``_extract_batch`` directly."""

import functools
import json
import struct
import tracemalloc

import numpy as np
import pandas as pd
import pytest

from doctr_spark.functions.render import PAGE_SEP
from doctr_spark.operators.detection import _page_mask, ink_word_boxes, ink_word_boxes_batch
from doctr_spark.plans import pipeline
from doctr_spark.plans.models import DEFAULT_RECOGNIZER, resolve_model
from doctr_spark.plans.pipeline import _extract_batch
from doctr_spark.sources.corpus import TRANSCRIPT_SCHEMA, make_transcripts_pdf
from doctr_spark.sources import payloads
from doctr_spark.sources.font import DEFAULT_SCALE, render_page
from doctr_spark.sources.payloads import MAGIC, encode_page_bundle, tool_envelope

COLUMNS = [c.split()[0] for c in TRANSCRIPT_SCHEMA.split(", ")]
TS = pd.Timestamp("2026-01-01")


def per_page(img, scale):
    """The default detector with its batch entry hidden: the per-turn path."""
    return ink_word_boxes(img, scale)


def _bad_rows():
    """(row, error prefix) for each route a bad turn can take."""
    two_pages = encode_page_bundle([render_page(["CUT", "HERE"])[0]] * 2, DEFAULT_SCALE)
    rows = [
        (tool_envelope("page_bundle", MAGIC + struct.pack(">BHB", 99, 1, DEFAULT_SCALE)),
         "ValueError: unsupported bundle version 99"),
        (tool_envelope("page_bundle", two_pages[:40]), "ValueError: page 0: zlib stream does not inflate"),
        (tool_envelope("page_bundle", b"DSPGgarbage-not-a-bundle"), "ValueError: unsupported bundle version"),
        (json.dumps({"kind": "page_bundle", "b64": "abc"}), "Error: Incorrect padding"),
        (json.dumps({"kind": "page_bundle", "b64": 5}), "TypeError"),
        # NotImplementedError without pypdfium2 / cv2, else the library's own error
        (tool_envelope("pdf", b"%PDF-fake"), None),
        (tool_envelope("image", b"\x89PNG-fake"), None),
    ]
    return [
        ({"conv_id": "conv-bad", "turn_idx": i, "role": "tool", "text": "[attachment]", "tool": tool, "ts": TS}, prefix)
        for i, (tool, prefix) in enumerate(rows)
    ]


def _every_route_batch():
    """Good OCR turns (rotated pages, artefacts and pages of scale 2 among
    them), HTML and plain turns, empty and null text, with a bad turn of every kind after
    every third good row."""
    good = make_transcripts_pdf(8, ocr_ratio=0.5, html_ratio=0.25, rot_ratio=0.3, artefact_ratio=0.2)
    # pages of another scale end the chunk they would join
    scale2 = make_transcripts_pdf(2, ocr_ratio=1.0, scale=2).assign(conv_id=lambda d: d["conv_id"] + "-s2")
    good = pd.concat([good.iloc[:9], scale2, good.iloc[9:]])[COLUMNS].to_dict("records")
    good += [
        {"conv_id": "conv-empty", "turn_idx": 0, "role": "user", "text": "", "tool": None, "ts": TS},
        {"conv_id": "conv-empty", "turn_idx": 1, "role": "user", "text": None, "tool": None, "ts": TS},
    ]
    bad = _bad_rows()
    rows = []
    for i, row in enumerate(good):
        rows.append(row)
        if i % 3 == 2 and bad:
            rows.append(bad.pop(0)[0])
    rows += [row for row, _ in bad]
    return pd.DataFrame(rows, columns=COLUMNS)


def _assert_page_rasters(pages, scale, rasters):
    """The stage hands a batch entry one raster per page, each the page's
    ``_page_mask``."""
    assert len(rasters) == len(pages)
    for page, (mask, cs) in zip(pages, rasters):
        ref_mask, ref_cs = _page_mask(page, scale)
        assert cs == ref_cs and np.array_equal(mask, ref_mask)


def _counting_detector(calls):
    def detect(img, scale):
        return ink_word_boxes(img, scale)

    def batch(pages, scale, *, rasters):
        _assert_page_rasters(pages, scale, rasters)
        calls.append(len(pages))
        return ink_word_boxes_batch(pages, scale, rasters=rasters)

    detect.batch, batch.single = batch, detect
    return detect


@pytest.mark.parametrize("cap", [pipeline.DETECT_CHUNK_PIXELS, 1, 300_000])
@pytest.mark.parametrize("kie", [False, True])
def test_chunked_rows_equal_the_per_turn_path(monkeypatch, cap, kie):
    """Same rows, same order, same error messages as detecting page by
    page, whether the batch is one chunk, one chunk per turn or several."""
    monkeypatch.setattr(pipeline, "DETECT_CHUNK_PIXELS", cap)
    batch = _every_route_batch()
    calls = []
    out = _extract_batch(batch, detector=_counting_detector(calls), kie=kie)
    ref = _extract_batch(batch, detector=per_page, kie=kie)
    assert out.equals(ref) and list(out.columns) == list(ref.columns)
    assert out.equals(_extract_batch(batch, kie=kie))  # the default detector resolves to the batch path
    ocr_turns = out[out["payload_kind"] == "ocr"]
    # every page detected once, in several chunks; a 1-pixel cap gives each turn its own
    assert sum(calls) == ocr_turns["n_pages"].sum() and len(calls) > 1
    assert len(calls) == len(ocr_turns) if cap == 1 else len(calls) < len(ocr_turns)
    assert set(out["payload_kind"]) == {"ocr", "html", "plain", "error"}
    errors = out.loc[out["conv_id"] == "conv-bad", "error"].tolist()
    assert len(errors) == len(_bad_rows()) and all(0 < len(e) <= 500 for e in errors)
    for error, (_, prefix) in zip(errors, _bad_rows()):
        assert prefix is None or error.startswith(prefix), (error, prefix)


@pytest.mark.parametrize("upright", [{"detect_orientation": True}, {"straighten_pages": True}], ids=["orient", "straighten"])
@pytest.mark.parametrize("kie", [False, True])
def test_uprighted_pages_are_detected_in_the_chunk(upright, kie):
    """Orientation and straightening turn each page upright in its turn,
    and the upright pages still reach the detector's batch entry: the rows
    are those of detecting page by page, quarter-turned pages included."""
    batch = _every_route_batch()
    calls = []
    out = _extract_batch(batch, detector=_counting_detector(calls), kie=kie, **upright)
    ref = _extract_batch(batch, detector=per_page, kie=kie, **upright)
    assert out.equals(ref) and list(out.columns) == list(ref.columns)
    assert not out.equals(_extract_batch(batch, kie=kie))  # the quarter-turned pages now read
    ocr_turns = out[out["payload_kind"] == "ocr"]
    assert sum(calls) == ocr_turns["n_pages"].sum() and 1 < len(calls) < len(ocr_turns)
    errors = out.loc[out["conv_id"] == "conv-bad", "error"].tolist()
    for error, (_, prefix) in zip(errors, _bad_rows()):
        assert prefix is None or error.startswith(prefix), (error, prefix)


def _rgb(words, k=0):
    """A rendered page as the RGB raster a PDF or image decoder returns,
    turned ``k`` quarter turns."""
    return np.repeat(np.rot90(render_page(words)[0], k)[..., None], 3, axis=2)


@pytest.mark.parametrize("upright", [{}, {"detect_orientation": True}], ids=["plain", "orient"])
def test_pdf_and_image_pages_are_detected_in_the_chunk(monkeypatch, upright):
    """PDF and image turns take the page bundles' path: their pages join
    the detection chunk, and their rows are those of detecting page by
    page. With orientation on, the image arrives quarter-turned."""
    k = 1 if upright else 0
    monkeypatch.setattr(payloads, "read_pdf_pages", lambda data, **_: [_rgb(["PDF", "PAGE"]), _rgb(["SECOND"])])
    monkeypatch.setattr(payloads, "read_image", lambda data, **_: _rgb(["IMAGE", "TURN"], k))
    rows = [
        {"conv_id": "conv-pdf", "turn_idx": 0, "role": "tool", "text": "[attachment]", "tool": tool_envelope("pdf", b"%PDF"), "ts": TS},
        {"conv_id": "conv-image", "turn_idx": 0, "role": "tool", "text": "[attachment]", "tool": tool_envelope("image", b"\x89PNG"), "ts": TS},
    ]
    good = _every_route_batch().iloc[:12].to_dict("records")
    batch = pd.DataFrame(good[:6] + rows[:1] + good[6:] + rows[1:], columns=COLUMNS)
    calls = []
    out = _extract_batch(batch, detector=_counting_detector(calls), **upright)
    assert out.equals(_extract_batch(batch, detector=per_page, **upright))
    text = out.set_index("conv_id")["extracted_text"]
    assert text["conv-pdf"] == PAGE_SEP.join(["PDF PAGE", "SECOND"]) and text["conv-image"] == "IMAGE TURN"
    ocr_turns = out[out["payload_kind"] == "ocr"]
    assert sum(calls) == ocr_turns["n_pages"].sum() and len(calls) < len(ocr_turns)


def test_wrapped_detector_does_not_inherit_the_batch_entry():
    """A ``functools.wraps`` wrapper copies ``batch`` from the default
    detector; the stage must still call the wrapper, page by page, so the
    wrapper's own logic is never skipped."""
    batch = _every_route_batch()

    @functools.wraps(ink_word_boxes)
    def first_box_only(img, scale):
        return ink_word_boxes(img, scale)[:1]

    assert first_box_only.batch is ink_word_boxes_batch
    assert pipeline._model_entry(first_box_only, "batch") is None
    assert pipeline._model_entry(ink_word_boxes, "batch") is ink_word_boxes_batch
    out = _extract_batch(batch, detector=first_box_only)

    def plain(img, scale):
        return first_box_only(img, scale)

    assert out.equals(_extract_batch(batch, detector=plain))
    assert not out.equals(_extract_batch(batch))


def test_wrapped_recognizer_does_not_inherit_the_cells_entry():
    """A ``functools.wraps`` wrapper copies ``cells`` from the default
    recognizer; the stage must still call the wrapper on pixel crops, so
    the wrapper's own logic is never skipped."""
    batch = _every_route_batch()
    recognizer = resolve_model(*DEFAULT_RECOGNIZER)

    @functools.wraps(recognizer)
    def lowercase(crops, scale):
        return [(text.lower(), conf) for text, conf in recognizer(crops, scale)]

    assert lowercase.cells is recognizer.cells
    assert pipeline._model_entry(lowercase, "cells") is None
    assert pipeline._model_entry(recognizer, "cells") is recognizer.cells
    out = _extract_batch(batch, recognizer=lowercase)

    def plain(crops, scale):
        return lowercase(crops, scale)

    assert out.equals(_extract_batch(batch, recognizer=plain))
    assert not out.equals(_extract_batch(batch))


def test_wrapper_with_its_own_batch_entry_gets_the_stage_rasters():
    """A ``functools.wraps`` wrapper of the default detector that sets its
    own ``batch`` (forwarding ``rasters``, with ``single`` naming the
    wrapper) takes the default path: its rows are the default detector's,
    and its batch entry receives the stage's raster of every OCR page."""
    batch = _every_route_batch()
    seen = []

    @functools.wraps(ink_word_boxes)
    def traced(img, scale):
        return ink_word_boxes(img, scale)

    def traced_batch(pages, scale, *, rasters):
        _assert_page_rasters(pages, scale, rasters)
        seen.extend(rasters)
        return ink_word_boxes_batch(pages, scale, rasters=rasters)

    traced.batch, traced_batch.single = traced_batch, traced
    assert pipeline._model_entry(traced, "batch") is traced_batch
    out = _extract_batch(batch, detector=traced)
    assert out.equals(_extract_batch(batch))
    ocr_turns = out[out["payload_kind"] == "ocr"]
    assert len(seen) == ocr_turns["n_pages"].sum() > 0


def test_two_argument_batch_entry_falls_back_per_page():
    """A batch entry written to the older ``(pages, scale)`` form raises
    ``TypeError`` on ``rasters``; the stage then detects page by page, so
    the rows are those of a detector without a batch entry."""
    batch = _every_route_batch()
    calls = []

    def detect(img, scale):
        return ink_word_boxes(img, scale)

    def old_batch(pages, scale):
        calls.append(len(pages))
        return ink_word_boxes_batch(pages, scale)

    detect.batch, old_batch.single = old_batch, detect
    for kie in (False, True):
        assert _extract_batch(batch, detector=detect, kie=kie).equals(_extract_batch(batch, detector=per_page, kie=kie))
    assert calls == []


def test_raise_policy_propagates_in_turn_order():
    """error_policy='raise' propagates a bad turn's error; a queued turn
    whose chain fails before it raises first, as on the per-turn path."""
    batch = _every_route_batch()
    with pytest.raises(Exception):
        _extract_batch(batch, error_policy="raise")
    bad = pd.DataFrame([row for row, _ in _bad_rows()[:1]], columns=COLUMNS)
    with pytest.raises(ValueError, match="unsupported bundle version"):
        _extract_batch(bad, error_policy="raise")

    def broken_recognizer(crops, scale):
        raise RuntimeError("recognizer down")

    ocr_first = pd.concat([batch[batch["text"].str.startswith("[attachment:", na=False)].iloc[:1], bad])
    for detector in (None, per_page):
        with pytest.raises(RuntimeError, match="recognizer down"):
            _extract_batch(ocr_first, detector=detector, recognizer=broken_recognizer, error_policy="raise")


def test_failed_chunk_detection_falls_back_per_page():
    """When the chunk's detection call raises, each turn detects its own
    pages inside its own quarantine: only the turn with the bad page
    becomes an error row, and every other row is the per-turn path's."""
    poison = (np.arange(7 * 640) % 251).astype(np.uint8).reshape(7, 640)
    batch = _every_route_batch()
    poisoned = {"conv_id": "conv-poison", "turn_idx": 0, "role": "tool", "text": "[attachment]",
                "tool": tool_envelope("page_bundle", encode_page_bundle([poison], DEFAULT_SCALE)), "ts": TS}
    batch = pd.concat([batch.iloc[:5], pd.DataFrame([poisoned]), batch.iloc[5:]], ignore_index=True)

    def detect(img, scale):
        if img.shape == poison.shape:
            raise ValueError("bad page")
        return ink_word_boxes(img, scale)

    def batch_fails(pages, scale, *, rasters):
        raise MemoryError("chunk too big")

    detect.batch, batch_fails.single = batch_fails, detect
    out = _extract_batch(batch, detector=detect)

    def per_page_only(img, scale):
        return detect(img, scale)

    assert out.equals(_extract_batch(batch, detector=per_page_only))
    row = out[out["conv_id"] == "conv-poison"].iloc[0]
    assert (row["payload_kind"], row["error"]) == ("error", "ValueError: bad page")
    rest = out[out["conv_id"] != "conv-poison"]
    assert (rest["error"].notna() == (rest["conv_id"] == "conv-bad")).all()


def _tall_ocr_batch(n_turns):
    """OCR turns of one tall, mostly blank page each: many pixels, few
    words, so the rows the batch returns stay small next to its pages."""
    img, _ = render_page(["TALL", "PAGE"])
    page = np.pad(img, ((0, 1200 - img.shape[0]), (0, 0)), constant_values=255)
    tool = tool_envelope("page_bundle", encode_page_bundle([page], DEFAULT_SCALE))
    rows = [{"conv_id": f"c{i}", "turn_idx": 0, "role": "tool", "text": "[attachment]", "tool": tool, "ts": TS}
            for i in range(n_turns)]
    return pd.DataFrame(rows, columns=COLUMNS), page.size


def _peak_bytes(batch):
    tracemalloc.start()
    try:
        out = _extract_batch(batch)
        return tracemalloc.get_traced_memory()[1], out
    finally:
        tracemalloc.stop()


def test_extract_batch_memory_is_bounded_by_the_chunk():
    """The stage holds at most a chunk of decoded pages: the traced peak of
    _extract_batch stays under the chunk cap plus one bundle plus slack for
    the detection canvas, whether the batch holds 4 or 12 chunks of pages."""
    _extract_batch(_tall_ocr_batch(2)[0])  # warm the models' memos
    cap = pipeline.DETECT_CHUNK_PIXELS
    for n_chunks in (4, 12):
        n_turns = n_chunks * cap // _tall_ocr_batch(1)[1]
        batch, bundle_pixels = _tall_ocr_batch(n_turns)
        peak, out = _peak_bytes(batch)
        assert (out["extracted_text"] == "TALL PAGE").all()
        assert peak < cap + bundle_pixels + cap, (n_chunks, peak)


def _mutate(data, kind, rng):
    """One seeded mutation of page-bundle bytes."""
    data = bytearray(data)
    if kind == "append":
        return bytes(data) + rng.bytes(int(rng.integers(1, 65)))
    if kind == "truncate":
        return bytes(data[: int(rng.integers(0, len(data)))])
    if kind == "bundle_header":
        pos = int(rng.integers(0, 8))
    else:
        _, n_pages, _ = struct.unpack(">BHB", data[4:8])
        headers = list(payloads._page_headers(bytes(data), n_pages))
        _, _, off, blob_len = headers[int(rng.integers(0, len(headers)))]
        pos = off - 8 + int(rng.integers(0, 8)) if kind == "page_header" else off + int(rng.integers(0, blob_len))
    data[pos] ^= 1 << int(rng.integers(0, 8))
    return bytes(data)


def test_chunk_path_fuzz_never_fails_the_batch():
    """Seeded fuzz of the chunk path: 2,000 mutated page bundles (bit flips
    in the bundle header, the page headers and the zlib streams,
    truncations, appended bytes), each followed by a good OCR turn so that
    bad and good pages share detection chunks. The batch returns; every
    good row is its row from the unmutated batch; every mutated row is an
    'ocr' row or an 'error' row with a bounded message."""
    rng = np.random.default_rng(20261020)
    texts = [["GOOD", "ROW"], ["SECOND", "PAGE", "HERE"], ["THIRD", "ONE"], ["A", "B", "C", "D"]]
    pages = [render_page(words)[0] for words in texts]
    bundles = [encode_page_bundle(pages[:n], DEFAULT_SCALE) for n in (1, 2, 3)]
    kinds = ["bundle_header", "page_header", "zlib", "truncate", "append"]
    n_mutated = 2000
    rows, clean = [], []
    for i in range(n_mutated):
        source = bundles[i % len(bundles)]
        bad = _mutate(source, kinds[i % len(kinds)], rng)
        for tool, clean_tool in ((bad, source), (bundles[(i + 1) % len(bundles)],) * 2):
            row = {"conv_id": "fuzz", "turn_idx": len(rows), "role": "tool", "text": "[attachment]",
                   "tool": tool_envelope("page_bundle", tool), "ts": TS}
            rows.append(row)
            clean.append({**row, "tool": tool_envelope("page_bundle", clean_tool)})
    out = _extract_batch(pd.DataFrame(rows, columns=COLUMNS))
    ref = _extract_batch(pd.DataFrame(clean, columns=COLUMNS))
    assert len(out) == len(rows)
    good, bad = out.iloc[1::2], out.iloc[0::2]
    assert good.equals(ref.iloc[1::2])
    assert (good["payload_kind"] == "ocr").all() and good["error"].isna().all()
    assert set(bad["payload_kind"]) <= {"ocr", "error"}
    errors = bad.loc[bad["payload_kind"] == "error", "error"]
    assert errors.map(lambda e: isinstance(e, str) and 1 <= len(e) <= 500).all()
    assert bad.loc[bad["payload_kind"] == "ocr", "error"].isna().all()
    # some mutated bundles still decode (appended bytes, a lower page
    # count, another scale) and reach detection next to the good pages
    assert 0 < len(errors) < n_mutated


def _bundle_row(data, turn_idx=0):
    return {"conv_id": "conv-hdr", "turn_idx": turn_idx, "role": "tool", "text": "[attachment]",
            "tool": tool_envelope("page_bundle", data), "ts": TS}


def test_scale_zero_bundle_is_an_error_row():
    """A bundle whose header declares scale 0 is refused before any page
    inflates, with a message naming the scale; the same page at scales 2
    and 3 still decodes and reads."""
    rows = []
    for turn_idx, scale in enumerate((0, 2, 3)):
        page, _ = render_page(["SCALE", "ROW"], scale=scale or DEFAULT_SCALE)
        rows.append(_bundle_row(encode_page_bundle([page], scale), turn_idx))
    with pytest.raises(ValueError, match="scale 0"):
        payloads.decode_page_bundle(encode_page_bundle([render_page(["X"])[0]], 0))
    out = _extract_batch(pd.DataFrame(rows, columns=COLUMNS))
    assert out["payload_kind"].tolist() == ["error", "ocr", "ocr"]
    assert out["error"].iloc[0] == "ValueError: bundle declares scale 0; a page's scale is at least 1"
    assert out["extracted_text"].iloc[1:].tolist() == ["SCALE ROW"] * 2


def test_cut_off_headers_are_named():
    """A bundle cut inside its own 8-byte header, or inside page i's,
    raises ValueError naming that header (not ``struct.error``); a cut in
    page 1's header is reported after page 0 inflates."""
    two_pages = encode_page_bundle([render_page(["CUT", "HERE"])[0]] * 2, DEFAULT_SCALE)
    page1 = 8 + 8 + struct.unpack(">HHI", two_pages[8:16])[2]
    cases = [(two_pages[:n], f"bundle header cut off after {n} of 8 bytes") for n in range(4, 8)]
    cases += [(two_pages[: 8 + k], f"page 0 header cut off after {k} of 8 bytes") for k in range(8)]
    cases += [(two_pages[: page1 + k], f"page 1 header cut off after {k} of 8 bytes") for k in range(8)]
    for data, message in cases:
        with pytest.raises(ValueError, match=message):
            payloads.decode_page_bundle(data)
    out = _extract_batch(pd.DataFrame([_bundle_row(d, i) for i, (d, _) in enumerate(cases)], columns=COLUMNS))
    assert (out["payload_kind"] == "error").all()
    assert out["error"].tolist() == [f"ValueError: {message}" for _, message in cases]

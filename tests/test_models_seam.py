"""Pluggable model seam (plans/models.py) + real decoder wiring
(sources/payloads.py read_pdf_pages / read_image).

Reference parity targets: detection/zoo.py:59-71 and recognition/zoo.py:
41-52 (custom model instances), io/pdf.py:16-43 (pypdfium2 render),
io/image/base.py:16-53 (cv2 decode), SURVEY.md §4.4 (per-executor weight
lifecycle)."""

from __future__ import annotations

import os
import struct
import sys
import types

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from doctr_spark.plans.models import committed_models, load_npz, models_data
from doctr_spark.sources.corpus import make_transcripts


def test_custom_model_loads_once_per_worker_and_keeps_equality(spark, tmp_path_factory):
    """Inject 'heavy' custom models whose loaders tally every load into a
    shared file: extraction equality is unchanged (the customs wrap the
    deterministic kernels) and the loader ran at most once per Python
    worker process (one line per distinct pid), not once per task/batch."""
    from doctr_spark.plans.pipeline import extract_turns

    tally = str(tmp_path_factory.mktemp("seam") / "loads.txt")

    def load_detector(path=tally):
        with open(path, "a") as f:
            f.write(f"det {os.getpid()}\n")
        from doctr_spark.plans.models import _load_ink_detector

        return _load_ink_detector()

    def load_recognizer(path=tally):
        with open(path, "a") as f:
            f.write(f"rec {os.getpid()}\n")
        from doctr_spark.plans.models import _load_glyph_recognizer

        return _load_glyph_recognizer()

    gen = make_transcripts(spark, 10, partitions=8, ocr_ratio=1.0, html_ratio=0.0).cache()
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    out = extract_turns(
        inp,
        detector=("test-heavy-det", load_detector),
        recognizer=("test-heavy-rec", load_recognizer),
    )
    j = out.join(gen.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    bad = j.filter(F.col("extracted_text") != F.col("expected_text")).count()
    assert bad == 0 and out.count() == inp.count()

    lines = [ln.split() for ln in open(tally).read().splitlines()]
    # one load per (model, worker-process): 8 tasks on local[4] would tally
    # 16 lines if the loader ran per task — it must be <= once per pid
    for kind in ("det", "rec"):
        pids = [pid for k, pid in lines if k == kind]
        assert len(pids) >= 1
        assert len(pids) == len(set(pids))
    gen.unpersist()


def test_resolve_model_caches_by_key():
    from doctr_spark.plans.models import clear_model_cache, resolve_model

    clear_model_cache()
    calls = []

    def loader():
        calls.append(1)
        return object()

    a = resolve_model("k1", loader)
    b = resolve_model("k1", loader)
    assert a is b and len(calls) == 1
    c = resolve_model("k2", loader)
    assert c is not a and len(calls) == 2
    clear_model_cache()


# ------------------------------------------------- committed model files


@pytest.mark.parametrize("path", sorted(committed_models()), ids=os.path.basename)
def test_committed_model_file_matches_builder(path):
    """Each committed file is exactly what scripts/make_tiny_weights.py
    writes from its builder: an npz has the builder's keys and equal
    arrays, an .onnx is byte-equal to the builder's serialization."""
    build = committed_models()[path][0]
    if path.endswith(".npz"):
        fresh = build()
        committed = load_npz(path)
        assert set(committed) == set(fresh)
        for k in fresh:
            assert np.array_equal(committed[k], np.asarray(fresh[k])), k
    else:
        with open(path, "rb") as fh:
            assert fh.read() == build()


def test_committed_model_table_lists_models_data():
    """The table declares every file in models_data/ and nothing else."""
    assert {os.path.basename(p) for p in committed_models()} == set(os.listdir(models_data("")))


def test_custom_weights_path_gets_its_own_model(tmp_path):
    """A loader given a custom weights file resolves to a model of its own:
    its cache key names the file, so resolve_model never serves it the
    model loaded from the default file earlier in the same process."""
    import shutil

    from doctr_spark.plans.models import clear_model_cache, resolve_model
    from doctr_spark.plans.tiny_orient import ORIENT_WEIGHTS_PATH, tiny_orient_classifier

    factories = [(p, f) for p, (_, archs) in committed_models().items() for f in archs.values()]
    factories.append((ORIENT_WEIGHTS_PATH, tiny_orient_classifier))
    assert len(factories) == 12
    clear_model_cache()
    for path, factory in factories:
        custom = str(tmp_path / os.path.basename(path))
        shutil.copyfile(path, custom)
        key, _ = factory()
        assert factory(custom)[0] == f"{key}:{custom}"
        assert resolve_model(*factory()) is not resolve_model(*factory(custom)), key
    clear_model_cache()


# ------------------------------------------------------- decoder wiring


def _fake_pypdfium2(pages_rgb, sizes=None):
    """Stub pypdfium2 module: PdfDocument(bytes) iterates fake pages whose
    render(scale, rev_byteorder).to_numpy() returns the given arrays and
    whose get_size() returns ``sizes`` (points; default the array's
    (width, height))."""
    mod = types.ModuleType("pypdfium2")
    state = {"closed": False, "render_kwargs": []}

    class _Bitmap:
        def __init__(self, arr):
            self._arr = arr

        def to_numpy(self):
            return self._arr

    class _Page:
        def __init__(self, arr, size):
            self._arr = arr
            self._size = size

        def get_size(self):
            return self._size

        def render(self, scale=1.0, rev_byteorder=False, **kw):
            state["render_kwargs"].append({"scale": scale, "rev_byteorder": rev_byteorder})
            return _Bitmap(self._arr)

    class PdfDocument:
        def __init__(self, data, password=None):
            state["data"] = data
            self._pages = [
                _Page(a, size) for a, size in zip(pages_rgb, sizes or [a.shape[1::-1] for a in pages_rgb])
            ]

        def __iter__(self):
            return iter(self._pages)

        def close(self):
            state["closed"] = True

    mod.PdfDocument = PdfDocument
    mod._state = state
    return mod


def test_read_pdf_pages_wiring_via_stub(monkeypatch):
    """The pypdfium2 path is really wired (render at scale=2, RGB byte
    order, document closed) — proven with a stub module; the real-lib test
    below runs wherever pypdfium2 is installed."""
    from doctr_spark.sources import payloads

    rgb = [np.full((10, 8, 3), 200, dtype=np.uint8), np.zeros((6, 4, 3), dtype=np.uint8)]
    fake = _fake_pypdfium2(rgb)
    monkeypatch.setitem(sys.modules, "pypdfium2", fake)
    out = payloads.read_pdf_pages(b"%PDF-fake", scale=2.0)
    assert len(out) == 2 and out[0].shape == (10, 8, 3)
    assert fake._state["closed"] is True
    assert fake._state["data"] == b"%PDF-fake"
    assert all(kw == {"scale": 2.0, "rev_byteorder": True} for kw in fake._state["render_kwargs"])


def test_read_pdf_pages_refuses_oversized_document_before_rendering(monkeypatch):
    """A document whose pages would render past MAX_BUNDLE_PIXELS in total
    (page size in points x scale on both axes) is refused before any page
    renders, and the document is still closed; one just under renders."""
    from doctr_spark.sources import payloads

    rgb = [np.zeros((4, 4, 3), dtype=np.uint8)] * 2
    # two pages of 4096 x 2048 points: exactly MAX_BUNDLE_PIXELS at scale 1
    sizes = [(4096, 2048)] * 2
    assert 2 * 4096 * 2048 == payloads.MAX_BUNDLE_PIXELS
    fits = _fake_pypdfium2(rgb, sizes)
    monkeypatch.setitem(sys.modules, "pypdfium2", fits)
    assert len(payloads.read_pdf_pages(b"%PDF-fits", scale=1.0)) == 2
    assert len(fits._state["render_kwargs"]) == 2

    big = _fake_pypdfium2(rgb, sizes)
    monkeypatch.setitem(sys.modules, "pypdfium2", big)
    with pytest.raises(ValueError, match="over the 16777216 cap"):
        payloads.read_pdf_pages(b"%PDF-big", scale=1.01)
    assert big._state["render_kwargs"] == [] and big._state["closed"] is True


def _fake_cv2(decoded_bgr, calls):
    """Stub cv2 module: imdecode returns ``decoded_bgr``; every call is
    recorded in ``calls``."""
    fake = types.ModuleType("cv2")
    fake.IMREAD_COLOR = 1
    fake.INTER_LINEAR = 1
    fake.COLOR_BGR2RGB = 4

    def imdecode(buf, flag):
        calls["imdecode"] = (bytes(buf), flag)
        return decoded_bgr

    def resize(img, wh, interpolation=None):
        calls["resize"] = wh
        return img[: wh[1], : wh[0]]

    def cvtColor(img, code):
        calls["cvt"] = code
        return img[..., ::-1]

    fake.imdecode, fake.resize, fake.cvtColor = imdecode, resize, cvtColor
    return fake


def test_read_image_wiring_via_stub(monkeypatch):
    from doctr_spark.sources import payloads

    decoded_bgr = np.dstack(
        [np.full((5, 7), v, dtype=np.uint8) for v in (10, 20, 30)]  # B,G,R planes
    )
    calls = {}
    fake = _fake_cv2(decoded_bgr, calls)
    monkeypatch.setitem(sys.modules, "cv2", fake)

    out = payloads.read_image(b"\x89PNG-fake", output_size=(4, 6))
    assert calls["imdecode"][0] == b"\x89PNG-fake"
    assert calls["resize"] == (6, 4)  # cv2 takes (W, H); output_size is (H, W)
    assert calls["cvt"] == fake.COLOR_BGR2RGB
    assert out[0, 0, 0] == 30  # RGB order after the swap


def _png_header(width, height):
    return b"\x89PNG\r\n\x1a\n" + struct.pack(">I4sIIBBBBB", 13, b"IHDR", width, height, 8, 2, 0, 0, 0)


def _jpeg_header(width, height):
    """SOI, an APP0 segment, then a baseline SOF0 frame header."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    return b"\xff\xd8" + app0 + b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3) + bytes(9)


def test_read_image_refuses_oversized_images_before_decoding(monkeypatch):
    """A PNG or JPEG whose header declares more than MAX_BUNDLE_PIXELS
    pixels, or an ``output_size`` over the cap, is refused without calling
    imdecode; headers at the cap, and bytes of another format, decode.
    An image of another format that decodes past the cap is refused."""
    from doctr_spark.sources import payloads

    cap = payloads.MAX_BUNDLE_PIXELS
    assert 4096 * 4096 == cap
    calls = {}
    monkeypatch.setitem(sys.modules, "cv2", _fake_cv2(np.zeros((5, 7, 3), dtype=np.uint8), calls))
    for bomb in (_png_header(4096, 4097), _jpeg_header(4097, 4096), _png_header(2**31, 2**31)):
        with pytest.raises(ValueError, match="over the 16777216 cap"):
            payloads.read_image(bomb)
    with pytest.raises(ValueError, match="over the 16777216 pixel cap"):
        payloads.read_image(_png_header(7, 5), output_size=(4097, 4096))
    assert "imdecode" not in calls
    for fits in (_png_header(4096, 4096), _jpeg_header(4096, 4096), b"BM-other-format"):
        assert payloads.read_image(fits).shape == (5, 7, 3)
        assert calls.pop("imdecode")[0] == fits
    monkeypatch.setitem(sys.modules, "cv2", _fake_cv2(np.zeros((4097, 4096, 3), dtype=np.uint8), calls))
    with pytest.raises(ValueError, match="image decodes to 16781312 pixels"):
        payloads.read_image(b"BM-other-format")


def test_decoders_raise_not_implemented_when_libs_absent():
    from doctr_spark.sources import payloads

    for lib, fn, arg in [
        ("pypdfium2", payloads.read_pdf_pages, b"%PDF"),
        ("cv2", payloads.read_image, b"\x89PNG"),
    ]:
        try:
            __import__(lib)
        except ImportError:
            with pytest.raises(NotImplementedError):
                fn(arg)


def test_read_pdf_pages_real_lib():
    pytest.importorskip("pypdfium2")
    # minimal blank one-page PDF
    pdf = (
        b"%PDF-1.1\n1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
        b"2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj\n"
        b"3 0 obj<</Type/Page/Parent 2 0 R/MediaBox[0 0 72 72]>>endobj\n"
        b"trailer<</Root 1 0 R>>"
    )
    from doctr_spark.sources.payloads import read_pdf_pages

    pages = read_pdf_pages(pdf, scale=2.0)
    assert len(pages) == 1 and pages[0].shape[0] == 144  # 72pt * scale 2


def test_to_grayscale():
    from doctr_spark.sources.payloads import to_grayscale

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[0, 0] = (255, 255, 255)
    rgb[0, 1] = (255, 0, 0)
    g = to_grayscale(rgb)
    assert g.shape == (2, 2) and g.dtype == np.uint8
    assert g[0, 0] == 255 and g[0, 1] == int(0.299 * 255) and g[1, 1] == 0
    flat = np.array([[7, 9]], dtype=np.uint8)
    assert to_grayscale(flat) is flat or (to_grayscale(flat) == flat).all()


def test_pdf_envelope_routes_through_ocr_chain(monkeypatch):
    """A 'pdf' tool envelope flows decode -> grayscale -> detect ->
    recognize -> build and reproduces the page text exactly (stubbed
    rasterizer returns an RGB-ified deterministic render)."""
    from doctr_spark.plans.pipeline import _extract_batch
    from doctr_spark.sources.font import DEFAULT_SCALE, expected_page_lines, render_page
    from doctr_spark.sources.payloads import tool_envelope

    words = ["ALPHA", "BRAVO", "42"]
    gray, _ = render_page(words, scale=DEFAULT_SCALE)
    rgb = np.repeat(gray[..., None], 3, axis=2)
    monkeypatch.setitem(sys.modules, "pypdfium2", _fake_pypdfium2([rgb]))

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0"],
            "turn_idx": [0],
            "role": ["user"],
            "text": ["[attachment: 1 page]"],
            "tool": [tool_envelope("pdf", b"%PDF-fake")],
            "ts": [pd.Timestamp("2026-01-01")],
        }
    )
    out = _extract_batch(pdf)
    assert out.loc[0, "payload_kind"] == "ocr"
    assert out.loc[0, "extracted_text"] == "\n".join(expected_page_lines(words, scale=DEFAULT_SCALE))
    assert out.loc[0, "n_pages"] == 1 and out.loc[0, "n_boxes"] == len(words)


def _fake_onnxruntime(run_fn, created):
    mod = types.ModuleType("onnxruntime")

    class InferenceSession:
        def __init__(self, path):
            created.append((os.getpid(), path))

        def run(self, outputs, feeds):
            return run_fn(feeds)

    mod.InferenceSession = InferenceSession
    return mod


def test_onnx_detector_wiring_via_stub(monkeypatch):
    """A 'real' ONNX detection head (stubbed runtime whose forward returns
    the deterministic proba map) drops into the seam and the full OCR chain
    still reproduces the page text exactly — composition of session
    preprocess + forward + the DB postprocessor is proven end-to-end."""
    from doctr_spark.operators.detection import INK_MODEL_POSTPROC, ink_proba_map
    from doctr_spark.plans.models import clear_model_cache, onnx_detector
    from doctr_spark.plans.pipeline import extract_pages_ocr
    from doctr_spark.sources.font import expected_page_lines, render_page

    created = []

    def run(feeds):
        x = feeds["input"]  # (1,1,H,W) float in [0,1]
        page = (x[0, 0] * 255.0).astype(np.uint8)
        return [ink_proba_map(page, 3)]

    monkeypatch.setitem(sys.modules, "onnxruntime", _fake_onnxruntime(run, created))
    clear_model_cache()
    words = ["ONNX", "SEAM", "WORKS", "42"]
    img, _ = render_page(words, scale=3)
    # the stub forward emits the ink-model proba map, so use its postproc
    # family (a real DBNet head would keep DB_POSTPROC)
    key, loader = onnx_detector("/weights/fake-dbnet.onnx", postproc=INK_MODEL_POSTPROC)
    det = loader()
    text, n_pages, n_boxes, *_ = extract_pages_ocr([img], 3, detector=det)
    assert text == "\n".join(expected_page_lines(words, scale=3))
    assert n_boxes == len(words)
    assert created == [(os.getpid(), "/weights/fake-dbnet.onnx")]
    clear_model_cache()


def test_onnx_recognizer_wiring_via_stub(monkeypatch):
    """The ONNX recognizer loader stacks a crop batch into one forward and
    CTC-decodes the (N, T, V+1) logits — stubbed with logits derived from
    the known crop contents."""
    from doctr_spark.functions.vocabs import FONT, encode_string
    from doctr_spark.operators.recognition import indices_to_logits
    from doctr_spark.plans.models import clear_model_cache, onnx_recognizer
    from doctr_spark.sources.font import read_word_crop, render_page
    from doctr_spark.operators.geometry import extract_crops
    from doctr_spark.operators.detection import ink_word_boxes

    words = ["ALPHA", "BRAVO"]
    img, _ = render_page(words, scale=3)
    boxes = ink_word_boxes(img, 3)
    crops = extract_crops(img, boxes[:, :4])

    created = []

    def run(feeds):
        x = feeds["input"]  # (N,1,h,w)
        logits = []
        for i in range(x.shape[0]):
            crop = (x[i, 0] * 255.0).astype(np.uint8)
            raw = read_word_crop(crop, 3)
            logits.append(indices_to_logits(encode_string(raw, FONT)))
        t = max(l.shape[0] for l in logits)
        v = logits[0].shape[1]
        out = np.full((len(logits), t, v), -1e9, dtype=np.float64)
        for i, l in enumerate(logits):
            out[i, : l.shape[0]] = l
            out[i, l.shape[0] :, v - 1] = 1e9  # pad with confident blanks
        return [out]

    monkeypatch.setitem(sys.modules, "onnxruntime", _fake_onnxruntime(run, created))
    clear_model_cache()
    key, loader = onnx_recognizer("/weights/fake-crnn.onnx")
    rec = loader()
    preds = rec(list(crops), 3)
    assert [p[0] for p in preds] == sorted(words, key=lambda w: words.index(w))
    assert len(created) == 1
    clear_model_cache()


def test_onnx_loader_missing_file_fails_loudly():
    """Without onnxruntime the factories fall back to the bundled numpy
    executor (plans/onnx_exec.py) — a bad path still fails at load time,
    never silently. Full committed-model coverage lives in
    tests/test_onnx_zoo.py."""
    from doctr_spark.plans.models import clear_model_cache, onnx_detector

    clear_model_cache()
    _, loader = onnx_detector("/weights/does-not-exist.onnx")
    with pytest.raises(Exception, match="does-not-exist|No such file|Model"):
        loader()

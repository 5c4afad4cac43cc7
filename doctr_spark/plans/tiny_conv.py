"""tiny-conv-v1: a real (non-stand-in) model pair executed through the
pluggable model seam (plans/models.py), with weights committed as data.

Answers the reference's custom-model contract (detection/zoo.py:59-71,
recognition/zoo.py:41-52: *any* model instance drops into the predictors)
with an actual weights-file lifecycle that runs in this sandbox — no
onnxruntime/torch required, the forwards are plain numpy:

- detector ``tiny-conv-det-v1``: a 2-layer convolutional net.
  Layer 1 is a 1x1 conv + sigmoid (ink activation); layer 2 convolves a
  (8s+1, 6s+1) fusion kernel (one real conv, not a morphology shortcut;
  planned once at load, like every npz forward's conv: planned_conv_same)
  and squashes through a gained sigmoid into the text-probability map.
  The map then goes through the SAME DB-style postprocessor every
  detector family uses (binarize -> 3x3 open -> components -> score ->
  unclip), mirroring how a real DBNet head would plug in (reference
  differentiable_binarization/base.py:41-152).
- recognizer ``tiny-crnn-v1``: matched-filter CRNN — one conv filter per
  vocab glyph (weights +1 on template ink, -1 off), per-channel bias
  -(n_ink - 0.5) so a filter fires above the blank channel iff its
  receptive field equals the glyph exactly, max-pool over the vertical
  axis, temperature-scaled logits over (T, V+1), then the shared CTC
  best-path decoder (operators/recognition.py) — the CRNN composition
  (conv features -> per-timestep logits -> CTC) with the recurrent stack
  folded into the matched filters, which is exactly what a converged
  conv stack learns on a deterministic raster font.

The weights live in ``doctr_spark/models_data/tiny_conv_v1.npz``
(regenerated with every other committed model file by
``scripts/make_tiny_weights.py``) and load ONCE per Python worker through
``resolve_model`` — the same per-executor-core lifecycle a torch/ONNX
checkpoint gets (SURVEY.md §4.4).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from ..sources.font import ink_bounds, ink_mask
from .models import ModelLoader, models_data, npz_detector, npz_recognizer, sigmoid
from .onnx_exec import _conv2d, _plan_conv

WEIGHTS_PATH = models_data("tiny_conv_v1.npz")

DET_KEY = "tiny-conv-det-v1"
REC_KEY = "tiny-crnn-v1"


def make_tiny_weights() -> dict[str, np.ndarray]:
    """Construct the tiny-conv-v1 weight tensors (what a training run would
    converge to on the deterministic raster font — matched filters are the
    optimal template detectors, so we write the optimum directly instead of
    shipping an SGD trajectory; the FORWARD code treats these as opaque
    learned tensors)."""
    from ..functions.vocabs import FONT
    from ..sources.font import glyph_bitmap

    s = 3  # render scale the detector kernel is sized for (DEFAULT_SCALE)
    det_k2 = np.ones((8 * s + 1, 6 * s + 1), dtype=np.float32)
    rec_w = np.stack(
        [(2.0 * glyph_bitmap(ch).astype(np.float32) - 1.0) for ch in FONT]
    )  # (V, 7, 5): +1 on glyph ink, -1 off
    rec_b = -(rec_w.reshape(len(FONT), -1).clip(0).sum(axis=1) - 0.5)  # -(n_ink - .5)
    return {
        "scale": np.int64(s),
        "det_w1": np.float32(-1.0),
        "det_b1": np.float32(128.5),
        "det_k2": det_k2,
        "det_gain": np.float32(20.0),
        "det_b2": np.float32(-0.5),
        "rec_w": rec_w,
        "rec_b": rec_b.astype(np.float32),
        "rec_temp": np.float32(10.0),
        "vocab": np.array(FONT),
    }


def planned_conv_same(kernel: np.ndarray) -> Callable[[np.ndarray], np.ndarray]:
    """'same' 2D convolution by a fixed kernel (zero padded, centered at
    (kh // 2, kw // 2)), planned once: the returned map -> map function runs
    the ONNX executor's row-factored conv (``onnx_exec._plan_conv``) over
    the flipped kernel, so an asymmetric kernel keeps true-convolution
    semantics."""
    k = np.asarray(kernel, dtype=np.float64)[::-1, ::-1]
    kh, kw = k.shape
    plans = _plan_conv(k[None, None], 1)
    attrs = {"pads": [kh - 1 - kh // 2, kw - 1 - kw // 2, kh // 2, kw // 2]}

    def conv(x: np.ndarray) -> np.ndarray:
        return _conv2d(x[None, None], plans, None, attrs)[0, 0]

    return conv


def pool2(x: np.ndarray, f: int | tuple[int, int]) -> np.ndarray:
    """(fr x fc) stride-(fr, fc) mean pool with zero padding to a multiple
    of the factor. An int pools isotropically; a tuple pools rows and
    columns at different strides (the anisotropic pooling text detectors
    use so column precision survives into the deeper stages)."""
    fr, fc = (f, f) if isinstance(f, int) else f
    H, W = x.shape
    Hp, Wp = -(-H // fr) * fr, -(-W // fc) * fc
    return (
        np.pad(x, ((0, Hp - H), (0, Wp - W)))
        .reshape(Hp // fr, fr, Wp // fc, fc)
        .mean(axis=(1, 3))
    )


def upsample(x: np.ndarray, f: int | tuple[int, int], H: int, W: int) -> np.ndarray:
    """Nearest-neighbor upsample by (fr, fc), cropped to (H, W) — the FPN's
    interpolate-to-common-resolution step."""
    fr, fc = (f, f) if isinstance(f, int) else f
    return np.repeat(np.repeat(x, fr, axis=0), fc, axis=1)[:H, :W]


def crop_cells(crop: np.ndarray, scale: int) -> np.ndarray | None:
    """Trim a word crop to its ink bounds and stride-``scale`` subsample to
    CELL space (the model's fixed input resolution — the analog of a CRNN's
    resize-to-32px preprocessing). None when the crop holds no ink."""
    if crop.size == 0:
        return None
    ink = ink_mask(crop)
    bounds = ink_bounds(ink)
    if bounds is None:
        return None
    y0, y1, x0, x1 = bounds
    return np.ascontiguousarray(ink[y0:y1:scale, x0:x1:scale]).astype(np.float64)


def glyph_evidence(cells: np.ndarray, filters: np.ndarray, bias: np.ndarray) -> np.ndarray:
    """Gated matched-filter conv stage shared by the committed-weights
    recognizers: returns per-column glyph evidence E of shape (T, V) with
    ``E[c, v] > 0`` iff the (kh, kw) window starting at padded column c
    holds EXACTLY glyph v (score peaks at +0.5; any mismatch drops it to
    <= -0.5; gated-invalid windows sit near -1e3).

    The two validity gates kill real sub-glyph ambiguities (see the inline
    comments); the vertical max-pool makes the evidence row-offset
    invariant. This is the conv backbone every tiny-* recognizer variant
    shares — the family-defining sequence modeling and decode layers differ
    per variant (plans/tiny_reco_zoo.py)."""
    kh, kw = filters.shape[1:]
    g = np.pad(cells, ((kh - 1, kh - 1), (kw - 1, kw - 1)))
    win = np.lib.stride_tricks.sliding_window_view(g, (kh, kw))  # (ny,nx,kh,kw)
    scores = np.einsum("yxhw,vhw->yxv", win, filters)  # conv, all glyph channels
    # local-evidence gate: a window may fire only when it holds ALL
    # the ink of its 5-column span — otherwise a vertically/
    # horizontally truncated slice of a big glyph is pixel-identical
    # to a small one (the bottom two pixels of an 'A' stem ARE an
    # apostrophe) and the matched filter would hallucinate it
    win_count = win.sum(axis=(2, 3))  # (ny, nx)
    colsum = g.sum(axis=0)
    span = np.lib.stride_tricks.sliding_window_view(colsum, kw).sum(axis=-1)
    # ...and the columns flanking the window must be blank (glyph
    # separation): '<' is pixel-identical to a 'K' minus its left
    # stem, so without the flank check the filter for '<' fires one
    # column into every 'K'
    edge = np.concatenate(([0.0], colsum, [0.0]))
    flank_blank = (edge[: len(span)] == 0) & (edge[kw + 1 :] == 0)
    valid = (win_count == span[None, :]) & flank_blank[None, :]
    scores = np.where(valid[:, :, None], scores, -1e3)
    col_scores = scores.max(axis=0)  # vertical max-pool -> (T, V)
    return col_scores + bias


def tiny_conv_detector(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the tiny conv detection net; drop-in for the
    ``detector=`` seam of ``extract_turns``."""

    def forward(w: dict[str, np.ndarray]):
        w1, b1 = float(w["det_w1"]), float(w["det_b1"])
        conv = planned_conv_same(w["det_k2"])
        gain, b2 = float(w["det_gain"]), float(w["det_b2"])

        def proba_map(gray: np.ndarray) -> np.ndarray:
            a1 = sigmoid(w1 * gray.astype(np.float64) + b1)  # ink activation
            return sigmoid(gain * (conv(a1) + b2))  # fused text map

        return proba_map

    return npz_detector(DET_KEY, WEIGHTS_PATH, weights_path, forward)


def tiny_conv_recognizer(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the matched-filter conv recognizer; drop-in for
    the ``recognizer=`` seam of ``extract_turns``."""

    def forward(w: dict[str, np.ndarray]):
        from ..functions.vocabs import FONT
        from ..operators.recognition import ctc_best_path

        vocab = str(w["vocab"])
        if vocab != FONT:
            raise ValueError(f"{REC_KEY} weights vocab does not match FONT")
        filters = w["rec_w"].astype(np.float64)  # (V, 7, 5)
        bias = w["rec_b"].astype(np.float64)  # (V,)
        temp = float(w["rec_temp"])

        def decode(cells: np.ndarray) -> tuple[str, float]:
            evidence = glyph_evidence(cells, filters, bias)  # (T, V)
            logits = np.concatenate(
                [temp * evidence, np.zeros((evidence.shape[0], 1))], axis=1
            )  # blank channel logit 0
            return ctc_best_path(logits, vocab)[0]

        return decode

    return npz_recognizer(REC_KEY, WEIGHTS_PATH, weights_path, forward)

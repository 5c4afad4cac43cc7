"""tiny-crnn-bilstm-v1: the reference's DEFAULT recognizer structure —
conv backbone -> bidirectional LSTM -> linear head -> CTC — as a real
numpy forward over committed weights, executed through the pluggable
model seam.

Closes the last §2.6 structural gap (reference
recognition/crnn/pytorch.py:98-227: VGG/MobileNet conv features are
reshaped (B, C, H, W) -> (B, W, C*H) and fed through a 2-layer BiLSTM
whose per-timestep outputs go through one linear layer into CTC). The
tiny equivalent keeps every stage real and makes BOTH recurrence
directions provably load-bearing:

- **conv backbone**: the shared matched-filter stem (plans/tiny_conv.py
  filters/bias) run WITHOUT its flank-blank gate — the conv emits per-
  column glyph evidence that is genuinely ambiguous ('<' fires one
  column into every 'K', '.' fires at the trailing bar of 'L', … — 121
  such spurious firings across the glyph-pair space). Resolving them
  needs cross-column CONTEXT, which in a real CRNN is exactly the
  BiLSTM's job.
- **BiLSTM**: standard LSTM gate arithmetic (i/f/o = sigmoid, g = tanh,
  c = f*c + i*g, h = o*tanh(c)) over committed (Wx, Wh, b) tensors,
  run forward and backward over the feature columns. The forward
  direction's hidden state carries the column evidence plus a one-step
  delay line exposing "was the previous column inked" (= the LEFT flank
  of the current conv window); the backward direction carries a
  kw-stage delay chain exposing "is the column kw ahead inked" (= the
  RIGHT flank). A spurious sub-glyph firing always has an inked flank;
  a true glyph firing never does (glyph separation >= CHAR_GAP_CELLS).
- **linear head**: logits_t = [h_fwd_t, h_bwd_t] @ W_head — glyph class
  v reads its evidence unit positively and BOTH flank units at a strong
  negative weight, the blank class is the zero row (CRNN layout,
  blank = len(vocab)).
- **CTC**: the shared ctc_best_path (operators/recognition.py).

The decoded text is bit-identical to the default recognizer on every
rendered page: the head's flank penalties reconstruct exactly the
flank-blank gate the default stem applies (tests assert equality over
the full-vocab word sweep and end-to-end through extract_turns).
Ablations prove the structure is load-bearing, not decorative:
zeroing the recurrent weights (Wh = 0) kills both delay lines and the
decode hallucinates '<' inside every 'K'; dropping the backward
direction admits firings with an inked right flank (crafted ink
pattern, since the font's left-anchored glyphs only exhibit left-flank
ambiguities on rendered text).

Weights live in ``doctr_spark/models_data/tiny_crnn_v1.npz``
(regenerated with every other committed model file by
``scripts/make_tiny_weights.py``) and load ONCE per Python worker through
``resolve_model`` — the same per-executor-core lifecycle a torch/ONNX
checkpoint gets (SURVEY.md §4.4).
"""

from __future__ import annotations

import numpy as np

from .models import ModelLoader, models_data, npz_recognizer, sigmoid

CRNN_WEIGHTS_PATH = models_data("tiny_crnn_v1.npz")

CRNN_KEY = "tiny-crnn-bilstm-v1"

_KW = 5  # conv window width in cells (glyph box width)


def make_tiny_crnn_weights() -> dict[str, np.ndarray]:
    """Construct the tiny-crnn-bilstm weight tensors. As with the other
    tiny zoos these are the optimum a training run converges to on the
    deterministic raster font (matched filters for the conv stage; for
    the BiLSTM, saturating delay lines are what an LSTM trained to gate
    flanked firings learns — the gates pin open/closed and the cell
    shuttles the neighbor-ink bit); the forward treats them as opaque
    learned tensors packed in the standard (i, f, g, o) LSTM layout."""
    from ..functions.vocabs import FONT
    from ..sources.font import glyph_bitmap

    v = len(FONT)
    d = v + 1  # input features per column: V conv channels + first-col ink
    hf = v + 2  # forward hidden: V evidence carriers + ink + 1-step delay
    hb = _KW + 1  # backward hidden: ink + kw-stage delay chain

    filters = np.stack([(2.0 * glyph_bitmap(ch).astype(np.float32) - 1.0) for ch in FONT])
    bias = -(filters.reshape(v, -1).clip(0).sum(axis=1) - 0.5)

    def lstm_tensors(h: int, dx: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        wx = np.zeros((4 * h, dx))
        wh = np.zeros((4 * h, h))
        b = np.zeros(4 * h)
        b[0 * h : 1 * h] = 8.0  # input gate pinned open
        b[1 * h : 2 * h] = -8.0  # forget gate pinned shut (delay, not integrate)
        b[3 * h : 4 * h] = 8.0  # output gate pinned open
        return wx, wh, b

    # forward direction: evidence carriers + ink + left-flank delay
    fwd_wx, fwd_wh, fwd_b = lstm_tensors(hf, d)
    g0 = 2 * hf  # g-block offset in the packed (i, f, g, o) layout
    for ch in range(v):
        fwd_wx[g0 + ch, ch] = 6.0  # carrier ch reads conv channel ch
    fwd_wx[g0 + v, v] = 3.0  # ink unit reads the first-column-ink feature
    fwd_wh[g0 + v + 1, v] = 3.0  # delay unit reads last step's ink unit

    # backward direction: ink + chained delays (unit k = ink kw..1 ahead)
    bwd_wx, bwd_wh, bwd_b = lstm_tensors(hb, d)
    g0b = 2 * hb
    bwd_wx[g0b + 0, v] = 3.0
    for k in range(1, hb):
        bwd_wh[g0b + k, k - 1] = 3.0

    # linear head over cat[h_fwd, h_bwd] -> (V+1) logits, blank last
    head = np.zeros((hf + hb, v + 1))
    for ch in range(v):
        head[ch, ch] = 10.0  # evidence carrier -> its class logit
        head[v + 1, ch] = -20.0  # left-flank delay unit penalty
        head[hf + _KW, ch] = -20.0  # right-flank delay unit penalty
    return {
        "vocab": np.array(FONT),
        "scale": np.int64(3),
        "filters": filters,
        "stem_bias": bias.astype(np.float32),
        "fwd_wx": fwd_wx,
        "fwd_wh": fwd_wh,
        "fwd_b": fwd_b,
        "bwd_wx": bwd_wx,
        "bwd_wh": bwd_wh,
        "bwd_b": bwd_b,
        "head": head,
    }


def crnn_conv_features(
    cells: np.ndarray, filters: np.ndarray, bias: np.ndarray
) -> np.ndarray:
    """Conv backbone WITHOUT the flank-blank gate: per-column glyph
    evidence (T, V) via the matched filters + the span-containment gate
    (both conv-local — they see only the window's own pixels), plus the
    first-column-ink feature as column V. Cross-column flank
    disambiguation is deliberately NOT done here — that is the BiLSTM's
    job (what distinguishes this variant from plans/tiny_conv.py's
    glyph_evidence, whose gate makes the conv alone sufficient)."""
    kh, kw = filters.shape[1:]
    g = np.pad(cells, ((kh - 1, kh - 1), (kw - 1, kw - 1)))
    win = np.lib.stride_tricks.sliding_window_view(g, (kh, kw))
    scores = np.einsum("yxhw,vhw->yxv", win, filters)
    # span-containment gate (window holds all ink of its column span):
    # conv-local, kills vertical-truncation ambiguities; see tiny_conv.py
    win_count = win.sum(axis=(2, 3))
    colsum = g.sum(axis=0)
    span = np.lib.stride_tricks.sliding_window_view(colsum, kw).sum(axis=-1)
    valid = win_count == span[None, :]
    scores = np.where(valid[:, :, None], scores, -1e3)
    evidence = scores.max(axis=0) + bias  # (T, V)
    first_col_ink = (colsum[: evidence.shape[0]] > 0).astype(np.float64)
    return np.concatenate([evidence, first_col_ink[:, None]], axis=1)


def lstm_forward(
    x: np.ndarray, wx: np.ndarray, wh: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Standard LSTM forward over (T, D) inputs with packed (i, f, g, o)
    weights: returns the hidden-state sequence (T, H). Real gate
    arithmetic — this is the recurrence the reference's nn.LSTM runs
    (crnn/pytorch.py:141: nn.LSTM(..., bidirectional=True))."""
    h_dim = wh.shape[1]
    h = np.zeros(h_dim)
    c = np.zeros(h_dim)
    out = np.empty((x.shape[0], h_dim))
    for t in range(x.shape[0]):
        z = wx @ x[t] + wh @ h + b
        i = sigmoid(z[0 * h_dim : 1 * h_dim])
        f = sigmoid(z[1 * h_dim : 2 * h_dim])
        g = np.tanh(z[2 * h_dim : 3 * h_dim])
        o = sigmoid(z[3 * h_dim : 4 * h_dim])
        c = f * c + i * g
        h = o * np.tanh(c)
        out[t] = h
    return out


def crnn_bilstm_logits(
    w: dict[str, np.ndarray],
    cells: np.ndarray,
    zero_recurrence: bool = False,
    forward_only: bool = False,
) -> np.ndarray:
    """Full tiny-CRNN forward: conv features -> forward LSTM + backward
    LSTM -> concat -> linear head -> (T, V+1) logits (blank last, the
    CRNN class layout). ``zero_recurrence`` (Wh = 0) and
    ``forward_only`` are the ablation hooks — tests prove the recurrence
    and the bidirectional merge are load-bearing."""
    x = crnn_conv_features(cells, w["filters"].astype(np.float64), w["stem_bias"].astype(np.float64))
    fwd_wh = np.zeros_like(w["fwd_wh"]) if zero_recurrence else w["fwd_wh"]
    h_fwd = lstm_forward(x, w["fwd_wx"], fwd_wh, w["fwd_b"])
    hb = w["bwd_wh"].shape[1]
    if forward_only:
        h_bwd = np.zeros((x.shape[0], hb))
    else:
        bwd_wh = np.zeros_like(w["bwd_wh"]) if zero_recurrence else w["bwd_wh"]
        h_bwd = lstm_forward(x[::-1], w["bwd_wx"], bwd_wh, w["bwd_b"])[::-1]
    return np.concatenate([h_fwd, h_bwd], axis=1) @ w["head"]


def tiny_bilstm_recognizer(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the conv->BiLSTM->CTC CRNN-style recognizer;
    drop-in for the ``recognizer=`` seam of ``extract_turns``."""

    def forward(w: dict[str, np.ndarray]):
        from ..operators.recognition import ctc_best_path

        vocab = str(w["vocab"])
        return lambda cells: ctc_best_path(crnn_bilstm_logits(w, cells), vocab)[0]

    return npz_recognizer(CRNN_KEY, CRNN_WEIGHTS_PATH, weights_path, forward)

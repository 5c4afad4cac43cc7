"""tiny-reco-zoo-v1: the five non-CRNN recognizer families of the reference
(SAR / MASTER / ViTSTR / PARSeq / VIPTR) as real numpy forwards over
committed weights, executed through the pluggable model seam.

Closes the §2.6 "alternative arch" row at the architecture level the
sandbox can execute (no torch/onnxruntime): every variant shares ONE
committed conv backbone — the gated matched-filter stem
(plans/tiny_conv.py: glyph_evidence; the reference's recognizers likewise
share interchangeable backbones behind the zoo seam,
recognition/zoo.py:41-52) — and then runs its family's *defining sequence
model and decode structure* as real arithmetic over committed tensors:

- ``tiny-sar-v1`` — SAR's signature is a recurrent (LSTM) decoder whose
  state drives an additive attention glimpse over the feature map at every
  step, with the step logits read from ``cat[hidden, glimpse]`` (reference
  recognition/sar/pytorch.py:47-70 ``AttentionModule``, :150-162 decoder
  loop). Forward: a real recurrence ``h <- tanh(h @ W_state + embed(y))``
  (block-structured state: an ordinal counter subspace + an input-feeding
  context subspace), per-step attention ``softmax(beta * (h @ W_q) @ K^T)``
  over the memory tokens, glimpse = attention-weighted values, logits from
  the concatenated ``[hidden, glimpse]`` through the output head. Decode:
  min-softmax confidence over all positions (sar/pytorch.py:309-333).

- ``tiny-master-v1`` — MASTER's signature is an autoregressive transformer
  decoder over the position-encoded memory: causal self-attention across
  the already-emitted target embeddings, MULTI-HEAD cross-attention into
  the encoder memory, FFN, head, one token per step (reference
  recognition/master/pytorch.py:222-247 ``decode`` loop; positional
  encoding :78,:177-178). Forward: the AR loop emits position i from a
  query assembled from target positional encoding i, two cross-attention
  heads whose value/output projections decompose the class space (head A
  carries the first half of the classes, head B the rest incl. <eos> —
  ablating either provably kills its classes), a causal uniform
  self-attention context over target embeddings, and a ReLU FFN
  (``relu(x W1) W2`` with W1=[I|-I], W2=[I;-I] — the identity at its
  optimum, executed for real). Decode: min-conf (master/base.py:42).

- ``tiny-vitstr-v1`` — ViTSTR's signature is an encoder-ONLY ViT: patch
  tokens + position embeddings through self-attention, then the first
  ``max_length`` output tokens are sliced and fed to a linear head — no
  decoder at all (reference recognition/vitstr/pytorch.py:95-98).
  Forward: column-patch tokens (+ a register/sink token, content/ordinal/
  position blocks), full token-to-token self-attention ``softmax(beta *
  (X W_q)(X W_k)^T) (X W_v)`` with a residual write into a dedicated
  output block, readout = first L tokens -> head. Decode: per-position
  argmax to <eos>, MEAN-softmax confidence (vitstr/pytorch.py:155-180).

- ``tiny-parseq-v1`` — PARSeq's signature is decoding with learned
  POSITION QUERIES (content enters only through attention, never bound to
  the query slot) plus one cloze refinement iteration over the first
  pass's tokens with a widened mask (reference
  recognition/parseq/pytorch.py:255-299). Forward: pass 1 decodes
  autoregressively — position-query cross-attention glimpse + a causal
  window-1 self-attention context over the previously emitted token
  embeddings; pass 2 re-predicts every position in parallel under the
  cloze mask (all tokens except self, uniform masked attention) — the
  refinement pass measurably shifts the logits (tests assert it) and the
  final text is its fixed point. Decode: mean-conf (parseq/base.py:42).

- ``tiny-viptr-v1`` — VIPTR pairs a conv-free token-mixing encoder with a
  CTC head whose blank index is a PARAMETER rather than the CRNN's
  hardwired ``len(vocab)`` (reference recognition/viptr/pytorch.py:54-90:
  ``ctc_best_path(..., blank=...)``). Forward: the shared stem plays the
  local token mixer (each column token's evidence mixes a 5-token
  neighborhood); the committed head maps evidence channel v to class
  ``1 + perm(v)`` of a blank-FIRST class layout over a PERMUTED vocab
  (class 0 = blank), decoded by the parameterized-blank CTC best path
  (operators/recognition.py: ctc_best_path(blank=0)).

Weights live in ``doctr_spark/models_data/tiny_reco_zoo_v1.npz``
(regenerated with every other committed model file by
``scripts/make_tiny_weights.py``) and load ONCE per Python worker through
``resolve_model`` — the same per-executor-core lifecycle a torch/ONNX
checkpoint gets (SURVEY.md §4.4). As with
tiny-conv-v1, the committed tensors are the optimum a training run
converges to on the deterministic raster font; every forward treats them
as opaque learned tensors, and the ablation tests prove each family's
structural stage is load-bearing, not decorative.
"""

from __future__ import annotations

import numpy as np

from ..operators.recognition import ctc_best_path, eos_decode, softmax
from .models import ModelLoader, models_data, npz_recognizer
from .tiny_conv import glyph_evidence

RECO_ZOO_WEIGHTS_PATH = models_data("tiny_reco_zoo_v1.npz")

SAR_KEY = "tiny-sar-v1"
MASTER_KEY = "tiny-master-v1"
VITSTR_KEY = "tiny-vitstr-v1"
PARSEQ_KEY = "tiny-parseq-v1"
VIPTR_KEY = "tiny-viptr-v1"

_CTX_DIM = 8  # SAR input-feeding context subspace width


def make_tiny_reco_zoo_weights() -> dict[str, np.ndarray]:
    """Construct the tiny-reco-zoo weight tensors. Shared: the stem
    matched filters + bias (identical construction to tiny-conv-v1) and
    the block-selector K/V projections over the memory-token layout
    ``[content (V+1) | ordinal (L) | column-pos (L) | attn-out (V+1)]``.
    Per family: the matrices its forward multiplies through."""
    from ..functions.vocabs import FONT
    from ..sources.font import glyph_bitmap

    v = len(FONT)
    cd = v + 1  # content block: V char channels + 1 <eos> feature
    L = 24  # decode length / readout slots
    d = cd + 2 * L + cd  # memory-token feature dim
    rng = np.random.RandomState(7)

    filters = np.stack([(2.0 * glyph_bitmap(ch).astype(np.float32) - 1.0) for ch in FONT])
    bias = -(filters.reshape(v, -1).clip(0).sum(axis=1) - 0.5)

    w: dict[str, np.ndarray] = {
        "scale": np.int64(3),
        "vocab": np.array(FONT),
        "filters": filters,
        "stem_bias": bias.astype(np.float32),
        "maxlen": np.int64(L),
        "beta": np.float64(60.0),
        "temp_out": np.float64(10.0),
    }
    # shared K/V projections: keys read the ordinal block, values the content
    wk = np.zeros((d, L))
    wk[cd : cd + L, :] = np.eye(L)
    wv = np.zeros((d, cd))
    wv[:cd, :] = np.eye(cd)
    w["Wk"], w["Wv"] = wk, wv
    # sink/register token embedding: <eos> content + a flat ordinal key that
    # every query matches at strength gamma (wins iff no glyph has ordinal t)
    sink = np.zeros(d)
    sink[v] = 1.0
    sink[cd : cd + L] = 0.5
    w["sink_token"] = sink

    # --- SAR: recurrence + input feeding + [hidden | glimpse] head
    ds = L + _CTX_DIM
    w_state = np.zeros((ds, ds))
    for i in range(L - 1):  # ordinal-counter shift (saturating tanh(3x))
        w_state[i, i + 1] = 3.0
    w_state[L:, L:] = 0.5 * np.eye(_CTX_DIM)  # decaying context memory
    w["sar_Wstate"] = w_state
    sar_wq = np.zeros((ds, L))
    sar_wq[:L, :] = np.eye(L)
    w["sar_Wq"] = sar_wq
    w["sar_emb"] = 0.2 * rng.standard_normal((v + 2, _CTX_DIM))
    h0 = np.zeros(ds)
    h0[0] = 1.0
    w["sar_h0"] = h0
    # output head over cat[hidden (ds), glimpse (cd)] -> cd logits
    sar_wo = np.zeros((ds + cd, cd))
    sar_wo[ds:, :] = np.eye(cd)  # glimpse passthrough
    sar_wo[:ds, :] = 0.02 * rng.standard_normal((ds, cd))  # learned hidden mix
    w["sar_Wo"] = sar_wo

    # --- MASTER: positional target queries, 2-head class-space split, FFN
    w["master_Q"] = np.eye(L)
    mask_a = np.zeros(cd)
    mask_a[: cd // 2] = 1.0
    w["master_mask_a"] = mask_a
    w["master_mask_b"] = 1.0 - mask_a
    w["master_Wo"] = np.vstack([np.eye(cd), np.eye(cd)])  # concat-heads -> cd
    w["master_ffn_w1"] = np.hstack([np.eye(cd), -np.eye(cd)])
    w["master_ffn_w2"] = np.vstack([np.eye(cd), -np.eye(cd)])
    w["master_ctx_emb"] = 0.1 * np.tanh(rng.standard_normal((v + 2, cd)))
    w["master_wctx"] = np.float64(1.2)

    # --- ViTSTR: encoder-only self-attention; queries read the column-pos block
    vit_wq = np.zeros((d, L))
    vit_wq[cd + L : cd + 2 * L, :] = np.eye(L)
    w["vit_Wq"] = vit_wq
    # linear-head bias: <eos> costs -0.8, so it only wins when the
    # register token's glimpse supplies the +1.0 eos feature — the
    # register is load-bearing, not decorative (ablation test)
    vit_hb = np.zeros(cd)
    vit_hb[v] = -0.8
    w["vit_head_bias"] = vit_hb

    # --- PARSeq: learned position queries + context embeddings for AR/cloze
    w["parseq_Q"] = np.eye(L)
    w["parseq_ctx_emb"] = 0.1 * np.tanh(rng.standard_normal((v + 2, cd)))
    w["parseq_wctx"] = np.float64(1.5)

    # --- VIPTR: blank-first CTC head over a permuted class layout
    w["viptr_perm"] = np.arange(v)[::-1].astype(np.int64)
    w["viptr_temp"] = np.float64(10.0)
    return w


# ------------------------------------------------------------ shared pieces


def _build_memory(
    evidence: np.ndarray, L: int, sink: np.ndarray, pad_to: int = 0
) -> tuple[np.ndarray, int]:
    """Assemble the memory/token matrix M of shape (rows+1, D) from the stem
    evidence: one token per evidence column (content = its evidence row,
    ordinal one-hot for glyph-firing columns, column-position one-hot for
    the first L tokens), optional zero-content padding tokens up to
    ``pad_to`` (ViTSTR's fixed input length), and the sink/register token
    last. Returns (M, n_glyphs)."""
    t, v = evidence.shape
    cd = v + 1
    fired = evidence.max(axis=1) > 0.0
    n = int(fired.sum())
    if n >= L:
        raise ValueError(f"word has {n} glyphs >= maxlen {L}")
    ords = np.cumsum(fired) - 1
    rows = max(t, pad_to)
    m = np.zeros((rows + 1, sink.shape[0]))
    m[:t, :v] = evidence
    fc = np.flatnonzero(fired)
    m[fc, cd + ords[fc]] = 1.0
    cp = np.arange(min(rows, L))
    m[cp, cd + L + cp] = 1.0
    m[rows] = sink
    return m, n


def _to_full(rows_cd: np.ndarray, temp: float) -> np.ndarray:
    """(L, V+1) head features -> (L, V+2) logits in the reference's
    ``vocab + [<eos>, <sos>]`` class layout (<sos> never predicted)."""
    return np.concatenate(
        [temp * rows_cd, np.full((rows_cd.shape[0], 1), -1e3)], axis=1
    )


# ------------------------------------------------------- family forwards


def sar_logits(w: dict[str, np.ndarray], evidence: np.ndarray) -> np.ndarray:
    """SAR decoder: recurrent state -> additive attention glimpse ->
    cat[hidden, glimpse] -> head, one step per output position."""
    L = int(w["maxlen"])
    beta = float(w["beta"])
    m, _ = _build_memory(evidence, L, w["sink_token"])
    keys = m @ w["Wk"]  # (rows+1, L)
    vals = m @ w["Wv"]  # (rows+1, Cd)
    h = w["sar_h0"].copy()
    rows = []
    for _t in range(L):
        q = beta * (h @ w["sar_Wq"])  # (L,)
        att = softmax(q @ keys.T)
        glimpse = att @ vals  # (Cd,)
        feat = np.concatenate([h, glimpse])
        rows.append(feat @ w["sar_Wo"])
        y = int(_to_full(rows[-1][None], float(w["temp_out"]))[0].argmax())
        fed = np.zeros_like(h)
        fed[L:] = w["sar_emb"][y]
        h = np.tanh(h @ w["sar_Wstate"] + fed)
    return _to_full(np.stack(rows), float(w["temp_out"]))


def master_logits(
    w: dict[str, np.ndarray], evidence: np.ndarray, drop_head_b: bool = False
) -> np.ndarray:
    """MASTER AR transformer-decoder loop: per emitted position, a
    positional target query cross-attends into the memory through TWO
    heads that decompose the class space, a causal uniform self-attention
    context over the target embeddings perturbs the logits, and the ReLU
    FFN reconstructs the head features. ``drop_head_b`` is the ablation
    hook (tests prove head B is load-bearing)."""
    L = int(w["maxlen"])
    beta = float(w["beta"])
    temp = float(w["temp_out"])
    m, _ = _build_memory(evidence, L, w["sink_token"])
    keys = m @ w["Wk"]
    vals = m @ w["Wv"]
    wctx = float(w["master_wctx"])
    ys: list[int] = []
    out = np.empty((L, evidence.shape[1] + 2))
    for t in range(L):
        q = beta * w["master_Q"][t]
        att = softmax(q @ keys.T)
        g_a = att @ (vals * w["master_mask_a"])
        g_b = np.zeros_like(g_a) if drop_head_b else att @ (vals * w["master_mask_b"])
        attn_out = np.concatenate([g_a, g_b]) @ w["master_Wo"]
        ffn = np.maximum(attn_out @ w["master_ffn_w1"], 0.0) @ w["master_ffn_w2"]
        if ys:  # causal uniform self-attention over emitted target embeddings
            ctx = w["master_ctx_emb"][np.array(ys)].mean(axis=0)
        else:
            ctx = np.zeros_like(ffn)
        row = _to_full(ffn[None], temp)[0]
        row[: ctx.shape[0]] += wctx * ctx
        out[t] = row
        ys.append(int(row.argmax()))
    return out


def vitstr_logits(
    w: dict[str, np.ndarray], evidence: np.ndarray, drop_register: bool = False
) -> np.ndarray:
    """ViTSTR encoder-only forward: full token self-attention with a
    residual write into the output block, then slice the first L tokens
    for the head (reference vitstr/pytorch.py:95-98). ``drop_register``
    ablates the sink/register token (tests prove <eos> depends on it)."""
    L = int(w["maxlen"])
    beta = float(w["beta"])
    cd = evidence.shape[1] + 1
    m, _ = _build_memory(evidence, L, w["sink_token"], pad_to=L)
    if drop_register:
        m = m[:-1]
    q = beta * (m @ w["vit_Wq"])  # (rows, L) — but queries live per TOKEN:
    # a token's query is its column-position embedding through W_q; tokens
    # past the readout window carry a zero query (uniform attention).
    keys = m @ w["Wk"]
    vals = m @ w["Wv"]
    att = softmax(q @ keys.T, axis=-1)
    attn_out = att @ vals  # (rows, Cd)
    x2 = m.copy()
    x2[:, -cd:] += attn_out  # residual write into the dedicated out block
    readout = x2[:L, -cd:] + w["vit_head_bias"]  # linear head (weight=I, bias)
    return _to_full(readout, float(w["temp_out"]))


def parseq_logits(
    w: dict[str, np.ndarray], evidence: np.ndarray, refine: bool = True
) -> np.ndarray:
    """PARSeq decode: pass 1 = AR with position queries + causal window-1
    context attention; pass 2 = one cloze refinement iteration re-predicting
    every position under the all-but-self mask (reference
    parseq/pytorch.py:255-299). ``refine=False`` returns the pass-1 logits
    (tests assert the refinement measurably moves them)."""
    L = int(w["maxlen"])
    beta = float(w["beta"])
    temp = float(w["temp_out"])
    wctx = float(w["parseq_wctx"])
    emb = w["parseq_ctx_emb"]
    cd = evidence.shape[1] + 1
    m, _ = _build_memory(evidence, L, w["sink_token"])
    keys = m @ w["Wk"]
    vals = m @ w["Wv"]
    glimpse = softmax(beta * w["parseq_Q"] @ keys.T, axis=-1) @ vals  # (L, Cd)
    base = _to_full(glimpse, temp)
    # pass 1: AR, causal window-1 mask (uniform masked attention = the
    # softmax of the learned all-zero context scores under the mask)
    rows1 = base.copy()
    y1: list[int] = []
    for t in range(L):
        if t:
            rows1[t, :cd] += wctx * emb[y1[t - 1]]
        y1.append(int(rows1[t].argmax()))
    if not refine:
        return rows1
    # pass 2: cloze refinement — every position sees all OTHER pass-1
    # tokens (mask = ~self), again via uniform masked attention
    emb1 = emb[np.array(y1)]  # (L, Cd)
    rows2 = base.copy()
    rows2[:, :cd] += wctx * (emb1.sum(axis=0)[None, :] - emb1) / (L - 1)
    return rows2


def viptr_logits(w: dict[str, np.ndarray], evidence: np.ndarray) -> np.ndarray:
    """VIPTR CTC head: blank-FIRST class layout over the permuted vocab —
    logits column 0 is the blank, column 1+i carries evidence channel
    ``perm[i]``; decoded by ctc_best_path(..., blank=0)."""
    perm = w["viptr_perm"]
    temp = float(w["viptr_temp"])
    return np.concatenate(
        [np.zeros((evidence.shape[0], 1)), temp * evidence[:, perm]], axis=1
    )


def viptr_vocab(w: dict[str, np.ndarray]) -> str:
    """Class-index -> char table for the blank-first layout: class 0 is the
    blank (decoded never; '■' placeholder), class 1+i = FONT[perm[i]]."""
    vocab = str(w["vocab"])
    return "■" + "".join(vocab[int(p)] for p in w["viptr_perm"])


# ------------------------------------------------------------- seam loaders


def _make_zoo_recognizer(family: str, weights_path: str | None = None) -> ModelLoader:
    key = {
        "sar": SAR_KEY,
        "master": MASTER_KEY,
        "vitstr": VITSTR_KEY,
        "parseq": PARSEQ_KEY,
        "viptr": VIPTR_KEY,
    }[family]

    def forward(w: dict[str, np.ndarray]):
        vocab = str(w["vocab"])
        filters = w["filters"].astype(np.float64)
        bias = w["stem_bias"].astype(np.float64)

        def decode(cells: np.ndarray) -> tuple[str, float]:
            evidence = glyph_evidence(cells, filters, bias)
            if family == "sar":
                return eos_decode(sar_logits(w, evidence), vocab, conf="min")[0]
            if family == "master":
                return eos_decode(master_logits(w, evidence), vocab, conf="min")[0]
            if family == "vitstr":
                return eos_decode(vitstr_logits(w, evidence), vocab, conf="mean")[0]
            if family == "parseq":
                return eos_decode(parseq_logits(w, evidence), vocab, conf="mean")[0]
            return ctc_best_path(viptr_logits(w, evidence), viptr_vocab(w), blank=0)[0]

        return decode

    return npz_recognizer(key, RECO_ZOO_WEIGHTS_PATH, weights_path, forward)


def tiny_sar_recognizer(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the recurrent-attention SAR-style recognizer;
    drop-in for the ``recognizer=`` seam of ``extract_turns``."""
    return _make_zoo_recognizer("sar", weights_path)


def tiny_master_recognizer(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the AR-transformer-decoder MASTER-style
    recognizer."""
    return _make_zoo_recognizer("master", weights_path)


def tiny_vitstr_recognizer(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the encoder-only ViTSTR-style recognizer."""
    return _make_zoo_recognizer("vitstr", weights_path)


def tiny_parseq_recognizer(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the position-query + cloze-refinement PARSeq-style
    recognizer."""
    return _make_zoo_recognizer("parseq", weights_path)


def tiny_viptr_recognizer(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the blank-first-CTC VIPTR-style recognizer."""
    return _make_zoo_recognizer("viptr", weights_path)


ALL_RECO_VARIANTS: tuple[tuple[str, object], ...] = (
    ("sar", tiny_sar_recognizer),
    ("master", tiny_master_recognizer),
    ("vitstr", tiny_vitstr_recognizer),
    ("parseq", tiny_parseq_recognizer),
    ("viptr", tiny_viptr_recognizer),
)

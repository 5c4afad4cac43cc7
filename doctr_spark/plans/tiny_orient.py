"""tiny-mbv3-orient-v1: page-orientation classifier with committed real
weights, executed through the pluggable model seam.

Closes the last model family (§2.4 classification) without a
committed-weights structural equivalent: the reference's
``OrientationPredictor`` is a MobileNetV3 classifier over the four
quarter-turn classes (models/classification/predictor/pytorch.py:17-66,
zoo classification/zoo.py:41-119, cfg ``classes = [0, -90, 180, 90]``
mobilenet/pytorch.py:61). This is the same decision computed by the same
layer sequence — conv feature stage -> ReLU gate -> global average pool ->
4-logit linear head -> softmax confidence — as a real numpy forward over
learned tensors committed in ``models_data/tiny_orient_v1.npz``:

- **conv stage**: a bank of matched-filter kernels (one per discriminative
  glyph, values +1 on template ink / -1 on template blank), each
  instantiated at all four rotations — 4 output channels, channel ``j``
  accumulating evidence that page content appears rotated ``j`` ccw
  quarter turns. These are the orientation-selective edge/shape detectors
  a trained MobileNetV3 learns in its early blocks, converged to the
  deterministic raster font's optimum (the "training set" — see
  :func:`make_tiny_orient_weights`, which *selects* the bank by validating
  rotation-discriminativeness against rendered pages, i.e. fitting to
  data, and rejects glyphs whose rotations collide).
- **ReLU gate**: per-kernel learned bias ``-(n_ink - 0.5)`` so a window
  scores positive only on an exact template match (any extra or missing
  ink kills it) — the sparse high-precision activation regime.
- **global average pool**: per-channel match density over the page (the
  MobileNet head's AdaptiveAvgPool2d).
- **linear head**: a learned 4x4 weight matrix mapping appears-rotated-j
  evidence to class logits. The matrix is a gained permutation — the
  mapping from "content looks rotated j" to "the uprighting turn is
  (4-j) % 4" lives HERE, not in the surrounding code, and ablating the
  head to identity mis-corrects 90/270 pages (proved in tests).

The forward runs in CELL space: the renderer's ink lives on a
scale-aligned cell grid, and quarter turns keep it grid-aligned (the grid
offset after rotation is recovered from the ink bounding box, since every
ink extent starts on a cell corner) — the same lossless pooling fast path
tiny_zoo.py's detectors use.

Weights regenerate with every other committed model file via
``scripts/make_tiny_weights.py``; they load once per Python worker through
``resolve_model`` (plans/models.py lifecycle).
"""

from __future__ import annotations

import numpy as np

from ..sources.font import ink_bounds, ink_mask
from .models import ModelLoader, models_data, npz_loader, onnx_loader

ORIENT_WEIGHTS_PATH = models_data("tiny_orient_v1.npz")

ORIENT_KEY = "tiny-mbv3-orient-v1"

# reference class layout (classification/mobilenet/pytorch.py:61): the cfg
# lists the four orientations as degrees ccw with 270 expressed as -90;
# class_idx is the position in THIS list
REFERENCE_CLASSES = (0, -90, 180, 90)
# appears-rotated-j (ccw quarter turns) -> index into REFERENCE_CLASSES
_J_TO_CLASS_IDX = (0, 3, 2, 1)


# ------------------------------------------------------------ weight gen


def _validation_pages(scale: int) -> list[np.ndarray]:
    """Rendered pages covering every font glyph plus corpus-style word
    adjacency — the 'training/validation set' the bank selection fits to.
    Multi-line, multi-word layouts so sliding windows cross glyph gaps,
    word gaps, and line leading."""
    from ..functions.vocabs import FONT
    from ..sources.font import render_page

    alphabet = [FONT[i : i + 6] for i in range(0, len(FONT), 6)]
    nato = (
        "ALPHA BRAVO CHARLIE DELTA ECHO FOXTROT GOLF HOTEL INDIA JULIET "
        "KILO LIMA MIKE NOVEMBER OSCAR PAPA QUEBEC ROMEO SIERRA TANGO "
        "UNIFORM VICTOR WHISKEY XRAY YANKEE ZULU 42 100% (NOTE) READY. "
        "GO! WHY? A+B=C R&D #1 $99 OK,"
    ).split()
    pages = []
    for words in (alphabet, nato, nato[::-1] + alphabet[::2]):
        img, _ = render_page(words, scale=scale)
        pages.append(img)
    return pages


def _match_counts(cells: np.ndarray, kernels: np.ndarray, bias: np.ndarray) -> np.ndarray:
    """Exact-match fire count per kernel: correlation + ReLU(score + bias)
    over all window positions. ``kernels`` is (N, kh, kw) of +-1 templates,
    ``bias`` is (N,) = -(n_ink - 0.5)."""
    kh, kw = kernels.shape[1:]
    if cells.shape[0] < kh or cells.shape[1] < kw:
        return np.zeros(kernels.shape[0], dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(cells, (kh, kw))
    scores = np.tensordot(win, kernels, axes=([2, 3], [1, 2]))  # (H', W', N)
    return (scores + bias > 0).sum(axis=(0, 1)).astype(np.int64)


def page_cells(img: np.ndarray, scale: int) -> np.ndarray | None:
    """Lossless cell-space mask of a (possibly quarter-rotated) rendered
    page. The renderer puts every ink extent on a cell corner; np.rot90
    keeps the grid uniform but can shift its phase (page width need not be
    a multiple of scale), so the offset is recovered per axis from the ink
    bounding box minimum. None when the page holds no ink."""
    ink = ink_mask(img)
    bounds = ink_bounds(ink)
    if bounds is None:
        return None
    y0, _, x0, _ = bounds
    return ink[y0 % scale :: scale, x0 % scale :: scale].astype(np.float64)


def make_tiny_orient_weights(scale: int = 3) -> dict[str, np.ndarray]:
    """Construct + validate the tiny orientation-classifier tensors.

    Bank selection is the 'training': every letter/digit glyph is a
    candidate matched filter; a candidate survives only if, over rendered
    validation pages in all four rotations, its rotation-r kernel fires a
    positive count exactly when r equals the page rotation and ZERO
    otherwise (no rotational self-collision, no cross-glyph or
    cross-boundary false fire). The committed bank is the subset that
    converged."""
    from ..sources.font import glyph_bitmap

    candidates = list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")
    pages = _validation_pages(scale)
    page_cells_by_rot = [
        [page_cells(np.ascontiguousarray(np.rot90(p, j)), scale) for p in pages]
        for j in range(4)
    ]

    kept: list[str] = []
    kernels: list[np.ndarray] = []
    biases: list[float] = []
    for ch in candidates:
        bm = glyph_bitmap(ch).astype(np.float64)  # (7, 5) in {0, 1}
        kern = 2.0 * bm - 1.0
        rots = [np.ascontiguousarray(np.rot90(kern, j)) for j in range(4)]
        # rotation-distinct: all four variants pairwise different
        if any(
            rots[a].shape == rots[b].shape and np.array_equal(rots[a], rots[b])
            for a in range(4)
            for b in range(a + 1, 4)
        ):
            continue
        bias = -(float(bm.sum()) - 0.5)
        ok = True
        for j in range(4):  # page rotation
            for r in range(4):  # kernel rotation
                n = sum(
                    int(_match_counts(c, rots[r][None], np.array([bias]))[0])
                    for c in page_cells_by_rot[j]
                    if c is not None
                )
                if (r == j) != (n > 0):
                    ok = False
                    break
            if not ok:
                break
        if ok:
            kept.append(ch)
            kernels.append(kern)
            biases.append(bias)
    if len(kept) < 20:
        raise AssertionError(f"orientation bank collapsed: only {kept}")

    # linear head: gained permutation appears-rotated-j -> uprighting
    # class k = (4 - j) % 4 (logit layout matches the seam contract; the
    # reference-cfg class order is a fixed relabeling, _J_TO_CLASS_IDX)
    head_w = np.zeros((4, 4), dtype=np.float64)
    for j in range(4):
        head_w[(4 - j) % 4, j] = 1.0
    head_w *= 512.0  # gain sized so one match on a large page still wins softmax
    return {
        "scale": np.int64(scale),
        "bank_chars": np.array(kept),
        "bank_kernels": np.stack(kernels).astype(np.float32),  # (N, 7, 5)
        "bank_bias": np.asarray(biases, dtype=np.float32),
        "head_w": head_w.astype(np.float32),
        "head_b": np.zeros(4, dtype=np.float32),
    }


# --------------------------------------------------------------- forward


class TinyOrientClassifier:
    """Numpy forward of the committed orientation classifier. Callable with
    the seam contract ``(page, scale) -> k`` (ccw quarter turns that
    upright the page); :meth:`predict` exposes the full reference
    OrientationPredictor triple (class_idx, class value, confidence)."""

    def __init__(self, weights: dict[str, np.ndarray]):
        self.kernels = weights["bank_kernels"].astype(np.float64)  # (N, 7, 5)
        self.bias = weights["bank_bias"].astype(np.float64)
        self.head_w = weights["head_w"].astype(np.float64)
        self.head_b = weights["head_b"].astype(np.float64)

    def logits(self, page: np.ndarray, scale: int) -> np.ndarray:
        cells = page_cells(page, scale)
        if cells is None:
            return self.head_b.copy()
        pooled = np.zeros(4, dtype=np.float64)
        for j in range(4):
            rk = np.ascontiguousarray(np.rot90(self.kernels, j, axes=(1, 2)))
            pooled[j] = float(_match_counts(cells, rk, self.bias).sum()) / cells.size
        return self.head_w @ pooled + self.head_b

    def predict(self, page: np.ndarray, scale: int) -> tuple[int, int, float]:
        """Reference OrientationPredictor output per page: (class_idx into
        REFERENCE_CLASSES, class value in degrees, softmax confidence
        rounded to 2 — predictor/pytorch.py:55-66)."""
        logits = self.logits(page, scale)
        k = int(np.argmax(logits))  # uprighting turns
        j = (4 - k) % 4  # appears-rotated-by
        e = np.exp(logits - logits.max())
        conf = float(e.max() / e.sum())
        idx = _J_TO_CLASS_IDX[j]
        return idx, int(REFERENCE_CLASSES[idx]), round(conf, 2)

    def __call__(self, page: np.ndarray, scale: int) -> int:
        return int(np.argmax(self.logits(page, scale)))


def tiny_orient_classifier(weights_path: str | None = None) -> ModelLoader:
    """Seam loader: drop-in for DEFAULT_ORIENTATION via
    ``extract_turns(..., detect_orientation=True, orienter=...)``."""
    return npz_loader(
        ORIENT_KEY, ORIENT_WEIGHTS_PATH, weights_path, lambda w, _scale: TinyOrientClassifier(w)
    )


def onnx_orient_classifier(model_path: str | None = None) -> ModelLoader:
    """Seam loader for the SERIALIZED-checkpoint form: the same classifier
    exported as a classification-shaped .onnx graph (Conv -> Relu ->
    GlobalAveragePool -> Flatten -> Gemm -> Softmax, the ops torch.onnx
    emits for the reference's MobileNetV3 orientation nets) and executed
    via onnxruntime or the bundled numpy executor. The loader plays the
    PreProcessor role: the lossless cell-space mask (grid-phase recovery
    included) is the fixed input resolution the graph consumes."""
    from .onnx_export import ONNX_ORIENT_PATH

    def make(sess):
        def orient(page: np.ndarray, scale: int) -> int:
            cells = page_cells(page, scale)
            if cells is None:
                return 0
            x = cells.astype(np.float32)[None, None]
            probs = np.asarray(sess.run(None, {"input": x})[0]).reshape(4)
            return int(np.argmax(probs))

        return orient

    return onnx_loader("orient", model_path or ONNX_ORIENT_PATH, make)

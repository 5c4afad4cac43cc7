"""tiny-dbnet-v1: the reference's FLAGSHIP detector structure — backbone
-> 4-level FPN (lateral convs, upsample-to-common-res, merge) -> prob
head -> DB postprocess — as a real numpy forward over committed weights,
executed through the pluggable model seam.

Closes the last §2.3 structural gap (reference
models/detection/differentiable_binarization/pytorch.py:48-93
``FeaturePyramidNetwork``: the resnet backbone's four stage outputs get
1x1 lateral convs, are upsampled to the finest resolution, concatenated,
and convolved into the probability head; at INFERENCE only the prob map
is binarized — the threshold head is a train-time target, base.py:41-152
binarizes ``prob_map > bin_thresh``). The tiny equivalent keeps every
stage real and gives each pyramid level a distinct, ablatable role:

- **backbone**: pixel-space ink stem (1x1 conv + sigmoid), then three
  pooled stages — cell space (factor s, lossless: rendered ink lives on
  the s-aligned cell grid), 2-cell blocks (factor 2s), 4-cell blocks
  (factor 4s) — the 4-scale feature hierarchy a resnet produces.
- **laterals** (committed kernels, one per level), wired TOP-DOWN the
  way an FPN is (coarse levels are computed first, upsampled, and merged
  into the finer lateral's input):
  level 3 (4-cell)      — 3x3 coarse ink-presence: the objectness prior
                          that GATES the merge (the FPN's top level).
                          Ablate -> the gate never opens, zero boxes on
                          any page;
  level 2 (2-cell rows) — anchored vertical kernel ones((3,1)) over
                          ROW-pooled features (anisotropic stride — the
                          text-detector trick that keeps column
                          precision): the vertical box expansion
                          (6-11 px, row-block-quantized), rooted at each
                          ink block so single-block glyphs ('.') stay
                          face-connected to their halo. Ablate -> box
                          geometry shrinks to the ink rows AND glyph
                          pairs whose inks share no cell row (',' next
                          to '-') fragment into separate boxes;
  level 1 (cell)        — centerless horizontal kernel ones((1,7)) over
                          the band-merged map (the top-down pathway):
                          the glyph-BRIDGING halo (±3 cells), which via
                          the merged band rows also bridges glyphs with
                          disjoint ink rows. Ablate -> adjacent glyphs
                          stop bridging, words fragment into per-glyph
                          boxes, extracted text breaks;
  level 0 (pixel)       — identity ink lateral: the sub-cell detail the
                          pooled levels wash out. A 1-px ink fleck
                          raises the proba map ONLY through this level
                          (ablate -> the fleck's probability drops to
                          0); on the cell-aligned rendering the coarser
                          levels saturate over real glyphs, exactly as
                          in a real FPN where the finest level carries
                          edge detail, not objectness.
- **merge**: upsample all levels to pixel resolution and combine with
  committed weights — a soft union of levels 0-2 ANDed with level 3 —
  then the gained-sigmoid prob head; binarize at the shared
  INK_MODEL_POSTPROC thresholds and run the SAME DB postprocessor every
  detector family uses (binarize -> open -> components -> score ->
  unclip), reference differentiable_binarization/base.py:41-152.

The resulting mask differs from the default ink-fuse mask in SHAPE
(cross-shaped halos + block-quantized bands instead of a solid
dilation rectangle) but is proven to produce the SAME extracted text:
components bridge within words and stay separated across words/lines
(the block-quantized reaches stay inside the layout's safety bands —
horizontal reach <= 9 px vs the 21 px word gap, vertical <= 11 px vs
the 27 px line gap), and crops are sliced from the original page then
ink-trimmed, so box-shape slack never reaches the recognizer. Tests
assert per-turn text equality through extract_turns plus the three
box-visible level ablations.

Weights live in ``doctr_spark/models_data/tiny_dbnet_v1.npz``
(regenerated with every other committed model file by
``scripts/make_tiny_weights.py``); they load once per Python worker
through ``resolve_model``.

CONTRACT: the committed weights are sized for cell-ALIGNED pages at render
scale 3 (the forward raises on any other scale). The word-gap safety
analysis (bridge reach 9 px < half the 21 px word gap) assumes ink on the
cell grid; sub-cell-shifted input (float-rotated scans) blurs the pooled
stages and adjacent words can merge — the default ink-fuse detector with
its exact full-resolution fallback is the route for such pages, exactly
like a real fixed-resolution checkpoint expects its training alignment.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

import numpy as np

from .models import ModelLoader, models_data, npz_detector, sigmoid
from .tiny_conv import planned_conv_same, pool2, upsample

DBNET_WEIGHTS_PATH = models_data("tiny_dbnet_v1.npz")

DBNET_KEY = "tiny-dbnet-fpn-v1"


def make_tiny_dbnet_weights() -> dict[str, np.ndarray]:
    """Construct the tiny-dbnet weight tensors (the optimum a training
    run converges to on the deterministic raster font; the forward
    treats them as opaque learned tensors)."""
    k_bridge = np.ones((1, 7), dtype=np.float64)
    k_bridge[0, 3] = 0.0  # centerless: the bridge halo, not self-coverage
    # anchored: the ink block's own extent plus one block above/below.
    # The center tap matters — a glyph whose ink lives in a single block
    # (the '.' dot) otherwise gets a band below it that is face-DISCONNECTED
    # from the mask (the ink block's non-ink rows stay dark), splitting one
    # word into extra components.
    k_band = np.ones((3, 1), dtype=np.float64)
    return {
        "scale": np.int64(3),
        "stem_w1": np.float32(-1.0),
        "stem_b1": np.float32(128.5),
        "k_bridge": k_bridge,
        "k_band": k_band,
        "k_gate": np.ones((3, 3), dtype=np.float64),
        "lat_gain": np.float32(30.0),
        "bridge_t": np.float32(0.5),
        "band_t": np.float32(0.125),
        "gate_t": np.float32(0.03),
        "merge_w": np.array([1.0, 1.0, 1.0], dtype=np.float64),  # l0, l1, l2
        "merge_t": np.float32(0.5),
        "merge_gain": np.float32(30.0),
        "head_gain": np.float32(20.0),
    }


def dbnet_laterals(w: dict[str, np.ndarray]) -> dict[str, Callable]:
    """The three lateral convs, planned once from the weights."""
    return {k: planned_conv_same(w[k]) for k in ("k_gate", "k_band", "k_bridge")}


def dbnet_proba_map(
    w: dict[str, np.ndarray],
    page: np.ndarray,
    scale: int,
    drop_level: int | None = None,
    laterals: dict[str, Callable] | None = None,
) -> np.ndarray:
    """Backbone -> FPN laterals (top-down) -> upsample -> merge -> prob
    head. ``drop_level`` zeroes one pyramid level's lateral (the ablation
    hook; tests prove levels 1/2/3 are box-visible and level 0 carries
    the sub-cell ink detail the pooled levels lose). ``laterals``: the
    convs of ``dbnet_laterals(w)``, planned here when not given."""
    s = int(w["scale"])
    if scale != s:
        raise ValueError(f"{DBNET_KEY} weights are sized for render scale {s}, got {scale}")
    gray = page if page.ndim == 2 else page.mean(axis=-1)
    H, W = gray.shape
    g = float(w["lat_gain"])
    conv = laterals or dbnet_laterals(w)

    # backbone: 4-stage feature hierarchy. Level 2 pools ROWS only (the
    # anisotropic stride text detectors use): vertical banding happens in
    # 2-cell row blocks while column precision stays at cell resolution,
    # so the band never widens a word's column footprint toward its
    # neighbor (the word-gap safety margin is 21 px; any horizontal
    # block quantization here would eat it).
    a0 = sigmoid(float(w["stem_w1"]) * gray.astype(np.float64) + float(w["stem_b1"]))
    c1 = pool2(a0, s)  # cell space (lossless on the rendered grid)
    c2 = pool2(c1, (2, 1))  # 2-cell row blocks, cell columns
    c3 = pool2(c2, (2, 4))  # 4-cell blocks (isotropic again: 4s px)

    # coarse laterals first (FPN runs top-down: the deeper levels are
    # computed, upsampled, and merged INTO the finer lateral's input)
    l3 = sigmoid(g * (conv["k_gate"](c3) - float(w["gate_t"])))
    l2 = sigmoid(g * (conv["k_band"](c2) - float(w["band_t"])))
    if drop_level == 2:
        l2 = np.zeros_like(l2)
    if drop_level == 3:
        l3 = np.zeros_like(l3)

    # top-down merge: the band-extended map feeds the bridge lateral, so
    # glyphs whose inks share NO cell row (',' next to '-') still bridge
    # at the rows the band opened up
    m1 = np.maximum(c1, upsample(l2, (2, 1), c1.shape[0], c1.shape[1]))
    l0 = a0
    l1 = sigmoid(g * (conv["k_bridge"](m1) - float(w["bridge_t"])))
    if drop_level == 0:
        l0 = np.zeros_like(l0)
    if drop_level == 1:
        l1 = np.zeros_like(l1)

    # upsample to the finest resolution and merge
    l1u = upsample(l1, s, H, W)
    l2u = upsample(l2, (2 * s, s), H, W)
    l3u = upsample(l3, (4 * s, 4 * s), H, W)
    mw = w["merge_w"]
    union = sigmoid(
        float(w["merge_gain"])
        * (mw[0] * l0 + mw[1] * l1u + mw[2] * l2u - float(w["merge_t"]))
    )
    # prob head: the fine-level union gated by the coarse objectness
    # prior (inference-time DB binarizes only this map, base.py:41-152)
    return sigmoid(float(w["head_gain"]) * (union + l3u - 1.5))


def tiny_dbnet_detector(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the backbone->FPN->prob-head DBNet-style
    detector; drop-in for the ``detector=`` seam of ``extract_turns``."""
    return npz_detector(
        DBNET_KEY,
        DBNET_WEIGHTS_PATH,
        weights_path,
        lambda w: partial(dbnet_proba_map, w, scale=int(w["scale"]), laterals=dbnet_laterals(w)),
    )

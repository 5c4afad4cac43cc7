"""tiny-zoo-v1: FAST- and LinkNet-style detector variants with committed
real weights, executed through the pluggable model seam.

Closes the two §2.3 "postproc presets only" rows at the architecture level
the sandbox can execute (no torch/onnxruntime): each variant reproduces its
family's *defining structural feature* as a real numpy forward over learned
tensors committed in ``models_data/tiny_zoo_v1.npz``:

- ``tiny-fast-det-v1`` — FAST's signature is train-time multi-branch conv
  blocks folded into ONE conv at inference (reference
  models/modules/layers/pytorch.py:141-230 ``FASTConvLayer``,
  models/detection/fast/pytorch.py:283 ``reparameterize``). The committed
  weights are the four TRAINING-time branches (k x k main, k x 1 vertical,
  1 x k horizontal, identity — each with its own BatchNorm statistics);
  the loader calls :func:`doctr_spark.operators.reparam.
  reparameterize_fast_layer` to fold them into a single fused
  (kernel, bias) and the forward runs only the fused conv — exactly the
  deploy-time lifecycle of a reparameterized FAST checkpoint. Branch
  equivalence (multi-branch sum == fused conv) is asserted numerically in
  tests; the head then squashes through a gained sigmoid into the proba
  map and the SHARED DB postprocess.

- ``tiny-linknet-det-v1`` — LinkNet's signature is the encoder-decoder
  with additive skip connections (encoder downsamples, decoder convolves
  at reduced resolution, upsamples, and ADDS the encoder feature back;
  reference models/detection/linknet/pytorch.py decoder blocks). Forward:
  stem ink activation -> s x s stride-s mean-pool encoder (the renderer's
  ink lives on an s-aligned cell grid, so pooling is lossless) ->
  cell-space fusion conv at 1/s^2 the pixel area -> nearest upsample ->
  additive stem skip -> gained sigmoid -> shared postprocess. The decoder
  conv touches ~s^2 = 9x fewer pixels than a full-resolution fusion conv —
  the encoder-decoder efficiency argument made executable (and the reason
  real detectors run their heavy convs on downsampled feature maps).

Both variants binarize to the exact ink-fuse mask on rendered pages
(proved bit-level in tests), so boxes — and extracted text — are identical
to the default family: per-turn equality 1.0 through a NON-default,
NON-DB architecture. Both use the ink-family postprocess preset
(unclip 0.2): the stand-in probability maps mark *dilated* text the way
the deterministic family does, not the shrunken DB/FAST/LinkNet training
targets the family presets (detection.py:34-36) are calibrated for.

Weights regenerate with every other committed model file via
``scripts/make_tiny_weights.py``; they load once per Python worker through
``resolve_model``.
"""

from __future__ import annotations

import numpy as np

from .models import ModelLoader, models_data, npz_detector, sigmoid
from .tiny_conv import planned_conv_same, pool2, upsample

ZOO_WEIGHTS_PATH = models_data("tiny_zoo_v1.npz")

FAST_DET_KEY = "tiny-fast-det-v1"
LINKNET_DET_KEY = "tiny-linknet-det-v1"

_BN_FIELDS = ("gamma", "beta", "mean", "var", "eps")


def make_tiny_zoo_weights() -> dict[str, np.ndarray]:
    """Construct the tiny-zoo weight tensors. As with tiny-conv-v1, these
    are the optima a training run would converge to on the deterministic
    raster font; the forwards treat them as opaque learned tensors, and the
    FAST branches carry genuinely non-trivial BatchNorm statistics so the
    reparameterization performs real folding arithmetic."""
    s = 3  # render scale both detectors are sized for (DEFAULT_SCALE)
    kh, kw = 8 * s + 1, 6 * s + 1  # fusion footprint (== ink-fuse dilation)
    w: dict[str, np.ndarray] = {
        "scale": np.int64(s),
        "stem_w1": np.float32(-1.0),
        "stem_b1": np.float32(128.5),
    }
    # --- FAST multi-branch block (1 channel in / 1 out, stride 1)
    w["fast_main_k"] = np.full((1, 1, kh, kw), 1.2, dtype=np.float64)
    w["fast_ver_k"] = np.full((1, 1, kh, 1), 0.3, dtype=np.float64)
    w["fast_hor_k"] = np.full((1, 1, 1, kw), 0.2, dtype=np.float64)
    for name, bn in (
        ("fast_main_bn", {"gamma": 1.0, "beta": -0.2, "mean": 0.3, "var": 3.0, "eps": 1.0}),
        ("fast_ver_bn", {"gamma": 2.0, "beta": 0.05, "mean": 0.1, "var": 8.0, "eps": 1.0}),
        ("fast_hor_bn", {"gamma": 1.5, "beta": -0.1, "mean": 0.05, "var": 8.0, "eps": 1.0}),
        ("fast_id_bn", {"gamma": 0.3, "beta": 0.01, "mean": 0.12, "var": 3.0, "eps": 1.0}),
    ):
        for f in _BN_FIELDS:
            w[f"{name}_{f}"] = np.array([bn[f]], dtype=np.float64)
    w["fast_gain"] = np.float32(20.0)
    # --- LinkNet encoder-decoder(+skip) head, cell-space decoder conv
    w["link_dec_k"] = np.ones((8 + 1, 6 + 1), dtype=np.float64)  # cell units
    w["link_dec_b"] = np.float32(-0.5)
    w["link_skip"] = np.float32(0.5)
    w["link_gain"] = np.float32(20.0)
    return w


def _bn_dict(w: dict[str, np.ndarray], name: str) -> dict:
    return {f: np.asarray(w[f"{name}_{f}"], dtype=np.float64) for f in _BN_FIELDS}


def fast_fused_kernel(w: dict[str, np.ndarray]) -> tuple[np.ndarray, float]:
    """Fold the four committed training-time branches into the single
    inference conv (kernel (1,1,kh,kw), scalar bias)."""
    from ..operators.reparam import reparameterize_fast_layer

    kernel, bias = reparameterize_fast_layer(
        w["fast_main_k"],
        _bn_dict(w, "fast_main_bn"),
        ver_kernel=w["fast_ver_k"],
        ver_bn=_bn_dict(w, "fast_ver_bn"),
        hor_kernel=w["fast_hor_k"],
        hor_bn=_bn_dict(w, "fast_hor_bn"),
        id_bn=_bn_dict(w, "fast_id_bn"),
    )
    return kernel, float(np.asarray(bias).reshape(-1)[0])


def tiny_fast_detector(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the reparameterized-FAST-style detector; drop-in
    for the ``detector=`` seam of ``extract_turns``."""

    def forward(w: dict[str, np.ndarray]):
        w1, b1 = float(w["stem_w1"]), float(w["stem_b1"])
        gain = float(w["fast_gain"])
        # deploy-time reparameterization: branches fold ONCE at load
        kernel, bias = fast_fused_kernel(w)
        conv = planned_conv_same(kernel[0, 0])

        def proba_map(gray: np.ndarray) -> np.ndarray:
            a1 = sigmoid(w1 * gray.astype(np.float64) + b1)  # stem ink activation
            return sigmoid(gain * (conv(a1) + bias))  # ONE fused conv

        return proba_map

    return npz_detector(FAST_DET_KEY, ZOO_WEIGHTS_PATH, weights_path, forward)


def tiny_linknet_detector(weights_path: str | None = None) -> ModelLoader:
    """(key, loader) for the encoder-decoder(+skip)-style detector; drop-in
    for the ``detector=`` seam of ``extract_turns``."""

    def forward(w: dict[str, np.ndarray]):
        s = int(w["scale"])
        w1, b1 = float(w["stem_w1"]), float(w["stem_b1"])
        dec_conv = planned_conv_same(w["link_dec_k"])
        dec_b, skip, gain = float(w["link_dec_b"]), float(w["link_skip"]), float(w["link_gain"])

        def proba_map(gray: np.ndarray) -> np.ndarray:
            a1 = sigmoid(w1 * gray.astype(np.float64) + b1)  # stem
            # encoder: s x s stride-s mean pool (zero-pad to cell multiple);
            # decoder: fusion conv on the 1/s^2-area feature map
            y = dec_conv(pool2(a1, s)) + dec_b
            # nearest upsample back to pixel space + additive stem skip
            return sigmoid(gain * (upsample(y, s, *gray.shape) + skip * a1))

        return proba_map

    return npz_detector(LINKNET_DET_KEY, ZOO_WEIGHTS_PATH, weights_path, forward)

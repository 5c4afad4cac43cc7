"""Export the tiny-conv model pair as REAL ``.onnx`` files (hand-encoded
ModelProto via plans/onnx_proto.py — no onnx package needed), so the
onnx_detector / onnx_recognizer loader factories (plans/models.py) execute
an actual serialized checkpoint end-to-end in this sandbox.

Detector graph (DBNet-style proba-map head, tiny_conv det weights folded
into two Conv+Sigmoid stages; input is the page normalized to [0,1] as the
factory feeds it, so the 1x1 stem carries the x255 un-normalization):

    input (1,1,H,W) -> Conv(1x1, w=-255, b=128.5) -> Sigmoid      # ink map
                    -> Conv(25x19 'same', w=gain*k2, b=gain*b2) -> Sigmoid

Recognizer graph (matched-filter CRNN head at PIXEL resolution — the
factory stacks raw crops, so the grid-anchoring trim is replaced by ring
gating: each glyph filter is its ±1 pixel template surrounded by a one-cell
ring of strongly negative weights, which re-expresses the flank-blank and
span-containment gates as convolution weights; exactness over the font is
sweep-proven in tests):

    input (N,1,h,w) -> Sub(1, x)                                  # ink
                    -> Conv((V+1) x 1 x (7+2)s x (5+2)s, pads=s)  # scores
                    -> ReduceMax(axis=2) -> Transpose(0,2,1)      # (N,T,V+1)

Channel V is the all-zero blank filter (logit 0), matching the CRNN class
layout ctc_best_path expects.

The committed ``.onnx`` files are regenerated from these builders, with
every other committed model file, by ``scripts/make_tiny_weights.py``.
"""

from __future__ import annotations

import numpy as np

from .models import load_npz, models_data
from .onnx_proto import encode_model, encode_node

ONNX_DET_PATH = models_data("tiny_conv_det_v1.onnx")
ONNX_RECO_PATH = models_data("tiny_conv_reco_v1.onnx")
ONNX_FPN_PATH = models_data("tiny_fpn_det_v1.onnx")
ONNX_ORIENT_PATH = models_data("tiny_mbv3_orient_v1.onnx")

# the FPN graph's fixed input canvas (real DBNet checkpoints fix theirs
# too — 1024x1024, BASELINE.md; the factory's target_hw preprocessing
# resizes+pads pages into it and remove_padding maps boxes back). Sized
# at exactly 2x the corpus page geometry (640 wide, <= 360 tall): the
# aspect-preserving nearest resize then degenerates to pixel replication,
# so every ink distance doubles exactly and the 2x-resampled fuse kernel
# reproduces the original mask topology bit-for-bit (a non-integer ratio
# perturbs glyph gaps by +-1px and can split trailing punctuation off a
# word — found empirically at ratio 1.6)
FPN_INPUT_HW = (720, 1280)

_RING_PENALTY = 1000.0  # any inked ring pixel drops the score below blank
_TEMP = 10.0  # logit temperature (folded into weights/bias)


def build_detector_onnx() -> bytes:
    """Serialize the tiny_conv detection net (committed npz weights) as a
    Conv->Sigmoid->Conv->Sigmoid ONNX graph."""
    from .tiny_conv import WEIGHTS_PATH

    w = load_npz(WEIGHTS_PATH)
    k2 = w["det_k2"].astype(np.float32)
    gain = float(w["det_gain"])
    kh, kw = k2.shape
    nodes = [
        encode_node("Conv", ["input", "stem_w", "stem_b"], ["stem"], pads=[0, 0, 0, 0]),
        encode_node("Sigmoid", ["stem"], ["ink"]),
        encode_node(
            "Conv", ["ink", "fuse_w", "fuse_b"], ["fused"],
            pads=[kh // 2, kw // 2, kh // 2, kw // 2],
        ),
        encode_node("Sigmoid", ["fused"], ["proba"]),
    ]
    inits = {
        # the factory feeds page/255; the stem's trained form is
        # sigmoid(det_w1 * gray + det_b1), so w = det_w1 * 255
        "stem_w": np.array(float(w["det_w1"]) * 255.0, np.float32).reshape(1, 1, 1, 1),
        "stem_b": np.array([float(w["det_b1"])], np.float32),
        "fuse_w": (gain * k2).reshape(1, 1, kh, kw),
        "fuse_b": np.array([gain * float(w["det_b2"])], np.float32),
    }
    return encode_model(
        "tiny-conv-det", nodes, inits,
        inputs={"input": [1, 1, "H", "W"]}, outputs={"proba": [1, 1, "H", "W"]},
    )


def build_recognizer_onnx() -> bytes:
    """Serialize the ring-gated pixel-space matched-filter recognizer as a
    Sub->Conv->ReduceMax->Transpose ONNX graph."""
    from ..functions.vocabs import FONT
    from ..sources.font import glyph_bitmap
    from .tiny_conv import WEIGHTS_PATH

    s = int(load_npz(WEIGHTS_PATH)["scale"])
    v = len(FONT)
    kh, kw = (7 + 2) * s, (5 + 2) * s
    filters = np.zeros((v + 1, 1, kh, kw), dtype=np.float32)
    bias = np.zeros(v + 1, dtype=np.float32)
    for i, ch in enumerate(FONT):
        cell = 2.0 * glyph_bitmap(ch).astype(np.float64) - 1.0
        f = np.full((kh, kw), -_RING_PENALTY)
        f[s:-s, s:-s] = np.kron(cell, np.ones((s, s)))
        filters[i, 0] = (f * _TEMP).astype(np.float32)
        n_ink = int((cell > 0).sum()) * s * s
        bias[i] = -(n_ink - 0.5) * _TEMP
    nodes = [
        encode_node("Sub", ["one", "input"], ["ink"]),
        encode_node("Conv", ["ink", "rec_w", "rec_b"], ["scores"], pads=[s, s, s, s]),
        encode_node("ReduceMax", ["scores"], ["colmax"], axes=[2], keepdims=0),
        encode_node("Transpose", ["colmax"], ["logits"], perm=[0, 2, 1]),
    ]
    inits = {
        "one": np.ones((1, 1, 1, 1), dtype=np.float32),
        "rec_w": filters,
        "rec_b": bias,
    }
    return encode_model(
        "tiny-conv-reco", nodes, inits,
        inputs={"input": ["N", 1, "H", "W"]}, outputs={"logits": ["N", "T", v + 1]},
    )


def build_fpn_detector_onnx(
    head_w: tuple[float, float] = (6.0, 4.0), topdown: bool = True
) -> bytes:
    """Serialize a DBNet-shaped FPN detector whose op set matches what
    torch.onnx emits for the reference FPN
    (models/detection/differentiable_binarization/pytorch.py:48-93:
    Conv/BatchNormalization/Relu ladders, MaxPool downsamples,
    Resize(sizes)+Add top-down merges, Concat before the head).

    Two genuinely load-bearing branches meet at the head (ablations in
    tests/test_onnx_zoo.py):

    - the full-resolution lateral: the committed ink-fuse conv + Sigmoid —
      sharp per-word evidence, but its head weight alone leaves on-pixels
      below the binarization threshold (sigmoid(6*0.98 - 7) = 0.246 < 0.3);
    - the pyramid: MaxPool/2 -> Conv3x3+Relu -> MaxPool/2 -> Conv11x9+Relu
      (quarter-res objectness) -> Resize x2 -> Add the half-res lateral
      (the FPN top-down merge) -> 1x1 Conv + Sigmoid gate -> Resize x2 —
      coarse text-presence that covers every fused-mask pixel (kernel
      reach: the quarter-res 11x9 window spans 44x36 input px, a superset
      of the 25x19 fuse dilation) but would blur words together alone.

    Concat'd and mixed by the 1x1 head (w=[6, 4], b=-7), the binarized
    map equals the lateral's exact per-word mask gated by pyramid
    presence: sigmoid(6*.98 + 4*1 - 7) = 0.95 on, <= 0.05 off.

    ``head_w`` / ``topdown`` exist for the ablation tests only — the
    committed file uses the defaults.
    """
    from .tiny_conv import WEIGHTS_PATH

    w = load_npz(WEIGHTS_PATH)
    # the committed fuse kernel resampled to the graph's 2x input scale
    # (standard practice when adapting a detection net to a different
    # input resolution); trimmed back to odd dims so 'same' pads center
    k2 = np.kron(w["det_k2"], np.ones((2, 2), np.float32))[:-1, :-1]
    gain = float(w["det_gain"])
    kh, kw = k2.shape
    H, W = FPN_INPUT_HW
    nodes = [
        # stem: 1x1 conv un-normalizes to gray, BatchNorm (eval stats)
        # carries the learned ink threshold, Sigmoid saturates to the mask
        encode_node("Conv", ["input", "stem_w", "stem_b"], ["gray"], pads=[0, 0, 0, 0]),
        encode_node(
            "BatchNormalization",
            ["gray", "bn_g", "bn_b", "bn_mean", "bn_var"],
            ["ink_logits"],
            epsilon=1e-5,
        ),
        encode_node("Sigmoid", ["ink_logits"], ["ink"]),
        # full-res lateral: the ink-fuse evidence (committed weights)
        encode_node(
            "Conv", ["ink", "fuse_w", "fuse_b"], ["fused"],
            pads=[kh // 2, kw // 2, kh // 2, kw // 2],
        ),
        encode_node("Sigmoid", ["fused"], ["lat_full"]),
        # pyramid: /2 -> conv+relu -> /2 -> conv+relu
        encode_node("MaxPool", ["ink"], ["p1"], kernel_shape=[2, 2], strides=[2, 2]),
        encode_node("Conv", ["p1", "c2_w", "c2_b"], ["c2_pre"], pads=[1, 1, 1, 1]),
        encode_node("Relu", ["c2_pre"], ["c2"]),
        encode_node("MaxPool", ["c2"], ["p2"], kernel_shape=[2, 2], strides=[2, 2]),
        encode_node("Conv", ["p2", "c3_w", "c3_b"], ["c3_pre"], pads=[7, 6, 7, 6]),
        encode_node("Relu", ["c3_pre"], ["c3"]),
    ]
    if topdown:
        nodes += [
            # top-down merge: upsample quarter-res objectness, add the
            # half-res lateral (the FPN '+' that torch exports as
            # Resize(sizes) -> Add)
            encode_node("Resize", ["c3", "", "", "sizes_half"], ["u3"],
                        mode="nearest", coordinate_transformation_mode="asymmetric",
                        nearest_mode="floor"),
            encode_node("Add", ["u3", "c2"], ["m2"]),
        ]
        gate_in = "m2"
    else:  # ablation: no top-down path — the half-res lateral alone
        gate_in = "c2"
    nodes += [
        encode_node("Conv", [gate_in, "gate_w", "gate_b"], ["gate_pre"], pads=[0, 0, 0, 0]),
        encode_node("Sigmoid", ["gate_pre"], ["gate"]),
        encode_node("Resize", ["gate", "", "", "sizes_full"], ["pyr_full"],
                    mode="nearest", coordinate_transformation_mode="asymmetric",
                    nearest_mode="floor"),
        # head: concat the two branches, 1x1 mix, binarizable proba
        encode_node("Concat", ["lat_full", "pyr_full"], ["feats"], axis=1),
        encode_node("Conv", ["feats", "head_w", "head_b"], ["head"], pads=[0, 0, 0, 0]),
        encode_node("Sigmoid", ["head"], ["proba"]),
    ]
    inits = {
        "stem_w": np.array(255.0, np.float32).reshape(1, 1, 1, 1),
        "stem_b": np.zeros(1, np.float32),
        # BN eval stats re-expressing the trained stem affine
        # det_w1 * gray + det_b1: gamma = det_w1 * sqrt(var + eps),
        # mean = -det_b1 / det_w1, beta = 0, var = 1
        "bn_g": np.array([float(w["det_w1"])], np.float32),
        "bn_b": np.zeros(1, np.float32),
        "bn_mean": np.array([-float(w["det_b1"]) / float(w["det_w1"])], np.float32),
        "bn_var": np.ones(1, np.float32),
        "fuse_w": (gain * k2).reshape(1, 1, kh, kw),
        "fuse_b": np.array([gain * float(w["det_b2"])], np.float32),
        "c2_w": np.ones((1, 1, 3, 3), np.float32),
        "c2_b": np.array([-0.2], np.float32),
        "c3_w": np.ones((1, 1, 15, 13), np.float32),
        "c3_b": np.array([-0.2], np.float32),
        "gate_w": np.array(30.0, np.float32).reshape(1, 1, 1, 1),
        "gate_b": np.array([-6.0], np.float32),
        "head_w": np.array(head_w, np.float32).reshape(1, 2, 1, 1),
        "head_b": np.array([-7.0], np.float32),
        "sizes_half": np.array([1, 1, H // 2, W // 2], np.int64),
        "sizes_full": np.array([1, 1, H, W], np.int64),
    }
    return encode_model(
        "tiny-fpn-det", nodes, inits,
        inputs={"input": [1, 1, H, W]}, outputs={"proba": [1, 1, H, W]},
    )


def build_orient_classifier_onnx() -> bytes:
    """Serialize the tiny orientation classifier (plans/tiny_orient.py,
    committed npz weights) as the graph torch.onnx emits for a
    conv-classifier like the reference's MobileNetV3 orientation nets
    (classification/mobilenet, AdaptiveAvgPool2d -> GlobalAveragePool,
    Linear -> Gemm transB=1, final Softmax):

        input (1,1,Hc,Wc) cell mask
          -> Conv(4N x 1 x 7 x 7, per-kernel bias) -> Relu    # match fires
          -> GlobalAveragePool -> Flatten                     # (1, 4N)
          -> Gemm(transB=1, W 4 x 4N, b) -> Softmax           # class probs

    The 4N kernels are the N bank templates at each of the 4 rotations,
    zero-padded into a uniform 7x7 footprint (zero weights contribute
    nothing to the matched-filter score, so the exact-match gate is
    unchanged); the Gemm weight expands the npz's learned 4x4 permutation
    head across each rotation group. argmax(probs) is the uprighting
    quarter-turn count — numerically the same decision as the numpy
    forward (equivalence tested across pages and rotations)."""
    from .tiny_orient import ORIENT_WEIGHTS_PATH

    w = load_npz(ORIENT_WEIGHTS_PATH)
    bank = w["bank_kernels"].astype(np.float32)  # (N, 7, 5) of +-1
    bias = w["bank_bias"].astype(np.float32)  # (N,)
    head_w = w["head_w"].astype(np.float32)  # (4, 4) gained permutation
    head_b = w["head_b"].astype(np.float32)
    n = bank.shape[0]
    conv_w = np.zeros((4 * n, 1, 7, 7), dtype=np.float32)
    conv_b = np.zeros(4 * n, dtype=np.float32)
    for j in range(4):
        for i in range(n):
            rot = np.rot90(bank[i], j)
            conv_w[j * n + i, 0, : rot.shape[0], : rot.shape[1]] = rot
            conv_b[j * n + i] = bias[i]
    gemm_w = np.zeros((4, 4 * n), dtype=np.float32)
    for k in range(4):
        for j in range(4):
            gemm_w[k, j * n : (j + 1) * n] = head_w[k, j]
    nodes = [
        encode_node("Conv", ["input", "conv_w", "conv_b"], ["fires_pre"], pads=[0, 0, 0, 0]),
        encode_node("Relu", ["fires_pre"], ["fires"]),
        encode_node("GlobalAveragePool", ["fires"], ["pooled"]),
        encode_node("Flatten", ["pooled"], ["feat"], axis=1),
        encode_node("Gemm", ["feat", "gemm_w", "gemm_b"], ["logits"], transB=1),
        encode_node("Softmax", ["logits"], ["probs"], axis=-1),
    ]
    inits = {
        "conv_w": conv_w,
        "conv_b": conv_b,
        "gemm_w": gemm_w,
        "gemm_b": head_b,
    }
    return encode_model(
        "tiny-mbv3-orient", nodes, inits,
        inputs={"input": [1, 1, "H", "W"]}, outputs={"probs": [1, 4]},
    )


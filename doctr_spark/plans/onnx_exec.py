"""NumpySession — a pure-numpy executor for the ONNX op set a real
exporter emits for small detection/recognition nets.

This is the sandbox fallback behind the onnx_detector / onnx_recognizer
factories (plans/models.py): when onnxruntime is installed it is used; when
it is not, the SAME committed ``.onnx`` file executes through this class —
the loader contract (parse a real serialized checkpoint, run its graph) is
exercised either way. The run() signature mirrors
onnxruntime.InferenceSession.run so the factories need no branching beyond
session construction.

Ops follow the public ONNX operator spec (opset 13 semantics) — the set
covers what torch.onnx emits for a DBNet-style FPN
(reference models/detection/differentiable_binarization/pytorch.py:48-93:
conv ladders -> Conv, inplace ReLUs -> Relu, BatchNorm2d eval stats ->
BatchNormalization, downsample -> MaxPool, F.interpolate(size=...) ->
Resize, ``+`` merges -> Add, torch.cat -> Concat):

  Conv       — 2D, group=1, dilations=1; attrs: pads [hb, wb, he, we],
               strides [sh, sw]; zero padding
  Relu       — elementwise max(0, x)
  MaxPool    — 2D; attrs: kernel_shape, strides (default = kernel),
               pads (default 0), ceil_mode=0; -inf padding
  BatchNormalization — eval mode: scale/B/mean/var inputs, attr epsilon
  Resize     — mode='nearest', coordinate_transformation_mode=
               'asymmetric', nearest_mode='floor' (the torch nearest
               export); target from the ``sizes`` int64 input or the
               ``scales`` float input
  Add        — elementwise with numpy broadcasting
  Concat     — attr: axis
  Sigmoid    — elementwise logistic

and for a classifier head (what torch.onnx emits for conv-classifier
models like the reference's MobileNetV3 orientation nets —
AdaptiveAvgPool2d -> GlobalAveragePool, Linear -> Gemm transB=1):

  GlobalAveragePool — spatial mean, keepdims
  Flatten    — attr: axis (default 1)
  Gemm       — attrs: alpha, beta, transA, transB; Y = aA'B' + bC
  Softmax    — attr: axis (default -1)

plus the elementwise set a literal MobileNetV3 block exports
(hardsigmoid/hardswish activations and their Clip/Mul/Div decomposition
on older exporter versions):

  Mul, Div   — elementwise with numpy broadcasting
  Clip       — min/max inputs (opset 11+) or attrs
  HardSigmoid — attrs alpha (default 0.2), beta (default 0.5)
  HardSwish  — x * hardsigmoid(x; 1/6, 1/2), opset 14

  Sub        — elementwise with numpy broadcasting
  ReduceMax  — attrs: axes (ints, negatives allowed), keepdims (default 1)
  Transpose  — attr: perm (ints)

Arithmetic runs in float64 internally (the deterministic tiny weights are
saturating, so float32 vs float64 never flips a decode) and returns
float32, matching the graph's declared tensor type.
"""

from __future__ import annotations

import numpy as np

from .onnx_proto import decode_model

_SUPPORTED = {
    "Conv", "Sigmoid", "Sub", "ReduceMax", "Transpose",
    "Add", "Relu", "MaxPool", "Concat", "Resize", "BatchNormalization",
    "GlobalAveragePool", "Flatten", "Gemm", "Softmax",
    "Mul", "Div", "Clip", "HardSigmoid", "HardSwish",
}
_FFT_CACHE_MAX = 8  # kernel spectra per session; FIFO eviction (see Conv)


def _next_fast_len(n: int) -> int:
    """Smallest 5-smooth number >= n (numpy's FFT is O(n^2)-ish on large
    prime lengths; page/crop dims routinely land on primes)."""
    while True:
        m = n
        for p in (2, 3, 5):
            while m % p == 0:
                m //= p
        if m == 1:
            return n
        n += 1


def _conv2d(
    x: np.ndarray, w: np.ndarray, b: np.ndarray | None, attrs: dict, fft_cache: dict
) -> np.ndarray:
    pads = attrs.get("pads", [0, 0, 0, 0])
    sh, sw = attrs.get("strides", [1, 1])
    groups = attrs.get("group", 1)
    if attrs.get("dilations", [1, 1]) != [1, 1]:
        raise NotImplementedError("NumpySession Conv supports dilation=1")
    n, c, h, wd = x.shape
    m, c2, kh, kw = w.shape
    if groups > 1:
        # grouped / depthwise conv (what a MobileNet-style export emits):
        # split input channels and output kernels into `groups` slices,
        # run each as an independent group=1 conv, concat on channel axis
        if c % groups or m % groups or c2 != c // groups:
            raise ValueError(
                f"Conv group mismatch: C={c}, M={m}, kernel C'={c2}, groups={groups}"
            )
        g_attrs = dict(attrs, group=1)
        cs, ms = c // groups, m // groups
        parts = [
            _conv2d(
                x[:, g * cs : (g + 1) * cs],
                w[g * ms : (g + 1) * ms],
                b[g * ms : (g + 1) * ms] if b is not None else None,
                # fresh cache per call: the kernel SLICES are temporaries,
                # and the spectra cache keys on id() — a recycled id from
                # a freed temp would alias a wrong spectrum
                g_attrs, {},
            )
            for g in range(groups)
        ]
        return np.concatenate(parts, axis=1)
    if c != c2:
        raise ValueError(f"Conv channel mismatch: input {c}, kernel {c2}")
    xp = np.pad(
        x.astype(np.float64), ((0, 0), (0, 0), (pads[0], pads[2]), (pads[1], pads[3]))
    )
    wk = w.astype(np.float64)
    if kh * kw * m > 256:
        # FFT cross-correlation: one forward transform per (batch, channel),
        # one inverse per output channel — O(M·HW·logHW) instead of the
        # sliding-window O(M·HW·kh·kw). float64 FFT rounding (~1e-9
        # relative) is far inside the tiny zoo's saturating-logit margins.
        # Kernel spectra are cached per FFT shape (weights are per-session
        # constants; crop batches repeat a handful of padded shapes).
        hp, wp = xp.shape[2], xp.shape[3]
        fh, fw = _next_fast_len(hp + kh - 1), _next_fast_len(wp + kw - 1)
        ck = (id(w), fh, fw)
        fk = fft_cache.get(ck)
        if fk is None:
            fk = np.fft.rfft2(wk[:, :, ::-1, ::-1], (fh, fw))  # (M, C, fh, fw')
            while len(fft_cache) >= _FFT_CACHE_MAX:
                fft_cache.pop(next(iter(fft_cache)))  # FIFO eviction
            fft_cache[ck] = fk
        fx = np.fft.rfft2(xp, (fh, fw))  # (N, C, fh, fw')
        spec = np.einsum("ncyx,mcyx->nmyx", fx, fk)  # channel contraction
        full = np.fft.irfft2(spec, (fh, fw))  # (N, M, fh, fw)
        out = full[:, :, kh - 1 : hp, kw - 1 : wp]
        out = out[:, :, ::sh, ::sw]
    else:
        win = np.lib.stride_tricks.sliding_window_view(xp, (kh, kw), axis=(2, 3))
        win = win[:, :, ::sh, ::sw]  # (N, C, H', W', kh, kw)
        out = np.einsum("nchwyx,mcyx->nmhw", win, wk)
    if b is not None:
        out = out + b.astype(np.float64)[None, :, None, None]
    return out


def _reduce_max(x: np.ndarray, attrs: dict) -> np.ndarray:
    axes = tuple(attrs["axes"])
    return x.max(axis=axes, keepdims=bool(attrs.get("keepdims", 1)))


def _maxpool2d(x: np.ndarray, attrs: dict) -> np.ndarray:
    kh, kw = attrs["kernel_shape"]
    sh, sw = attrs.get("strides", [kh, kw])
    pads = attrs.get("pads", [0, 0, 0, 0])
    if attrs.get("ceil_mode", 0):
        raise NotImplementedError("NumpySession MaxPool supports ceil_mode=0")
    xp = x.astype(np.float64)
    if any(pads):
        xp = np.pad(
            xp, ((0, 0), (0, 0), (pads[0], pads[2]), (pads[1], pads[3])),
            constant_values=-np.inf,
        )
    win = np.lib.stride_tricks.sliding_window_view(xp, (kh, kw), axis=(2, 3))
    return win[:, :, ::sh, ::sw].max(axis=(4, 5))


def _batchnorm(ins: list, attrs: dict) -> np.ndarray:
    x, scale, b, mean, var = (np.asarray(t, dtype=np.float64) for t in ins)
    eps = attrs.get("epsilon", 1e-5)
    shape = (1, -1) + (1,) * (x.ndim - 2)
    return (x - mean.reshape(shape)) / np.sqrt(var.reshape(shape) + eps) * scale.reshape(
        shape
    ) + b.reshape(shape)


def _resize_nearest(x: np.ndarray, ins: list, attrs: dict) -> np.ndarray:
    """Opset-13 Resize, the torch nearest-export profile: inputs are
    (X, roi?, scales?, sizes?) with unused slots as empty names;
    mode='nearest', coordinate_transformation_mode='asymmetric',
    nearest_mode='floor' -> src_idx = floor(dst_idx / scale)."""
    mode = attrs.get("mode", "nearest")
    ctm = attrs.get("coordinate_transformation_mode", "half_pixel")
    nm = attrs.get("nearest_mode", "round_prefer_floor")
    if mode != "nearest" or ctm != "asymmetric" or nm != "floor":
        raise NotImplementedError(
            f"NumpySession Resize supports nearest/asymmetric/floor, got "
            f"{mode}/{ctm}/{nm}"
        )
    sizes = ins[3] if len(ins) > 3 and ins[3] is not None else None
    scales = ins[2] if len(ins) > 2 and ins[2] is not None else None
    in_shape = np.array(x.shape, dtype=np.float64)
    if sizes is not None:
        out_shape = np.asarray(sizes, dtype=np.int64)
        sc = out_shape / in_shape
    elif scales is not None:
        sc = np.asarray(scales, dtype=np.float64)
        out_shape = np.floor(in_shape * sc).astype(np.int64)
    else:
        raise ValueError("Resize needs a scales or sizes input")
    out = x
    for ax in range(x.ndim):
        if out_shape[ax] == x.shape[ax]:
            continue
        idx = np.minimum(
            (np.arange(out_shape[ax]) / sc[ax]).astype(np.int64), x.shape[ax] - 1
        )
        out = np.take(out, idx, axis=ax)
    return out


class NumpySession:
    """onnxruntime.InferenceSession-compatible executor for the supported
    op subset; raises NotImplementedError on any other node type so a real
    exported model that needs more ops fails loudly, not wrongly."""

    def __init__(self, model_path: str):
        with open(model_path, "rb") as fh:
            self.model = decode_model(fh.read())
        unsupported = sorted(
            {n["op_type"] for n in self.model["nodes"]} - _SUPPORTED
        )
        if unsupported:
            raise NotImplementedError(
                f"NumpySession does not implement ONNX ops {unsupported}; "
                "install onnxruntime for full coverage"
            )
        # run() stores only outputs[0] of each node; a second output (e.g.
        # MaxPool's Indices) would be silently missing downstream
        multi = [n for n in self.model["nodes"] if len(n["outputs"]) > 1]
        if multi:
            raise NotImplementedError(
                f"NumpySession does not implement multi-output nodes: "
                f"{multi[0]['op_type']} node with outputs {multi[0]['outputs']}"
            )
        # kernel spectra keyed (weights id, fft shape). BOUNDED at
        # _FFT_CACHE_MAX: sessions live for the worker process
        # (resolve_model singleton), and on heterogeneous page sizes every
        # distinct padded shape would otherwise pin a multi-MB complex
        # spectrum forever (recompute cost on eviction is one rfft2)
        self._fft_cache: dict = {}

    def get_inputs(self):  # minimal parity with InferenceSession
        class _Info:
            def __init__(self, name):
                self.name = name

        return [_Info(n) for n in self.model["inputs"]]

    def run(self, output_names, feed: dict[str, np.ndarray]) -> list[np.ndarray]:
        values: dict[str, np.ndarray] = dict(self.model["initializers"])
        for k, v in feed.items():
            values[k] = np.asarray(v)
        for node in self.model["nodes"]:
            # optional inputs arrive as empty names (the Resize roi slot)
            ins = [values[i] if i else None for i in node["inputs"]]
            op = node["op_type"]
            if op == "Conv":
                out = _conv2d(
                    ins[0], ins[1], ins[2] if len(ins) > 2 else None,
                    node["attrs"], self._fft_cache,
                )
            elif op == "Sigmoid":
                out = 1.0 / (1.0 + np.exp(-ins[0].astype(np.float64)))
            elif op == "Sub":
                out = ins[0].astype(np.float64) - ins[1].astype(np.float64)
            elif op == "Add":
                out = ins[0].astype(np.float64) + ins[1].astype(np.float64)
            elif op == "Relu":
                out = np.maximum(ins[0], 0.0)
            elif op == "Mul":
                out = ins[0].astype(np.float64) * ins[1].astype(np.float64)
            elif op == "Div":
                out = ins[0].astype(np.float64) / ins[1].astype(np.float64)
            elif op == "Clip":
                lo = ins[1] if len(ins) > 1 and ins[1] is not None else node["attrs"].get("min", -np.inf)
                hi = ins[2] if len(ins) > 2 and ins[2] is not None else node["attrs"].get("max", np.inf)
                out = np.clip(ins[0].astype(np.float64), np.asarray(lo, dtype=np.float64), np.asarray(hi, dtype=np.float64))
            elif op == "HardSigmoid":
                a = node["attrs"].get("alpha", 0.2)
                b = node["attrs"].get("beta", 0.5)
                out = np.clip(a * ins[0].astype(np.float64) + b, 0.0, 1.0)
            elif op == "HardSwish":
                z = ins[0].astype(np.float64)
                out = z * np.clip(z / 6.0 + 0.5, 0.0, 1.0)
            elif op == "MaxPool":
                out = _maxpool2d(ins[0], node["attrs"])
            elif op == "BatchNormalization":
                out = _batchnorm(ins, node["attrs"])
            elif op == "Resize":
                out = _resize_nearest(ins[0], ins, node["attrs"])
            elif op == "Concat":
                out = np.concatenate(
                    [i.astype(np.float64) for i in ins], axis=node["attrs"]["axis"]
                )
            elif op == "GlobalAveragePool":
                out = ins[0].astype(np.float64).mean(
                    axis=tuple(range(2, ins[0].ndim)), keepdims=True
                )
            elif op == "Flatten":
                ax = node["attrs"].get("axis", 1)
                shape = ins[0].shape
                out = np.asarray(ins[0]).reshape(
                    int(np.prod(shape[:ax], initial=1)), -1
                )
            elif op == "Gemm":
                a = node["attrs"]
                A = ins[0].astype(np.float64)
                B = ins[1].astype(np.float64)
                if a.get("transA", 0):
                    A = A.T
                if a.get("transB", 0):
                    B = B.T
                out = a.get("alpha", 1.0) * (A @ B)
                if len(ins) > 2 and ins[2] is not None:
                    out = out + a.get("beta", 1.0) * ins[2].astype(np.float64)
            elif op == "Softmax":
                ax = node["attrs"].get("axis", -1)
                z = ins[0].astype(np.float64)
                e = np.exp(z - z.max(axis=ax, keepdims=True))
                out = e / e.sum(axis=ax, keepdims=True)
            elif op == "ReduceMax":
                out = _reduce_max(ins[0], node["attrs"])
            elif op == "Transpose":
                out = np.transpose(ins[0], node["attrs"]["perm"])
            values[node["outputs"][0]] = out
        wanted = output_names or self.model["outputs"]
        return [values[n].astype(np.float32) for n in wanted]

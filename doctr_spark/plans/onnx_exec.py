"""NumpySession — a pure-numpy executor for the ONNX op set a real
exporter emits for small detection/recognition nets.

This is the sandbox fallback behind the onnx_detector / onnx_recognizer
factories (plans/models.py): when onnxruntime is installed it is used; when
it is not, the SAME committed ``.onnx`` file executes through this class —
the loader contract (parse a real serialized checkpoint, run its graph) is
exercised either way. The run() signature mirrors
onnxruntime.InferenceSession.run so the factories need no branching beyond
session construction.

Ops follow the public ONNX operator spec (opset 13 semantics). The op set
is one table, ``_OPS`` (op_type -> fn(inputs, attrs)), in this order:

- what torch.onnx emits for a DBNet-style FPN's conv ladders, inplace
  ReLUs, BatchNorm2d eval stats, downsampling, F.interpolate(size=...),
  ``+`` merges and torch.cat (reference
  models/detection/differentiable_binarization/pytorch.py:48-93): Conv
  (2D, dilations=1; attrs pads [hb, wb, he, we], strides [sh, sw], group
  for grouped / depthwise; zero padding), Relu, MaxPool (2D; attrs
  kernel_shape, strides default = kernel, pads default 0, ceil_mode=0;
  -inf padding), BatchNormalization (eval mode: scale/B/mean/var inputs,
  attr epsilon), Resize (mode='nearest', coordinate_transformation_mode=
  'asymmetric', nearest_mode='floor', the torch nearest export; target
  from the ``sizes`` int64 or the ``scales`` float input), Add, Concat
  (attr axis), Sigmoid;
- a classifier head like the reference's MobileNetV3 orientation nets
  (AdaptiveAvgPool2d -> GlobalAveragePool, Linear -> Gemm transB=1):
  GlobalAveragePool (spatial mean, keepdims), Flatten (attr axis, default
  1), Gemm (attrs alpha, beta, transA, transB; Y = aA'B' + bC), Softmax
  (attr axis, default -1);
- the elementwise set of a literal MobileNetV3 block (hardsigmoid /
  hardswish and their Clip/Mul/Div decomposition on older exporters):
  Mul, Div, Clip (min/max inputs, opset 11+, or attrs), HardSigmoid
  (attrs alpha default 0.2, beta default 0.5), HardSwish (x *
  hardsigmoid(x; 1/6, 1/2), opset 14);
- the committed recognizer's column read-out: Sub, ReduceMax (attrs axes,
  negatives allowed, keepdims default 1), Transpose (attr perm).

Add, Sub, Mul and Div broadcast as numpy does.

Each Conv is planned once, when the session loads, from its constant
initializer weights (``_plan_conv``): the SVD of the stacked kernel rows
gives a rank-r width basis, and a second SVD over the kernel height is
kept where it cuts the multiply-adds (the recognizer's 62 filters of
27x21 are rank 6 in width and 8 in height; every committed detector
kernel is rank 1). A run is a width pass against the basis rows and, per
output row, GEMMs over strided views of that row's input rows. A
full-rank bank keeps the identity basis, which makes the same routine a
plain direct conv. A Conv weight that is not an initializer is planned
on every run and never kept.

Arithmetic runs in float64 internally and returns float32, the graph's
declared tensor type. The planned conv agrees with a plain float64
sliding-window conv to within 1e-9 relative (property test in
tests/test_properties.py; about 1e-14 on the committed banks).
"""

from __future__ import annotations

from collections.abc import Callable
from types import SimpleNamespace
from typing import NamedTuple

import numpy as np
from numpy.lib.stride_tricks import as_strided

from .onnx_proto import decode_model


class _ConvPlan(NamedTuple):
    """One group's kernel bank ``w`` (M, C, kh, kw), factored once from its
    constant weights into a width basis (r × kw), an optional height basis
    (s × kh) and the coefficients that mix them back into the M outputs:
    ``w[m, c, p, q] = sum_k coef[m, (p, c, k)] * wbasis[k, q]`` without a
    height basis, and ``sum_{l,k} coef[m, (l, c, k)] * hbasis[l, p] *
    wbasis[k, q]`` with one. A basis of ``None`` stands for the identity."""

    wbasis: np.ndarray | None  # (r, kw)
    hbasis: np.ndarray | None  # (s, kh)
    coef: np.ndarray  # (M, kh·C·r), or (M, s·C·r) with a height basis
    c: int
    kh: int
    kw: int


def _row_basis(rows: np.ndarray) -> tuple[np.ndarray | None, np.ndarray]:
    """``rows`` (R × k) as ``coef @ basis``: the rank-r right singular
    basis (r × k) and coef (R × r), or ``(None, rows)`` when r = k, where
    factoring saves nothing."""
    u, s, vt = np.linalg.svd(rows, full_matrices=False)
    # numpy's matrix_rank tolerance; an all-zero bank has rank 0
    r = int((s > s.max(initial=0.0) * max(rows.shape) * np.finfo(np.float64).eps).sum())
    return (None, rows) if r == rows.shape[1] else (vt[:r], u[:, :r] * s[:r])


def _plan_conv(w: np.ndarray, groups: int) -> list[_ConvPlan]:
    """One plan per group slice of the Conv weight ``w`` (M, C/groups, kh, kw)."""
    m, cg, kh, kw = w.shape
    if m % groups:
        raise ValueError(f"Conv group mismatch: M={m}, groups={groups}")
    ms = m // groups
    plans = []
    for g in range(groups):
        rows = np.asarray(w[g * ms : (g + 1) * ms], dtype=np.float64).reshape(-1, kw)
        wbasis, coef = _row_basis(rows)  # rows (m, c, p) x kw
        cr = cg * coef.shape[1]
        coef = coef.reshape(ms, cg, kh, -1).transpose(0, 2, 1, 3).reshape(ms, kh * cr)
        # factor the kernel height too when that cuts the multiply-adds per
        # output pixel from M·kh·C·r to s·kh·C·r + M·s·C·r (rank 0 stays as is)
        hbasis, hcoef = _row_basis(coef.reshape(ms, kh, cr).transpose(0, 2, 1).reshape(-1, kh))
        if cr and hbasis is not None and len(hbasis) * (kh + ms) < ms * kh:
            coef = hcoef.reshape(ms, cr, -1).transpose(0, 2, 1).reshape(ms, -1)
        else:
            hbasis = None
        plans.append(_ConvPlan(wbasis, hbasis, np.ascontiguousarray(coef), cg, kh, kw))
    return plans


def _conv_group(xp: np.ndarray, plan: _ConvPlan, sh: int, sw: int) -> np.ndarray:
    """Cross-correlate the padded float64 input (N, C, Hp, Wp) with one
    planned bank: a width pass against the width basis, then per output
    row the height basis and the coefficients as GEMMs over that row's
    kh input rows. Every pass reads strided views of its input, so no
    pass copies the input window by window."""
    n, c, hp, wp = xp.shape
    wbasis, hbasis, coef, _, kh, kw = plan
    ho, wo = (hp - kh) // sh + 1, (wp - kw) // sw + 1
    if ho < 1 or wo < 1:
        raise ValueError(f"Conv kernel {kh}x{kw} exceeds padded input {hp}x{wp}")
    if kh == kw == 1 and wbasis is None:  # pointwise: one channel mix
        return np.tensordot(coef, xp[:, :, ::sh, ::sw], axes=(1, 1)).transpose(1, 0, 2, 3)
    s0, s1, s2, s3 = xp.strides
    if wbasis is None:
        # z[n, h, c, q, j] = xp[n, c, h, j*sw + q]
        z = np.ascontiguousarray(as_strided(xp, (n, hp, c, kw, wo), (s0, s2, s1, s3, sw * s3)))
    else:
        # every output column's (Hp, kw) window against the basis rows
        win = as_strided(xp, (n, c, wo, hp, kw), (s0, s1, sw * s3, s2, s3))
        z = np.ascontiguousarray((win @ wbasis.T).transpose(0, 3, 1, 4, 2))  # (N, Hp, C, r, Wo)
    # z is contiguous: output row i reads its kh input rows from row i·sh
    # on, each holding C·r rows of Wo (strides from the shape: numpy gives
    # a length-1 axis any stride)
    e, cr = z.itemsize, z.shape[2] * z.shape[3]
    row = cr * wo * e
    if hbasis is None:
        rows = as_strided(z, (n, ho, kh * cr, wo), (hp * row, sh * row, wo * e, e))
    else:
        rows = as_strided(z, (n, ho, kh, cr * wo), (hp * row, sh * row, row, e))
        rows = (hbasis @ rows).reshape(n, ho, -1, wo)  # (N, Ho, s·C·r, Wo)
    return (coef @ rows).transpose(0, 2, 1, 3)  # (N, M, Ho, Wo)


def _pad_hw(x: np.ndarray, attrs: dict, value: float = 0.0) -> np.ndarray:
    """``x`` (N, C, H, W) padded by the node's ``pads`` [hb, wb, he, we]."""
    p = attrs.get("pads", [0, 0, 0, 0])
    return np.pad(x, ((0, 0), (0, 0), (p[0], p[2]), (p[1], p[3])), constant_values=value) if any(p) else x


def _conv2d(
    x: np.ndarray, plans: list[_ConvPlan], b: np.ndarray | None, attrs: dict
) -> np.ndarray:
    sh, sw = attrs.get("strides", [1, 1])
    if attrs.get("dilations", [1, 1]) != [1, 1]:
        raise NotImplementedError("NumpySession Conv supports dilation=1")
    xp = _pad_hw(np.asarray(x, dtype=np.float64), attrs)
    cg = plans[0].c
    if xp.shape[1] != cg * len(plans):
        raise ValueError(
            f"Conv channel mismatch: input {xp.shape[1]}, kernel {cg} x {len(plans)} groups"
        )
    # grouped / depthwise conv (what a MobileNet-style export emits): each
    # group's input channels against its own planned slice of the bank
    parts = [_conv_group(xp[:, g * cg : (g + 1) * cg], p, sh, sw) for g, p in enumerate(plans)]
    out = parts[0] if len(parts) == 1 else np.concatenate(parts, axis=1)
    if b is not None:  # in place: every path above returns a fresh array
        out += np.asarray(b, dtype=np.float64)[None, :, None, None]
    return out


def _opt(ins: list, i: int):
    return ins[i] if len(ins) > i else None


def _f64(x: np.ndarray) -> np.ndarray:
    return x.astype(np.float64)


def _conv(ins: list, attrs: dict, plans: list[_ConvPlan] | None = None) -> np.ndarray:
    """Conv over the load-time ``plans``, else over a plan of this run's weight."""
    plans = plans or _plan_conv(ins[1], attrs.get("group", 1))
    return _conv2d(ins[0], plans, _opt(ins, 2), attrs)


def _maxpool2d(ins: list, attrs: dict) -> np.ndarray:
    kh, kw = attrs["kernel_shape"]
    sh, sw = attrs.get("strides", [kh, kw])
    if attrs.get("ceil_mode", 0):
        raise NotImplementedError("NumpySession MaxPool supports ceil_mode=0")
    xp = _pad_hw(_f64(ins[0]), attrs, -np.inf)
    win = np.lib.stride_tricks.sliding_window_view(xp, (kh, kw), axis=(2, 3))
    return win[:, :, ::sh, ::sw].max(axis=(4, 5))


def _batchnorm(ins: list, attrs: dict) -> np.ndarray:
    x, scale, b, mean, var = (np.asarray(t, dtype=np.float64) for t in ins)
    eps = attrs.get("epsilon", 1e-5)
    shape = (1, -1) + (1,) * (x.ndim - 2)
    return (x - mean.reshape(shape)) / np.sqrt(var.reshape(shape) + eps) * scale.reshape(
        shape
    ) + b.reshape(shape)


def _resize_nearest(ins: list, attrs: dict) -> np.ndarray:
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
    x, scales, sizes = ins[0], _opt(ins, 2), _opt(ins, 3)
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


def _gemm(ins: list, attrs: dict) -> np.ndarray:
    a = _f64(ins[0]).T if attrs.get("transA", 0) else _f64(ins[0])
    b = _f64(ins[1]).T if attrs.get("transB", 0) else _f64(ins[1])
    out = attrs.get("alpha", 1.0) * (a @ b)
    c = _opt(ins, 2)
    return out if c is None else out + attrs.get("beta", 1.0) * _f64(c)


def _softmax(ins: list, attrs: dict) -> np.ndarray:
    ax = attrs.get("axis", -1)
    z = _f64(ins[0])
    e = np.exp(z - z.max(axis=ax, keepdims=True))
    return e / e.sum(axis=ax, keepdims=True)


def _clip(ins: list, attrs: dict) -> np.ndarray:
    lo, hi = _opt(ins, 1), _opt(ins, 2)
    lo = attrs.get("min", -np.inf) if lo is None else lo
    hi = attrs.get("max", np.inf) if hi is None else hi
    return np.clip(_f64(ins[0]), np.asarray(lo, dtype=np.float64), np.asarray(hi, dtype=np.float64))


# the op set, in the module docstring's order; a node of any other type
# fails the session at load
_OPS: dict[str, Callable[[list, dict], np.ndarray]] = {
    "Conv": _conv,
    "Relu": lambda ins, attrs: np.maximum(ins[0], 0.0),
    "MaxPool": _maxpool2d,
    "BatchNormalization": _batchnorm,
    "Resize": _resize_nearest,
    "Add": lambda ins, attrs: _f64(ins[0]) + _f64(ins[1]),
    "Concat": lambda ins, attrs: np.concatenate([_f64(i) for i in ins], axis=attrs["axis"]),
    "Sigmoid": lambda ins, attrs: 1.0 / (1.0 + np.exp(-_f64(ins[0]))),
    "GlobalAveragePool": lambda ins, attrs: _f64(ins[0]).mean(
        axis=tuple(range(2, ins[0].ndim)), keepdims=True
    ),
    "Flatten": lambda ins, attrs: np.asarray(ins[0]).reshape(
        int(np.prod(ins[0].shape[: attrs.get("axis", 1)], initial=1)), -1
    ),
    "Gemm": _gemm,
    "Softmax": _softmax,
    "Mul": lambda ins, attrs: _f64(ins[0]) * _f64(ins[1]),
    "Div": lambda ins, attrs: _f64(ins[0]) / _f64(ins[1]),
    "Clip": _clip,
    "HardSigmoid": lambda ins, attrs: np.clip(
        attrs.get("alpha", 0.2) * _f64(ins[0]) + attrs.get("beta", 0.5), 0.0, 1.0
    ),
    "HardSwish": lambda ins, attrs: (z := _f64(ins[0])) * np.clip(z / 6.0 + 0.5, 0.0, 1.0),
    "Sub": lambda ins, attrs: _f64(ins[0]) - _f64(ins[1]),
    "ReduceMax": lambda ins, attrs: ins[0].max(
        axis=tuple(attrs["axes"]), keepdims=bool(attrs.get("keepdims", 1))
    ),
    "Transpose": lambda ins, attrs: np.transpose(ins[0], attrs["perm"]),
}


class NumpySession:
    """onnxruntime.InferenceSession-compatible executor for the ops of
    ``_OPS``; raises NotImplementedError on any other node type so a real
    exported model that needs more ops fails loudly, not wrongly."""

    def __init__(self, model_path: str):
        with open(model_path, "rb") as fh:
            self.model = decode_model(fh.read())
        unsupported = sorted({n["op_type"] for n in self.model["nodes"]} - _OPS.keys())
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
        # each Conv whose weight is an initializer is planned once, here;
        # a computed (or fed) weight is planned per run and never kept
        inits = self.model["initializers"]
        self._conv_plans = {
            i: _plan_conv(inits[n["inputs"][1]], n["attrs"].get("group", 1))
            for i, n in enumerate(self.model["nodes"])
            if n["op_type"] == "Conv" and n["inputs"][1] in inits
        }

    def get_inputs(self) -> list[SimpleNamespace]:  # minimal parity with InferenceSession
        return [SimpleNamespace(name=n) for n in self.model["inputs"]]

    def run(self, output_names, feed: dict[str, np.ndarray]) -> list[np.ndarray]:
        values: dict[str, np.ndarray] = dict(self.model["initializers"])
        for k, v in feed.items():
            values[k] = np.asarray(v)
        for idx, node in enumerate(self.model["nodes"]):
            # optional inputs arrive as empty names (the Resize roi slot)
            ins = [values[i] if i else None for i in node["inputs"]]
            plans = self._conv_plans.get(idx)
            if plans is not None and node["inputs"][1] not in feed:
                out = _conv(ins, node["attrs"], plans)
            else:
                out = _OPS[node["op_type"]](ins, node["attrs"])
            values[node["outputs"][0]] = out
        wanted = output_names or self.model["outputs"]
        return [values[n].astype(np.float32) for n in wanted]

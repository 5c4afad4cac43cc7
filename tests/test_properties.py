"""Property-based tests (hypothesis) for the deterministic kernels."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from doctr_spark.functions.html import extract_main_text
from doctr_spark.functions.vocabs import FONT, encode_string
from doctr_spark.operators.builder import build_page, resolve_lines
from doctr_spark.operators.detection import ink_word_boxes
from doctr_spark.operators.geometry import extract_crops
from doctr_spark.operators.recognition import (
    ctc_best_path,
    indices_to_logits,
    levenshtein,
    merge_strings,
)
from doctr_spark.sources import font

words_st = st.lists(
    st.text(alphabet=FONT, min_size=1, max_size=8), min_size=1, max_size=30
)


@settings(max_examples=25, deadline=None)
@given(words_st)
def test_ocr_roundtrip_any_font_words(words):
    """Render -> detect -> crop -> recognize -> build recovers the exact
    layout lines for arbitrary font-charset words."""
    img, _ = font.render_page(words, scale=3)
    boxes = ink_word_boxes(img, 3)
    assert boxes.shape[0] == len(words)
    crops = extract_crops(img, boxes[:, :4])
    texts = [font.read_word_crop(c, 3) for c in crops]
    page = build_page(boxes[:, :4], texts, boxes[:, 4])
    assert page.text == "\n".join(font.expected_page_lines(words, scale=3))


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=FONT, min_size=0, max_size=24))
def test_ctc_logits_roundtrip(s):
    [(word, conf)] = ctc_best_path(indices_to_logits(encode_string(s, FONT)), FONT)
    assert word == s
    if s:
        assert conf > 0.99


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=12), st.text(max_size=12))
def test_levenshtein_metric_properties(a, b):
    d = levenshtein(a, b)
    assert d == levenshtein(b, a)  # symmetry
    assert (d == 0) == (a == b)  # identity
    assert d <= max(len(a), len(b))  # upper bound


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdef", max_size=10), st.text(alphabet="abcdef", max_size=10))
def test_merge_strings_total(a, b):
    out = merge_strings(a, b, 1.4)
    # merged string never exceeds concatenation, never shorter than longest input - 1
    assert len(out) <= len(a) + len(b)
    if not a or not b:
        assert out == (a or b)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(0.0, 0.8), st.floats(0.0, 0.8), st.floats(0.02, 0.19), st.floats(0.02, 0.19)
        ),
        min_size=1,
        max_size=12,
    )
)
def test_resolve_lines_partition_property(raw):
    """resolve_lines always yields a partition of all box indices."""
    boxes = np.array([[x, y, x + w, y + h] for x, y, w, h in raw])
    lines = resolve_lines(boxes)
    flat = sorted(i for line in lines for i in line)
    assert flat == list(range(len(boxes)))


@settings(max_examples=50, deadline=None)
@given(st.text(max_size=200))
def test_html_strip_never_crashes_and_is_idempotent_on_plain(s):
    out = extract_main_text(s)
    assert isinstance(out, str)
    # plain text with no tags: stripping is whitespace-normalization only
    if "<" not in s and "&" not in s:
        assert out == " ".join(s.split())


# ------------------------------------------------------- the one ink rule


def _mask(h, w, kind, seed):
    rng = np.random.default_rng(seed)
    if kind == "full":
        return np.ones((h, w), bool)
    m = np.zeros((h, w), bool)
    if kind == "single" and h and w:
        m[rng.integers(h), rng.integers(w)] = True
    elif kind == "ragged":
        m = rng.random((h, w)) < rng.random()
    return m


@settings(max_examples=200, deadline=None)
@given(
    h=st.integers(0, 12), w=st.integers(0, 12),
    kind=st.sampled_from(["empty", "single", "full", "ragged"]), seed=st.integers(0, 2**32 - 1),
)
@example(h=0, w=0, kind="empty", seed=0)
@example(h=1, w=1, kind="full", seed=0)
@example(h=7, w=1, kind="single", seed=3)
def test_ink_bounds_equals_nonzero_extent(h, w, kind, seed):
    """ink_bounds is the nonzero min/max+1 extent of the mask, or None when
    it holds no ink."""
    m = _mask(h, w, kind, seed)
    ys, xs = np.nonzero(m)
    ref = None if ys.size == 0 else (ys.min(), ys.max() + 1, xs.min(), xs.max() + 1)
    assert font.ink_bounds(m) == ref


@settings(max_examples=100, deadline=None)
@given(
    h=st.integers(0, 9), w=st.integers(0, 9), c=st.sampled_from([0, 1, 3, 4]),
    seed=st.integers(0, 2**32 - 1),
)
def test_ink_mask_is_gray_mean_below_128(h, w, c, seed):
    """ink_mask folds a channel axis by its mean, then tests < 128; a 2-D
    image (c = 0) is tested as is."""
    img = np.random.default_rng(seed).integers(0, 256, (h, w, c) if c else (h, w), dtype=np.uint8)
    ref = (img.mean(-1) if c else img) < 128
    got = font.ink_mask(img)
    assert got.dtype == bool and got.shape == ref.shape and (got == ref).all()


# ------------------------------------------------------- ONNX proto codec


_tensor_st = st.builds(
    lambda dims, seed: np.random.default_rng(seed)
    .standard_normal(dims)
    .astype(np.float32),
    dims=st.lists(st.integers(1, 5), min_size=1, max_size=4),
    seed=st.integers(0, 2**31 - 1),
)


@settings(max_examples=40, deadline=None)
@given(
    tensors=st.dictionaries(
        st.text(alphabet="abcdefgh_", min_size=1, max_size=8), _tensor_st,
        min_size=0, max_size=3,
    ),
    pads=st.lists(st.integers(0, 9), min_size=4, max_size=4),
    f_attr=st.floats(allow_nan=False, allow_infinity=False, width=32),
    i_attr=st.integers(0, 2**40),
    op=st.sampled_from(["Conv", "Sigmoid", "ReduceMax", "Gemm"]),
)
def test_onnx_proto_round_trip_property(tensors, pads, f_attr, i_attr, op):
    """encode_model -> decode_model is lossless for arbitrary float32
    tensors, packed-int / float / int attributes, and op names — the
    wire-format invariant the committed .onnx checkpoints rely on."""
    from doctr_spark.plans.onnx_proto import decode_model, encode_model, encode_node

    node = encode_node(op, ["x"], ["y"], pads=pads, alpha=float(f_attr), k=int(i_attr))
    blob = encode_model(
        "prop", [node], tensors,
        inputs={"x": [1, "H"]}, outputs={"y": [1, "H"]}, opset=13,
    )
    m = decode_model(blob)
    assert m["graph_name"] == "prop"
    assert m["opset"] == 13
    n = m["nodes"][0]
    assert n["op_type"] == op and n["inputs"] == ["x"] and n["outputs"] == ["y"]
    assert n["attrs"]["pads"] == pads
    assert n["attrs"]["k"] == i_attr
    assert np.float32(n["attrs"]["alpha"]) == np.float32(f_attr)
    assert set(m["initializers"]) == set(tensors)
    for k, v in tensors.items():
        got = m["initializers"][k]
        assert got.shape == v.shape and np.array_equal(got, v)


def _conv_reference(x, w, b, pads, strides, groups):
    """Plain float64 sliding-window cross-correlation, one output channel
    at a time."""
    xp = np.pad(x, ((0, 0), (0, 0), (pads[0], pads[2]), (pads[1], pads[3])))
    m, cg, kh, kw = w.shape
    win = np.lib.stride_tricks.sliding_window_view(xp, (kh, kw), axis=(2, 3))
    win = win[:, :, :: strides[0], :: strides[1]]  # (N, C, Ho, Wo, kh, kw)
    ms = m // groups
    out = np.stack(
        [np.einsum("nchwyx,cyx->nhw", win[:, o // ms * cg : (o // ms + 1) * cg], w[o])
         for o in range(m)],
        axis=1,
    )
    return out if b is None else out + b[None, :, None, None]


@settings(max_examples=80, deadline=None)
@given(
    n=st.integers(1, 3), groups=st.integers(1, 3), cg=st.integers(1, 3),
    ms=st.integers(1, 8), kh=st.integers(1, 9), kw=st.integers(1, 9),
    s=st.integers(0, 9), r=st.integers(0, 9),
    pads=st.lists(st.integers(0, 4), min_size=4, max_size=4),
    strides=st.tuples(st.integers(1, 3), st.integers(1, 3)),
    extra=st.tuples(st.integers(0, 8), st.integers(0, 8)),
    bias=st.booleans(), seed=st.integers(0, 2**32 - 1),
)
@example(n=2, groups=1, cg=1, ms=8, kh=9, kw=7, s=2, r=3, pads=[1, 2, 3, 0],
         strides=(1, 1), extra=(4, 6), bias=True, seed=0)  # height basis kept
@example(n=1, groups=2, cg=2, ms=3, kh=3, kw=3, s=0, r=0, pads=[1, 1, 1, 1],
         strides=(2, 1), extra=(2, 2), bias=False, seed=1)  # all-zero bank
def test_planned_conv_matches_sliding_window_reference(
    n, groups, cg, ms, kh, kw, s, r, pads, strides, extra, bias, seed
):
    """The planned Conv equals a plain sliding-window conv within 1e-9
    relative on random shapes, groups, pads and strides, for banks of
    every rank: w = core x height basis x width basis with s <= kh and
    r <= kw (s = kh, r = kw is a full-rank bank; s or r = 0 the all-zero
    bank)."""
    from doctr_spark.plans.onnx_exec import _conv2d, _plan_conv

    rng = np.random.default_rng(seed)
    s, r, m = min(s, kh), min(r, kw), ms * groups
    core = rng.standard_normal((m, cg, s, r))
    w = np.einsum("mclk,lp,kq->mcpq", core, rng.standard_normal((s, kh)),
                  rng.standard_normal((r, kw)))
    h = max(1, kh - pads[0] - pads[2]) + extra[0]
    wd = max(1, kw - pads[1] - pads[3]) + extra[1]
    x = rng.standard_normal((n, groups * cg, h, wd))
    b = rng.standard_normal(m) if bias else None
    attrs = {"pads": pads, "strides": list(strides), "group": groups}
    got = _conv2d(x, _plan_conv(w, groups), b, attrs)
    ref = _conv_reference(x, w, b, pads, strides, groups)
    assert got.shape == ref.shape
    assert np.abs(got - ref).max() <= 1e-9 * np.abs(ref).max()

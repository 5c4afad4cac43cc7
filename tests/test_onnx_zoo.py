"""Committed real .onnx checkpoints through the onnx_detector /
onnx_recognizer factories (plans/models.py) — the serialized-checkpoint
load path EXECUTED, not stub-tested: the files are hand-encoded ONNX
ModelProto protobufs (plans/onnx_proto.py, field numbers from the public
onnx.proto) run by the bundled numpy executor (plans/onnx_exec.py) when
onnxruntime is absent, or by onnxruntime itself when installed.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from doctr_spark.functions.vocabs import FONT
from doctr_spark.operators.detection import INK_MODEL_POSTPROC, ink_word_boxes
from doctr_spark.plans.models import onnx_detector, onnx_recognizer
from doctr_spark.plans.onnx_export import ONNX_DET_PATH, ONNX_RECO_PATH
from doctr_spark.plans.onnx_proto import decode_model, encode_model, encode_node
from doctr_spark.sources.font import DEFAULT_SCALE, render_page


def test_onnx_files_parse_as_model_protos():
    with open(ONNX_DET_PATH, "rb") as fh:
        det = decode_model(fh.read())
    assert [n["op_type"] for n in det["nodes"]] == ["Conv", "Sigmoid", "Conv", "Sigmoid"]
    assert det["inputs"] == ["input"] and det["outputs"] == ["proba"]
    assert det["opset"] == 13
    with open(ONNX_RECO_PATH, "rb") as fh:
        rec = decode_model(fh.read())
    assert [n["op_type"] for n in rec["nodes"]] == ["Sub", "Conv", "ReduceMax", "Transpose"]
    assert rec["initializers"]["rec_w"].shape == (len(FONT) + 1, 1, 27, 21)


def test_proto_round_trip():
    """encode -> decode is lossless for the schema subset."""
    w = np.arange(8, dtype=np.float32).reshape(2, 1, 2, 2)
    blob = encode_model(
        "rt",
        [encode_node("Conv", ["x", "w"], ["y"], pads=[1, 1, 1, 1], strides=[2, 2])],
        {"w": w},
        inputs={"x": [1, 1, "H", "W"]},
        outputs={"y": [1, 2, "H", "W"]},
    )
    m = decode_model(blob)
    assert m["graph_name"] == "rt"
    assert m["nodes"][0]["attrs"] == {"pads": [1, 1, 1, 1], "strides": [2, 2]}
    assert np.array_equal(m["initializers"]["w"], w)


def test_numpy_executor_rejects_unsupported_ops(tmp_path):
    from doctr_spark.plans.onnx_exec import NumpySession

    blob = encode_model(
        "bad", [encode_node("LSTM", ["x"], ["y"])], {},
        inputs={"x": [1]}, outputs={"y": [1]},
    )
    p = tmp_path / "bad.onnx"
    p.write_bytes(blob)
    with pytest.raises(NotImplementedError, match="LSTM"):
        NumpySession(str(p))


def test_numpy_executor_rejects_multi_output_nodes_at_load(tmp_path):
    """run() keeps only a node's first output, so a MaxPool that also
    emits Indices must fail when the session loads, not inside run()."""
    from doctr_spark.plans.onnx_exec import NumpySession

    blob = encode_model(
        "two_out",
        [encode_node("MaxPool", ["x"], ["y", "idx"], kernel_shape=[2, 2], strides=[2, 2])],
        {},
        inputs={"x": [1, 1, 4, 4]},
        outputs={"y": [1, 1, 2, 2], "idx": [1, 1, 2, 2]},
    )
    p = tmp_path / "two_out.onnx"
    p.write_bytes(blob)
    with pytest.raises(NotImplementedError, match=r"MaxPool.*'y', 'idx'"):
        NumpySession(str(p))


def test_onnx_detector_boxes_match_ink_family():
    det = onnx_detector(ONNX_DET_PATH, postproc=INK_MODEL_POSTPROC)[1]()
    for words in (["HELLO", "WORLD"], ["A+B=C", "R&D", "#1"], ["READY.", "GO!", "OK,"]):
        img, _ = render_page(words, scale=DEFAULT_SCALE)
        got = det(img, DEFAULT_SCALE)
        ref = ink_word_boxes(img, DEFAULT_SCALE)
        assert got.shape == ref.shape
        assert np.allclose(got[:, :4], ref[:, :4])


def test_onnx_recognizer_full_vocab_sweep_exact():
    """Every glyph alone and paired decodes exactly through the ring-gated
    pixel-space matched filter — including the containment ambiguities the
    ring gating must kill (':' holds '.', '!' holds '.', ''' in 'A')."""
    rec = onnx_recognizer(ONNX_RECO_PATH)[1]()
    words = (
        list(FONT)
        + [FONT[i] + FONT[(i * 7 + 3) % len(FONT)] for i in range(len(FONT))]
        + [":.", ".:", "'!", "A'", "KAYAK", "L.K.<"]
    )
    crops = []
    for w in words:
        img, placed = render_page([w], scale=DEFAULT_SCALE)
        _, x0, y0, x1, y1 = placed[0]
        m = 5  # unclipped-box style margin
        crops.append(img[max(0, y0 - m) : y1 + m, max(0, x0 - m) : x1 + m])
    got = rec(crops, DEFAULT_SCALE)
    bad = [(w, t) for w, (t, _) in zip(words, got) if t != w]
    assert not bad, bad[:5]
    assert all(0.0 < c <= 1.0 for _, c in got)


def test_extract_turns_onnx_models_equality(spark):
    """End-to-end per-turn equality through extract_turns with BOTH
    committed .onnx checkpoints via the loader factories."""
    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    gen = make_transcripts(spark, 2, partitions=2, ocr_ratio=1.0, html_ratio=0.0)
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    exp = gen.select("conv_id", "turn_idx", "expected_text")
    out = extract_turns(
        inp,
        detector=onnx_detector(ONNX_DET_PATH, postproc=INK_MODEL_POSTPROC),
        recognizer=onnx_recognizer(ONNX_RECO_PATH),
    )
    m = out.join(exp, ["conv_id", "turn_idx"])
    n_total = m.count()
    n_exact = m.filter(F.col("extracted_text") == F.col("expected_text")).count()
    assert n_total > 0
    assert n_exact == n_total


def test_numpy_executor_plans_each_conv_once():
    """A session plans every Conv node once, at load; runs on 13 input
    shapes neither add nor replace a plan (sessions live for the worker
    process lifetime, so a per-shape cache would grow with the pages)."""
    from doctr_spark.plans.onnx_exec import NumpySession

    for path in (ONNX_DET_PATH, ONNX_RECO_PATH):
        sess = NumpySession(path)
        n_conv = sum(n["op_type"] == "Conv" for n in sess.model["nodes"])
        plans = dict(sess._conv_plans)
        assert len(plans) == n_conv
        for i in range(13):
            x = np.ones((1, 1, 30 + i, 40 + 2 * i), dtype=np.float32)
            sess.run(None, {"input": x})
        assert sess._conv_plans.keys() == plans.keys()
        assert all(sess._conv_plans[k] is v for k, v in plans.items())


def test_computed_conv_weight_is_never_served_stale(tmp_path):
    """A Conv weight computed at run time (here base * s) is planned per
    run: each run sees its own weight, never a plan or spectrum left over
    from an earlier run's tensor."""
    from doctr_spark.plans.onnx_exec import NumpySession

    blob = encode_model(
        "computed_w",
        [encode_node("Mul", ["base", "s"], ["w"]),
         encode_node("Conv", ["x", "w"], ["y"], pads=[8, 8, 8, 8])],
        {"base": np.ones((1, 1, 17, 17), np.float32)},
        inputs={"x": [1, 1, 17, 17], "s": [1]},
        outputs={"y": [1, 1, 17, 17]},
    )
    p = tmp_path / "computed_w.onnx"
    p.write_bytes(blob)
    sess = NumpySession(str(p))
    x = np.zeros((1, 1, 17, 17), np.float32)
    x[0, 0, 8, 8] = 1.0
    centers = [
        float(sess.run(None, {"x": x, "s": np.array([s], np.float32)})[0][0, 0, 8, 8])
        for s in (1, 2, 3, 4)
    ]
    assert centers == [1.0, 2.0, 3.0, 4.0]


def test_onnx_loaders_key_their_config_and_share_one_session(monkeypatch, tmp_path):
    """Every loader over the ``onnx_loader`` skeleton (the detector, the
    recognizer, the orientation classifier and an ONNX detector served by
    ``hub.from_hub``) keys every option: loaders over one .onnx file that
    differ in postproc, target_hw, input_name, vocab or path resolve to
    models of their own, and share one executor session per file per
    worker (each Conv is planned once per file)."""
    import os
    import shutil
    import sys

    from doctr_spark.plans import onnx_exec
    from doctr_spark.plans.hub import from_hub, save_model_for_hub
    from doctr_spark.plans.models import clear_model_cache, resolve_model
    from doctr_spark.plans.onnx_export import ONNX_ORIENT_PATH
    from doctr_spark.plans.tiny_orient import onnx_orient_classifier

    opened = []

    class CountingSession(onnx_exec.NumpySession):
        def __init__(self, model_path):
            opened.append(model_path)
            super().__init__(model_path)

    monkeypatch.setitem(sys.modules, "onnxruntime", None)  # the numpy executor
    monkeypatch.setattr(onnx_exec, "NumpySession", CountingSession)
    clear_model_cache()
    orient_copy = str(tmp_path / "orient_copy.onnx")
    shutil.copyfile(ONNX_ORIENT_PATH, orient_copy)
    hub_repo = save_model_for_hub(
        ONNX_DET_PATH, str(tmp_path / "hub-det"), arch="onnx", task="detection", fmt="onnx"
    )
    det_db = resolve_model(*onnx_detector(ONNX_DET_PATH))
    det_ink = resolve_model(*onnx_detector(ONNX_DET_PATH, postproc=INK_MODEL_POSTPROC))
    assert det_db is not det_ink
    keys = {
        onnx_detector(ONNX_DET_PATH)[0],
        onnx_detector(ONNX_DET_PATH, postproc=INK_MODEL_POSTPROC)[0],
        onnx_detector(ONNX_DET_PATH, target_hw=(720, 1280))[0],
        onnx_detector(ONNX_DET_PATH, input_name="x")[0],
        onnx_recognizer(ONNX_RECO_PATH)[0],
        onnx_recognizer(ONNX_RECO_PATH, vocab="AB")[0],
        onnx_recognizer(ONNX_RECO_PATH, input_name="x")[0],
        onnx_orient_classifier()[0],
        onnx_orient_classifier(orient_copy)[0],
        from_hub(hub_repo)[0],
    }
    assert len(keys) == 10
    assert onnx_orient_classifier(ONNX_ORIENT_PATH)[0] == onnx_orient_classifier()[0]
    rec = resolve_model(*onnx_recognizer(ONNX_RECO_PATH))
    rec_ab = resolve_model(*onnx_recognizer(ONNX_RECO_PATH, vocab="AB"))
    assert rec is not rec_ab
    ori = resolve_model(*onnx_orient_classifier())
    ori_copy = resolve_model(*onnx_orient_classifier(orient_copy))
    assert ori is not ori_copy
    resolve_model(*from_hub(hub_repo))
    hub_weights = os.path.join(hub_repo, os.path.basename(ONNX_DET_PATH))
    resolve_model(*onnx_detector(hub_weights))  # the hub file's session again
    assert opened == [ONNX_DET_PATH, ONNX_RECO_PATH, ONNX_ORIENT_PATH, orient_copy, hub_weights]
    clear_model_cache()


def test_decode_model_rejects_garbage():
    """Truncated or non-protobuf bytes fail loudly, never half-parse."""
    from doctr_spark.plans.onnx_proto import decode_model

    with open(ONNX_DET_PATH, "rb") as fh:
        blob = fh.read()
    for bad in (blob[: len(blob) // 2], b"\x00\x01\x02", b""):
        with pytest.raises((ValueError, IndexError, KeyError)):
            decode_model(bad)


# ------------------------------------------------- real-exporter op set


def _exec_single(op_nodes, inits, x, in_shape, out_name="y"):
    """Run a tiny graph through NumpySession via a real encode/decode."""
    import os
    import tempfile

    from doctr_spark.plans.onnx_exec import NumpySession

    blob = encode_model(
        "t", op_nodes, inits, inputs={"x": list(in_shape)}, outputs={out_name: ["d"]}
    )
    p = os.path.join(tempfile.mkdtemp(), "t.onnx")
    with open(p, "wb") as fh:
        fh.write(blob)
    return NumpySession(p).run(None, {"x": x})[0]


def test_negative_int_attrs_sign_reconstruct():
    """Protobuf encodes negative int64 as two's-complement varints; the
    decoder must sign-reconstruct (a real exporter's ReduceMax axes=[-1]
    otherwise reads as ~2^64)."""
    blob = encode_model(
        "neg",
        [encode_node("ReduceMax", ["x"], ["y"], axes=[-1], keepdims=0)],
        {},
        inputs={"x": [2, 3]},
        outputs={"y": [2]},
    )
    m = decode_model(blob)
    assert m["nodes"][0]["attrs"]["axes"] == [-1]
    x = np.array([[1, 5, 2], [7, 3, 4]], dtype=np.float32)
    out = _exec_single(
        [encode_node("ReduceMax", ["x"], ["y"], axes=[-1], keepdims=0)],
        {}, x, (2, 3),
    )
    np.testing.assert_array_equal(out, np.array([5.0, 7.0], np.float32))


def test_string_attr_and_int64_tensor_round_trip():
    sizes = np.array([1, 1, 8, 8], dtype=np.int64)
    blob = encode_model(
        "rt2",
        [encode_node("Resize", ["x", "", "", "sizes"], ["y"], mode="nearest",
                     coordinate_transformation_mode="asymmetric", nearest_mode="floor")],
        {"sizes": sizes},
        inputs={"x": [1, 1, 4, 4]},
        outputs={"y": [1, 1, 8, 8]},
    )
    m = decode_model(blob)
    a = m["nodes"][0]["attrs"]
    assert a["mode"] == "nearest" and a["nearest_mode"] == "floor"
    assert m["initializers"]["sizes"].dtype == np.int64
    np.testing.assert_array_equal(m["initializers"]["sizes"], sizes)


def test_maxpool_add_relu_concat_bn_resize_semantics():
    """Each new op against hand-computed opset-13 results."""
    x = np.arange(16, dtype=np.float32).reshape(1, 1, 4, 4)
    out = _exec_single(
        [encode_node("MaxPool", ["x"], ["y"], kernel_shape=[2, 2], strides=[2, 2])],
        {}, x, (1, 1, 4, 4),
    )
    np.testing.assert_array_equal(out[0, 0], np.array([[5, 7], [13, 15]], np.float32))

    out = _exec_single(
        [encode_node("Add", ["x", "b"], ["s"]), encode_node("Relu", ["s"], ["y"])],
        {"b": np.full((1, 1, 4, 4), -7.0, np.float32)}, x, (1, 1, 4, 4),
    )
    np.testing.assert_array_equal(out, np.maximum(x - 7.0, 0.0))

    out = _exec_single(
        [encode_node("Concat", ["x", "x"], ["y"], axis=1)], {}, x, (1, 1, 4, 4)
    )
    assert out.shape == (1, 2, 4, 4)

    # BN eval mode: (x - mean) / sqrt(var + eps) * g + b
    out = _exec_single(
        [encode_node("BatchNormalization", ["x", "g", "b", "m", "v"], ["y"], epsilon=1e-5)],
        {
            "g": np.array([2.0], np.float32), "b": np.array([1.0], np.float32),
            "m": np.array([3.0], np.float32), "v": np.array([4.0], np.float32),
        },
        x, (1, 1, 4, 4),
    )
    np.testing.assert_allclose(
        out, (x - 3.0) / np.sqrt(4.0 + 1e-5) * 2.0 + 1.0, rtol=1e-5, atol=1e-6
    )

    # Resize nearest/asymmetric/floor from sizes: out[i] = in[floor(i/2)]
    small = np.array([[1.0, 2.0], [3.0, 4.0]], np.float32).reshape(1, 1, 2, 2)
    out = _exec_single(
        [encode_node("Resize", ["x", "", "", "sz"], ["y"], mode="nearest",
                     coordinate_transformation_mode="asymmetric", nearest_mode="floor")],
        {"sz": np.array([1, 1, 4, 4], np.int64)}, small, (1, 1, 2, 2),
    )
    np.testing.assert_array_equal(out[0, 0], np.kron(small[0, 0], np.ones((2, 2), np.float32)))


# --------------------------------------------------------- FPN detector


def _fpn_detector_from(blob: bytes):
    import os
    import tempfile

    from doctr_spark.plans.models import resolve_model
    from doctr_spark.plans.onnx_export import FPN_INPUT_HW

    p = os.path.join(tempfile.mkdtemp(), "fpn.onnx")
    with open(p, "wb") as fh:
        fh.write(blob)
    return resolve_model(
        *onnx_detector(p, postproc=INK_MODEL_POSTPROC, target_hw=FPN_INPUT_HW)
    )


FPN_WORDS = "ALPHA BRAVO CHARLIE 42 100% READY. GO! WHY? OK,".split()


def test_committed_fpn_onnx_matches_builder_and_op_set():
    from doctr_spark.plans.onnx_export import ONNX_FPN_PATH, build_fpn_detector_onnx

    with open(ONNX_FPN_PATH, "rb") as fh:
        blob = fh.read()
    assert blob == build_fpn_detector_onnx()
    m = decode_model(blob)
    ops = {n["op_type"] for n in m["nodes"]}
    # the op set torch.onnx emits for the reference FPN
    # (differentiable_binarization/pytorch.py:48-93)
    assert {"Conv", "BatchNormalization", "Relu", "MaxPool", "Resize",
            "Add", "Concat", "Sigmoid"} <= ops
    assert m["initializers"]["sizes_full"].dtype == np.int64


def test_fpn_detector_extraction_exact():
    from doctr_spark.plans.onnx_export import build_fpn_detector_onnx
    from doctr_spark.plans.pipeline import extract_pages_ocr
    from doctr_spark.sources.font import expected_page_lines

    det = _fpn_detector_from(build_fpn_detector_onnx())
    img, _ = render_page(FPN_WORDS, scale=3)
    text, *_ = extract_pages_ocr([img], 3, detector=det)
    assert text == "\n".join(expected_page_lines(FPN_WORDS, scale=3))


def test_fpn_ablation_each_branch_load_bearing():
    """Zeroing either head input (the sharp lateral or the pyramid gate)
    breaks extraction — both FPN branches carry signal, and the top-down
    Resize+Add merge is required for the pyramid to cover the fused mask."""
    from doctr_spark.plans.onnx_export import build_fpn_detector_onnx
    from doctr_spark.plans.pipeline import extract_pages_ocr
    from doctr_spark.sources.font import expected_page_lines

    img, _ = render_page(FPN_WORDS, scale=3)
    want = "\n".join(expected_page_lines(FPN_WORDS, scale=3))
    # (a) pyramid weight off: lateral alone sits below the binarization
    # threshold (sigmoid(6*.98 - 7) = 0.246 < 0.3) -> nothing detected
    det = _fpn_detector_from(build_fpn_detector_onnx(head_w=(6.0, 0.0)))
    text, _, n_boxes, *_ = extract_pages_ocr([img], 3, detector=det)
    assert n_boxes == 0
    # (b) lateral weight off: the coarse gate alone cannot clear the head
    # bias either -> no boxes (words are never localized)
    det = _fpn_detector_from(build_fpn_detector_onnx(head_w=(0.0, 4.0)))
    text, _, n_boxes, *_ = extract_pages_ocr([img], 3, detector=det)
    assert text != want
    # (c) top-down merge removed (gate fed by the half-res lateral only):
    # the pyramid no longer covers the fuse dilation, the mask erodes,
    # and extraction breaks
    det = _fpn_detector_from(build_fpn_detector_onnx(topdown=False))
    text, *_ = extract_pages_ocr([img], 3, detector=det)
    assert text != want


def test_conv_grouped_depthwise_semantics():
    """group=C depthwise Conv (the MobileNet-export shape): each channel
    convolves with its own kernel only."""
    x = np.stack(
        [np.arange(16, dtype=np.float32).reshape(4, 4),
         np.arange(16, 32, dtype=np.float32).reshape(4, 4)]
    )[None]  # (1, 2, 4, 4)
    k = np.zeros((2, 1, 1, 1), np.float32)
    k[0, 0, 0, 0], k[1, 0, 0, 0] = 2.0, -1.0
    out = _exec_single(
        [encode_node("Conv", ["x", "k"], ["y"], pads=[0, 0, 0, 0], group=2)],
        {"k": k}, x, (1, 2, 4, 4),
    )
    np.testing.assert_array_equal(out[0, 0], 2.0 * x[0, 0])
    np.testing.assert_array_equal(out[0, 1], -1.0 * x[0, 1])


def test_resize_scales_input_path():
    """Resize driven by the float `scales` input (torch scale_factor
    export) instead of int64 sizes."""
    small = np.array([[1.0, 2.0], [3.0, 4.0]], np.float32).reshape(1, 1, 2, 2)
    out = _exec_single(
        [encode_node("Resize", ["x", "", "sc"], ["y"], mode="nearest",
                     coordinate_transformation_mode="asymmetric", nearest_mode="floor")],
        {"sc": np.array([1.0, 1.0, 2.0, 2.0], np.float32)}, small, (1, 1, 2, 2),
    )
    np.testing.assert_array_equal(
        out[0, 0], np.kron(small[0, 0], np.ones((2, 2), np.float32))
    )


def test_mobilenet_elementwise_ops_semantics():
    """Mul / Div / Clip (inputs and attrs) / HardSigmoid / HardSwish vs
    hand-computed opset semantics — the activation set a literal
    MobileNetV3 block exports."""
    x = np.linspace(-4, 4, 9, dtype=np.float32).reshape(1, 1, 3, 3)
    out = _exec_single(
        [encode_node("Mul", ["x", "x"], ["sq"]),
         encode_node("Div", ["sq", "two"], ["y"])],
        {"two": np.full((1, 1, 3, 3), 2.0, np.float32)}, x, (1, 1, 3, 3),
    )
    np.testing.assert_allclose(out, x * x / 2.0, rtol=1e-6)

    # Clip via min/max INPUTS (opset 11+ form)
    out = _exec_single(
        [encode_node("Clip", ["x", "lo", "hi"], ["y"])],
        {"lo": np.array(-1.0, np.float32).reshape(()),
         "hi": np.array(2.0, np.float32).reshape(())},
        x, (1, 1, 3, 3),
    )
    np.testing.assert_allclose(out, np.clip(x, -1.0, 2.0), rtol=1e-6)

    out = _exec_single(
        [encode_node("HardSigmoid", ["x"], ["y"], alpha=1.0 / 6.0, beta=0.5)],
        {}, x, (1, 1, 3, 3),
    )
    np.testing.assert_allclose(out, np.clip(x / 6.0 + 0.5, 0, 1), rtol=1e-6)

    out = _exec_single([encode_node("HardSwish", ["x"], ["y"])], {}, x, (1, 1, 3, 3))
    np.testing.assert_allclose(
        out, x * np.clip(x / 6.0 + 0.5, 0, 1), rtol=1e-6, atol=1e-7
    )


def test_fpn_canvas_covers_every_corpus_page():
    """The FPN graph's exact-2x preprocessing assumption holds for every
    OCR page the onnx_fpn_zoo corpus renders: pages are 640 wide and
    <= 360 tall, so min(720/H, 1280/640) == 2.0 exactly and the nearest
    resize is pixel replication (mask topology preserved)."""
    from doctr_spark.plans.onnx_export import FPN_INPUT_HW
    from doctr_spark.sources.corpus import gen_turn
    from doctr_spark.sources.payloads import decode_page_bundle, parse_tool_envelope

    H, W = FPN_INPUT_HW
    n_pages = 0
    for c in range(4):
        for t in range(20):
            row = gen_turn(c, t, 1.0, 0.0, 3, 0.0, 0.0)
            payload = parse_tool_envelope(row["tool"])
            if payload is None or payload[0] != "page_bundle":
                continue
            pages, _ = decode_page_bundle(payload[1])
            for p in pages:
                n_pages += 1
                assert p.shape[1] == 640
                assert p.shape[0] <= H // 2, p.shape
                assert min(H / p.shape[0], W / p.shape[1]) >= 2.0
    assert n_pages > 10

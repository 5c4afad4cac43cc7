"""Pluggable model stage for the fused extraction pipeline.

The reference's predictors are model-agnostic — ``detection/zoo.py:59-71``
and ``recognition/zoo.py:41-52`` accept any custom model instance, and
SURVEY.md §4.4 specifies a per-executor weight lifecycle. This module is
the Spark-native equivalent: the pipeline consumes a detector and a
recognizer through two small contracts, resolved from zero-arg *loader*
callables via a per-worker lazy singleton, so real NN weights (torch /
ONNX) load ONCE per Python worker process — with
``spark.python.worker.reuse`` (default on) that is once per executor core,
no matter how many Arrow batches or tasks the worker handles.

Contracts (all numpy, no framework types cross the boundary):

- detector:   ``(page: (H, W) uint8, scale: int) -> (N, 5) float64``
  relative ``[xmin, ymin, xmax, ymax, conf]`` boxes (the
  DetectionPredictor output shape, reference models/detection/zoo.py).
  Optional batch entry: a ``batch`` attribute ``(pages: list[(H, W)
  uint8], scale: int, *, rasters: list[(mask, cs)]) -> list[(N, 5)
  float64]`` whose output must equal ``[detector(page, scale) for page in
  pages]`` bit for bit. The fused stage then detects a bounded chunk of an
  Arrow batch's pages in one call; a detector without it is called once
  per page. ``rasters`` holds each page's ink raster, built once by the
  stage (``operators/detection.py:_page_mask``): its 0/1 ink cells and
  cs = scale when the page's ink lies on the s x s cell grid, else its
  pixel ink mask and cs = 1. The entry may read it or ignore it; the stage
  reuses it in its artefact gate and recognizer either way. An entry
  written to the older two-argument form raises ``TypeError`` on the
  keyword, and the stage then detects those pages one by one, with the
  same rows. The entry's ``single`` attribute must be the detector
  itself, or the stage ignores it: a wrapper made with ``functools.wraps``
  copies ``batch``, and its own logic would otherwise be skipped, so a
  wrapper must drop or replace ``batch``. A wrapper that sets its own
  ``batch`` (forwarding ``rasters``) with ``single`` naming the wrapper
  gets the same rasters as the default detector. The default ink-fuse
  detector has one (``operators/detection.py:ink_word_boxes_batch``).
- recognizer: ``(crops: list[(h, w) uint8], scale: int) ->
  list[(text, conf)]`` — batch-first so a real CRNN can stack the crops
  into one forward pass (reference models/recognition/predictor runs
  batched inference; the deterministic default just loops).
  Optional cells entry: a ``cells`` attribute ``(bitmaps: list[(h, w)
  uint8], scale: int) -> list[(text, conf)]``, where each bitmap is a
  crop's ink trimmed to its extent and taken one element per s x s cell
  (0/1; empty when the crop holds no ink). Its output must equal
  ``recognizer(crops, scale)`` bit for bit. On a page whose ink lies on
  the cell grid and whose kept boxes cut no inked cell, the fused stage
  reads each box's bitmap off the page's cell grid and calls ``cells``
  instead of cutting and re-masking pixel crops; every other page gets
  pixel crops. As for ``batch``, the entry's ``single`` attribute must be
  the recognizer itself, or the stage ignores it, so a ``functools.wraps``
  wrapper still gets crops. The default glyph recognizer has one.

Defaults are the deterministic stand-ins (ink-fuse detector,
glyph-matcher recognizer). A real DBNet/CRNN drops in as::

    def load_dbnet():
        sess = onnxruntime.InferenceSession("/weights/dbnet.onnx")
        def detect(page, scale):
            proba = sess.run(...)[0]
            return postprocess_proba_map(proba)  # existing postproc ops
        return detect

    extract_turns(df, detector=("dbnet-v1", load_dbnet))
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import cache, partial

import numpy as np

# per-PROCESS model cache: lives in each Python worker; keys are stable
# strings so re-deserialized task closures hit the same entry
_WORKER_MODELS: dict[str, object] = {}

ModelLoader = tuple[str, Callable[[], Callable]]


def resolve_model(key: str, loader: Callable[[], Callable]):
    """Return the cached model for ``key``, loading it on first use in this
    process. Keyed by string (not object identity) because Spark
    re-deserializes the UDF closure per task — the cache must survive
    that."""
    model = _WORKER_MODELS.get(key)
    if model is None:
        model = loader()
        _WORKER_MODELS[key] = model
    return model


def clear_model_cache() -> None:
    """Testing hook: drop cached models in THIS process (workers keep
    theirs until they exit)."""
    _WORKER_MODELS.clear()


# ------------------------------------------------- deterministic defaults


def _load_ink_detector() -> Callable:
    """Deterministic detector: the ink-fuse proba-map pipeline
    (operators/detection.py), same role as the reference's synthetic-map
    unit-test models."""
    from ..operators.detection import ink_word_boxes

    return ink_word_boxes


def _ctc_decode(indices: list[int]) -> tuple[str, float]:
    from ..functions.vocabs import FONT
    from ..operators.recognition import ctc_best_path, indices_to_logits

    return ctc_best_path(indices_to_logits(indices), FONT)[0]


def _eos_decode(conf_mode: str, indices: list[int]) -> tuple[str, float]:
    from ..functions.vocabs import FONT
    from ..operators.recognition import eos_decode, indices_to_eos_logits

    return eos_decode(indices_to_eos_logits(indices), FONT, conf=conf_mode)[0]


def _load_glyph_recognizer(
    decode: Callable[[list[int]], tuple[str, float]] = _ctc_decode,
) -> Callable:
    """Deterministic recognizer: glyph features -> logits -> ``decode``
    (plays the CNN+BiLSTM feature stage of CRNN). The default decode is CTC
    best-path. The PARALLEL-decode (non-CTC) family passes ``_eos_decode``:
    attention/ViT-style heads emit one logit row per character position
    over ``vocab + [<eos>, <sos>]`` and decode by per-position argmax up to
    <eos>, no blank channel, no repeat collapse. Its ``conf_mode`` picks the
    reference confidence semantics: "mean" = ViTSTR
    (recognition/vitstr/pytorch.py:155-180), "min" = SAR/MASTER
    (recognition/sar/pytorch.py:309-333); the decode is the real reference
    postprocessor re-derived in numpy (operators/recognition.py:
    eos_decode)."""
    from ..functions.vocabs import FONT, encode_string
    from ..sources.font import read_word_cells, read_word_crop

    # the decode of a read string is a pure function of that string;
    # memoizing it per worker skips re-running the decode math for every
    # repeated word (bounded cache — corpora have Zipfian word frequency,
    # so the hit rate is high at any scale and the cache stays small)
    memo: dict[str, tuple[str, float]] = {}

    def _decode_for(raw: str) -> tuple[str, float]:
        hit = memo.get(raw)
        if hit is None:
            try:
                indices = encode_string(raw, FONT)
            except ValueError:
                hit = (raw, 0.0)
            else:
                hit = decode(indices)
            if len(memo) < 65536:
                memo[raw] = hit
        return hit

    def recognize(crops: list[np.ndarray], scale: int) -> list[tuple[str, float]]:
        return [_decode_for(read_word_crop(crop, scale)) for crop in crops]

    def recognize_cells(bitmaps: list[np.ndarray], scale: int) -> list[tuple[str, float]]:
        return [_decode_for(read_word_cells(cells)) for cells in bitmaps]

    # the cells entry (module docstring): the fused stage hands it each
    # word's trimmed cells from the page's cell grid
    recognize.cells, recognize_cells.single = recognize_cells, recognize
    return recognize


VITSTR_RECOGNIZER: ModelLoader = (
    "glyph-vitstr-v1", partial(_load_glyph_recognizer, partial(_eos_decode, "mean"))
)
SAR_RECOGNIZER: ModelLoader = (
    "glyph-sar-v1", partial(_load_glyph_recognizer, partial(_eos_decode, "min"))
)


def _load_glyph_orientation() -> Callable:
    """Deterministic orientation classifier: glyph-hit score over the 4
    quarter turns (the OrientationPredictor contract —
    ``(page, scale) -> k`` where k is the ccw quarter-turn count that
    uprights the page)."""
    from ..operators.orientation import estimate_page_orientation

    return estimate_page_orientation


DEFAULT_DETECTOR: ModelLoader = ("ink-fuse-default", _load_ink_detector)
DEFAULT_RECOGNIZER: ModelLoader = ("glyph-ctc-default", _load_glyph_recognizer)
DEFAULT_ORIENTATION: ModelLoader = ("glyph-orient-default", _load_glyph_orientation)


# ------------------------------------------------- real-NN loader factories


def _onnx_session(model_path: str):
    """Open an ONNX model: onnxruntime when installed, else the bundled
    pure-numpy executor (plans/onnx_exec.NumpySession) — same file format,
    same run() surface, so the loader contract executes in both worlds.
    One session per file per worker: loaders that differ only in their
    pre/post-processing share it (and its load-time Conv plans)."""

    def load():
        try:
            import onnxruntime as ort

            return ort.InferenceSession(model_path)
        except ImportError:
            from .onnx_exec import NumpySession

            return NumpySession(model_path)

    return resolve_model(f"onnx-session:{model_path}", load)


def onnx_loader(kind: str, model_path: str, make: Callable[..., Callable], **options) -> ModelLoader:
    """(key, loader) over one ``.onnx`` file: the loader opens the file's
    shared session (``_onnx_session``) and returns ``make(sess, **options)``.
    The key names ``kind``, the path and every option ``make`` receives, so
    loaders over one file that differ in any option resolve to models of
    their own while sharing the session."""
    opts = (f"{k}={sorted(v.items()) if isinstance(v, dict) else v!r}" for k, v in sorted(options.items()))
    return f"onnx-{kind}:{model_path}:{':'.join(opts)}", lambda: make(_onnx_session(model_path), **options)


def onnx_detector(
    model_path: str,
    input_name: str = "input",
    postproc: dict | None = None,
    target_hw: tuple[int, int] | None = None,
) -> ModelLoader:
    """Loader for a real DBNet-style ONNX detection head: the session
    loads once per worker (via resolve_model), each call preprocesses the
    page (optional resize + [0,1] normalize, NCHW), runs the forward pass
    for the (H, W) proba map, and reuses this module's DB postprocessor
    (binarize -> 3x3 open -> components -> score -> unclip -> relative
    boxes) — the exact composition the reference's DetectionPredictor runs
    (preprocess + model + DetectionPostProcessor). Uses onnxruntime when
    installed; otherwise the same .onnx file executes through the bundled
    pure-numpy ONNX executor (plans/onnx_exec.py, whose op table lists the
    real-exporter ops it runs), so the serialized-checkpoint load path runs
    either way.
    """
    from ..operators.detection import DB_POSTPROC, postprocess_proba_map
    from ..operators.preprocess import remove_padding, resize_page

    def make(sess, input_name: str, postproc: dict, target_hw: tuple[int, int] | None) -> Callable:
        def detect(page: np.ndarray, scale: int) -> np.ndarray:
            img, tf = (
                resize_page(page, target_hw, preserve_aspect_ratio=True, symmetric_pad=True)
                if target_hw is not None
                else (page, (0.0, 0.0, 1.0, 1.0))
            )
            x = (img.astype(np.float32) / 255.0)[None, None, :, :]  # NCHW gray
            proba = np.asarray(sess.run(None, {input_name: x})[0]).reshape(img.shape)
            boxes = postprocess_proba_map(proba, **postproc)
            if target_hw is not None and len(boxes):
                boxes = np.concatenate(
                    [remove_padding(boxes[:, :4], tf), boxes[:, 4:5]], axis=1
                )
            return boxes

        return detect

    pp = dict(DB_POSTPROC if postproc is None else postproc)
    return onnx_loader("det", model_path, make, input_name=input_name, postproc=pp, target_hw=target_hw)


def onnx_recognizer(model_path: str, vocab: str | None = None, input_name: str = "input") -> ModelLoader:
    """Loader for a CRNN-style ONNX recognition head: session loads once
    per worker; each call stacks the crop batch (resized to the model's
    fixed height is the caller's preprocessing contract), runs one forward
    for (N, T, vocab+1) logits, and decodes with this module's CTC
    best-path (argmax, run-collapse, blank=len(vocab), conf = min
    max-softmax) — the reference RecognitionPredictor composition."""
    from ..functions.vocabs import FONT
    from ..operators.recognition import ctc_best_path

    def make(sess, input_name: str, vocab: str) -> Callable:
        def recognize(crops: list[np.ndarray], scale: int) -> list[tuple[str, float]]:
            if not crops:
                return []
            h = max(c.shape[0] for c in crops)
            w = max(c.shape[1] for c in crops)
            batch = np.full((len(crops), 1, h, w), 1.0, dtype=np.float32)
            for i, c in enumerate(crops):
                batch[i, 0, : c.shape[0], : c.shape[1]] = c.astype(np.float32) / 255.0
            logits = np.asarray(sess.run(None, {input_name: batch})[0])  # (N, T, V+1)
            return ctc_best_path(logits, vocab)  # batch decode in one pass

        return recognize

    return onnx_loader("reco", model_path, make, input_name=input_name, vocab=FONT if vocab is None else vocab)


# ------------------------------------------------- committed tiny models


def models_data(name: str) -> str:
    """Path of a committed model file in ``doctr_spark/models_data/``."""
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "models_data", name)


def load_npz(path: str) -> dict[str, np.ndarray]:
    """Every tensor of an ``.npz`` weights file (no pickled objects)."""
    with np.load(path, allow_pickle=False) as z:
        return {k: z[k] for k in z.files}


def sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def npz_loader(
    key: str, default_path: str, weights_path: str | None, make: Callable[[dict, int], Callable]
) -> ModelLoader:
    """(key, loader) over one npz file: the loader reads the weights once
    per worker and returns ``make(w, trained_scale)``. A custom weights
    file gets a key of its own, so ``resolve_model`` never serves it the
    model loaded from the default file."""
    path = weights_path or default_path

    def load():
        w = load_npz(path)
        return make(w, int(w["scale"]))

    return (key if weights_path is None else f"{key}:{weights_path}"), load


def _check_scale(key: str, trained_scale: int, scale: int) -> None:
    if scale != trained_scale:
        raise ValueError(f"{key} weights are sized for render scale {trained_scale}, got {scale}")


def npz_detector(
    key: str, default_path: str, weights_path: str | None, forward: Callable[[dict], Callable]
) -> ModelLoader:
    """Detector over committed npz weights. ``forward(w)`` builds the
    family's ``gray page -> proba map`` from the weights at load; each call
    checks the render scale the weights are sized for, converts the page to
    grayscale, runs the forward and the SAME DB-style postprocess every
    detector family uses (ink-family preset)."""

    def make(w: dict[str, np.ndarray], trained_scale: int) -> Callable:
        from ..operators.detection import INK_MODEL_POSTPROC, postprocess_proba_map

        proba_map = forward(w)

        def detect(page: np.ndarray, scale: int) -> np.ndarray:
            _check_scale(key, trained_scale, scale)
            gray = page if page.ndim == 2 else page.mean(axis=-1)
            return postprocess_proba_map(proba_map(gray), **INK_MODEL_POSTPROC)

        return detect

    return npz_loader(key, default_path, weights_path, make)


def npz_recognizer(
    key: str, default_path: str, weights_path: str | None, forward: Callable[[dict], Callable]
) -> ModelLoader:
    """Recognizer over committed npz weights. ``forward(w)`` builds the
    family's ``cells -> (text, conf)`` decode from the weights at load; each
    call checks the render scale, trims every crop to its ink and subsamples
    it to cell space (``tiny_conv.crop_cells``; a crop without ink reads as
    ``("", 0.0)``) and decodes the cells."""

    def make(w: dict[str, np.ndarray], trained_scale: int) -> Callable:
        from .tiny_conv import crop_cells

        decode = forward(w)

        def recognize(crops: list[np.ndarray], scale: int) -> list[tuple[str, float]]:
            _check_scale(key, trained_scale, scale)
            out = []
            for crop in crops:
                cells = crop_cells(crop, scale)
                out.append(("", 0.0) if cells is None else decode(cells))
            return out

        return recognize

    return npz_loader(key, default_path, weights_path, make)


@cache
def committed_models() -> dict[str, tuple[Callable[[], object], dict[tuple[str, str], Callable]]]:
    """Every file in ``doctr_spark/models_data/`` by path -> (builder, the
    ``(task, arch) -> factory`` hub archs served from it). A builder returns
    the file's content: the tensors of an ``.npz``, the bytes of an
    ``.onnx``. The ``.onnx`` builders read the committed npz files, so the
    npz files come first. ``scripts/make_tiny_weights.py`` writes the files
    from this table, the hub registry is the union of its archs, and a test
    holds each file equal to its builder. Built on first call, so importing
    this module loads no model family."""
    from . import onnx_export as ox
    from . import tiny_conv as conv, tiny_crnn as crnn, tiny_dbnet as db
    from . import tiny_orient, tiny_reco_zoo as reco, tiny_zoo as zoo

    det, rec = "detection", "recognition"
    return {
        conv.WEIGHTS_PATH: (conv.make_tiny_weights, {
            (det, "tiny_conv_det"): conv.tiny_conv_detector,
            (rec, "tiny_conv_reco"): conv.tiny_conv_recognizer}),
        zoo.ZOO_WEIGHTS_PATH: (zoo.make_tiny_zoo_weights, {
            (det, "tiny_fast"): zoo.tiny_fast_detector,
            (det, "tiny_linknet"): zoo.tiny_linknet_detector}),
        db.DBNET_WEIGHTS_PATH: (db.make_tiny_dbnet_weights, {(det, "tiny_dbnet_fpn"): db.tiny_dbnet_detector}),
        crnn.CRNN_WEIGHTS_PATH: (crnn.make_tiny_crnn_weights, {
            (rec, "tiny_crnn_bilstm"): crnn.tiny_bilstm_recognizer}),
        reco.RECO_ZOO_WEIGHTS_PATH: (reco.make_tiny_reco_zoo_weights, {
            (rec, f"tiny_{n}"): f for n, f in reco.ALL_RECO_VARIANTS}),
        tiny_orient.ORIENT_WEIGHTS_PATH: (tiny_orient.make_tiny_orient_weights, {}),
        ox.ONNX_DET_PATH: (ox.build_detector_onnx, {}),
        ox.ONNX_RECO_PATH: (ox.build_recognizer_onnx, {}),
        ox.ONNX_FPN_PATH: (ox.build_fpn_detector_onnx, {}),
        ox.ONNX_ORIENT_PATH: (ox.build_orient_classifier_onnx, {}),
    }

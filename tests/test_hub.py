"""Hub factory (plans/hub.py) — the reference's HF-hub integration
(models/factory/hub.py: from_hub / push_to_hf_hub / save-for-hub) over
this repo's committed-weights model families and .onnx checkpoints."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from doctr_spark.plans.hub import (
    available_archs,
    from_hub,
    push_to_hf_hub,
    save_model_for_hub,
)
from doctr_spark.plans.tiny_crnn import CRNN_WEIGHTS_PATH
from doctr_spark.plans.tiny_dbnet import DBNET_WEIGHTS_PATH
from doctr_spark.plans.onnx_export import ONNX_DET_PATH, ONNX_RECO_PATH
from doctr_spark.sources.font import DEFAULT_SCALE, render_page


def test_available_archs_lists_both_tasks():
    archs = available_archs()
    assert "tiny_dbnet_fpn" in archs["detection"]
    assert "tiny_crnn_bilstm" in archs["recognition"]
    assert "onnx" in archs["detection"] and "onnx" in archs["recognition"]


def test_save_and_load_local_repo(tmp_path):
    """save_model_for_hub -> from_hub(local dir) round-trips a real model
    through the seam contract."""
    repo = save_model_for_hub(
        DBNET_WEIGHTS_PATH, str(tmp_path / "my-det"), arch="tiny_dbnet_fpn", task="detection"
    )
    key, loader = from_hub(repo)
    assert key.startswith("hub:")
    det = loader()
    img, placed = render_page(["HELLO", "WORLD"], scale=DEFAULT_SCALE)
    assert det(img, DEFAULT_SCALE).shape[0] == len(placed)


def test_from_hub_hf_cache_layout(tmp_path):
    """A repo materialized in the standard HF cache layout
    (models--ORG--NAME/snapshots/<rev>/) resolves by repo id."""
    snap = tmp_path / "models--acme--tiny-crnn" / "snapshots" / "abc123"
    snap.mkdir(parents=True)
    save_model_for_hub(
        CRNN_WEIGHTS_PATH, str(snap), arch="tiny_crnn_bilstm", task="recognition"
    )
    key, loader = from_hub("acme/tiny-crnn", cache_dir=str(tmp_path))
    rec = loader()
    img, placed = render_page(["KAYAK"], scale=DEFAULT_SCALE)
    _, x0, y0, x1, y1 = placed[0]
    assert rec([img[y0:y1, x0:x1]], DEFAULT_SCALE)[0][0] == "KAYAK"


def test_from_hub_onnx_format_repo(tmp_path):
    """format='onnx' repos route through the onnx loader factories."""
    repo = save_model_for_hub(
        ONNX_RECO_PATH, str(tmp_path / "onnx-reco"), arch="onnx", task="recognition", fmt="onnx"
    )
    key, loader = from_hub(repo)
    rec = loader()
    img, placed = render_page(["HELLO"], scale=DEFAULT_SCALE)
    _, x0, y0, x1, y1 = placed[0]
    crop = img[max(0, y0 - 5) : y1 + 5, max(0, x0 - 5) : x1 + 5]
    assert rec([crop], DEFAULT_SCALE)[0][0] == "HELLO"


def test_from_hub_onnx_key_follows_config(tmp_path):
    """Re-saving an onnx repo with another vocab or postproc in its
    config.json gives another model key, so a worker never serves the
    model built from the old config."""
    keys = []
    for task, path, extra in (
        ("recognition", ONNX_RECO_PATH, {"vocab": "AB"}),
        ("detection", ONNX_DET_PATH, {"postproc": {"bin_thresh": 0.5}}),
    ):
        repo = save_model_for_hub(path, str(tmp_path / task), arch="onnx", task=task, fmt="onnx")
        keys.append(from_hub(repo)[0])
        cfg_path = os.path.join(repo, "config.json")
        with open(cfg_path) as fh:
            cfg = json.load(fh)
        with open(cfg_path, "w") as fh:
            json.dump(dict(cfg, **extra), fh)
        keys.append(from_hub(repo)[0])
    assert len(set(keys)) == 4



def test_from_hub_onnx_detector_reads_target_hw(tmp_path):
    """A fixed-input detection graph (the committed FPN .onnx, a 720x1280
    canvas) is servable from the hub: ``target_hw`` in config.json reaches
    the loader, so its boxes equal the directly built loader's."""
    from doctr_spark.operators.detection import INK_MODEL_POSTPROC
    from doctr_spark.plans.models import onnx_detector
    from doctr_spark.plans.onnx_export import FPN_INPUT_HW, ONNX_FPN_PATH

    repo = save_model_for_hub(
        ONNX_FPN_PATH, str(tmp_path / "fpn"), arch="onnx", task="detection", fmt="onnx"
    )
    cfg_path = os.path.join(repo, "config.json")
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    with open(cfg_path, "w") as fh:
        json.dump(dict(cfg, target_hw=list(FPN_INPUT_HW)), fh)
    img, placed = render_page(["HELLO", "WORLD"], scale=DEFAULT_SCALE)
    assert img.shape == (69, 640)
    boxes = from_hub(repo)[1]()(img, DEFAULT_SCALE)
    direct = onnx_detector(ONNX_FPN_PATH, postproc=INK_MODEL_POSTPROC, target_hw=FPN_INPUT_HW)[1]()
    assert len(boxes) == len(placed)
    assert np.array_equal(boxes, direct(img, DEFAULT_SCALE))

def test_hub_validation_errors(tmp_path):
    with pytest.raises(ValueError, match="task must be one of"):
        save_model_for_hub(DBNET_WEIGHTS_PATH, str(tmp_path / "x"), arch="tiny_dbnet_fpn", task="segmentation")
    with pytest.raises(ValueError, match="Available architectures"):
        save_model_for_hub(DBNET_WEIGHTS_PATH, str(tmp_path / "y"), arch="resnet50", task="detection")
    with pytest.raises(FileNotFoundError, match="not found locally"):
        from_hub("nobody/없는-repo", cache_dir=str(tmp_path))


def test_from_hub_refuses_weights_outside_the_repo(tmp_path):
    """A config.json whose ``weights`` entry is an absolute path or climbs
    out of the repo directory is refused before any file loads; a plain
    file name loads, and so does a weights file that is a symlink into the
    HF cache's blobs/ directory."""
    repo = tmp_path / "models--acme--det" / "snapshots" / "abc123"
    save_model_for_hub(DBNET_WEIGHTS_PATH, str(repo), arch="tiny_dbnet_fpn", task="detection")
    cfg = json.loads((repo / "config.json").read_text())
    outside = tmp_path / "outside.npz"
    outside.write_bytes((repo / cfg["weights"]).read_bytes())
    for entry in (str(outside), "../../../outside.npz", "sub/../../../../outside.npz"):
        (repo / "config.json").write_text(json.dumps(dict(cfg, weights=entry)))
        with pytest.raises(ValueError, match="outside the repo"):
            from_hub(str(repo))
    (repo / "config.json").write_text(json.dumps(cfg))
    assert from_hub(str(repo))[0].startswith("hub:")
    blob = tmp_path / "models--acme--det" / "blobs" / "sha256-weights"
    blob.parent.mkdir()
    os.replace(repo / cfg["weights"], blob)
    os.symlink(os.path.join("..", "..", "blobs", blob.name), repo / cfg["weights"])
    key, loader = from_hub("acme/det", cache_dir=str(tmp_path))
    img, placed = render_page(["HELLO", "WORLD"], scale=DEFAULT_SCALE)
    assert loader()(img, DEFAULT_SCALE).shape[0] == len(placed)


def test_push_is_network_gated():
    if __import__("importlib").util.find_spec("huggingface_hub") is None:
        with pytest.raises(NotImplementedError, match="huggingface_hub"):
            push_to_hf_hub(DBNET_WEIGHTS_PATH, "m", task="detection", arch="tiny_dbnet_fpn")
    # arch validation runs BEFORE the gate either way
    with pytest.raises(ValueError, match="Available architectures"):
        push_to_hf_hub(DBNET_WEIGHTS_PATH, "m", task="detection", arch="nope")


def test_from_hub_models_through_extract_turns(spark, tmp_path):
    """Hub-resolved detector + recognizer drop into the extract_turns seam
    (the reference's ocr_predictor(det_arch=from_hub(...)) composition)."""
    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    det_repo = save_model_for_hub(
        DBNET_WEIGHTS_PATH, str(tmp_path / "det"), arch="tiny_dbnet_fpn", task="detection"
    )
    rec_repo = save_model_for_hub(
        CRNN_WEIGHTS_PATH, str(tmp_path / "rec"), arch="tiny_crnn_bilstm", task="recognition"
    )
    gen = make_transcripts(spark, 1, partitions=1, ocr_ratio=1.0, html_ratio=0.0)
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    exp = gen.select("conv_id", "turn_idx", "expected_text")
    m = extract_turns(
        inp, detector=from_hub(det_repo), recognizer=from_hub(rec_repo)
    ).join(exp, ["conv_id", "turn_idx"])
    n_bad = m.filter(F.col("extracted_text") != F.col("expected_text")).count()
    assert m.count() > 0
    assert n_bad == 0

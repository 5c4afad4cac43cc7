"""Model-hub factory: load/publish models as named repos — the Spark-first
equivalent of the reference's HuggingFace hub integration
(models/factory/hub.py: from_hub / push_to_hf_hub /
_save_model_and_config_for_hf_hub).

A hub repo is a directory with:
  config.json   — {"arch": <registry name>, "task": "detection"|"recognition",
                   "format": "npz"|"onnx", "weights": <filename>}
  <weights>     — the committed-format checkpoint (npz tensors or a real
                  serialized .onnx ModelProto)

An onnx repo's config.json may also carry the loader options of
``onnx_detector`` / ``onnx_recognizer``: "input_name" (both tasks),
"postproc" and "target_hw" (the fixed [H, W] input canvas of a graph
such as the FPN) for detection, "vocab" for recognition.

``from_hub`` resolves the repo in order: a local directory path, the
standard HF cache layout (``~/.cache/huggingface/hub/models--ORG--NAME/
snapshots/<rev>/``), then — only when the huggingface_hub package is
importable (env-gated, absent in this sandbox) — a network snapshot
download. It returns a ``(key, loader)`` ModelLoader, so a hub model drops
straight into the ``detector=`` / ``recognizer=`` seam of
``extract_turns`` — the same composition the reference documents
(``ocr_predictor(det_arch=from_hub(...), ...)``).

``save_model_for_hub`` mirrors ``_save_model_and_config_for_hf_hub``
(hub.py:60-86: weights file + config.json carrying arch/task);
``push_to_hf_hub`` validates arch/task against the registry exactly like
the reference (hub.py:89-183) and is network-gated behind huggingface_hub.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from typing import Any

from .models import ModelLoader, committed_models


def _register_archs() -> dict[tuple[str, str], Any]:
    """Arch registry: (task, arch) -> factory accepting weights_path. The
    reference's AVAILABLE_ARCHS analog (hub.py:34-38), over the families of
    this repo's committed model files (``models.committed_models``)."""
    return {a: f for _, archs in committed_models().values() for a, f in archs.items()}


def available_archs() -> dict[str, list[str]]:
    """Registry listing, AVAILABLE_ARCHS-style: task -> arch names (plus
    the 'onnx' format which accepts any serialized graph per task)."""
    archs = _register_archs()
    out: dict[str, list[str]] = {"detection": ["onnx"], "recognition": ["onnx"]}
    for (task, arch) in archs:
        out[task].append(arch)
    return {k: sorted(v) for k, v in out.items()}


def save_model_for_hub(
    weights_path: str, save_dir: str, arch: str, task: str, fmt: str = "npz"
) -> str:
    """Write the hub repo layout (weights + config.json), the analog of
    the reference's _save_model_and_config_for_hf_hub. Returns save_dir."""
    _validate(task, arch, fmt)
    os.makedirs(save_dir, exist_ok=True)
    fname = os.path.basename(weights_path)
    shutil.copyfile(weights_path, os.path.join(save_dir, fname))
    cfg = {"arch": arch, "task": task, "format": fmt, "weights": fname}
    with open(os.path.join(save_dir, "config.json"), "w") as fh:
        json.dump(cfg, fh, indent=2, ensure_ascii=False)
    return save_dir


def _validate(task: str, arch: str, fmt: str) -> None:
    if task not in ("detection", "recognition"):
        raise ValueError("task must be one of detection, recognition")
    if fmt == "onnx":
        return
    if fmt != "npz":
        raise ValueError(f"format must be npz or onnx, got {fmt!r}")
    if (task, arch) not in _register_archs():
        raise ValueError(
            f"Architecture: {arch} for task: {task} not found."
            f"\nAvailable architectures: {available_archs()}"
        )


def _resolve_repo_dir(repo_id: str, cache_dir: str | None = None) -> str:
    """Local dir > HF cache snapshot > env-gated network download."""
    if os.path.isdir(repo_id):
        return repo_id
    cache = cache_dir or os.path.join(
        os.path.expanduser("~"), ".cache", "huggingface", "hub"
    )
    slug = "models--" + repo_id.replace("/", "--")
    snaps = sorted(glob.glob(os.path.join(cache, slug, "snapshots", "*")))
    for snap in reversed(snaps):  # newest revision dir first
        if os.path.exists(os.path.join(snap, "config.json")):
            return snap
    try:
        from huggingface_hub import snapshot_download  # env-gated
    except ImportError:
        raise FileNotFoundError(
            f"hub repo {repo_id!r} not found locally or in {cache}, and "
            "huggingface_hub is not installed for a network download"
        ) from None
    return snapshot_download(repo_id, cache_dir=cache_dir)


def from_hub(repo_id: str, cache_dir: str | None = None) -> ModelLoader:
    """Instantiate a pretrained model from a hub repo (reference
    hub.py:186-228) as a seam-ready ``(key, loader)`` pair."""
    repo_dir = _resolve_repo_dir(repo_id, cache_dir)
    with open(os.path.join(repo_dir, "config.json")) as fh:
        cfg = json.load(fh)
    task, arch = cfg.get("task"), cfg.get("arch")
    fmt = cfg.get("format", "npz")
    _validate(task, arch, fmt)
    if not cfg.get("weights"):
        raise FileNotFoundError(f"hub repo {repo_id!r} config.json has no 'weights' entry")
    weights = os.path.join(repo_dir, cfg["weights"])
    # the entry names a file inside the repo: no absolute path, and no
    # directory part that resolves outside it. The file itself may be a
    # symlink, as every snapshot file of the HF cache is one into blobs/
    root = os.path.realpath(repo_dir)
    if os.path.isabs(cfg["weights"]) or os.path.commonpath(
        [root, os.path.realpath(os.path.dirname(weights))]
    ) != root:
        raise ValueError(f"hub repo {repo_id!r} weights entry {cfg['weights']!r} is outside the repo")
    if not os.path.isfile(weights):
        raise FileNotFoundError(f"hub repo {repo_id!r} weights missing: {weights}")
    if fmt == "onnx":
        from .models import onnx_detector, onnx_recognizer

        input_name = cfg.get("input_name", "input")
        if task == "detection":
            from ..operators.detection import INK_MODEL_POSTPROC

            hw = cfg.get("target_hw")
            key, loader = onnx_detector(
                weights,
                input_name=input_name,
                postproc=dict(cfg.get("postproc") or INK_MODEL_POSTPROC),
                target_hw=tuple(hw) if hw else None,
            )
        else:
            key, loader = onnx_recognizer(weights, vocab=cfg.get("vocab"), input_name=input_name)
        return f"hub:{repo_id}:{key}", loader
    factory = _register_archs()[(task, arch)]
    key, loader = factory(weights_path=weights)
    return f"hub:{repo_id}:{key}", loader


def push_to_hf_hub(weights_path: str, model_name: str, task: str, arch: str, fmt: str = "npz") -> None:
    """Publish a model repo to the HuggingFace hub (reference
    hub.py:89-183). Arch/task validation runs everywhere; the network
    upload itself requires huggingface_hub (absent in this sandbox)."""
    _validate(task, arch, fmt)
    try:
        from huggingface_hub import HfApi  # env-gated
    except ImportError as exc:
        raise NotImplementedError(
            "push_to_hf_hub requires huggingface_hub, which is not installed; "
            "use save_model_for_hub(...) to produce the repo layout locally"
        ) from exc
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        save_model_for_hub(weights_path, tmp, arch=arch, task=task, fmt=fmt)
        readme = f"language: en\n\n## Task: {task}\n\narch: {arch}\n"
        with open(os.path.join(tmp, "README.md"), "w") as fh:
            fh.write(readme)
        api = HfApi()
        api.create_repo(model_name, exist_ok=False)
        api.upload_folder(repo_id=model_name, folder_path=tmp, commit_message=f"Add {model_name} model")

"""KIE (key-information-extraction) variant of the builder: per-class flat
prediction lists instead of the Line/Block tree.

Parity targets: KIEDocumentBuilder (doctr/models/builder.py:360-499) keeps
a dict of class -> [Prediction], each class list sorted by the same
reading-order key; KIEPage.render() = "class: value" joined by "\\n\\n"
(doctr/io/elements.py:459-463).

The class assignment here is a deterministic token classifier (numeric /
alpha / other) standing in for per-class detection heads — the per-class
plumbing (map columns, per-class sort, render) is the operator under test.
"""

from __future__ import annotations

import numpy as np

from .builder import reading_order


import re

_EMAIL_RE = re.compile(r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$")
_URL_RE = re.compile(r"^https?://\S+$", re.IGNORECASE)
_DATE_RE = re.compile(
    r"^([0-9]{4}[-/][0-9]{1,2}[-/][0-9]{1,2}|[0-9]{1,2}[-/][0-9]{1,2}[-/][0-9]{2,4})$"
)


def classify_token(value: str) -> str:
    """Deterministic word-class assignment. Entity classes first (email /
    url / date — the typed KIE classes a real per-class detection head
    would emit), then the base number / word / symbol split."""
    if _EMAIL_RE.match(value):
        return "email"
    if _URL_RE.match(value):
        return "url"
    if _DATE_RE.match(value):
        return "date"
    if any(c.isdigit() for c in value) and not any(c.isalpha() for c in value):
        return "number"
    if any(c.isalpha() for c in value):
        return "word"
    return "symbol"


def build_kie_page(
    boxes: np.ndarray,
    values: list[str],
    scores: np.ndarray | None = None,
) -> dict[str, list[dict]]:
    """Per-class predictions, each class sorted in reading order."""
    b = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    if scores is None:
        scores = np.ones(b.shape[0])
    classes: dict[str, list[int]] = {}
    for i, v in enumerate(values):
        classes.setdefault(classify_token(v), []).append(i)
    out: dict[str, list[dict]] = {}
    for cls, idcs in classes.items():
        sub = b[idcs]
        order = reading_order(sub.tolist())
        out[cls] = [
            {
                "value": values[idcs[int(j)]],
                "confidence": float(scores[idcs[int(j)]]),
                "xmin": float(sub[int(j), 0]),
                "ymin": float(sub[int(j), 1]),
                "xmax": float(sub[int(j), 2]),
                "ymax": float(sub[int(j), 3]),
            }
            for j in order
        ]
    return out


def render_kie_page(predictions: dict[str, list[dict]]) -> str:
    """KIEPage.render(): 'class: value' per prediction, joined '\\n\\n',
    classes in sorted order for determinism."""
    parts = []
    for cls in sorted(predictions):
        for pred in predictions[cls]:
            parts.append(f"{cls}: {pred['value']}")
    return "\n\n".join(parts)

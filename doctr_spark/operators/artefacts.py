"""Typed artefact classification for non-text page regions.

Deterministic analog of the reference's contrib ``ArtefactDetector``
(contrib/artefacts.py:26-129, a YOLOv8 head with labels
``["bar_code", "qr_code", "logo", "photo"]`` + confidence threshold +
NMS): detected regions whose ink fill marks them non-text are classified
into a small taxonomy from their ink statistics. Candidate regions come
from the detector's connected components, which are disjoint by
construction, so the reference's NMS stage is trivially satisfied (the
standalone ``nms`` op lives in operators/geometry.py).

Classes (the reference labels, with ``block`` as the solid-region
fallback playing the ``logo`` role):

- ``bar_code``: vertical stripes — nearly every column uniformly ink or
  uniformly blank, with many column-level alternations and no row-level
  structure.
- ``qr_code``: 2D module grid — strong alternation along BOTH axes at a
  coarse module pitch.
- ``photo``: halftone/dither — mid fill with high pixel-level transition
  density in both directions (continuous-tone stand-in).
- ``block``: dense solid region (the previous single-class behavior).
"""

from __future__ import annotations

import numpy as np

from ..sources.font import ink_mask


def _mean_run(ink: np.ndarray, axis: int) -> float:
    """Mean ink run length along an axis: total ink / number of runs."""
    total = int(ink.sum())
    if total == 0:
        return 0.0
    moved = np.moveaxis(ink.astype(np.int8), axis, -1)
    padded = np.concatenate([np.zeros((*moved.shape[:-1], 1), dtype=np.int8), moved], axis=-1)
    n_runs = int((np.diff(padded, axis=-1) == 1).sum())
    return total / max(1, n_runs)


def classify_artefact(crop: np.ndarray) -> tuple[str, float]:
    """Classify one non-text crop; returns (label, confidence).

    Features are the mean ink run lengths along each axis — pattern pitch
    statistics that separate the taxonomy cleanly: a bar code has short
    horizontal runs but full-height vertical runs; a QR grid has
    module-pitch runs BOTH ways; a halftone dithers at ~1px both ways; a
    solid region runs region-sized both ways. White crop margins never
    perturb the features (runs are measured on ink only). Confidence is
    the winning rule's evidence ratio, rounded to 6 places
    (engine-portable like every other metric the pipeline emits)."""
    ink = ink_mask(crop)
    h, w = ink.shape
    if h == 0 or w == 0 or not ink.any():
        return ("block", 0.0)
    fill = float(ink.mean())
    rh = _mean_run(ink, 1)  # horizontal
    rv = _mean_run(ink, 0)  # vertical
    if rh <= 2.0 and rv <= 2.0:
        return ("photo", round(1.0 / max(rh, rv), 6))
    if rv >= 4.0 * rh and rh <= 0.25 * w:  # narrow stripes, not one tall block
        return ("bar_code", round(min(rv / (4.0 * rh), 1.0), 6))
    if rh <= 0.25 * w and rv <= 0.25 * h:
        return ("qr_code", round(min(rh, rv) / max(rh, rv), 6))
    return ("block", round(fill, 6))

"""Multimodal column operators: opaque binary payloads + typed metadata.

Pattern: image/audio/video payloads live in BinaryType columns; plan-level
code only sees schema'd metadata; pixel/byte work happens inside
Arrow-batched UDFs. Real codec decoding (JPEG/PNG/audio) is stubbed behind
import-tries (the libs are not in this container) — the Spark-side
plumbing (schemas, batching, explode shapes) is real and tested against
the deterministic page-bundle format.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..sources.font import ink_mask
from ..sources.payloads import bundle_meta, decode_page_bundle

BUNDLE_META_SCHEMA = "id long, n_pages int, scale int, heights array<int>, widths array<int>, n_bytes long"


def page_bundle_metadata(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Parse typed metadata out of page-bundle binary columns (header-only,
    no pixel decompression)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, blob in zip(pdf[id_col], pdf[payload_col]):
                m = bundle_meta(bytes(blob))
                rows.append(
                    {
                        "id": i,
                        "n_pages": m["n_pages"],
                        "scale": m["scale"],
                        "heights": [h for h, _ in m["dims"]],
                        "widths": [w for _, w in m["dims"]],
                        "n_bytes": m["n_bytes"],
                    }
                )
            yield pd.DataFrame(rows, columns=["id", "n_pages", "scale", "heights", "widths", "n_bytes"])

    return df.select(id_col, payload_col).mapInPandas(run, schema=BUNDLE_META_SCHEMA)


PIXEL_STATS_SCHEMA = "id long, page_idx int, height int, width int, ink_ratio double, mean_intensity double"


def page_pixel_stats(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Per-page feature extraction (explode: one input row -> n_pages rows).
    The deterministic stand-in for an image feature extractor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, blob in zip(pdf[id_col], pdf[payload_col]):
                pages, _ = decode_page_bundle(bytes(blob))
                for p_idx, img in enumerate(pages):
                    rows.append(
                        {
                            "id": i,
                            "page_idx": p_idx,
                            "height": img.shape[0],
                            "width": img.shape[1],
                            "ink_ratio": float(ink_mask(img).mean()),
                            "mean_intensity": float(img.mean()),
                        }
                    )
            yield pd.DataFrame(rows, columns=["id", "page_idx", "height", "width", "ink_ratio", "mean_intensity"])

    return df.select(id_col, payload_col).mapInPandas(run, schema=PIXEL_STATS_SCHEMA)


def frame_sample(df: DataFrame, id_col: str, payload_col: str, every_k: int = 2) -> DataFrame:
    """Sample every k-th page of each bundle (video frame-sampling analog);
    emits (id, page_idx, height, width) for the kept frames."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, blob in zip(pdf[id_col], pdf[payload_col]):
                m = bundle_meta(bytes(blob))
                for p_idx, (h, w) in enumerate(m["dims"]):
                    if p_idx % every_k == 0:
                        rows.append({"id": i, "page_idx": p_idx, "height": h, "width": w})
            yield pd.DataFrame(rows, columns=["id", "page_idx", "height", "width"])

    return df.select(id_col, payload_col).mapInPandas(run, schema="id long, page_idx int, height int, width int")


def decode_image_real(img_bytes: bytes) -> np.ndarray:  # pragma: no cover - env-gated
    """Real image decode path (cv2), stubbed in this container."""
    try:
        import cv2
    except ImportError as exc:
        raise NotImplementedError("cv2 not installed: real image decode unavailable") from exc
    arr = np.frombuffer(img_bytes, dtype=np.uint8)
    return cv2.imdecode(arr, cv2.IMREAD_COLOR)


def dhash64(img: np.ndarray, grid: int = 8) -> int:
    """64-bit difference hash of a grayscale page: block-average to an
    (grid x grid+1) intensity grid (area mean — deterministic, no
    interpolation library), then one bit per horizontal gradient sign.
    Near-identical renders agree on almost every bit; unrelated pages
    differ on ~half — the standard perceptual near-dup key for image
    corpora."""
    h, w = img.shape
    gy, gx = grid, grid + 1
    ys = np.linspace(0, h, gy + 1).astype(int)
    xs = np.linspace(0, w, gx + 1).astype(int)
    cs = np.zeros((h + 1, w + 1), dtype=np.float64)
    cs[1:, 1:] = img.astype(np.float64).cumsum(0).cumsum(1)
    cells = np.zeros((gy, gx))
    for r in range(gy):
        for c in range(gx):
            y0, y1, x0, x1 = ys[r], ys[r + 1], xs[c], xs[c + 1]
            area = max(1, (y1 - y0) * (x1 - x0))
            cells[r, c] = (cs[y1, x1] - cs[y0, x1] - cs[y1, x0] + cs[y0, x0]) / area
    bits = (cells[:, 1:] > cells[:, :-1]).astype(np.uint64).reshape(-1)
    return int((bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))


def page_dhash(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, page_idx, dhash long) perceptual hashes for every page of every
    bundle — feeds the SAME pigeonhole Hamming blocking as SimHash
    (operators/dedup.simhash_near_duplicates) for image-level near-dup at
    scale: bytes stay opaque at plan level, hashing is Arrow-batched, and
    only (id, 64-bit hash) rows ever shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, blob in zip(pdf[id_col], pdf[payload_col]):
                pages, _ = decode_page_bundle(bytes(blob))
                for p_idx, img in enumerate(pages):
                    rows.append(
                        {"id": i, "page_idx": p_idx, "dhash": np.int64(np.uint64(dhash64(img)))}
                    )
            yield pd.DataFrame(rows, columns=["id", "page_idx", "dhash"])

    return df.select(id_col, payload_col).mapInPandas(run, schema="id long, page_idx int, dhash long")


def pcm_rms_windows(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    sample_rate: int = 16000,
    window_ms: int = 250,
) -> DataFrame:
    """Audio-modality features with zero codec dependencies: payloads are
    raw mono int16 PCM; each window of ``window_ms`` emits its RMS energy
    (rounded 6) — the loudness-envelope primitive for silence trimming /
    speech-segment mining. One row in -> n_windows rows out; bytes decode
    inside the Arrow batch only. Compressed formats (mp3/ogg) would slot a
    decoder in front exactly like the image path's env-gated cv2."""
    win = int(sample_rate * window_ms / 1000)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, blob in zip(pdf[id_col], pdf[payload_col]):
                pcm = np.frombuffer(bytes(blob), dtype="<i2").astype(np.float64)
                n_win = max(1, -(-len(pcm) // win)) if len(pcm) else 0
                for widx in range(n_win):
                    seg = pcm[widx * win : (widx + 1) * win]
                    rms = float(np.sqrt(np.mean(seg * seg))) if seg.size else 0.0
                    rows.append(
                        {"id": i, "window_idx": widx, "n_samples": int(seg.size),
                         "rms": round(rms, 6)}
                    )
            yield pd.DataFrame(rows, columns=["id", "window_idx", "n_samples", "rms"])

    return df.select(id_col, payload_col).mapInPandas(
        run, schema="id long, window_idx int, n_samples int, rms double"
    )

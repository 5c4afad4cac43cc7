"""Payload codecs: opaque binary page bundles + typed metadata.

A *page bundle* is the transport format for OCR-able payloads embedded in
transcript rows (the ``tool`` column carries a JSON envelope referencing
it). Multimodal columns follow the binary-plus-typed-metadata pattern: the
bytes are opaque at plan level and only decoded inside Arrow-batched UDFs.

Real-world decoders (PDF rasterization a la doctr/io/pdf.py:16-43, image
decode a la doctr/io/image/base.py:16-53) need pypdfium2 / cv2 which are
not in this container: they are gated behind import-tries and raise
NotImplementedError with a clear message, while the deterministic bundle
codec keeps the Spark-side plumbing (schema, batching, explode) real.
"""

from __future__ import annotations

import base64
import json
import struct
import zlib
from collections.abc import Iterator

import numpy as np

MAGIC = b"DSPG"  # doctr-spark page bundle
VERSION = 1
# most pixels one bundle may declare, summed over its pages: 2^24 is ~160
# rendered 640-wide pages; a header declaring more is refused before any
# page inflates
MAX_BUNDLE_PIXELS = 1 << 24


def encode_page_bundle(pages: list[np.ndarray], scale: int) -> bytes:
    """Serialize grayscale uint8 pages -> bundle bytes (zlib per page)."""
    parts = [MAGIC, struct.pack(">BHB", VERSION, len(pages), scale)]
    for page in pages:
        if page.dtype != np.uint8 or page.ndim != 2:
            raise ValueError("pages must be 2-D uint8 arrays")
        h, w = page.shape
        blob = zlib.compress(page.tobytes(), level=6)
        parts.append(struct.pack(">HHI", h, w, len(blob)))
        parts.append(blob)
    return b"".join(parts)


def _bundle_header(data: bytes) -> tuple[int, int, int]:
    """(version, n_pages, scale) of a bundle."""
    if data[:4] != MAGIC:
        raise ValueError("not a page bundle")
    if len(data) < 8:
        raise ValueError(f"bundle header cut off after {len(data)} of 8 bytes")
    return struct.unpack(">BHB", data[4:8])


def _page_headers(data: bytes, n_pages: int) -> Iterator[tuple[int, int, int, int]]:
    """(h, w, offset, blob_len) of each page in turn, read from the page
    headers alone: no pixel is inflated. A cut-off header raises
    ``ValueError`` naming its page when it is reached."""
    off = 8
    for i in range(n_pages):
        if off + 8 > len(data):
            raise ValueError(f"page {i} header cut off after {max(len(data) - off, 0)} of 8 bytes")
        h, w, blob_len = struct.unpack(">HHI", data[off : off + 8])
        yield h, w, off + 8, blob_len
        off += 8 + blob_len


def decode_page_bundle(data: bytes) -> tuple[list[np.ndarray], int]:
    """Bundle bytes -> (pages, scale).

    A bundle whose headers declare more than MAX_BUNDLE_PIXELS pixels in
    total is refused before any page inflates. Each page then inflates to
    at most its declared h*w bytes, so a stream that inflates past its
    header (a decompression bomb) is refused without allocating the
    excess; a stream that ends short of h*w bytes, or leaves input over,
    is refused too. A bundle that declares scale 0 is refused before any
    page inflates, and a header cut off inside (the bundle's, or page i's)
    raises ``ValueError`` naming it, after the pages before it."""
    version, n_pages, scale = _bundle_header(data)
    if version != VERSION:
        raise ValueError(f"unsupported bundle version {version}")
    if scale == 0:
        raise ValueError("bundle declares scale 0; a page's scale is at least 1")
    n_pixels = 0
    try:
        for h, w, _, _ in _page_headers(data, n_pages):
            n_pixels += h * w
    except ValueError:
        pass  # a cut-off header is reported below, after the pages before it
    if n_pixels > MAX_BUNDLE_PIXELS:
        raise ValueError(f"bundle declares {n_pixels} pixels, over the {MAX_BUNDLE_PIXELS} cap")
    pages = []
    for i, (h, w, off, blob_len) in enumerate(_page_headers(data, n_pages)):
        inflate = zlib.decompressobj()
        # max_length=0 means no limit, so a 0-pixel page is capped at 1 byte;
        # input cut off by the cap stays unread, so eof is False
        raw = inflate.decompress(data[off : off + blob_len], max(h * w, 1))
        if len(raw) != h * w or not inflate.eof or inflate.unused_data:
            raise ValueError(f"page {i}: zlib stream does not inflate to exactly {h}x{w} bytes")
        pages.append(np.frombuffer(raw, dtype=np.uint8).reshape(h, w))
    return pages, scale


def bundle_meta(data: bytes) -> dict:
    """Cheap metadata peek without decompressing pixels."""
    version, n_pages, scale = _bundle_header(data)
    dims = [(h, w) for h, w, _, _ in _page_headers(data, n_pages)]
    return {"version": version, "n_pages": n_pages, "scale": scale, "dims": dims, "n_bytes": len(data)}


def tool_envelope(kind: str, payload: bytes) -> str:
    """JSON envelope stored in the transcript ``tool`` column."""
    return json.dumps({"kind": kind, "b64": base64.b64encode(payload).decode("ascii")})


def parse_tool_envelope(tool: str) -> tuple[str, bytes] | None:
    """Inverse of tool_envelope; None when the column holds no payload."""
    if not tool or not tool.startswith("{"):
        return None
    try:
        obj = json.loads(tool)
    except json.JSONDecodeError:
        return None
    if not isinstance(obj, dict) or "kind" not in obj or "b64" not in obj:
        return None
    return obj["kind"], base64.b64decode(obj["b64"])


# ----------------------------------------------------- real-world decoders


def read_pdf_pages(
    pdf_bytes: bytes,
    scale: float = 2.0,
    rgb_mode: bool = True,
    password: str | None = None,
) -> list[np.ndarray]:
    """PDF bytes -> list of (H, W, 3) uint8 page rasters.

    Mirrors the reference's ``read_pdf`` (io/pdf.py:16-43): pypdfium2
    render at ``scale`` (1 = 72 dpi; the default 2 = 144 dpi),
    ``rev_byteorder`` for RGB output, document closed after render. Like an
    oversized page bundle, a document whose pages would render to more than
    MAX_BUNDLE_PIXELS pixels in total (each page's size in points times
    ``scale`` on both axes) is refused before any page renders. Gated:
    pypdfium2 is not in this container, so the call raises
    NotImplementedError there — tests exercise the wiring with a stub
    module and skip the real path when the import fails."""
    try:
        import pypdfium2 as pdfium
    except ImportError as exc:
        raise NotImplementedError(
            "real PDF rasterization requires pypdfium2, which is not installed; "
            "use deterministic page bundles (encode_page_bundle) instead"
        ) from exc
    pdf = pdfium.PdfDocument(pdf_bytes, password=password)
    try:
        pages = list(pdf)
        n_pixels = sum((w * scale) * (h * scale) for w, h in (page.get_size() for page in pages))
        if n_pixels > MAX_BUNDLE_PIXELS:
            raise ValueError(f"document renders to {n_pixels:.0f} pixels, over the {MAX_BUNDLE_PIXELS} cap")
        # copy: to_numpy() can alias the PdfBitmap's buffer, which is freed
        # when the bitmap is GC'd / the document closes below — returned
        # arrays must own their pixels
        return [
            np.array(page.render(scale=scale, rev_byteorder=rgb_mode).to_numpy(), copy=True)
            for page in pages
        ]
    finally:
        pdf.close()


def read_image(
    img_bytes: bytes,
    output_size: tuple[int, int] | None = None,
    rgb_output: bool = True,
) -> np.ndarray:
    """Encoded image bytes -> (H, W, 3) uint8 array.

    Mirrors the reference's ``read_img_as_numpy`` (io/image/base.py:16-53):
    cv2.imdecode in BGR, optional bilinear resize to ``output_size``
    (H, W), optional BGR->RGB swap. Like an oversized page bundle, an
    image whose PNG or JPEG header declares more than MAX_BUNDLE_PIXELS
    pixels is refused before it decodes, and so is an ``output_size``
    over the cap; an image of another format is refused after decoding
    when it holds more. Gated: cv2 is not in this container."""
    try:
        import cv2
    except ImportError as exc:
        raise NotImplementedError(
            "image decoding requires cv2, which is not installed; "
            "use deterministic page bundles (encode_page_bundle) instead"
        ) from exc
    if isinstance(output_size, tuple) and output_size[0] * output_size[1] > MAX_BUNDLE_PIXELS:
        raise ValueError(f"output size {output_size} is over the {MAX_BUNDLE_PIXELS} pixel cap")
    _check_pixels(_declared_pixels(img_bytes), "image declares")
    img = cv2.imdecode(np.frombuffer(img_bytes, np.uint8), cv2.IMREAD_COLOR)
    if img is None:
        raise ValueError("unable to read file.")
    _check_pixels(img.shape[0] * img.shape[1], "image decodes to")
    if isinstance(output_size, tuple):
        img = cv2.resize(img, output_size[::-1], interpolation=cv2.INTER_LINEAR)
    if rgb_output:
        img = cv2.cvtColor(img, cv2.COLOR_BGR2RGB)
    return img


def _check_pixels(n_pixels: int | None, what: str) -> None:
    if n_pixels is not None and n_pixels > MAX_BUNDLE_PIXELS:
        raise ValueError(f"{what} {n_pixels} pixels, over the {MAX_BUNDLE_PIXELS} cap")


_PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
# JPEG markers without a length field: TEM, RST0-7, SOI
_JPEG_STANDALONE = {0x01, *range(0xD0, 0xD9)}
# start-of-frame markers (SOF0-SOF15 but DHT, JPG and DAC), whose segment
# holds the frame's height and width
_JPEG_SOF = set(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _declared_pixels(data: bytes) -> int | None:
    """Width x height that a PNG (IHDR) or JPEG (SOFn) header declares,
    read without decoding; None for other formats or a cut-off header."""
    if data[:8] == _PNG_SIGNATURE and data[12:16] == b"IHDR" and len(data) >= 24:
        width, height = struct.unpack(">II", data[16:24])
        return width * height
    if data[:2] != b"\xff\xd8":
        return None
    off = 2
    while off + 4 <= len(data) and data[off] == 0xFF:
        marker = data[off + 1]
        if marker == 0xFF:  # fill byte
            off += 1
        elif marker in _JPEG_STANDALONE:
            off += 2
        elif marker in _JPEG_SOF:
            if off + 9 > len(data):
                return None
            height, width = struct.unpack(">HH", data[off + 5 : off + 9])
            return width * height
        elif marker in (0xD9, 0xDA):  # end of image or start of scan: no frame header
            return None
        else:
            off += 2 + struct.unpack(">H", data[off + 2 : off + 4])[0]
    return None


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """(H, W, 3) RGB -> (H, W) uint8 via ITU-R 601 luma; 2-D passthrough.
    Bridges the real decoders (RGB rasters) into the grayscale OCR
    pipeline."""
    if img.ndim == 2:
        return img.astype(np.uint8, copy=False)
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    return np.clip(0.299 * r + 0.587 * g + 0.114 * b, 0, 255).astype(np.uint8)

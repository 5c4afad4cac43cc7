"""Kernel parity: the fused stage's ``_extract_batch`` output of two
checkouts over the same cached perfbench inputs.

Usage:
    python scripts/kernel_parity.py run CHECKOUT OUT.pkl [--inputs DIR]
    python scripts/kernel_parity.py compare A.pkl B.pkl

``run`` imports ``doctr_spark`` from CHECKOUT and runs
``plans.pipeline._extract_batch`` in batches of 1,000 rows, with kie off
and with kie on, over seven inputs, so every model path and every route is
covered:

- ``mixed``: the first file of the first ``mixed`` input, default models;
- ``ocr_onnx``: every file of the first ``ocr_onnx`` input, through the
  committed ``.onnx`` detector and recognizer (built as
  ``perfbench/child.py:model_args`` builds them);
- ``every_route``: the first 60 rows of the ``mixed`` file with a bad row
  of each kind after every tenth: a bundle of an unknown version, a
  multi-page bundle cut inside page 0, ``pdf`` and ``image`` envelopes
  over stub bytes, an envelope whose ``b64`` does not decode, and empty
  and null text;
- ``ocr_chunks``: every page-bundle row of the ``mixed`` file as one batch,
  whose pages span many of the fused stage's detection chunks;
- ``cut_cells``: the same rows through ``cut_cells_detector``, which trims
  every other default box to one pixel inside its ink on each side, so
  those crops cut inked cells and the artefact gate and the recognizer
  take their pixel paths on an aligned page. (Shrinking a default box by
  a pixel would not do it: its dilation and unclip margin keeps at least
  three blank cells around the ink.)
- ``upright``: the first 40 page-bundle rows of the ``mixed`` file, every
  other one re-encoded with its pages turned one, two or three quarter
  turns, run with ``detect_orientation=True, straighten_pages=True``;
- ``html``: the HTML rows of the ``mixed`` file, then one row per markup
  construct in ``HTML_CONSTRUCTS`` (the kinds the HTML differential test
  draws), each inside a paragraph, so that the regex fast path, the
  ``HTMLParser`` fallback and each of its triggers run.

The extra rows are built from the cached input with the standard library
and ``np.rot90`` only, and the detector with numpy only, so both
checkouts see the same bytes and boxes. It pickles the fourteen frames,
keyed ``(input, kie)``, to OUT. ``compare``
checks that two such files hold the same keys and, per key, frames that
``DataFrame.equals`` each other with the same column order and dtypes; it
prints one line per key and exits 1 on any difference.

The inputs are perfbench's cache, ``.perfbench/inputs`` under the working
directory unless ``--inputs`` names another; one ``perfbench/run.py`` run of
each workload makes them.
"""

from __future__ import annotations

import argparse
import base64
import glob
import json
import os
import pickle
import struct
import sys
import zlib

BATCH_ROWS = 1000
# markup the HTML fast path models, then forms that send a document to the
# HTMLParser fallback
HTML_CONSTRUCTS = [
    "plain words", "Fish &amp; chips &copy; &#65;&#x42; &amp &nbsp;x", "a > b", "<!-- note -->x", "<!-- a -- >x",
    "<br/>x<br />y", "<BR>x</P >", "<span class=x/>x", '<span class="a>b" id=\'q\' disabled>x</span>',
    '<span a = "b" x=&amp;>x</span>', "<script>var a='<p>';</script>x", "<style>p{}</style>x",
    "<script src=x/>t</script>x", "<SCRIPT>a</script >x", "<script/>x", "<STYLE>a</Style\n>x",
    "<nav>hidden</nav>x", "<li>one<li>two", "<div class=x/>b", "<td>a</td><th>b</th>",
    "a < b", "a<1b", "<!DOCTYPE html>x", "<![CDATA[x]]>y", "<?pi x?>y", "</>x", "</ div>x", "</div x>y",
    "<br / >x", "<script>unterminated", '<span b="c"d=e>x</span>', "<span a==b>x</span>", "<span a=>x</span>",
    "<span \xa0b=1>x</span>", "<\u017fcript>x</\u017fcript>", "<!-- unterminated",
]


def _input_files(inputs: str, workload: str) -> list[str]:
    dirs = sorted(glob.glob(os.path.join(inputs, f"{workload}-*")))
    files = sorted(glob.glob(os.path.join(dirs[0], "input", "*.parquet"))) if dirs else []
    if not files:
        sys.exit(f"no cached {workload} input under {inputs}; run perfbench/run.py --workload {workload}")
    return files[:1] if workload == "mixed" else files


def _envelope(kind: str, payload: bytes) -> str:
    return json.dumps({"kind": kind, "b64": base64.b64encode(payload).decode("ascii")})


def _bundle(tool) -> bytes | None:
    """The bundle bytes of a page-bundle envelope, else None."""
    if not tool or not tool.startswith("{"):
        return None
    env = json.loads(tool)
    return base64.b64decode(env["b64"]) if env.get("kind") == "page_bundle" else None


def _every_route(mixed):
    """The first 60 ``mixed`` rows with a bad row of each kind after every
    tenth (see the module docstring)."""
    import pandas as pd

    bundles = [b for b in map(_bundle, mixed["tool"]) if b is not None]
    two_pages = next(b for b in bundles if struct.unpack(">BHB", b[4:8])[1] > 1)
    tools = [
        _envelope("page_bundle", b"DSPG" + struct.pack(">BHB", 99, 1, 3)),
        _envelope("page_bundle", two_pages[: 8 + 8 + 20]),
        _envelope("pdf", b"%PDF-stub"),
        _envelope("image", b"\x89PNG-stub"),
        json.dumps({"kind": "page_bundle", "b64": "abc"}),
        None,
    ]
    texts = ["[attachment]"] * 5 + [""]
    bad = [
        {"conv_id": "conv-bad", "turn_idx": i, "role": "tool", "text": text, "tool": tool, "ts": mixed["ts"].iloc[0]}
        for i, (tool, text) in enumerate(zip(tools, texts))
    ]
    bad.append(dict(bad[-1], turn_idx=len(bad), text=None))
    rows = mixed.iloc[:60].to_dict("records")
    for at in range(len(bad), 0, -1):
        rows.insert(10 * at, bad[at - 1])
    return pd.DataFrame(rows, columns=list(mixed.columns))


def _quarter_turned(tool: str, k: int) -> str:
    """A page-bundle envelope re-encoded with each page turned ``k``
    quarter turns (``np.rot90``), in the bundle layout: the 8-byte header,
    then per page ``>HHI`` (h, w, blob length) and its zlib stream."""
    import numpy as np

    data = _bundle(tool)
    parts, off = [data[:8]], 8
    for _ in range(struct.unpack(">BHB", data[4:8])[1]):
        h, w, n = struct.unpack(">HHI", data[off : off + 8])
        page = np.frombuffer(zlib.decompress(data[off + 8 : off + 8 + n]), np.uint8).reshape(h, w)
        turned = np.ascontiguousarray(np.rot90(page, k))
        blob = zlib.compress(turned.tobytes(), 6)
        parts += [struct.pack(">HHI", *turned.shape, len(blob)), blob]
        off += 8 + n
    return _envelope("page_bundle", b"".join(parts))


def _upright(bundles):
    """The first 40 page-bundle rows, every other one quarter-turned."""
    rows = bundles.iloc[:40].copy()
    rows["tool"] = [_quarter_turned(t, 1 + i // 2 % 3) if i % 2 else t for i, t in enumerate(rows["tool"])]
    return rows


def cut_cells_detector(page, scale):
    """The default detector's boxes, every other one trimmed to one pixel
    inside its ink extent on each side (see the module docstring)."""
    import numpy as np

    from doctr_spark.operators.detection import ink_word_boxes

    boxes = ink_word_boxes(page, scale).copy()
    h, w = page.shape[:2]
    for box in boxes[::2]:
        x0, y0, x1, y1 = np.round(box[:4] * [w, h, w, h]).astype(np.int64).tolist()
        ys, xs = np.nonzero(page[y0:y1, x0:x1] < 128)
        if len(ys):
            box[:4] = [(x0 + xs.min() + 1) / w, (y0 + ys.min() + 1) / h, (x0 + xs.max()) / w, (y0 + ys.max()) / h]
    return boxes


def _html(mixed):
    """The HTML rows of the ``mixed`` file, then one row per construct."""
    import pandas as pd

    rows = mixed[[isinstance(t, str) and t.startswith("<") and not tool for t, tool in zip(mixed["text"], mixed["tool"])]]
    extra = [
        dict(rows.iloc[0], conv_id="conv-html", turn_idx=i, text=f"<div><p>{construct}</p></div>")
        for i, construct in enumerate(HTML_CONSTRUCTS)
    ]
    return pd.concat([rows, pd.DataFrame(extra, columns=list(mixed.columns))], ignore_index=True)


def run(checkout: str, out: str, inputs: str) -> None:
    sys.path.insert(0, os.path.abspath(checkout))
    import pandas as pd

    from doctr_spark.operators.detection import INK_MODEL_POSTPROC
    from doctr_spark.plans.models import onnx_detector, onnx_recognizer, resolve_model
    from doctr_spark.plans.onnx_export import ONNX_DET_PATH, ONNX_RECO_PATH
    from doctr_spark.plans.pipeline import _extract_batch

    onnx = {
        "detector": resolve_model(*onnx_detector(ONNX_DET_PATH, postproc=INK_MODEL_POSTPROC)),
        "recognizer": resolve_model(*onnx_recognizer(ONNX_RECO_PATH)),
    }
    mixed = pd.read_parquet(_input_files(inputs, "mixed")[0])
    bundles = mixed[[_bundle(t) is not None for t in mixed["tool"]]].reset_index(drop=True)
    batches = {
        "mixed": (mixed, {}),
        "ocr_onnx": (pd.concat([pd.read_parquet(f) for f in _input_files(inputs, "ocr_onnx")], ignore_index=True), onnx),
        "every_route": (_every_route(mixed), {}),
        "ocr_chunks": (bundles, {}),
        "cut_cells": (bundles, {"detector": cut_cells_detector}),
        "upright": (_upright(bundles), {"detect_orientation": True, "straighten_pages": True}),
        "html": (_html(mixed), {}),
    }
    frames = {}
    for name, (pdf, options) in batches.items():
        for kie in (False, True):
            frames[name, kie] = pd.concat(
                [
                    _extract_batch(pdf.iloc[i : i + BATCH_ROWS].reset_index(drop=True), kie=kie, **options)
                    for i in range(0, len(pdf), BATCH_ROWS)
                ],
                ignore_index=True,
            )
    with open(out, "wb") as fh:
        pickle.dump(frames, fh)
    print({k: v.shape for k, v in frames.items()})


def compare(a_path: str, b_path: str) -> int:
    with open(a_path, "rb") as fh:
        a = pickle.load(fh)
    with open(b_path, "rb") as fh:
        b = pickle.load(fh)
    if a.keys() != b.keys():
        print(f"DIFF keys: {sorted(a)} vs {sorted(b)}")
        return 1
    failed = 0
    for k in a:
        same = (
            list(a[k].columns) == list(b[k].columns)
            and (a[k].dtypes == b[k].dtypes).all()
            and a[k].equals(b[k])
        )
        failed += not same
        print(f"{'OK' if same else 'DIFF'} {k}: {a[k].shape} vs {b[k].shape}")
    print("kernel parity OK" if not failed else f"kernel parity FAILED on {failed} of {len(a)}")
    return int(bool(failed))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run _extract_batch from CHECKOUT and pickle the frames to OUT")
    r.add_argument("checkout")
    r.add_argument("out")
    r.add_argument("--inputs", default=os.path.join(".perfbench", "inputs"))
    c = sub.add_parser("compare", help="compare two files written by run")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args.checkout, args.out, args.inputs)
        return 0
    return compare(args.a, args.b)


if __name__ == "__main__":
    sys.exit(main())

"""Kernel parity: the fused stage's ``_extract_batch`` output of two
checkouts over the same cached perfbench inputs.

Usage:
    python scripts/kernel_parity.py run CHECKOUT OUT.pkl [--inputs DIR]
    python scripts/kernel_parity.py compare A.pkl B.pkl

``run`` imports ``doctr_spark`` from CHECKOUT and runs
``plans.pipeline._extract_batch`` in batches of 1,000 rows, with kie off
and with kie on, over two inputs, so every model path is covered:

- ``mixed``: the first file of the first ``mixed`` input, default models;
- ``ocr_onnx``: every file of the first ``ocr_onnx`` input, through the
  committed ``.onnx`` detector and recognizer (built as
  ``perfbench/child.py:model_args`` builds them).

It pickles the four frames, keyed ``(input, kie)``, to OUT. ``compare``
checks that two such files hold the same keys and, per key, frames that
``DataFrame.equals`` each other with the same column order and dtypes; it
prints one line per key and exits 1 on any difference.

The inputs are perfbench's cache, ``.perfbench/inputs`` under the working
directory unless ``--inputs`` names another; one ``perfbench/run.py`` run of
each workload makes them.
"""

from __future__ import annotations

import argparse
import glob
import os
import pickle
import sys

BATCH_ROWS = 1000


def _input_files(inputs: str, workload: str) -> list[str]:
    dirs = sorted(glob.glob(os.path.join(inputs, f"{workload}-*")))
    files = sorted(glob.glob(os.path.join(dirs[0], "input", "*.parquet"))) if dirs else []
    if not files:
        sys.exit(f"no cached {workload} input under {inputs}; run perfbench/run.py --workload {workload}")
    return files[:1] if workload == "mixed" else files


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
    frames = {}
    for name, models in (("mixed", {}), ("ocr_onnx", onnx)):
        pdf = pd.concat([pd.read_parquet(f) for f in _input_files(inputs, name)], ignore_index=True)
        for kie in (False, True):
            frames[name, kie] = pd.concat(
                [
                    _extract_batch(pdf.iloc[i : i + BATCH_ROWS].reset_index(drop=True), kie=kie, **models)
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

"""Per-layer self time of the fused stage's kernel, on the path it runs.

Usage (from a checkout root; it measures that checkout):
    python scripts/kernel_layers.py [--inputs DIR] [--passes N]

Runs ``plans.pipeline._extract_batch`` with the default models over the
first file of the first cached ``mixed`` input (``.perfbench/inputs``
unless ``--inputs`` names another cache; any ``perfbench/run.py --workload
mixed`` run makes one), in 1024-row batches as one Python worker receives
them, after one untimed warm-up pass. Then it runs N untraced and N
traced passes, alternately.

The traced passes time layers from outside with ``perfbench/kernel.py``'s
``Tracer`` (that file is imported, not changed): its ``WRAPPED`` module
attributes, plus ``_page_mask`` (the page raster), ``_ink_gate`` (the
artefact gate) and ``to_absolute``. The detector and recognizer wrappers
forward the detector's ``batch`` and the recognizer's ``cells`` entries,
each with ``single`` set to the wrapper, so the traced passes take the
chunk path the stage takes (``plans/pipeline.py:_model_entry``).

Prints one JSON line: the median untraced pass, the median traced pass,
every pass, and the median self time in ms of each layer per pass
(``assemble.batch`` is ``_extract_batch``'s own time).
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import statistics
import sys
import time

sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "perfbench")]

from kernel import ROOT_SPAN, WRAPPED, Tracer  # noqa: E402  (perfbench/kernel.py)

BATCH_ROWS = 1024
LAYERS = {
    **WRAPPED,
    "raster": ("doctr_spark.plans.pipeline", "_page_mask"),
    "gate.ink": ("doctr_spark.plans.pipeline", "_ink_gate"),
    "to_absolute": ("doctr_spark.plans.pipeline", "to_absolute"),
}


def traced_models(tracer: Tracer, det, rec):
    """Wrappers of the detector and recognizer that keep their batch
    entries: ``batch`` and ``cells`` forward under the model's span."""
    tdet, trec = tracer.wrap("detection", det), tracer.wrap("recognition", rec)
    tdet.batch = tracer.wrap("detection", det.batch)
    tdet.batch.single = tdet
    trec.cells = tracer.wrap("recognition", rec.cells)
    trec.cells.single = trec
    return tdet, trec


def install(tracer: Tracer):
    """Replace every ``LAYERS`` attribute by its wrapper; returns a function
    that puts the originals back."""
    saved = []
    for name, (module, attr) in LAYERS.items():
        owner = importlib.import_module(module)
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        saved.append((owner, leaf, getattr(owner, leaf)))
        setattr(owner, leaf, tracer.wrap(name, getattr(owner, leaf)))
    return lambda: [setattr(owner, leaf, original) for owner, leaf, original in saved]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--inputs", default=os.path.join(".perfbench", "inputs"))
    ap.add_argument("--passes", type=int, default=7)
    args = ap.parse_args()
    import pandas as pd

    from doctr_spark.plans import pipeline
    from doctr_spark.plans.models import DEFAULT_DETECTOR, DEFAULT_RECOGNIZER, resolve_model

    files = sorted(glob.glob(os.path.join(args.inputs, "mixed-*", "input", "*.parquet")))
    if not files:
        sys.exit(f"no cached mixed input under {args.inputs}; run perfbench/run.py --workload mixed")
    pdf = pd.read_parquet(files[0])
    batches = [pdf.iloc[i : i + BATCH_ROWS].reset_index(drop=True) for i in range(0, len(pdf), BATCH_ROWS)]
    det, rec = resolve_model(*DEFAULT_DETECTOR), resolve_model(*DEFAULT_RECOGNIZER)

    def run_pass(extract, detector, recognizer) -> float:
        t0 = time.perf_counter()
        for b in batches:
            extract(b, detector=detector, recognizer=recognizer)
        return time.perf_counter() - t0

    run_pass(pipeline._extract_batch, det, rec)  # warm-up: fills the models' memos
    untraced, traced, self_s = [], [], []
    for _ in range(args.passes):
        untraced.append(run_pass(pipeline._extract_batch, det, rec))
        tracer = Tracer()
        restore = install(tracer)
        try:
            traced.append(run_pass(tracer.wrap(ROOT_SPAN, pipeline._extract_batch), *traced_models(tracer, det, rec)))
        finally:
            restore()
        self_s.append(tracer.self_times())
    names = sorted({name for s in self_s for name in s})
    print(json.dumps({
        "input": files[0],
        "turns": len(pdf),
        "passes": args.passes,
        "untraced_s": statistics.median(untraced),
        "traced_s": statistics.median(traced),
        "untraced_passes_s": untraced,
        "traced_passes_s": traced,
        "self_ms": {name: 1e3 * statistics.median(s.get(name, 0.0) for s in self_s) for name in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

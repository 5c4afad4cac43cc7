"""Single-process kernel passes of the traced run, outside Spark.

    python3 perfbench/kernel.py spans  WORKLOAD INPUT_DIR OUT
    python3 perfbench/kernel.py counts WORKLOAD INPUT_DIR OUT

Both run ``plans.pipeline._extract_batch`` over the first input file (the
share one Python worker gets in a pass) in batches of the session's Arrow
batch size, after one untimed warm-up pass over the same file that fills the
models' memos as a Spark worker's earlier passes would. Layers are timed
from outside: the module attributes in ``WRAPPED`` and the detector and
recognizer (passed through the ``ModelLoader`` seam) are replaced by
wrappers that record spans in memory: name, start, end and parent.

``spans`` runs ``PASSES`` untraced and ``PASSES`` traced passes, alternately,
checks that every traced pass gives output bit-equal to the untraced
warm-up pass, and writes the median pass times, the median self time per
layer and the items each layer handled in one pass. ``counts`` runs one
traced pass with ``sys.setprofile`` counting every ``call`` and ``c_call``
event against the innermost open span; it is run in a fresh process each
time, so that no memo warmed by an earlier pass changes the counts.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import statistics
import sys
import time

from common import ARROW_BATCH, require_program

# span name -> (module, attribute) replaced by a timing wrapper
WRAPPED = {
    "payloads.envelope": ("doctr_spark.plans.pipeline", "parse_tool_envelope"),
    "payloads.decode": ("doctr_spark.plans.pipeline", "decode_page_bundle"),
    "gate.ocr": ("doctr_spark.plans.pipeline", "extract_pages_ocr"),
    "gate.crops": ("doctr_spark.plans.pipeline", "extract_crops"),
    "gate.classify": ("doctr_spark.operators.artefacts", "classify_artefact"),
    "builder": ("doctr_spark.plans.pipeline", "build_page"),
    "html": ("doctr_spark.plans.pipeline", "extract_main_text"),
    "assemble.row": ("doctr_spark.plans.pipeline", "_turn_row"),
    "onnx_exec": ("doctr_spark.plans.onnx_exec", "NumpySession.run"),
}
ROOT_SPAN = "assemble.batch"  # one _extract_batch call
PASSES = 5  # untraced and traced passes of ``spans``, alternated


class Tracer:
    """Spans kept in memory; ``items`` counts what each layer handled."""

    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent index]
        self.stack: list[int] = []
        self.items: dict[str, int] = {}
        self.words: set[str] = set()

    def wrap(self, name: str, fn, count=None):
        spans, stack, items = self.spans, self.stack, self.items
        clock = time.perf_counter

        def traced(*args, **kwargs):
            idx = len(spans)
            spans.append([name, clock(), 0.0, stack[-1] if stack else -1])
            stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                stack.pop()
                spans[idx][2] = clock()
            items[name] = items.get(name, 0) + (count(args, result) if count else 1)
            return result

        return traced

    def current(self) -> str:
        return self.spans[self.stack[-1]][0] if self.stack else "outside"

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, start, end, parent in self.spans:
            dur = end - start
            out[name] = out.get(name, 0.0) + dur
            if parent >= 0:
                pname = self.spans[parent][0]
                out[pname] = out.get(pname, 0.0) - dur
        return out


def load_models(workload: str):
    """Resolve the workload's detector and recognizer through their
    ``ModelLoader`` pairs, as each Spark worker does."""
    from child import model_args
    from doctr_spark.plans.models import DEFAULT_DETECTOR, DEFAULT_RECOGNIZER, resolve_model

    loaders = {"detector": DEFAULT_DETECTOR, "recognizer": DEFAULT_RECOGNIZER, **model_args(workload)}
    return resolve_model(*loaders["detector"]), resolve_model(*loaders["recognizer"])


def read_batches(input_dir: str):
    import pandas as pd

    first = sorted(glob.glob(os.path.join(input_dir, "input", "*.parquet")))[0]
    pdf = pd.read_parquet(first)
    return [pdf.iloc[i : i + ARROW_BATCH].reset_index(drop=True) for i in range(0, len(pdf), ARROW_BATCH)]


def install(tracer: Tracer, det, rec):
    """Replace the wrapped attributes; returns the traced models and a
    function that puts the originals back."""
    saved = []
    for name, (module, attr) in WRAPPED.items():
        owner = importlib.import_module(module)
        path = attr.split(".")
        for part in path[:-1]:
            owner = getattr(owner, part)
        original = getattr(owner, path[-1])
        saved.append((owner, path[-1], original))
        setattr(owner, path[-1], tracer.wrap(name, original))

    def recognized(args, result):
        tracer.words.update(text for text, _ in result)
        return len(args[0])

    traced_det = tracer.wrap("detection", det, count=lambda args, result: len(result))
    traced_rec = tracer.wrap("recognition", rec, count=recognized)

    def restore():
        for owner, attr, original in saved:
            setattr(owner, attr, original)

    return traced_det, traced_rec, restore


def run_pass(batches, det, rec, extract):
    import pandas as pd

    t0 = time.perf_counter()
    outs = [extract(b, detector=det, recognizer=rec) for b in batches]
    return time.perf_counter() - t0, pd.concat(outs, ignore_index=True)


def spans_mode(workload: str, input_dir: str) -> dict:
    from doctr_spark.plans import pipeline

    det, rec = load_models(workload)
    batches = read_batches(input_dir)
    _, plain_out = run_pass(batches, det, rec, pipeline._extract_batch)
    plain_s, traced_s, self_s, bit_equal = [], [], [], True
    for _ in range(PASSES):
        plain_s.append(run_pass(batches, det, rec, pipeline._extract_batch)[0])
        tracer = Tracer()
        tdet, trec, restore = install(tracer, det, rec)
        try:
            seconds, traced_out = run_pass(batches, tdet, trec, tracer.wrap(ROOT_SPAN, pipeline._extract_batch))
        finally:
            restore()
        traced_s.append(seconds)
        self_s.append(tracer.self_times())
        bit_equal = bit_equal and plain_out.equals(traced_out)
    return {
        "turns": len(plain_out),
        "ocr_turns": int((plain_out["payload_kind"] == "ocr").sum()),
        "pages": int(plain_out["n_pages"].sum()),
        "untraced_s": statistics.median(plain_s),
        "traced_s": statistics.median(traced_s),
        "passes": {"untraced_s": plain_s, "traced_s": traced_s},
        "bit_equal": bit_equal,
        "self_s": {name: statistics.median(s[name] for s in self_s) for name in self_s[0]},
        "items": tracer.items,
        "distinct_words": len(tracer.words),
        "output": plain_out[["conv_id", "turn_idx", "payload_kind", "extracted_text"]].to_dict("list"),
    }


def counts_mode(workload: str, input_dir: str) -> dict:
    from doctr_spark.plans import pipeline

    det, rec = load_models(workload)
    batches = read_batches(input_dir)
    run_pass(batches, det, rec, pipeline._extract_batch)
    tracer = Tracer()
    tdet, trec, restore = install(tracer, det, rec)
    root = tracer.wrap(ROOT_SPAN, pipeline._extract_batch)
    counts: dict[str, int] = {}

    def profile(frame, event, arg):
        if event == "call" or event == "c_call":
            name = tracer.current()
            counts[name] = counts.get(name, 0) + 1

    sys.setprofile(profile)
    try:
        for b in batches:
            root(b, detector=tdet, recognizer=trec)
    finally:
        sys.setprofile(None)
        restore()
    counts.pop("outside", None)
    return {"calls": counts, "items": tracer.items}


def main() -> None:
    mode, workload, input_dir, out_json = sys.argv[1:5]
    require_program()
    result = spans_mode(workload, input_dir) if mode == "spans" else counts_mode(workload, input_dir)
    with open(out_json, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()

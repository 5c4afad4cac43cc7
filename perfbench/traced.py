"""The traced run: per-layer metrics of one workload, measured separately
from the timed runs so that end-to-end numbers are taken with tracing off.

(a) spans over a single-process kernel pass, (b) call counts from two
counted passes in fresh processes with different PYTHONHASHSEED values,
(c) four Spark jobs in one session. See perfbench/README.md for every
metric's definition.
"""

from __future__ import annotations

import os
import statistics

from common import NPROC, run_child
from kernel import ROOT_SPAN

# per-layer metric -> unit, in the order they are printed
PER_LAYER_UNITS = {
    "payloads.envelope_us_per_turn": "us",
    "payloads.decode_ms_per_page": "ms",
    "payloads.pages_per_ocr_turn": "count",
    "detection.ms_per_page": "ms",
    "detection.calls_per_page": "count",
    "detection.boxes_per_page": "count",
    "gate.ms_per_page": "ms",
    "gate.calls_per_page": "count",
    "recognition.us_per_crop": "us",
    "recognition.calls_per_crop": "count",
    "recognition.crops_per_page": "count",
    "recognition.distinct_word_ratio": "ratio",
    "builder.ms_per_page": "ms",
    "builder.calls_per_page": "count",
    "onnx_exec.ms_per_run": "ms",
    "onnx_exec.runs_per_page": "count",
    "onnx_exec.kernel_share": "ratio",
    "html.us_per_turn": "us",
    "html.calls_per_turn": "count",
    "assemble.us_per_turn": "us",
    "assemble.calls_per_turn": "count",
    "scan.ms_per_kturn": "ms",
    "arrow.ms_per_kturn": "ms",
    "checkpoint.ms_per_kturn": "ms",
    "checkpoint.bytes_per_turn": "B",
    "checkpoint.files": "count",
    "kernel.turns_per_sec": "1/s",
    "kernel.span_coverage": "ratio",
    "kernel.trace_overhead": "ratio",
    "spark.per_core_efficiency": "ratio",
    "spark.worker_cpu_share": "ratio",
    "spark.driver_peak_rss_mb": "MB",
    "spark.tasks_per_pass": "count",
}
GATE = ("gate.ocr", "gate.crops", "gate.classify")
ASSEMBLE = (ROOT_SPAN, "assemble.row")
MIN_SPAN_COVERAGE = 0.95


def per(value: float, base: float) -> float:
    """``value / base``; 0.0 when the layer had no work on this workload."""
    return value / base if base else 0.0


def span_coverage(spans: dict) -> float:
    """Share of traced kernel time spent in the named layers below the root
    span: work that no wrapper covers lands in the root's self time."""
    return 1.0 - spans["self_s"][ROOT_SPAN] / spans["traced_s"]


def layer_metrics(spans: dict, calls: dict, spark: dict) -> dict:
    self_s, items = spans["self_s"], spans["items"]
    t = lambda *names: sum(self_s.get(n, 0.0) for n in names)  # noqa: E731
    c = lambda *names: sum(calls.get(n, 0) for n in names)  # noqa: E731
    pages = spans["pages"]
    crops = items.get("recognition", 0)
    kturns = spark["turns"] / 1000.0
    spark_tps = spark["turns"] / spark["extract_s"]
    kernel_tps = spans["turns"] / spans["untraced_s"]
    ckpt = "checkpointed_s" in spark  # no checkpointed job on a workload with other models
    return {
        "payloads.envelope_us_per_turn": per(t("payloads.envelope") * 1e6, items.get("payloads.envelope", 0)),
        "payloads.decode_ms_per_page": per(t("payloads.decode") * 1e3, pages),
        "payloads.pages_per_ocr_turn": per(pages, spans["ocr_turns"]),
        "detection.ms_per_page": per(t("detection") * 1e3, pages),
        "detection.calls_per_page": per(c("detection"), pages),
        "detection.boxes_per_page": per(items.get("detection", 0), pages),
        "gate.ms_per_page": per(t(*GATE) * 1e3, pages),
        "gate.calls_per_page": per(c(*GATE), pages),
        "recognition.us_per_crop": per(t("recognition") * 1e6, crops),
        "recognition.calls_per_crop": per(c("recognition"), crops),
        "recognition.crops_per_page": per(crops, pages),
        "recognition.distinct_word_ratio": per(spans["distinct_words"], crops),
        "builder.ms_per_page": per(t("builder") * 1e3, pages),
        "builder.calls_per_page": per(c("builder"), pages),
        "onnx_exec.ms_per_run": per(t("onnx_exec") * 1e3, items.get("onnx_exec", 0)),
        "onnx_exec.runs_per_page": per(items.get("onnx_exec", 0), pages),
        "onnx_exec.kernel_share": t("onnx_exec") / spans["traced_s"],
        "html.us_per_turn": per(t("html") * 1e6, items.get("html", 0)),
        "html.calls_per_turn": per(c("html"), items.get("html", 0)),
        "assemble.us_per_turn": per(t(*ASSEMBLE) * 1e6, spans["turns"]),
        "assemble.calls_per_turn": per(c(*ASSEMBLE), spans["turns"]),
        "scan.ms_per_kturn": spark["scan_s"] * 1e3 / kturns,
        "arrow.ms_per_kturn": (spark["identity_s"] - spark["scan_s"]) * 1e3 / kturns,
        "checkpoint.ms_per_kturn": (spark["checkpointed_s"] - spark["extract_s"]) * 1e3 / kturns if ckpt else 0.0,
        "checkpoint.bytes_per_turn": spark.get("checkpoint_bytes", 0) / spark["turns"],
        "checkpoint.files": spark.get("checkpoint_files", 0),
        "kernel.turns_per_sec": kernel_tps,
        "kernel.span_coverage": span_coverage(spans),
        # each traced pass against the untraced pass just before it, so that
        # a drift of the host across the passes cancels
        "kernel.trace_overhead": statistics.median(
            t / u - 1.0 for u, t in zip(spans["passes"]["untraced_s"], spans["passes"]["traced_s"])
        ),
        "spark.per_core_efficiency": spark_tps / NPROC / kernel_tps,
        "spark.worker_cpu_share": spark["worker_cpu_share"],
        "spark.driver_peak_rss_mb": spark["driver_peak_rss_mb"],
        "spark.tasks_per_pass": spark["tasks_per_pass"],
    }


def traced_run(workload: str, input_dir: str) -> tuple[dict, dict]:
    import pandas as pd

    from child import score_output

    _, spans = run_child("kernel.py", "spans", workload, input_dir)
    counted = [
        run_child("kernel.py", "counts", workload, input_dir, env={"PYTHONHASHSEED": seed})[1]
        for seed in ("0", "1")
    ]
    _, spark = run_child("child.py", "layers", workload, input_dir)

    out = pd.DataFrame(spans.pop("output"))
    expected = pd.read_parquet(os.path.join(input_dir, "expected.parquet"))
    expected = expected.merge(out[["conv_id", "turn_idx"]], on=["conv_id", "turn_idx"])
    score = score_output(expected, out)
    values = layer_metrics(spans, counted[0]["calls"], spark)
    checks = {
        "kernel_exact": score["failed"] == 0 and score["output_rows"] == score["attempted"],
        "bit_equal": spans["bit_equal"],
        "span_coverage": values["kernel.span_coverage"] >= MIN_SPAN_COVERAGE,
        "counts_repeat": counted[0] == counted[1],
    }
    result = {
        "correct": all(checks.values()),
        "attempted": score["attempted"],
        "failed": score["failed"],
        "metrics": {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()},
    }
    raw = {"checks": checks, "kernel": spans, "calls": counted[0]["calls"], "spark": spark, **score}
    return result, raw

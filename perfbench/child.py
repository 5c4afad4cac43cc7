"""One Spark session of the benchmark, run as its own process so that set-up
is timed from process start. All jobs run one at a time from this one
driver process (a closed loop) on ``local[nproc]``.

    python3 perfbench/child.py timed  WORKLOAD INPUT_DIR OUT_JSON SECONDS check|nocheck
    python3 perfbench/child.py layers WORKLOAD INPUT_DIR OUT_JSON

Both modes start the session, open the input and run the warm-up job over
the fixed warm-up slice, then print ``READY`` on stdout. ``timed`` runs
passes until SECONDS of pass time are spent and, with ``check``, then
checks every output turn against the expected text outside the timed
window. ``layers`` runs the four Spark jobs of the traced run over the same
input. Results go to OUT_JSON.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from common import (
    CHECKPOINT_BUCKETS,
    NPROC,
    PINNED,
    WORKLOADS,
    cpu_seconds,
    environ,
    is_jvm,
    is_python_worker,
    process_tree,
    require_program,
    spark_conf,
    vm_hwm_mb,
    work_dir,
)
from inputs import read_meta


def model_args(workload: str) -> dict:
    if WORKLOADS[workload]["models"] != "onnx":
        return {}
    from doctr_spark.operators.detection import INK_MODEL_POSTPROC
    from doctr_spark.plans.models import onnx_detector, onnx_recognizer
    from doctr_spark.plans.onnx_export import ONNX_DET_PATH, ONNX_RECO_PATH

    return {
        "detector": onnx_detector(ONNX_DET_PATH, postproc=INK_MODEL_POSTPROC),
        "recognizer": onnx_recognizer(ONNX_RECO_PATH),
    }


class Session:
    """The workload's Spark session and the one job a pass runs."""

    def __init__(self, workload: str, input_dir: str):
        from doctr_spark.session import get_spark

        self.workload = workload
        self.spark = get_spark(cores=NPROC, app_name=f"perfbench-{workload}", extra_conf=spark_conf())
        self.sc = self.spark.sparkContext
        self.input = self.spark.read.parquet(os.path.join(input_dir, "input"))
        self.warm = self.spark.read.schema(self.input.schema).parquet(os.path.join(input_dir, "warm"))
        self.ckpt_dir = os.path.join(work_dir("checkpoint"), f"{workload}-{os.getpid()}")
        self.n_jobs = 0

    def extract(self, df):
        from doctr_spark.plans.pipeline import extract_turns

        return extract_turns(df, **model_args(self.workload))

    def label(self, what: str) -> None:
        """Name the next job(s) for the Spark UI and event log, in the job
        group ``perfbench-<n_jobs>``."""
        self.n_jobs += 1
        self.sc.setJobGroup(f"perfbench-{self.n_jobs}", f"perfbench {self.workload}: {what}")
        self.sc.setJobDescription(f"perfbench {self.workload}: {what}")

    def run_pass(self, df, what: str) -> float:
        """One pass of the workload's job, extract_turns -> noop sink, over
        ``df``; returns its wall time."""
        self.label(what)
        t0 = time.perf_counter()
        self.extract(df).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def checkpointed(self, df) -> float:
        """run_extraction_checkpointed over ``df`` into a cleared output
        directory (clearing is not timed: a checkpoint left in place would
        make the run resume and skip every bucket); returns its wall time."""
        from doctr_spark.plans.checkpoint import run_extraction_checkpointed

        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        t0 = time.perf_counter()
        run_extraction_checkpointed(self.spark, df, self.ckpt_dir, buckets=CHECKPOINT_BUCKETS, grouped=True)
        return time.perf_counter() - t0

    def tasks(self, group: str) -> int:
        tracker = self.sc.statusTracker()
        total = 0
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                total += stage.numTasks if stage else 0
        return total

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def python_workers() -> list[int]:
    return [pid for pid, cmd in process_tree(os.getpid()).items() if is_python_worker(cmd)]


def worker_peak_rss_mb() -> float:
    return max((vm_hwm_mb(pid) for pid in python_workers()), default=0.0)


def worker_env() -> dict[str, str]:
    """The pinned variables as one Python worker sees them."""
    env = environ(python_workers()[-1])
    return {k: env.get(k, "") for k in PINNED}


def score_output(expected, out) -> dict:
    """Per-turn ``extracted_text == expected_text`` over every distinct input
    turn of ``expected``; a turn that is missing, duplicated or an error row
    in ``out`` fails."""
    keys = ["conv_id", "turn_idx"]
    copies = out.groupby(keys).size().rename("copies").reset_index()
    once = out[keys + ["payload_kind", "extracted_text"]].drop_duplicates(keys, keep=False)
    merged = expected.merge(copies, on=keys, how="left").merge(
        once, on=keys, how="left", suffixes=("", "_out")
    )
    ok = merged["copies"].fillna(0).eq(1) & merged["payload_kind_out"].ne("error")
    exact = ok & merged["extracted_text"].eq(merged["expected_text"])
    attempted = len(expected)
    return {
        "attempted": attempted,
        "failed": int(attempted - exact.sum()),
        "output_rows": len(out),
        "exact_match_ratio": float(exact.sum()) / attempted,
        "ok_turn_ratio": float(ok.sum()) / attempted,
    }


def check_output(sess: Session, input_dir: str) -> dict:
    import pandas as pd

    expected = pd.read_parquet(os.path.join(input_dir, "expected.parquet"))
    sess.label("exactness check")
    out = sess.extract(sess.input).select("conv_id", "turn_idx", "payload_kind", "extracted_text").toPandas()
    return score_output(expected, out)


def timed(sess: Session, input_dir: str, seconds: float, check: bool) -> dict:
    """Timed passes until ``seconds`` of pass time are spent, then, if
    ``check``, the exactness check."""
    passes: list[float] = []
    while sum(passes) < seconds:
        passes.append(sess.run_pass(sess.input, f"timed pass {len(passes) + 1}"))
    result = {"pass_s": passes, "worker_peak_rss_mb": worker_peak_rss_mb(), "worker_env": worker_env()}
    if check:
        result.update(check_output(sess, input_dir))
    return result


def tree_cpu() -> tuple[float, float]:
    """(CPU seconds of the Python workers, CPU seconds of the whole tree)."""
    workers = total = 0.0
    for pid, cmd in process_tree(os.getpid()).items():
        cpu = cpu_seconds(pid)
        total += cpu
        workers += cpu if is_python_worker(cmd) else 0.0
    return workers, total


def layers(sess: Session, input_dir: str) -> dict:
    """The four Spark jobs of the traced run, each over the full input:
    scan -> noop, identity mapInPandas -> noop, extract_turns -> noop and
    the checkpointed write. One untimed pass over the input comes first, so
    that every worker has its models, and one checkpointed job over the
    warm-up slice warms the write path. ``run_extraction_checkpointed``
    always extracts with the default models, so a workload with other
    models runs no checkpointed job."""
    df = sess.input
    sess.run_pass(df, "warm-up pass")

    def identity(batches):
        yield from batches

    def noop(frame, what):
        sess.label(what)
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out = {"turns": read_meta(input_dir)["turns"]}
    out["scan_s"] = noop(df, "scan")
    out["identity_s"] = noop(df.mapInPandas(identity, schema=df.schema), "identity mapInPandas")
    workers0, total0 = tree_cpu()
    out["extract_s"] = sess.run_pass(df, "extract_turns noop")
    workers1, total1 = tree_cpu()
    out["tasks_per_pass"] = sess.tasks(f"perfbench-{sess.n_jobs}")
    out["worker_cpu_share"] = (workers1 - workers0) / max(total1 - total0, 1e-9)
    if WORKLOADS[sess.workload]["models"] == "default":
        sess.label("checkpointed warm-up")
        sess.checkpointed(sess.warm)
        sess.label("checkpointed")
        out["checkpointed_s"] = sess.checkpointed(df)
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(sess.ckpt_dir, "results"))
            for f in fs
            if f.endswith(".parquet")
        ]
        out["checkpoint_files"] = len(files)
        out["checkpoint_bytes"] = sum(os.path.getsize(f) for f in files)
    out["driver_peak_rss_mb"] = max(
        vm_hwm_mb(p) for p, cmd in process_tree(os.getpid()).items() if is_jvm(cmd)
    )
    return out


def main() -> None:
    mode, workload, input_dir, out_json = sys.argv[1:5]
    require_program()
    sess = Session(workload, input_dir)
    try:
        sess.run_pass(sess.warm, "warm-up")
        print("READY", flush=True)
        if mode == "timed":
            result = timed(sess, input_dir, float(sys.argv[5]), sys.argv[6] == "check")
        else:
            result = layers(sess, input_dir)
    finally:
        sess.close()
    with open(out_json, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()

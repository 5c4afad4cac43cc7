"""Benchmark of the fused extraction stage (``plans/pipeline.extract_turns``).

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 8 --trace 0

Runs one workload from the root of a checkout and prints, as the last line
of stdout, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of the traced run. The line before it is the run
record: run environment, host context and the raw figures behind each
metric. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from common import (
    NPROC,
    PINNED,
    WORKLOADS,
    adopt_orphans,
    host_probe,
    pinned_env,
    require_program,
    run_child,
    stop_descendants,
    work_dir,
)
from inputs import ensure_inputs, read_meta

# Each run sets up this many fresh session processes one after another;
# setup_s is their median. Each session then takes an equal share of the
# timed window, so the passes of one run are spread over all of it.
SETUPS = 2

END_TO_END_UNITS = {
    "turns_per_sec": "1/s",
    "setup_s": "s",
    "exact_match_ratio": "ratio",
    "ok_turn_ratio": "ratio",
    "worker_peak_rss_mb": "MB",
}


def timed_run(workload: str, input_dir: str, seconds: int) -> tuple[dict, dict]:
    setups, passes, rss = [], [], []
    for i in range(SETUPS):
        check = "check" if i == SETUPS - 1 else "nocheck"
        ready, res = run_child("child.py", "timed", workload, input_dir, str(seconds / SETUPS), check)
        if ready is None:
            raise RuntimeError("a session child exited before it was ready")
        setups.append(ready)
        passes.extend(res["pass_s"])
        rss.append(res["worker_peak_rss_mb"])
    turns = read_meta(input_dir)["turns"]
    values = {
        "turns_per_sec": turns / statistics.median(passes),
        "setup_s": statistics.median(setups),
        "exact_match_ratio": res["exact_match_ratio"],
        "ok_turn_ratio": res["ok_turn_ratio"],
        "worker_peak_rss_mb": max(rss),
    }
    result = {
        "correct": res["failed"] == 0 and res["output_rows"] == res["attempted"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()},
    }
    return result, {**res, "setup_s": setups, "pass_s": passes, "worker_peak_rss_mb": rss}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    require_program()
    adopt_orphans()
    try:
        return measure(args)
    finally:
        stop_descendants()


def measure(args: argparse.Namespace) -> int:
    host_before = host_probe()
    input_dir = ensure_inputs(args.workload, args.seed)
    if args.trace:
        from traced import traced_run

        result, raw = traced_run(args.workload, input_dir)
    else:
        result, raw = timed_run(args.workload, input_dir, args.seconds)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "input": read_meta(input_dir),
        "environment": {"cores": NPROC, **{k: pinned_env()[k] for k in PINNED}},
        "host_before": host_before,
        "host_after": host_probe(),
        "raw": raw,
    }
    with open(os.path.join(work_dir("records"), f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("perfbench-record " + json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

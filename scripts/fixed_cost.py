"""Fixed cost of a pass of the fused stage, and what a warm worker pays per
task whatever the task's size.

Usage (from the root of the checkout to measure):
    python scripts/fixed_cost.py [--inputs DIR] [--passes N] [--cores N]

Runs one Spark session on ``local[cores]`` over the first cached perfbench
``mixed`` input (``.perfbench/inputs`` unless ``--inputs`` names another;
one ``perfbench/run.py --workload mixed`` run makes it) and times four
passes into a noop sink, each warmed once and then run N times:

- ``scan``: the six input columns of the parquet scan;
- ``identity_arrow``: the same columns through an identity ``mapInArrow``;
- ``extract_empty``: ``extract_turns`` over a filter no row passes
  (``turn_idx < 0``), which still runs one task per input split;
- ``extract_full``: ``extract_turns`` over the whole input.

After each ``extract_full`` pass a ``mapInArrow`` probe stage of ``cores``
tasks times, inside each worker, one ``importlib.invalidate_caches()`` and
one ``gc.collect()``: the calls PySpark's worker makes before and its
daemon after every task. Each probe task also reports its worker's pid,
whether ``plans/worker.py:prepare_worker`` ran in that worker, and how many
archive reads the zip guard let through during the probe's call (null
where the checkout has no such module).

The driver and the workers import ``doctr_spark`` from the working
directory, so running this script from a parent checkout's root measures
the parent. Prints one JSON line: the median and the runs of each pass, and
the probe's rows with the medians of its two timings.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time

INPUT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _mixed_input(inputs: str) -> str:
    dirs = sorted(glob.glob(os.path.join(inputs, "mixed-*", "input")))
    if not dirs:
        sys.exit(f"no cached mixed input under {inputs}; run perfbench/run.py --workload mixed")
    return dirs[0]


def _probe(batches):
    """One row per task: the worker's own per-task fixed costs."""
    import gc
    import importlib
    import os
    import time

    import pyarrow as pa

    for _ in batches:
        pass
    try:
        from doctr_spark.plans import worker
    except ImportError:
        worker = None
    rereads = worker.zip_rereads if worker else None
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    t1 = time.perf_counter()
    gc.collect()
    t2 = time.perf_counter()
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()],
        "prepared": [worker.prepared if worker else None],
        "zip_rereads": [worker.zip_rereads - rereads if worker else None],
        "invalidate_caches_s": [t1 - t0],
        "gc_collect_s": [t2 - t1],
    })


PROBE_SCHEMA = "pid long, prepared boolean, zip_rereads long, invalidate_caches_s double, gc_collect_s double"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--inputs", default=os.path.join(".perfbench", "inputs"))
    ap.add_argument("--passes", type=int, default=7)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    input_dir = _mixed_input(args.inputs)
    sys.path.insert(0, os.getcwd())

    from pyspark.sql import functions as F

    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.session import get_spark

    spark = get_spark(cores=args.cores, app_name="fixed-cost")
    try:
        src = spark.read.parquet(input_dir).select(*INPUT_COLUMNS)
        jobs = {
            "scan": src,
            "identity_arrow": src.mapInArrow(lambda batches: batches, schema=src.schema),
            "extract_empty": extract_turns(src.filter(F.col("turn_idx") < 0)),
            "extract_full": extract_turns(src),
        }
        probe = spark.range(args.cores, numPartitions=args.cores).mapInArrow(_probe, schema=PROBE_SCHEMA)
        runs = {name: [] for name in jobs}
        rows = []
        for name, df in jobs.items():
            df.write.format("noop").mode("overwrite").save()  # warm-up
        for _ in range(args.passes):
            for name, df in jobs.items():
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                runs[name].append(time.perf_counter() - t0)
            rows += [r.asDict() for r in probe.collect()]
        record = {
            "checkout": os.getcwd(),
            "input": input_dir,
            "turns": src.count(),
            "cores": args.cores,
            "passes": args.passes,
            "pass_s": {name: statistics.median(v) for name, v in runs.items()},
            "pass_runs_s": runs,
            "worker": {
                "invalidate_caches_s": statistics.median(r["invalidate_caches_s"] for r in rows),
                "gc_collect_s": statistics.median(r["gc_collect_s"] for r in rows),
                "probe_tasks": rows,
            },
        }
    finally:
        spark.stop()
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())

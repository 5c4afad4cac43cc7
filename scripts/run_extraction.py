"""spark-submit entry point for the extraction pipeline.

Cluster usage (the packaging path the north rule requires):

    cd /root/repo && zip -r /tmp/doctr_spark.zip doctr_spark
    spark-submit --py-files /tmp/doctr_spark.zip \
        scripts/run_extraction.py \
        --input /path/to/transcripts_parquet \
        --output /path/to/out \
        --buckets 64 [--per-bucket-scan] [--salt-partitions N]

Local sandbox usage (no spark-submit needed):

    python scripts/run_extraction.py --demo

The job is resumable: completed buckets are recorded in the sidecar
manifest and skipped on restart (plans/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcript parquet dir (conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--output", help="output dir (results/ + manifest/)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--per-bucket-scan", action="store_true", help="commit each bucket on its own: one input scan per bucket, and a failure loses at most that bucket; default is grouped: all remaining buckets in one commit, one input scan per run, and a failure re-runs all of them")
    ap.add_argument("--salt-partitions", type=int, default=0, help="pre-UDF salted respread partitions (0 = auto: 4x parallelism when the input is coarser than 3x parallelism; -1 = off, rely on input splits)")
    ap.add_argument("--demo", action="store_true", help="generate a small corpus and run end-to-end locally")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from doctr_spark.plans.checkpoint import read_extraction_results, run_extraction_checkpointed

    # on a real cluster spark-submit provides master/executors; locally we
    # fall back to the tuned local session
    if os.environ.get("SPARK_SUBMIT_MODE"):
        spark = SparkSession.builder.appName("doctr-spark-extraction").getOrCreate()
    else:
        from doctr_spark.session import get_spark

        spark = get_spark(app_name="doctr-spark-extraction")

    if args.demo:
        from doctr_spark.sources.corpus import make_transcripts

        args.buckets = min(args.buckets, 8)  # demo corpus is tiny
        out_dir = args.output or tempfile.mkdtemp(prefix="doctr_spark_demo_")
        gen = make_transcripts(spark, 40, partitions=8)
        in_dir = os.path.join(out_dir, "input")
        gen.write.mode("overwrite").parquet(in_dir)
        transcripts = spark.read.parquet(in_dir).select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    else:
        if not args.input or not args.output:
            ap.error("--input and --output required (or use --demo)")
        out_dir = args.output
        transcripts = spark.read.parquet(args.input)

    # salted respread (the north-rule skew defense): extraction cost is
    # payload-type-skewed, not byte-proportional, so byte-balanced input
    # splits leave wide clusters idle in the straggler tail. When the scan
    # is coarser than 3x the parallelism, respread rows evenly by
    # xxhash64(conv_id, turn_idx) — one bounded shuffle of payload bytes,
    # measured 8->32 scaling 0.36 -> ~0.9 on a small-file corpus
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    salt = args.salt_partitions
    if salt == 0 and transcripts.rdd.getNumPartitions() < 3 * par:
        salt = 4 * par
    if salt > 0:
        transcripts = transcripts.repartition(salt, F.xxhash64("conv_id", "turn_idx"))

    if os.environ.get("DOCTR_SPARK_WARMUP"):
        # untimed warm pass: Catalyst/codegen JIT and Python worker startup
        # are one-time session costs, not per-input costs — excluding them
        # keeps two-size scaling legs comparable. The pass must touch EVERY
        # executor core: limit(N) collapses to ~one partition, leaving the
        # other workers to spawn (zipimport numpy/pandas + model load)
        # INSIDE the timed job — measured ~15% of a 32-core leg. A small
        # sample preserves the input partitioning, so one tiny task lands
        # on every core.
        from doctr_spark.plans.pipeline import extract_turns

        # fraction sized from the row count so the warm pass lands rows on
        # every partition even for small inputs (a fixed 2% of a tiny
        # corpus would leave most cores cold and re-introduce the bias)
        n_rows = transcripts.count()
        frac = min(1.0, max(0.02, (16.0 * par) / max(n_rows, 1)))
        warm = transcripts.sample(fraction=frac, seed=7)
        extract_turns(warm).write.mode("overwrite").format("noop").save()

    t0 = time.time()
    summary = run_extraction_checkpointed(spark, transcripts, out_dir, buckets=args.buckets, grouped=not args.per_bucket_scan)
    dt = time.time() - t0  # the job itself: extraction + result/manifest writes
    # read-back row count is post-run verification, not pipeline work
    res = read_extraction_results(spark, out_dir)
    n = res.count()
    print(
        json.dumps(
            {
                "turns": n,
                "sec": round(dt, 2),
                "turns_per_sec": round(n / dt, 1),
                "buckets_processed": summary["processed"],
                "buckets_skipped": summary["skipped"],
                "output": out_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""Resumable extraction: per-bucket checkpointing with a lineage/metrics
sidecar table (semantics the reference lacks entirely — SURVEY.md §4.3).

Design: conversations hash into ``buckets`` deterministic buckets
(pmod(xxhash64(conv_id))), written as ``results/bucket=b`` partition
directories; a manifest (sidecar) table records one row per completed
bucket with extraction metrics (turns, boxes, chars, strip ratio). A
restart collects the manifest's done buckets to the driver and runs only
the others.

One commit routine writes a chunk of buckets: one input scan, one
partitioned write, one read-back aggregate over the committed files, one
manifest append. The modes only chunk differently. Grouped mode commits
all remaining buckets as one chunk: one input scan per run, but a failure
loses the whole chunk. Per-bucket mode commits one bucket at a time: one
input scan per bucket, and each bucket commits on its own.

At 100 TB the same layout holds: buckets are the unit of retry/lineage
(O(100-1000) of them), each commit is a normal distributed job, and the
input scan for a chunk is pruned by predicate pushdown when the source
table is bucketed/partitioned by the same key — on plain parquet it
degrades to a full-scan filter per chunk, which is why per-bucket mode
wants coarse bucket counts."""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import EXTRACT_SCHEMA, extract_turns

MANIFEST_SCHEMA = (
    "bucket int, n_turns long, n_convs long, n_boxes long, n_chars long, "
    "avg_strip_ratio double, status string, completed_ts timestamp"
)
# the committed result columns the manifest metrics are read back from
_METRIC_SCHEMA = "conv_id string, n_boxes int, n_chars int, strip_ratio double, bucket int"


def with_bucket(df: DataFrame, buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets)).cast("int"))


def completed_buckets(spark: SparkSession, manifest_dir: str) -> set[int]:
    if not os.path.exists(manifest_dir):
        return set()
    rows = (
        spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
        .filter(F.col("status") == "done").select("bucket").collect()
    )
    return {r["bucket"] for r in rows}


def _commit(
    spark: SparkSession, transcripts: DataFrame, out_dir: str, buckets: int, chunk: list[int]
) -> None:
    """Extract and commit the buckets in ``chunk``: results first, then one
    manifest row per bucket, so a manifest row always names committed files.
    Each step names its jobs (``setJobDescription``) for the UI and event
    log; ``run_extraction_checkpointed`` gives the caller's name back."""
    label = f"checkpoint {out_dir}: " + (f"bucket {chunk[0]}" if len(chunk) == 1 else f"{len(chunk)} buckets")
    results_dir = os.path.join(out_dir, "results")
    # a prior failed run may have left partition dirs for un-manifested
    # buckets; dynamic overwrite only rewrites partitions present in the NEW
    # data, so a retry that legitimately produces zero rows for such a
    # bucket would leave the stale rows in results/ (and in the read-back
    # metrics). Clear the chunk's dirs up front — manifested buckets are
    # never in a chunk, so never touched.
    for b in chunk:
        shutil.rmtree(os.path.join(results_dir, f"bucket={b}"), ignore_errors=True)
    part = with_bucket(transcripts, buckets).filter(F.col("bucket").isin(chunk)).drop("bucket")
    res = with_bucket(extract_turns(part), buckets)
    spark.sparkContext.setJobDescription(f"{label}: write results")
    (
        # co-locate each bucket before the partitioned write via an
        # AQE REBALANCE on the bucket key: one shuffle of slim
        # post-extraction text rows buys ~one file per bucket
        # instead of tasks x buckets small files (the dynamic-
        # overwrite commit moves files SERIALLY on the driver, so
        # file count is a fixed serial cost that was strangling
        # wide clusters: 32-core 7.1k -> 19.1k cold / 24.7k warm
        # turns/s on a 605k-turn corpus). Unlike a plain
        # repartition(buckets, bucket), REBALANCE also SPLITS an
        # oversized bucket at the advisory partition size — a
        # single 10^5-turn conversation concentrates one bucket,
        # and a hard one-task-per-bucket rule would serialize its
        # whole write behind one core (the skew-bench straggler);
        # splitting costs a handful of extra files, still O(1) per
        # bucket for the serial commit.
        res.hint("rebalance", "bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(results_dir)
    )
    spark.sparkContext.setJobDescription(f"{label}: aggregate manifest metrics")
    metrics = {
        r["bucket"]: tuple(r)[1:]
        for r in spark.read.schema(_METRIC_SCHEMA).parquet(results_dir)
        .filter(F.col("bucket").isin(chunk))
        .groupBy("bucket")
        .agg(
            F.count("*"),
            F.countDistinct("conv_id"),
            F.coalesce(F.sum("n_boxes"), F.lit(0)),
            F.coalesce(F.sum("n_chars"), F.lit(0)),
            F.coalesce(F.avg("strip_ratio"), F.lit(1.0)),
        )
        .collect()
    }
    # every chunk bucket gets a manifest row — an empty bucket (no rows, so
    # no partition dir) is still "done" with zero metrics, otherwise it
    # would rerun on every resume
    ts = datetime.now(timezone.utc)
    rows = [(b, *metrics.get(b, (0, 0, 0, 0, 1.0)), "done", ts) for b in chunk]
    # rows in a pandas frame reach the JVM as Arrow; a plain list would add a
    # Python-worker stage to every append (about 0.3 s on a 4-core box).
    # One manifest file per commit.
    spark.sparkContext.setJobDescription(f"{label}: append manifest")
    spark.createDataFrame(pd.DataFrame(rows), MANIFEST_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(out_dir, "manifest"))


def run_extraction_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    buckets: int = 8,
    max_buckets_this_run: int | None = None,
    grouped: bool = False,
) -> dict:
    """Extract all turns, bucket by bucket, resuming past completed buckets.

    ``max_buckets_this_run`` lets tests simulate an interrupted run.
    ``grouped=True`` commits ALL remaining buckets as one chunk (single
    input scan + ``partitionBy(bucket)`` dynamic-overwrite write) instead
    of one chunk per bucket — the 100 TB shape: N remaining buckets cost
    one pass, and a mid-job failure just leaves un-manifested partition
    dirs that the next run clears and rewrites. Per-bucket mode keeps the
    finest retry/lineage granularity (each bucket commits independently).
    Returns a summary dict. Its Spark jobs are named after their step and
    ``out_dir``; the caller's job description is restored afterwards.
    """
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription(f"checkpoint {out_dir}: read manifest")
        done = completed_buckets(spark, os.path.join(out_dir, "manifest"))
        todo = [b for b in range(buckets) if b not in done][:max_buckets_this_run]
        for chunk in [todo] if grouped else [[b] for b in todo]:
            if chunk:
                _commit(spark, transcripts, out_dir, buckets, chunk)
    finally:
        sc.setJobDescription(caller)
    return {"processed": todo, "skipped": sorted(done), "remaining": buckets - len(done) - len(todo)}


def read_extraction_results(spark: SparkSession, out_dir: str) -> DataFrame:
    # pinned schema: a run whose buckets were all empty wrote no files to
    # infer one from
    results_dir = os.path.join(out_dir, "results")
    return (
        spark.read.schema(EXTRACT_SCHEMA + ", bucket int")
        .option("basePath", results_dir)
        .parquet(results_dir)
    )

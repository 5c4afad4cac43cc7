"""Physical-plan regression guards: the scale properties that make these
queries viable at 100 TB must be visible in the optimized plan, not just
assumed — filter pushdown into the parquet scan, column pruning, broadcast
of dimension tables, and no vector payloads crossing post-score exchanges.
A refactor that silently drops one of these still passes row-level tests;
these assertions catch it."""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

needs_data = pytest.mark.skipif(not os.path.exists(SF_DIR), reason="testdata absent")


def _formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@needs_data
def test_deterministic_sample_pushes_filter_and_prunes_columns(spark):
    """The md5-threshold predicate is a pure function of the id, so it must
    reach the scan as a pushed filter, and the scan must read only the 3
    projected columns (not the document text)."""
    import __spark_entry__ as E

    plan = _formatted_plan(spark, E.queries()["deterministic_sample"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(doc_id)]" in plan
    # column pruning: text never leaves the scan
    assert "ReadSchema: struct<doc_id:bigint,lang:string,source:string>" in plan


@needs_data
def test_revenue_join_broadcasts_all_dimensions(spark):
    """customer/nation (and the orders fact-side reduction) broadcast — a
    shuffle join on the dims would be the classic 100 TB regression."""
    import __spark_entry__ as E

    plan = _formatted_plan(spark, E.queries()["revenue_by_nation"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


@needs_data
def test_pricing_summary_prunes_to_agg_columns(spark):
    import __spark_entry__ as E

    plan = _formatted_plan(spark, E.queries()["pricing_summary"](spark, SF_DIR))
    # only the agg inputs are read — l_comment (the wide column) must not be
    assert "l_comment" not in plan
    assert "PushedFilters" in plan


@needs_data
def test_extraction_scan_reads_only_input_columns(spark):
    """The fused extraction must prune the transcript scan to the 6 input
    columns; payload bytes live in `tool` and must not be joined by any
    extra column reads."""
    from doctr_spark.plans.pipeline import extract_turns

    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "CAST(doc_id AS STRING) conv_id", "CAST(0 AS INT) turn_idx",
        "'user' role", "text", "'' tool", "current_timestamp() ts", "lang", "source",
    )
    plan = _formatted_plan(spark, extract_turns(src))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan  # lang/source pruned


@needs_data
def test_ann_lsh_no_vectors_after_scoring(spark):
    """Post-score exchanges carry slim triples: the window/top-k exchange
    must not carry the embedding arrays."""
    from pyspark.sql import functions as F

    from doctr_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=3, n_planes=5, dim=64)
    plan = _formatted_plan(spark, out)
    # find the exchange feeding the window sort: it partitions by query_id
    # and its output schema is the slim triple set
    win_exchange = [
        block for block in plan.split("\n\n")
        if ") Exchange" in block and "hashpartitioning(query_id" in block
    ]
    assert win_exchange, "expected a query_id-keyed exchange for the top-k window"
    for block in win_exchange:
        assert "cv#" not in block and "qv#" not in block and "embedding" not in block


@needs_data
def test_asof_join_single_exchange(spark):
    """The as-of join is shuffle-once: exactly one exchange on the join
    keys (plus AQE reads), no join operator at all in the plan."""
    from datetime import datetime

    from doctr_spark.operators.relational import asof_join

    T = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")
    left = spark.createDataFrame([(1, 7, T("00:10:00"))], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame([(7, T("00:05:00"), 5.0)], "user_id long, ts timestamp, value double")
    plan = _formatted_plan(spark, asof_join(left, right, on="user_id", value_cols=["value"]))
    assert plan.count("hashpartitioning(user_id") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan


@needs_data
def test_kmeans_sampler_is_top_k_not_global_sort(spark):
    """kmeans_fit's init sample (orderBy hash + limit) must compile to
    TakeOrderedAndProject — per-partition top-K merged on the driver —
    never a full global Sort+Exchange, or sampling a 100 TB corpus would
    shuffle the corpus to rank it."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sampled = (
        emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        .withColumn("_h", F.xxhash64(F.col("_id").cast("string"), F.lit(41)))
        .orderBy("_h", "_id")
        .limit(4096)
    )
    plan = sampled._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


@needs_data
def test_kie_route_stays_single_stage(spark):
    """extract_turns(kie=True) must keep the default route's plan shape:
    ONE fused mapInPandas over the pruned 6-column scan, NO exchange —
    the KIE predictions map is produced inside the same stage, never via
    a post-hoc shuffle/join."""
    from doctr_spark.plans.pipeline import extract_turns

    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "CAST(doc_id AS STRING) conv_id", "CAST(0 AS INT) turn_idx",
        "'user' role", "text", "'' tool", "current_timestamp() ts", "lang", "source",
    )
    plan = _formatted_plan(spark, extract_turns(src, kie=True))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "Exchange" not in plan
    # exactly one MapInPandas node in the plan tree (the detail section
    # repeats the name without the node-id parenthesis)
    assert plan.count("MapInPandas (") == 1

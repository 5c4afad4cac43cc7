"""Driver-contract smoke tests for __spark_entry__.py."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_entry_runs(spark):
    df = entry.entry(spark)
    rows = df.limit(2000).collect()
    assert len(rows) > 0
    assert {"conv_id", "turn_idx", "extracted_text", "turn_rank"} <= set(df.columns)


def test_queries_have_oracles_subset(spark):
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


def test_extract_ocr_exact_match(spark):
    out = entry.queries()["extract_ocr"](spark, SF_DIR)
    agg = out.agg(F.sum("n_turns").alias("n"), F.sum("n_exact").alias("m")).collect()[0]
    assert agg["n"] > 0 and agg["n"] == agg["m"]  # 100% per-turn OCR equality


@pytest.mark.parametrize("name", ["merge_strings", "detect_boxes", "knn_cosine"])
def test_sample_queries_run(spark, name):
    df = entry.queries()[name](spark, SF_DIR)
    assert df.count() > 0


def test_every_query_executes(spark):
    """Driver smoke parity: every queries() entry must run at sf0.001 and
    produce a stable schema (>=0 rows) — catches breakage in rows-only
    queries the oracle gate never touches."""
    failures = []
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, SF_DIR)
            df.limit(5).collect()
            assert len(df.columns) > 0
        except Exception as e:  # noqa: BLE001
            failures.append((name, repr(e)[:200]))
    assert not failures, failures

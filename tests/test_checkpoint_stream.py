"""Resumable checkpointed extraction + streaming extraction."""

import pytest
from pyspark.sql import functions as F

from doctr_spark.plans.checkpoint import (
    completed_buckets,
    read_extraction_results,
    run_extraction_checkpointed,
)
from doctr_spark.sources.corpus import make_transcripts
from doctr_spark.streaming.stream import (
    run_stream_to_parquet,
    sessionized_conversations,
    stream_transcripts,
    turn_rate_by_window,
)


@pytest.fixture(scope="module")
def corpus(spark):
    gen = make_transcripts(spark, 12, partitions=2).cache()
    gen.count()
    yield gen
    gen.unpersist()


def test_checkpoint_resume(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt"))
    inp = corpus.drop("expected_text", "payload_kind")
    total = inp.count()

    # first run "crashes" after 2 of 4 buckets
    s1 = run_extraction_checkpointed(spark, inp, out, buckets=4, max_buckets_this_run=2)
    assert len(s1["processed"]) == 2 and s1["remaining"] == 2
    assert completed_buckets(spark, f"{out}/manifest") == set(s1["processed"])

    # resume: only the remaining buckets run
    s2 = run_extraction_checkpointed(spark, inp, out, buckets=4)
    assert len(s2["processed"]) == 2
    assert set(s2["skipped"]) == set(s1["processed"])
    assert s2["remaining"] == 0

    # a third run is a no-op
    s3 = run_extraction_checkpointed(spark, inp, out, buckets=4)
    assert s3["processed"] == [] and len(s3["skipped"]) == 4

    # results are complete and correct
    res = read_extraction_results(spark, out)
    assert res.count() == total
    j = res.join(corpus.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0

    # manifest metrics aggregated
    manifest = spark.read.parquet(f"{out}/manifest")
    assert manifest.count() == 4
    assert manifest.agg(F.sum("n_turns")).collect()[0][0] == total


def test_streaming_extraction(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir, out_dir, ck_dir = str(base / "in"), str(base / "out"), str(base / "ck")
    inp = corpus.drop("expected_text", "payload_kind")
    inp.repartition(3).write.mode("overwrite").parquet(in_dir)

    stream = stream_transcripts(spark, in_dir)
    assert stream.isStreaming
    q = run_stream_to_parquet(stream, out_dir, ck_dir, once=True)
    q.awaitTermination(120)

    res = spark.read.parquet(out_dir)
    assert res.count() == inp.count()
    j = res.join(corpus.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0


def test_streaming_window_aggs(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream2")
    in_dir = str(base / "in")
    inp = corpus.drop("expected_text", "payload_kind")
    inp.write.mode("overwrite").parquet(in_dir)

    stream = stream_transcripts(spark, in_dir)
    agg = turn_rate_by_window(stream)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("turn_rates")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; check the query ran
    assert spark.sql("select * from turn_rates").columns == ["window_start", "window_end", "role", "n_turns"]

    sess = sessionized_conversations(stream)
    q2 = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert "conv_id" in spark.sql("select * from sessions").columns


def test_stateful_running_counts(spark, corpus, tmp_path_factory):
    from doctr_spark.streaming.stream import running_conversation_state

    base = tmp_path_factory.mktemp("stream3")
    in_dir = str(base / "in")
    inp = corpus.drop("expected_text", "payload_kind")
    inp.write.mode("overwrite").parquet(in_dir)

    stream = stream_transcripts(spark, in_dir, max_files_per_trigger=100)
    counts = running_conversation_state(stream)
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName("conv_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["conv_id"]: (r["n_turns"], r["max_turn"]) for r in spark.sql(
        "select * from conv_state"
    ).collect()}
    expected = {
        r["conv_id"]: (r["n"], r["mx"])
        for r in inp.groupBy("conv_id").agg(
            F.count("*").alias("n"), F.max("turn_idx").alias("mx")
        ).collect()
    }
    # final state per conversation matches the batch rollup
    for conv, (n, mx) in expected.items():
        assert got[conv] == (n, mx)


def test_pack_sequences(spark):
    from doctr_spark.operators.dedup import pack_sequences

    rows = [(i, 100 + (i * 37) % 400) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = pack_sequences(df, "doc_id", "n_tokens", budget=1024, partitions=4)
    pdf = packed.toPandas()
    assert len(pdf) == 200  # every doc placed exactly once
    sums = pdf.groupby("pack_id")["n_tokens"].sum()
    assert (sums <= 1024).all()  # no pack exceeds the budget
    # packing is reasonably tight: average fill above 70%
    assert sums.mean() > 0.7 * 1024
    # slots are contiguous within a pack
    for _, grp in pdf.groupby("pack_id"):
        assert sorted(grp["pack_slot"]) == list(range(len(grp)))


def test_asof_join_semantics(spark):
    from datetime import datetime

    from doctr_spark.operators.relational import asof_join

    T = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")
    left = spark.createDataFrame(
        [(1, 7, T("00:10:00")), (2, 7, T("00:20:00")), (3, 7, T("00:05:00")), (4, 9, T("00:30:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 7, T("00:10:00"), 1.5),   # equal ts: backward-inclusive
            (101, 7, T("00:10:00"), 2.5),   # same ts, larger id wins the tie
            (102, 7, T("00:15:00"), 9.0),
            (103, 8, T("00:00:00"), 7.0),   # other user: never carried
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = asof_join(left, right, on="user_id", ts_col="ts",
                    value_cols=["value"], tiebreak_col="event_id")
    got = {r["event_id"]: r["value_asof"] for r in out.collect()}
    assert got == {1: 2.5, 2: 9.0, 3: None, 4: None}
    assert out.count() == left.count()  # left join: every left row survives

    # tolerance: carried value expires beyond the horizon
    tol = asof_join(left, right, on="user_id", ts_col="ts",
                    value_cols=["value"], tiebreak_col="event_id",
                    tolerance_seconds=120.0)
    got_tol = {r["event_id"]: r["value_asof"] for r in tol.collect()}
    assert got_tol == {1: 2.5, 2: None, 3: None, 4: None}  # 00:20 is 5min after 00:15


def test_asof_join_null_values_carry_atomically(spark):
    """NULL fields in the newest matching right row must propagate as NULL
    (not fall back to an older row's value), and multi-column carries must
    come from ONE right row — the struct-payload formulation (vs per-column
    last(ignorenulls), which mixed rows)."""
    from datetime import datetime

    from doctr_spark.operators.relational import asof_join

    T = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")
    left = spark.createDataFrame(
        [(1, 7, T("00:20:00")), (2, 7, T("00:07:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(7, T("00:05:00"), 5.0, "a"), (7, T("00:15:00"), None, "b")],
        "user_id long, ts timestamp, value double, tag string",
    )
    out = asof_join(left, right, on="user_id", ts_col="ts", value_cols=["value", "tag"])
    got = {r["event_id"]: (r["value_asof"], r["tag_asof"]) for r in out.collect()}
    # newest right row at 00:20 is (00:15, NULL, 'b'): value must be NULL
    assert got[1] == (None, "b")
    assert got[2] == (5.0, "a")

    # tolerance is judged against the SAME row the values come from: at
    # 00:20 with a 2-minute horizon the 00:15 row is expired -> all NULL
    # (the old formulation could return the 00:05 value as "fresh")
    tol = asof_join(
        left, right, on="user_id", ts_col="ts",
        value_cols=["value", "tag"], tolerance_seconds=120.0,
    )
    got_tol = {r["event_id"]: (r["value_asof"], r["tag_asof"]) for r in tol.collect()}
    assert got_tol[1] == (None, None)
    assert got_tol[2] == (5.0, "a")


def test_checkpoint_resume_grouped(spark, corpus, tmp_path_factory):
    """Grouped mode: all remaining buckets in ONE scan (partitionBy +
    dynamic overwrite); interrupted run resumes without re-extracting done
    buckets and without clobbering their partitions."""
    out = str(tmp_path_factory.mktemp("ckpt_grouped"))
    inp = corpus.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    total = inp.count()

    s1 = run_extraction_checkpointed(
        spark, inp, out, buckets=4, max_buckets_this_run=2, grouped=True
    )
    assert len(s1["processed"]) == 2 and s1["remaining"] == 2
    assert completed_buckets(spark, f"{out}/manifest") == set(s1["processed"])

    s2 = run_extraction_checkpointed(spark, inp, out, buckets=4, grouped=True)
    assert len(s2["processed"]) == 2 and s2["remaining"] == 0
    assert set(s2["skipped"]) == set(s1["processed"])

    s3 = run_extraction_checkpointed(spark, inp, out, buckets=4, grouped=True)
    assert s3["processed"] == [] and len(s3["skipped"]) == 4

    res = read_extraction_results(spark, out)
    assert res.count() == total
    j = res.join(corpus.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0

    manifest = spark.read.parquet(f"{out}/manifest")
    assert manifest.filter(F.col("status") == "done").count() == 4
    assert manifest.agg(F.sum("n_turns")).collect()[0][0] == total

    # one data file per bucket partition on a UNIFORM corpus: the
    # pre-write REBALANCE on bucket is what keeps the dynamic-overwrite
    # commit (which moves files SERIALLY on the driver) O(buckets), not
    # O(tasks x buckets) — the wide-cluster scaling fix must not regress.
    # (A skewed bucket is allowed to split — see
    # test_grouped_write_splits_giant_bucket.)
    import glob

    for bdir in glob.glob(f"{out}/results/bucket=*"):
        files = [f for f in glob.glob(f"{bdir}/*") if not f.endswith("_SUCCESS")]
        assert len(files) == 1, f"{bdir}: {files}"


def test_checkpoint_grouped_clears_stale_failed_partitions(spark, corpus, tmp_path_factory):
    """A crashed grouped run can leave rows in a bucket partition dir with
    no manifest row. If the retry legitimately produces zero rows for that
    bucket, dynamic overwrite alone would leave the stale rows in results/
    and count them into the manifest — the retry must clear un-manifested
    todo partitions first."""
    import os

    out = str(tmp_path_factory.mktemp("ckpt_stale"))
    inp = corpus.select("conv_id", "turn_idx", "role", "text", "tool", "ts")

    # find a bucket with no input rows at buckets=4... there may be none, so
    # instead: restrict the input to conversations NOT in bucket `victim`,
    # then plant stale rows in victim's partition dir (simulated crash).
    from doctr_spark.plans.checkpoint import with_bucket

    victim = 0
    pruned = with_bucket(inp, 4).filter(F.col("bucket") != victim).drop("bucket")
    stale_dir = os.path.join(out, "results", f"bucket={victim}")
    os.makedirs(stale_dir, exist_ok=True)
    spark.createDataFrame(
        [("ghost-conv", 0, "plain", "STALE", "STALE", 0, 0, 0, 1.0, [])],
        "conv_id string, turn_idx int, payload_kind string, extracted_text string, "
        "expected_text string, n_pages int, n_boxes long, n_chars long, strip_ratio double, "
        "words array<struct<value:string>>",
    ).write.mode("overwrite").parquet(stale_dir)

    s = run_extraction_checkpointed(spark, pruned, out, buckets=4, grouped=True)
    assert victim in s["processed"]
    res = read_extraction_results(spark, out)
    assert res.filter(F.col("conv_id") == "ghost-conv").count() == 0
    manifest = spark.read.parquet(f"{out}/manifest")
    row = manifest.filter(F.col("bucket") == victim).collect()[0]
    assert row["n_turns"] == 0 and row["status"] == "done"


def test_streaming_watermark_bounds_state(spark, tmp_path_factory):
    """Watermark semantics this engine guarantees (Spark 4.1): windows whose
    end falls behind the watermark are EVICTED from state (bounded memory at
    10^12-turn scale), while late-but-within-watermark rows still merge into
    their window. Rows beyond the watermark are best-effort dropped — Spark
    emits an already-expired window once without ever keeping state for it.
    File arrival order is pinned by mtime (one file per trigger)."""
    import glob
    import os
    import shutil
    import time as _time
    from datetime import datetime

    base = tmp_path_factory.mktemp("wm")
    in_dir = base / "in"
    in_dir.mkdir()
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    T = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")

    def write_file(rows, name):
        tmp = str(base / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], str(in_dir / name))

    write_file([("c1", i, "user", "x", "", T(f"12:0{i}:00")) for i in range(5)], "a.parquet")
    _time.sleep(1.1)
    write_file(
        [
            ("c2", 0, "user", "far_late", "", T("09:00:00")),   # 2.5h behind watermark
            ("c2", 1, "user", "slightly_late", "", T("12:04:30")),  # within watermark
        ],
        "b.parquet",
    )

    stream = stream_transcripts(spark, str(in_dir), max_files_per_trigger=1)
    agg = turn_rate_by_window(stream, window="10 minutes", watermark="30 minutes")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("wm_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # state never grows past the one live window: the 09:00 window is
    # evicted immediately (its end is far behind the watermark)
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"] for p in q.recentProgress if p["stateOperators"]
    ]
    assert state_rows and max(state_rows) == 1, state_rows

    final = {}
    for r in spark.sql("select * from wm_counts").collect():
        key = r["window_start"].strftime("%H:%M")
        final[key] = max(final.get(key, 0), r["n_turns"])
    assert final["12:00"] == 6, final   # within-watermark late row merged
    assert final.get("09:00", 1) == 1, final  # expired window never accumulates


def test_pack_sequences_first_fit_decreasing_tighter(spark):
    """FFD packs a skewed length mix into no more (usually fewer) packs
    than arrival-order first-fit, with all invariants intact."""
    from doctr_spark.operators.dedup import pack_sequences

    rows = [(i, t) for i, t in enumerate([90, 10, 80, 20, 70, 30, 60, 40, 50, 50] * 4)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    base = pack_sequences(df, "doc_id", "n_tokens", budget=100, partitions=1)
    ffd = pack_sequences(df, "doc_id", "n_tokens", budget=100, partitions=1, decreasing=True)
    n_base = base.select("pack_id").distinct().count()
    n_ffd = ffd.select("pack_id").distinct().count()
    assert n_ffd <= n_base
    from pyspark.sql import functions as F

    per = ffd.groupBy("pack_id").agg(F.sum("n_tokens").alias("t"))
    assert per.filter(F.col("t") > 100).count() == 0
    assert ffd.count() == df.count()
    # this mix packs perfectly under FFD: 40 docs * 50 avg = 2000 tokens -> 20 packs
    assert n_ffd == 20


def test_rolling_anomalies(spark):
    from datetime import datetime, timedelta

    from doctr_spark.operators.relational import rolling_anomalies

    base = datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        v = 10.0 if i != 25 else 500.0  # one wild outlier after warm-up
        rows.append((i, 1, base + timedelta(minutes=i), v))
    # second user: noisy but no outliers
    for i in range(30):
        rows.append((100 + i, 2, base + timedelta(minutes=i), 10.0 + (i % 5)))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    out = rolling_anomalies(df, lookback=20, min_n=10, z=3).collect()
    assert [(r["user_id"], r["event_id"]) for r in out] == [(1, 25)]
    assert out[0]["window_n"] == 20


def test_grouped_write_splits_giant_bucket(spark, tmp_path_factory):
    """Skew story, write side: a conversation that dwarfs everything else
    concentrates one bucket; the REBALANCE before the partitioned write
    must SPLIT that bucket across tasks (no one-core write straggler)
    while small buckets keep one file each and resume metrics stay exact."""
    import glob
    import random
    import string

    out = str(tmp_path_factory.mktemp("ckpt_skew"))
    rnd = random.Random(5)
    # plain-text turns: 1 giant conv (3000 turns of incompressible text)
    # + 60 one-turn convs
    rows = [
        ("conv-giant", t, "user",
         "".join(rnd.choices(string.ascii_letters + " ", k=400)), "", None)
        for t in range(3000)
    ] + [
        (f"conv-{c:03d}", 0, "user", f"small turn {c}", "", None)
        for c in range(60)
    ]
    inp = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(8)
    old = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864b")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        summary = run_extraction_checkpointed(spark, inp, out, buckets=4, grouped=True)
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", old)
    assert summary["remaining"] == 0
    from doctr_spark.plans.checkpoint import read_extraction_results

    res = read_extraction_results(spark, out)
    assert res.count() == 3060
    # locate the giant conv's bucket and count files per bucket dir
    giant_bucket = None
    per_bucket_files = {}
    for bdir in glob.glob(f"{out}/results/bucket=*"):
        b = int(bdir.rsplit("=", 1)[1])
        files = [f for f in glob.glob(f"{bdir}/*") if f.endswith(".parquet")]
        per_bucket_files[b] = len(files)
        if (
            spark.read.parquet(bdir)
            .filter(F.col("conv_id") == "conv-giant")
            .count()
        ):
            giant_bucket = b
    assert giant_bucket is not None
    assert per_bucket_files[giant_bucket] > 1, per_bucket_files  # split, not serialized
    for b, nf in per_bucket_files.items():
        if b != giant_bucket:
            assert nf <= 2, per_bucket_files  # small buckets stay small-file-free
    # manifest metrics exact despite the split
    manifest = spark.read.parquet(f"{out}/manifest")
    assert manifest.agg(F.sum("n_turns")).collect()[0][0] == 3060


def test_stateful_stream_foreachbatch_progression(spark, tmp_path_factory):
    """running_conversation_state through REAL readStream micro-batches
    (file source, one file per trigger) observed via a foreachBatch sink:
    the custom stateful operator's UPDATE-mode emissions must progress
    monotonically across micro-batches (a conversation's running count
    never decreases) and the union of final emissions must equal the batch
    rollup — pinned per micro-batch, not just on the final table."""
    import glob
    import os
    import shutil
    import time as _time
    from datetime import datetime

    from doctr_spark.streaming.stream import running_conversation_state

    base = tmp_path_factory.mktemp("febatch")
    in_dir = base / "in"
    in_dir.mkdir()
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    T = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")

    def write_file(rows, name):
        tmp = str(base / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], str(in_dir / name))

    # batch 1: c1 gets 3 turns, c2 gets 1; batch 2: c1 two more, c3 appears
    write_file(
        [("c1", i, "user", "x", "", T(f"10:0{i}:00")) for i in range(3)]
        + [("c2", 0, "user", "y", "", T("10:00:30"))],
        "a.parquet",
    )
    _time.sleep(1.1)  # file-source ordering is by mtime
    write_file(
        [("c1", 3, "user", "x", "", T("10:10:00")),
         ("c1", 4, "user", "x", "", T("10:11:00")),
         ("c3", 0, "user", "z", "", T("10:12:00"))],
        "b.parquet",
    )

    stream = stream_transcripts(spark, str(in_dir), max_files_per_trigger=1)
    counts = running_conversation_state(stream)
    batches: list[tuple[int, dict]] = []

    def capture(df, epoch_id):
        batches.append((epoch_id, {r["conv_id"]: (r["n_turns"], r["max_turn"]) for r in df.collect()}))

    q = (
        counts.writeStream.outputMode("update")
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = [b for _, b in batches if b]  # drop empty planning batches
    assert len(emitted) == 2, batches
    assert emitted[0] == {"c1": (3, 2), "c2": (1, 0)}
    assert emitted[1] == {"c1": (5, 4), "c3": (1, 0)}  # update mode: changed keys only
    # running counts never decrease across micro-batches
    assert emitted[1]["c1"][0] > emitted[0]["c1"][0]


def test_streaming_extraction_per_microbatch_exact(spark, tmp_path_factory):
    """extract_turns itself through REAL readStream micro-batches (file
    source, one file per trigger) observed via foreachBatch: EVERY
    micro-batch's OCR-payload turns match expected_text exactly
    (per-batch exact_match_ratio == 1.0, not just the final table) — the
    resumable continuous-ingest story executed end-to-end. The fused
    stage is stateless per turn, so batch boundaries cannot change any
    turn's output."""
    import glob
    import os
    import shutil
    import time as _time

    from doctr_spark.streaming.stream import extract_stream, stream_transcripts

    gen = make_transcripts(spark, 6, partitions=2, ocr_ratio=1.0, html_ratio=0.0).cache()
    expected = {
        (r["conv_id"], r["turn_idx"]): r["expected_text"]
        for r in gen.select("conv_id", "turn_idx", "expected_text").collect()
    }
    base = tmp_path_factory.mktemp("stream_exact")
    in_dir = base / "in"
    in_dir.mkdir()
    # three single-file arrivals -> three micro-batches
    convs = sorted({k[0] for k in expected})
    thirds = [convs[0::3], convs[1::3], convs[2::3]]
    for i, group in enumerate(thirds):
        tmp = str(base / f"stage_{i}")
        (
            gen.filter(F.col("conv_id").isin(group))
            .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
            .coalesce(1).write.mode("overwrite").parquet(tmp)
        )
        shutil.copy(
            glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
            str(in_dir / f"{i}.parquet"),
        )
        _time.sleep(1.1)  # file-source ordering is by mtime

    stream = stream_transcripts(spark, str(in_dir), max_files_per_trigger=1)
    per_batch: list[tuple[int, int]] = []  # (n_turns, n_exact)
    seen: set[tuple] = set()

    def capture(df, epoch_id):
        rows = df.select("conv_id", "turn_idx", "extracted_text").collect()
        if not rows:
            return
        n_exact = sum(
            expected[(r["conv_id"], r["turn_idx"])] == r["extracted_text"] for r in rows
        )
        per_batch.append((len(rows), n_exact))
        seen.update((r["conv_id"], r["turn_idx"]) for r in rows)

    q = (
        extract_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(per_batch) == 3, per_batch
    for n_turns, n_exact in per_batch:
        assert n_turns > 0 and n_exact == n_turns  # ratio 1.0 per batch
    assert seen == set(expected)  # union covers every turn exactly once
    gen.unpersist()


def test_completed_buckets_reads_manifest_strictly(spark, tmp_path):
    """An empty (or ``_temporary``-only) manifest dir means nothing is done;
    an unreadable manifest file raises instead of silently re-running every
    bucket and appending duplicate manifest rows."""
    from py4j.protocol import Py4JJavaError

    manifest = tmp_path / "manifest"
    manifest.mkdir()
    assert completed_buckets(spark, str(manifest)) == set()
    (manifest / "_temporary" / "0").mkdir(parents=True)
    assert completed_buckets(spark, str(manifest)) == set()

    (manifest / "part-00000-garbage.snappy.parquet").write_bytes(b"not a parquet file" * 8)
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        completed_buckets(spark, str(manifest))


def test_checkpoint_modes_commit_identically(spark, corpus, tmp_path_factory):
    """Grouped, per-bucket, and per-bucket interrupted after one bucket then
    resumed all commit the same result rows and the same manifest rows
    (except completed_ts), including a bucket that receives no rows."""
    from doctr_spark.plans.checkpoint import with_bucket

    inp = corpus.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    empty = 1
    inp = with_bucket(inp, 4).filter(F.col("bucket") != empty).drop("bucket")

    def committed(name, runs):
        out = str(tmp_path_factory.mktemp(name))
        for kw in runs:
            run_extraction_checkpointed(spark, inp, out, buckets=4, **kw)
        rows = read_extraction_results(spark, out).collect()
        manifest = spark.read.parquet(f"{out}/manifest").drop("completed_ts").collect()
        return (
            sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])),
            sorted(manifest, key=lambda r: r["bucket"]),
        )

    grouped = committed("parity_grouped", [dict(grouped=True)])
    per_bucket = committed("parity_per_bucket", [dict(grouped=False)])
    resumed = committed(
        "parity_resumed", [dict(grouped=False, max_buckets_this_run=1), dict(grouped=False)]
    )
    assert per_bucket == grouped
    assert resumed == grouped
    rows, manifest = grouped
    assert len(rows) == inp.count()
    assert [m["bucket"] for m in manifest] == [0, 1, 2, 3]
    assert tuple(manifest[empty])[1:] == (0, 0, 0, 0, 1.0, "done")


def test_read_extraction_results_of_an_all_empty_run(spark, corpus, tmp_path_factory):
    """A grouped run in which every bucket is empty reads back as 0 rows
    with the same columns as a non-empty run, instead of failing to infer a
    schema from no files."""
    inp = corpus.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    empty_out = str(tmp_path_factory.mktemp("ckpt_all_empty"))
    run_extraction_checkpointed(spark, inp.limit(0), empty_out, buckets=4, grouped=True)
    full_out = str(tmp_path_factory.mktemp("ckpt_not_empty"))
    run_extraction_checkpointed(spark, inp, full_out, buckets=4, grouped=True)
    empty = read_extraction_results(spark, empty_out)
    full = read_extraction_results(spark, full_out)
    assert empty.count() == 0
    assert full.count() == inp.count()
    assert empty.dtypes == full.dtypes
    assert completed_buckets(spark, f"{empty_out}/manifest") == {0, 1, 2, 3}


def test_checkpoint_names_its_jobs(spark, corpus, tmp_path_factory):
    """Each checkpoint step names its Spark jobs (read through the JVM
    status store, as the UI and event log see them), and the caller's job
    description is back in place afterwards."""
    inp = corpus.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    out = str(tmp_path_factory.mktemp("ckpt_named"))
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        seq = store.jobsList(None)
        described = {}
        for i in range(seq.size()):
            job = seq.apply(i)
            described[job.jobId()] = job.description().get() if job.description().isDefined() else None
        return described

    before = set(jobs())
    sc.setJobDescription("caller's job")
    try:
        run_extraction_checkpointed(spark, inp, out, buckets=2, grouped=True)
        assert sc.getLocalProperty("spark.job.description") == "caller's job"
        # a resume reads the manifest the first run wrote, and commits nothing
        assert run_extraction_checkpointed(spark, inp, out, buckets=2, grouped=True)["processed"] == []
        assert sc.getLocalProperty("spark.job.description") == "caller's job"
    finally:
        sc.setJobDescription(None)
    names = [name for job, name in jobs().items() if job not in before]
    label = f"checkpoint {out}: "
    assert names and all(name.startswith(label) for name in names), names
    steps = {name[len(label):] for name in names}
    assert {"read manifest", "2 buckets: write results", "2 buckets: aggregate manifest metrics",
            "2 buckets: append manifest"} <= steps, steps

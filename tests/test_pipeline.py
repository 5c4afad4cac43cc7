"""End-to-end Spark pipeline: per-turn text equality, ordering, rollups.
This is the sandbox version of the north-metric correctness gate."""

import pytest
from pyspark.sql import functions as F

from doctr_spark.plans.pipeline import (
    conversation_documents,
    extract_turns,
    ordered_turns,
)
from doctr_spark.sources.corpus import make_transcripts


@pytest.fixture(scope="module")
def corpus(spark):
    gen = make_transcripts(spark, 24, partitions=4, long_every=12, long_turns=40).cache()
    gen.count()
    yield gen
    gen.unpersist()


def test_per_turn_equality(spark, corpus):
    inp = corpus.drop("expected_text", "payload_kind")
    res = extract_turns(inp)
    j = res.join(corpus.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    total = j.count()
    assert total == corpus.count()
    mismatches = j.filter(F.col("extracted_text") != F.col("expected_text")).count()
    assert mismatches == 0


def test_all_payload_kinds_covered(spark, corpus):
    res = extract_turns(corpus.drop("expected_text", "payload_kind"))
    kinds = {r["payload_kind"] for r in res.select("payload_kind").distinct().collect()}
    assert kinds == {"plain", "html", "ocr"}


def test_metrics_populated(spark, corpus):
    res = extract_turns(corpus.drop("expected_text", "payload_kind")).cache()
    ocr = res.filter(F.col("payload_kind") == "ocr")
    row = ocr.agg(
        F.min("n_boxes").alias("minb"), F.min("min_conf").alias("minc"), F.min("n_pages").alias("minp")
    ).collect()[0]
    assert row["minb"] > 0 and row["minp"] >= 1
    assert row["minc"] > 0.5  # deterministic logits give high confidence
    html = res.filter(F.col("payload_kind") == "html")
    sr = html.agg(F.max("strip_ratio").alias("m")).collect()[0]["m"]
    assert 0 < sr < 1  # boilerplate was actually stripped
    res.unpersist()


def test_words_spans_present(spark, corpus):
    res = extract_turns(corpus.drop("expected_text", "payload_kind"))
    ocr = res.filter(F.col("payload_kind") == "ocr").limit(5).collect()
    for r in ocr:
        assert len(r["words"]) == r["n_boxes"]
        w = r["words"][0]
        assert 0 <= w["xmin"] < w["xmax"] <= 1
        assert w["value"]


def test_ordered_turns_rank(spark, corpus):
    res = ordered_turns(extract_turns(corpus.drop("expected_text", "payload_kind")))
    bad = res.filter(F.col("turn_rank") != F.col("turn_idx") + 1).count()
    assert bad == 0


def test_conversation_documents(spark, corpus):
    res = extract_turns(corpus.drop("expected_text", "payload_kind"))
    docs = conversation_documents(res)
    assert docs.count() == corpus.select("conv_id").distinct().count()
    row = docs.filter(F.col("conv_id") == "conv-000000").collect()[0]
    assert row["n_turns"] == 40
    assert row["document_text"].count("\n\n\n\n") >= row["n_turns"] - 1


def test_salted_extraction_same_result(spark, corpus):
    inp = corpus.drop("expected_text", "payload_kind")
    plain = extract_turns(inp).select("conv_id", "turn_idx", "extracted_text")
    salted = extract_turns(inp, salt_partitions=8).select("conv_id", "turn_idx", "extracted_text")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_rotated_pages_with_orientation_detection(spark):
    from doctr_spark.sources.corpus import make_transcripts
    from pyspark.sql import functions as F2

    gen = make_transcripts(
        spark, 10, partitions=2, ocr_ratio=1.0, html_ratio=0.0, rot_ratio=0.7
    ).cache()
    inp = gen.drop("expected_text", "payload_kind")
    res = extract_turns(inp, detect_orientation=True)
    j = res.join(gen.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    assert j.filter(F2.col("extracted_text") != F2.col("expected_text")).count() == 0
    gen.unpersist()


def test_artefacts_filtered_and_counted(spark):
    from doctr_spark.sources.corpus import make_transcripts
    from pyspark.sql import functions as F3

    gen = make_transcripts(
        spark, 10, partitions=2, ocr_ratio=1.0, html_ratio=0.0, artefact_ratio=0.9
    ).cache()
    res = extract_turns(gen.drop("expected_text", "payload_kind"))
    j = res.join(gen.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    # text equality holds despite solid blocks on most pages
    assert j.filter(F3.col("extracted_text") != F3.col("expected_text")).count() == 0
    # and the artefacts were actually seen and counted
    assert res.agg(F3.sum("n_artefacts")).collect()[0][0] > 0
    gen.unpersist()


def test_extract_turns_null_columns(spark):
    """NULL text/tool/ts must route to the plain path with empty output,
    never crash the Arrow batch (real transcript tables have null turns)."""
    from doctr_spark.plans.pipeline import extract_turns

    rows = [
        ("c1", 0, "user", None, None, None),
        ("c1", 1, "user", "hello", None, None),
        ("c1", 2, "user", None, "", None),
        ("c1", 3, "user", "<html><body><p>x</p></body></html>", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {
        r["turn_idx"]: (r["payload_kind"], r["extracted_text"])
        for r in extract_turns(df).collect()
    }
    assert got == {0: ("plain", ""), 1: ("plain", "hello"), 2: ("plain", ""), 3: ("html", "x")}


def test_extract_turns_degenerate_inputs(spark):
    """Empty input, malformed tool envelopes, and duplicate keys must never
    crash or silently drop rows."""
    from doctr_spark.plans.pipeline import conversation_documents, extract_turns, ordered_turns

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    empty = spark.createDataFrame([], schema)
    assert extract_turns(empty).count() == 0
    assert conversation_documents(extract_turns(empty)).count() == 0

    dup = spark.createDataFrame(
        [("c", 0, "user", "a", "", None), ("c", 0, "user", "b", "", None)], schema
    )
    assert ordered_turns(extract_turns(dup)).count() == 2

    bad = spark.createDataFrame(
        [("c", 0, "user", "t", "{not json", None), ("c", 1, "user", "t", '{"kind":"x"}', None)],
        schema,
    )
    rows = {(r["turn_idx"], r["payload_kind"], r["extracted_text"]) for r in extract_turns(bad).collect()}
    assert rows == {(0, "plain", "t"), (1, "plain", "t")}


def test_error_policy_quarantines_corrupt_payloads(spark):
    """A corrupt page bundle becomes a payload_kind='error' row with the
    message captured — the surrounding (valid) turns extract normally and
    the job never fails. error_policy='raise' propagates instead."""
    import base64
    import json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    good = make_transcripts(spark, 2, partitions=1, ocr_ratio=1.0, html_ratio=0.0).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    bad_tool = json.dumps(
        {"kind": "page_bundle", "b64": base64.b64encode(b"DSPGgarbage-not-a-bundle").decode()}
    )
    bad = spark.createDataFrame(
        [("conv-bad", 0, "user", "[attachment]", bad_tool, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = extract_turns(good.unionByName(bad)).cache()
    errs = out.filter(F.col("payload_kind") == "error").collect()
    assert len(errs) == 1
    assert errs[0]["conv_id"] == "conv-bad" and errs[0]["extracted_text"] == ""
    assert errs[0]["error"] and "Error" in errs[0]["error"]
    # every valid turn still extracted
    assert out.filter(F.col("payload_kind") == "ocr").count() == good.count()
    assert out.filter((F.col("payload_kind") != "error") & F.col("error").isNotNull()).count() == 0
    out.unpersist()

    with _pytest.raises(Exception):
        extract_turns(bad, error_policy="raise").collect()


def test_orienter_loader_through_extract_turns(spark):
    """The orientation model plumbs through the distributed path: a custom
    orienter loader resolves per worker and rotated OCR pages extract
    exactly."""
    from pyspark.sql import functions as F

    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    gen = make_transcripts(
        spark, 6, partitions=2, ocr_ratio=1.0, html_ratio=0.0, rot_ratio=1.0
    ).cache()
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")

    def load_orienter():
        from doctr_spark.operators.orientation import estimate_page_orientation

        return lambda page, scale: estimate_page_orientation(page, scale)

    out = extract_turns(
        inp, detect_orientation=True, orienter=("test-orienter", load_orienter)
    )
    j = out.join(gen.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0
    gen.unpersist()


def test_orienter_without_detect_orientation_is_rejected(corpus):
    """An orienter only runs under detect_orientation=True, so passing one
    without the flag fails loudly instead of being dropped."""
    inp = corpus.drop("expected_text", "payload_kind")
    orienter = ("test-orienter", lambda: lambda page, scale: 0)
    with pytest.raises(ValueError, match="detect_orientation=True"):
        extract_turns(inp, orienter=orienter)
    extract_turns(inp, detect_orientation=True, orienter=orienter)  # the flag admits it


def test_unknown_error_policy_is_rejected(corpus):
    """Only 'capture' and 'raise' are policies: a typo must fail when the
    plan is built, not turn the first bad row into a failed job."""
    inp = corpus.drop("expected_text", "payload_kind")
    for policy in ("captur", "Capture", "", None):
        with pytest.raises(ValueError, match="error_policy must be 'capture' or 'raise'"):
            extract_turns(inp, error_policy=policy)
    for policy in ("capture", "raise"):
        extract_turns(inp, error_policy=policy)  # builds the plan, runs nothing


def test_kie_route_predictions_and_render(spark):
    """extract_turns(kie=True) — the kie_predictor entry point (reference
    models/kie_predictor/pytorch.py:69-182): per-class prediction counts
    sum to n_boxes, each class list is reading-ordered, and kie_text
    equals an independent per-page recomputation from the word nodes."""
    from pyspark.sql import functions as F

    from doctr_spark.operators.kie import classify_token
    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import make_transcripts

    gen = make_transcripts(spark, 2, partitions=2, ocr_ratio=1.0, html_ratio=0.0)
    inp = gen.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    out = extract_turns(inp, kie=True).cache()
    try:
        # default columns intact + the two KIE columns appended
        assert out.columns[-2:] == ["predictions", "kie_text"]
        n_bad = out.filter(
            F.aggregate(
                F.map_values("predictions"), F.lit(0), lambda a, x: a + F.size(x)
            )
            != F.col("n_boxes")
        ).count()
        assert n_bad == 0
        rows = out.filter(F.col("payload_kind") == "ocr").collect()
        assert rows
        for r in rows:
            # class assignment matches the deterministic classifier and
            # each class list follows the LINE-AWARE reading order of the
            # word nodes (page, line_idx, word_idx — the builder's key)
            word_rank = {
                (w["page_idx"], round(w["xmin"], 9), round(w["ymin"], 9)): (
                    w["page_idx"], w["line_idx"], w["word_idx"],
                )
                for w in r["words"]
            }
            for cls, preds in r["predictions"].items():
                assert all(classify_token(p["value"]) == cls for p in preds)
                keys = [
                    word_rank[(p["page_idx"], round(p["xmin"], 9), round(p["ymin"], 9))]
                    for p in preds
                ]
                assert keys == sorted(keys), (cls, keys)
            # render recomputation: class-sorted 'class: value' per page
            per_page: dict[int, dict[str, list[str]]] = {}
            for cls, preds in r["predictions"].items():
                for p in preds:
                    per_page.setdefault(p["page_idx"], {}).setdefault(cls, []).append(
                        p["value"]
                    )
            pages = []
            for pi in range(r["n_pages"]):
                classes = per_page.get(pi, {})
                pages.append(
                    "\n\n".join(
                        f"{cls}: {v}" for cls in sorted(classes) for v in classes[cls]
                    )
                )
            assert r["kie_text"] == "\n\n\n\n".join(pages)
    finally:
        out.unpersist()


def test_kie_route_non_ocr_turns_empty_predictions(spark):
    """Plain/HTML turns through the KIE route carry empty predictions and
    an empty render — the KIE surface is defined over document payloads."""
    from pyspark.sql import functions as F

    from doctr_spark.plans.pipeline import extract_turns

    df = spark.createDataFrame(
        [("c0", 0, "user", "plain words here", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    r = extract_turns(df, kie=True).collect()[0]
    assert r["payload_kind"] == "plain"
    assert r["extracted_text"] == "plain words here"
    assert dict(r["predictions"]) == {}
    assert r["kie_text"] == ""


def test_malformed_envelopes_are_quarantined(spark):
    """A tool value that parses as an envelope but whose ``b64`` does not
    decode (bad base64 padding, a non-string value) becomes a
    payload_kind='error' row with a bounded message: envelope parsing sits
    inside the per-turn quarantine, so the task survives and the turns
    around it extract exactly as they do alone. error_policy='raise' still
    propagates."""
    import json

    good = make_transcripts(spark, 2, partitions=1, ocr_ratio=0.5, html_ratio=0.25).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    bad = spark.createDataFrame(
        [
            ("conv-bad", i, "tool", "[attachment]", json.dumps({"kind": "page_bundle", "b64": b64}), None)
            for i, b64 in enumerate(["abc", 5])
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    alone = {(r["conv_id"], r["turn_idx"]): r.asDict(True) for r in extract_turns(good).collect()}
    rows = extract_turns(good.unionByName(bad)).collect()
    errs = sorted((r for r in rows if r["conv_id"] == "conv-bad"), key=lambda r: r["turn_idx"])
    assert [(r["payload_kind"], r["error"].split(":")[0]) for r in errs] == [
        ("error", "Error"),  # binascii.Error: Incorrect padding
        ("error", "TypeError"),
    ]
    for r in errs:
        assert 0 < len(r["error"]) <= 500
        assert (r["extracted_text"], r["n_pages"], r["min_conf"], r["words"]) == ("", 0, 0.0, [])
    rest = {(r["conv_id"], r["turn_idx"]): r.asDict(True) for r in rows if r not in errs}
    assert rest == alone
    assert {r["payload_kind"] for r in alone.values()} >= {"ocr", "plain"}

    with pytest.raises(Exception, match="Incorrect padding"):
        extract_turns(bad.limit(1), error_policy="raise").collect()

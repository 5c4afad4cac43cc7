"""Payload codec + corpus generator determinism."""

import numpy as np
import pytest

from doctr_spark.sources.corpus import gen_conversation, gen_turn, make_transcripts_pdf
from doctr_spark.sources.payloads import (
    bundle_meta,
    decode_page_bundle,
    encode_page_bundle,
    parse_tool_envelope,
    read_image,
    read_pdf_pages,
    tool_envelope,
)


def test_bundle_roundtrip():
    pages = [np.random.default_rng(1).integers(0, 255, (40, 60)).astype(np.uint8), np.full((10, 20), 255, np.uint8)]
    data = encode_page_bundle(pages, scale=3)
    out, scale = decode_page_bundle(data)
    assert scale == 3
    assert len(out) == 2
    assert (out[0] == pages[0]).all()
    meta = bundle_meta(data)
    assert meta["n_pages"] == 2
    assert meta["dims"] == [(40, 60), (10, 20)]


def test_envelope_roundtrip():
    env = tool_envelope("page_bundle", b"\x00\x01binary")
    kind, payload = parse_tool_envelope(env)
    assert kind == "page_bundle"
    assert payload == b"\x00\x01binary"
    assert parse_tool_envelope("") is None
    assert parse_tool_envelope("not json") is None
    assert parse_tool_envelope('{"other": 1}') is None


def test_real_decoders_gated():
    with pytest.raises(NotImplementedError):
        read_pdf_pages(b"%PDF-")
    with pytest.raises(NotImplementedError):
        read_image(b"\x89PNG")


def test_gen_turn_deterministic():
    a = gen_turn(3, 7)
    b = gen_turn(3, 7)
    assert a == b
    c = gen_turn(3, 8)
    assert c["turn_idx"] == 8


def test_conversation_contiguous_turns():
    rows = gen_conversation(5)
    assert [r["turn_idx"] for r in rows] == list(range(len(rows)))
    assert all(r["conv_id"] == "conv-000005" for r in rows)


def test_corpus_mix_and_skew():
    pdf = make_transcripts_pdf(20, long_every=10, long_turns=50)
    kinds = set(pdf["payload_kind"])
    assert kinds == {"plain", "html", "ocr"}
    by_conv = pdf.groupby("conv_id").size()
    assert by_conv["conv-000000"] == 50  # hot key
    assert by_conv["conv-000010"] == 50


def test_skewed_corpus_extraction(spark):
    # FIXTURES.md §9: one hot conversation + many small ones
    from doctr_spark.sources.corpus import make_transcripts
    from doctr_spark.plans.pipeline import extract_turns
    from pyspark.sql import functions as F

    gen = make_transcripts(spark, 30, partitions=4, long_every=30, long_turns=300).cache()
    inp = gen.drop("expected_text", "payload_kind")
    res = extract_turns(inp, salt_partitions=16)
    j = res.join(gen.select("conv_id", "turn_idx", "expected_text"), ["conv_id", "turn_idx"])
    assert j.filter(F.col("extracted_text") != F.col("expected_text")).count() == 0
    counts = {r["conv_id"]: r["n"] for r in res.groupBy("conv_id").agg(F.count("*").alias("n")).collect()}
    assert counts["conv-000000"] == 300  # hot key fully processed
    gen.unpersist()

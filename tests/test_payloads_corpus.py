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


def _bundle(h: int, w: int, blob: bytes) -> bytes:
    """A one-page bundle declaring an h x w page over the raw zlib ``blob``."""
    import struct

    from doctr_spark.sources.payloads import MAGIC, VERSION

    return MAGIC + struct.pack(">BHB", VERSION, 1, 3) + struct.pack(">HHI", h, w, len(blob)) + blob


def test_bundle_bomb_refused_without_inflating():
    """A bundle that declares a 1x1 page over a stream inflating to 200 MB
    is refused after inflating at most the declared bytes; streams that end
    short of h*w or carry trailing input are refused as well."""
    import tracemalloc
    import zlib

    comp = zlib.compressobj(9)
    chunk = bytes(1 << 20)
    bomb = b"".join(comp.compress(chunk) for _ in range(200)) + comp.flush()
    assert len(bomb) < 256 << 10
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="1x1"):
            decode_page_bundle(_bundle(1, 1, bomb))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 16 << 20
    page = zlib.compress(bytes(range(12)))
    assert decode_page_bundle(_bundle(3, 4, page))[0][0].tobytes() == bytes(range(12))
    for h, w, blob in [(4, 4, page), (3, 4, page + b"x"), (3, 4, page[:-2]), (0, 4, page)]:
        with pytest.raises(ValueError, match="inflate"):
            decode_page_bundle(_bundle(h, w, blob))


def test_header_declared_bomb_refused_before_inflating():
    """A 62 KB bundle that honestly declares one 8000x8000 page of zeros is
    refused from its header alone; the cap counts the pixels of all pages,
    and a bundle declaring exactly the cap reaches the per-page inflate."""
    import struct
    import tracemalloc
    import zlib

    from doctr_spark.sources.payloads import MAGIC, MAX_BUNDLE_PIXELS, VERSION

    comp = zlib.compressobj(9)
    row_block = bytes(8000 * 1000)
    zeros = b"".join(comp.compress(row_block) for _ in range(8)) + comp.flush()
    assert len(zeros) < 64 << 10
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="cap"):
            decode_page_bundle(_bundle(8000, 8000, zeros))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 16 << 20

    page = zlib.compress(b"")
    half = MAX_BUNDLE_PIXELS // 2 // 4096 + 1  # two pages of 4096 x half pass the cap together
    two = MAGIC + struct.pack(">BHB", VERSION, 2, 3) + 2 * (struct.pack(">HHI", 4096, half, len(page)) + page)
    with pytest.raises(ValueError, match="cap"):
        decode_page_bundle(two)
    with pytest.raises(ValueError, match="inflate"):
        decode_page_bundle(_bundle(4096, MAX_BUNDLE_PIXELS // 4096, page))


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

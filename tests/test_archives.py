"""Public-benchmark archive loaders (sources/archives.py) against mocked
archives — the same strategy the reference's own tests use
(tests/conftest.py:113-783 builds zip mocks; no network): zip layout,
per-image annotation parsing, box-conversion parity, empty-text drop,
comma-label rejoin, and the no-shuffle Spark plan shape. The mock layouts
come from doctr_spark/plans/mock_archives.py, shared with the
archive_datasets query."""

from __future__ import annotations

import json
import os

import pytest

from doctr_spark.plans import mock_archives as M
from doctr_spark.plans.mock_archives import (
    COCO_JSON,
    CORD_ANN,
    FUNSD_ANN,
    IC03_XML,
    IC13_GT,
    SROIE_ANN,
    SVT_XML,
    WILDRECEIPT_JSONL,
)
from doctr_spark.sources.archives import (
    extract_archive,
    load_cocotext,
    load_cord,
    load_funsd,
    load_ic03,
    load_ic13,
    load_iiit5k,
    load_iiithws,
    load_mjsynth,
    load_sroie,
    load_svt,
    load_synthtext,
    load_wildreceipt,
    parse_cocotext,
    parse_cord_annotation,
    parse_funsd_annotation,
    parse_ic03_words_xml,
    parse_ic13_annotation,
    parse_sroie_annotation,
    parse_svt_xml,
    parse_wildreceipt_line,
)


# ------------------------------------------------------------- pure parsers


def test_funsd_parse_straight_and_polygons_and_empty_drop():
    geoms, labels = parse_funsd_annotation(FUNSD_ANN)
    assert labels == ["TOTAL:", "42.50", "EUR"]  # empty-text word dropped
    assert geoms[0] == [10.0, 20.0, 58.0, 32.0]
    pg, _ = parse_funsd_annotation(FUNSD_ANN, use_polygons=True)
    # box -> tl, tr, br, bl corners (funsd.py:92-100)
    assert pg[0] == [10.0, 20.0, 58.0, 20.0, 58.0, 32.0, 10.0, 32.0]


def test_cord_parse_quad_reduction_and_corner_order():
    geoms, labels = parse_cord_annotation(CORD_ANN)
    assert labels == ["LATTE", "4.00"]
    # min/max reduction over the 4 quad points (cord.py:107)
    assert geoms[0] == [98.0, 50.0, 160.0, 70.0]
    pg, _ = parse_cord_annotation(CORD_ANN, use_polygons=True)
    assert pg[0] == [100.0, 50.0, 160.0, 52.0, 158.0, 70.0, 98.0, 68.0]


def test_sroie_parse_comma_labels_and_quad_reduction():
    geoms, labels = parse_sroie_annotation(SROIE_ANN)
    # the label tail rejoins on commas (sroie.py:92)
    assert labels == ["ACME STORE", "RECEIPT,NO,7", "9.99"]
    # skewed quad reduces to per-axis min/max (sroie.py:97-100)
    assert geoms[1] == [18.0, 70.0, 120.0, 95.0]
    pg, _ = parse_sroie_annotation(SROIE_ANN, use_polygons=True)
    assert pg[1] == [20.0, 70.0, 120.0, 75.0, 118.0, 95.0, 18.0, 90.0]


# ------------------------------------------------------------ spark loaders


def test_funsd_loader_end_to_end(spark, tmp_path):
    zp = M.build_funsd_zip(str(tmp_path))
    root = extract_archive(zp, str(tmp_path / "x"))
    df = load_funsd(spark, root, train=True)
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"0.png", "1.png"}
    assert rows["0.png"]["labels"] == ["TOTAL:", "42.50", "EUR"]
    assert rows["0.png"]["geoms"][1] == [64.0, 20.0, 104.0, 32.0]
    assert bytes(rows["1.png"]["image"]) == b"\x89PNG-funsd\x01"
    # extraction is idempotent
    assert extract_archive(zp, str(tmp_path / "x")) == root


def test_cord_and_sroie_loaders_end_to_end(spark, tmp_path):
    cord_root = extract_archive(M.build_cord_zip(str(tmp_path)), str(tmp_path / "c"))
    df = load_cord(spark, cord_root, use_polygons=True)
    r = {x["img_name"]: x for x in df.collect()}["r0.png"]
    assert r["labels"] == ["LATTE", "4.00"]
    assert r["geoms"][0] == [100.0, 50.0, 160.0, 52.0, 158.0, 70.0, 98.0, 68.0]

    sroie_root = extract_archive(M.build_sroie_zip(str(tmp_path)), str(tmp_path / "s"))
    df = load_sroie(spark, sroie_root)
    r = {x["img_name"]: x for x in df.collect()}["1.jpg"]
    assert r["labels"] == ["ACME STORE", "RECEIPT,NO,7", "9.99"]
    assert len(r["geoms"]) == 3 and all(len(g) == 4 for g in r["geoms"])


def test_missing_annotation_raises(spark, tmp_path):
    root = extract_archive(M.build_funsd_zip(str(tmp_path)), str(tmp_path / "m"))
    os.remove(os.path.join(root, "dataset", "training_data", "annotations", "1.json"))
    with pytest.raises(FileNotFoundError):
        load_funsd(spark, root, train=True)


def test_archive_loader_plan_has_no_exchange(spark, tmp_path):
    """Image bytes never shuffle: the plan is binaryFile scan ->
    mapInPandas broadcast attach, no Exchange (same guarantee
    sources/datasets.py pins)."""
    root = extract_archive(M.build_sroie_zip(str(tmp_path)), str(tmp_path / "p"))
    df = load_sroie(spark, root)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "Exchange" not in plan


# --------------------------------------------- IC13 / IC03 / WILDRECEIPT

def test_ic13_parse_quotes_and_trailing_commas():
    geoms, labels = parse_ic13_annotation(IC13_GT)
    # trailing commas stripped per value, labels dequoted — reference
    # parity quirk included: the strip applies to the LABEL too, so a
    # quoted 'HERE,' loses its comma exactly as ic13.py:77-79 does
    assert labels == ["FOUND", "IT", "HERE"]
    assert geoms[1] == [275.0, 264.0, 665.0, 450.0]
    pg, _ = parse_ic13_annotation(IC13_GT, use_polygons=True)
    assert pg[0] == [38.0, 43.0, 920.0, 43.0, 920.0, 215.0, 38.0, 215.0]


def test_ic03_parse_xml_filters_boxless_images():
    parsed = parse_ic03_words_xml(IC03_XML)
    assert list(parsed) == ["apanar/IMG_1.jpg"]  # IMG_2 has no boxes
    geoms, labels = parsed["apanar/IMG_1.jpg"]
    assert labels == ["STOP", "AHEAD"]
    assert geoms[0] == [10.0, 20.0, 50.0, 32.0]  # x, y, x+w, y+h
    pp = parse_ic03_words_xml(IC03_XML, use_polygons=True)
    assert pp["apanar/IMG_1.jpg"][0][1] == [60.0, 20.0, 90.0, 20.0, 90.0, 32.0, 60.0, 32.0]


def test_wildreceipt_parse_minmax_over_8_coords():
    rec = json.loads(WILDRECEIPT_JSONL.splitlines()[0])
    geoms, labels = parse_wildreceipt_line(rec)
    assert labels == ["CAFE", "9.50"]
    assert geoms[0] == [8.0, 20.0, 50.0, 40.0]  # min/max over skewed quad
    pg, _ = parse_wildreceipt_line(rec, use_polygons=True)
    assert pg[0] == [10.0, 20.0, 50.0, 22.0, 48.0, 40.0, 8.0, 38.0]


def test_ic13_ic03_wildreceipt_loaders_end_to_end(spark, tmp_path):
    # IC13: explicit folders
    df = load_ic13(spark, *M.build_ic13(str(tmp_path)))
    r = {x["img_name"]: x for x in df.collect()}["w0.png"]
    assert r["labels"] == ["FOUND", "IT", "HERE"]

    # IC03: subset folder + words.xml with subdir image names
    df = load_ic03(spark, M.build_ic03(str(tmp_path)), train=True)
    rows = df.collect()
    assert len(rows) == 1  # the boxless image is filtered
    assert rows[0]["img_name"] == "IMG_1.jpg"
    assert rows[0]["labels"] == ["STOP", "AHEAD"]

    # WILDRECEIPT: jsonl + image folder
    df = load_wildreceipt(spark, *M.build_wildreceipt(str(tmp_path)))
    r = {x["img_name"]: x for x in df.collect()}["0.jpeg"]
    assert r["labels"] == ["CAFE", "9.50"]
    assert r["geoms"][0] == [8.0, 20.0, 50.0, 40.0]


# ---------------------------------------------------- SVT / COCO-Text

def test_svt_parse_xywh_and_tag_labels():
    parsed = parse_svt_xml(SVT_XML)
    assert list(parsed) == ["img/14_03.jpg", "img/14_04.jpg"]
    geoms, labels = parsed["img/14_03.jpg"]
    assert labels == ["STOP", "AHEAD"]
    assert geoms[0] == [10.0, 20.0, 50.0, 32.0]
    pp = parse_svt_xml(SVT_XML, use_polygons=True)
    assert pp["img/14_04.jpg"][0][0] == [5.0, 5.0, 25.0, 5.0, 25.0, 15.0, 5.0, 15.0]


def test_cocotext_parse_set_and_legibility_filters():
    parsed = parse_cocotext(COCO_JSON, train=True)
    # val image excluded, illegible-only image skipped entirely
    assert set(parsed) == {"ct0.jpg", "ct2.jpg"}
    geoms, labels = parsed["ct0.jpg"]
    assert labels == ["EXIT"]  # the illegible ann on 101 is dropped
    assert geoms[0] == [10.0, 20.0, 50.0, 32.0]
    # the val image has no legible anns at all -> skipped, not emitted empty
    assert parse_cocotext(COCO_JSON, train=False) == {}


def test_svt_and_cocotext_loaders_end_to_end(spark, tmp_path):
    df = load_svt(spark, M.build_svt(str(tmp_path)), train=True)
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"14_03.jpg", "14_04.jpg"}
    assert rows["14_03.jpg"]["labels"] == ["STOP", "AHEAD"]

    df = load_cocotext(spark, *M.build_cocotext(str(tmp_path)), train=True)
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"ct0.jpg", "ct2.jpg"}
    assert rows["ct2.jpg"]["labels"] == ["NORTH"]
    assert rows["ct2.jpg"]["geoms"][0] == [30.0, 40.0, 50.0, 50.0]


# ------------------------------------------------- MJSynth / IIIT-HWS

def test_mjsynth_filename_labels_and_split(spark, tmp_path):
    root, ann = M.build_mjsynth(str(tmp_path))
    df = load_mjsynth(spark, root, ann, train=True)
    rows = {r["img_name"]: r["label"] for r in df.collect()}
    # label = second underscore field; 90/10 in-order split keeps 2 of 3
    assert rows == {"107_WELCOME_123.jpg": "WELCOME", "108_Hello_77.jpg": "Hello"}
    test_df = load_mjsynth(spark, root, ann, train=False)
    assert {r["label"] for r in test_df.collect()} == {"SKIPPED"}
    # blacklist drops a corrupt path before parsing
    bl = load_mjsynth(
        spark, root, ann, train=True,
        blacklist=frozenset(["./2/1/108_Hello_77.jpg\n"]),
    )
    assert {r["label"] for r in bl.collect()} == {"WELCOME"}


def test_mjsynth_blacklist_accepts_clean_relative_paths(spark, tmp_path):
    root, ann = M.build_mjsynth(str(tmp_path))
    bl = load_mjsynth(
        spark, root, ann, train=True, blacklist=frozenset(["2/1/108_Hello_77.jpg"])
    )
    assert {r["label"] for r in bl.collect()} == {"WELCOME"}


def test_basename_collision_across_subdirs_raises(spark, tmp_path):
    """binaryFile keys rows by basename: two annotated images named
    x.jpg in different subdirectories must fail, not merge."""
    sub = tmp_path / "svt" / "svt1"
    for d in ("a", "b"):
        (sub / d).mkdir(parents=True)
        (sub / d / "x.jpg").write_bytes(b"svt-" + d.encode())
    xml = SVT_XML.replace("img/14_03.jpg", "a/x.jpg").replace("img/14_04.jpg", "b/x.jpg")
    (sub / "train.xml").write_text(xml)
    with pytest.raises(ValueError, match="x.jpg"):
        load_svt(spark, str(tmp_path / "svt"), train=True)


def test_iiithws_deterministic_split(spark, tmp_path):
    root, ann = M.build_iiithws(str(tmp_path))
    tr = load_iiithws(spark, root, ann, train=True)
    te = load_iiithws(spark, root, ann, train=False)
    tr_labels = {r["label"] for r in tr.collect()}
    te_labels = {r["label"] for r in te.collect()}
    # deterministic hash-ordered split: 2 train + 1 test, disjoint, total 3
    assert len(tr_labels) == 2 and len(te_labels) == 1
    assert tr_labels | te_labels == {"HELLO", "WORLD", "SPARK"}
    assert not (tr_labels & te_labels)
    # stable across invocations (the reference's unseeded shuffle is not)
    tr2 = {r["label"] for r in load_iiithws(spark, root, ann, train=True).collect()}
    assert tr2 == tr_labels


# ------------------------------------------ IIIT5K / SynthText (.mat)


def test_matio_round_trip_all_supported_classes(tmp_path):
    """The bundled MAT-v5 codec: numeric (incl. 3-D column-major), char,
    cell, struct array, zlib-wrapped elements."""
    import numpy as np

    from doctr_spark.sources.matio import read_mat, write_mat

    p = str(tmp_path / "rt.mat")
    wb3 = np.arange(24, dtype=float).reshape(2, 4, 3, order="F")
    data = {
        "s": [{"a": "one", "b": np.array([[1.0, 2.0]])},
              {"a": "two", "b": np.array([[3.0, 4.0]])}],
        "c": ["x/0.jpg", "y/1.jpg"],
        "m3": wb3,
        "v": np.array([1.0, 2.5, -3.0]),
    }
    for compress in (True, False):
        write_mat(p, data, compress=compress)
        back = read_mat(p)
        assert [e["a"] for e in back["s"]] == ["one", "two"]
        np.testing.assert_array_equal(back["s"][1]["b"], [[3.0, 4.0]])
        assert back["c"] == ["x/0.jpg", "y/1.jpg"]
        np.testing.assert_array_equal(back["m3"], wb3)
        np.testing.assert_array_equal(back["v"], [[1.0, 2.5, -3.0]])


def test_matio_rejects_garbage(tmp_path):
    from doctr_spark.sources.matio import read_mat

    p = tmp_path / "bad.mat"
    p.write_bytes(b"\x00" * 20)
    with pytest.raises(ValueError):
        read_mat(str(p))


def test_iiit5k_loader_char_boxes(spark, tmp_path):
    root = M.build_iiit5k(str(tmp_path))
    df = load_iiit5k(spark, root, train=True)
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"1.png", "2.png"}
    # label cast to per-character list aligned with the char boxes
    assert rows["1.png"]["labels"] == ["Y", "O", "U"]
    # xywh -> xyxy (iiit5k.py:99)
    assert rows["1.png"]["geoms"][0] == [10.0, 20.0, 18.0, 32.0]
    df_p = load_iiit5k(spark, root, train=True, use_polygons=True)
    r = {x["img_name"]: x for x in df_p.collect()}["2.png"]
    assert r["geoms"][2] == [19.0, 5.0, 25.0, 5.0, 25.0, 15.0, 19.0, 15.0]


def test_synthtext_loader_corner_tensors_and_split(spark, tmp_path):
    root = M.build_synthtext(str(tmp_path))
    df = load_synthtext(spark, root, train=True)  # int(3*0.9)=2 -> first 2
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"0.jpg", "1.jpg"}
    assert rows["0.jpg"]["labels"] == ["CAFE", "9X"]
    # min/max over the skewed (4,2) quad (synthtext.py:114-116)
    assert rows["0.jpg"]["geoms"][0] == [8.0, 20.0, 50.0, 40.0]
    assert rows["1.jpg"]["labels"] == ["SOLO"]
    te = load_synthtext(spark, root, train=False)
    assert {r["img_name"] for r in te.collect()} == {"2.jpg"}
    df_p = load_synthtext(spark, root, train=True, use_polygons=True)
    r = {x["img_name"]: x for x in df_p.collect()}["0.jpg"]
    # corner tensor transposed to per-word (4,2) -> 8 flat coords
    assert r["geoms"][1] == [60.0, 20.0, 90.0, 20.0, 90.0, 40.0, 60.0, 40.0]

"""Public-benchmark archive dataset loaders (FUNSD / CORD / SROIE),
Spark-first — the archive-parsing third of the reference's data API that
``sources/datasets.py`` left open.

Per-image annotation formats follow the reference loaders exactly:

- FUNSD (reference datasets/funsd.py:21-120): zip layout
  ``dataset/{training_data,testing_data}/{images,annotations}``; each
  ``annotations/<stem>.json`` holds ``{"form": [block]}`` where every
  block carries ``words: [{"text", "box": [xmin,ymin,xmax,ymax]}]`` —
  words with empty text are dropped, ``use_polygons`` expands the box to
  the 4 corner points (funsd.py:86-103).
- CORD (reference datasets/cord.py:20-120): zip layout
  ``{image,json}``; each ``json/<stem>.json`` holds ``valid_line`` lines
  of ``words: [{"text", "quad": {x1..x4, y1..y4}}]`` — the quad is kept
  as the 4 corners with ``use_polygons`` else reduced to
  ``[min(x), min(y), max(x), max(y)]`` (cord.py:94-110).
- SROIE (reference datasets/sroie.py:20-108): zip layout
  ``{images,annotations}``; each ``annotations/<stem>.txt`` is
  latin-encoded CSV whose rows are 8 corner ints then the label (which
  may itself contain commas — rejoined with ``",".join(row[8:])``,
  sroie.py:92); ``use_polygons`` keeps the (4,2) corners else reduces to
  per-axis min/max (sroie.py:97-100).
- IC13 (reference datasets/ic13.py:20-100): per-image
  ``gt_<stem>.txt`` — space-delimited CSV with ``'`` quotechar, values
  may carry trailing commas; 4 box ints then the quoted label
  (ic13.py:77-85).
- IC03 (reference datasets/ic03.py:20-131): ONE ``words.xml`` for the
  whole set — per-image ``<taggedRectangle x y width height>`` elements
  with ``<tag>`` children as labels; images without boxes are filtered
  (ic03.py:117-120).
- WILDRECEIPT (reference datasets/wildreceipt.py:21-120): one JSON-lines
  file — each line ``{"file_name", "annotations": [{"box": 8 coords,
  "text"}]}``; min/max reduction over the 8 coords else the 4 corners
  (wildreceipt.py:91-105).
- SVT (reference datasets/svt.py:20-120): svt1/{train,test}.xml with
  per-image taggedRectangles (x/y/width/height) and tag-child labels.
- COCO-Text (reference datasets/coco_text.py:20-130): one annotation
  JSON with ``imgs``/``anns`` maps — set filter, legibility filter,
  xywh boxes, readable-text-less images skipped.

- MJSynth (reference datasets/mjsynth.py:20-108): annotation file of
  relative image paths whose SECOND underscore field is the label
  (``./d/s/NNN_LABEL_NNN.jpg``), a known-corrupt-path blacklist, and a
  90/10 in-order train split.
- IIITHWS (reference datasets/iiithws.py:20-75): ``path label`` lines
  with a shuffle-then-90/10 split — the reference shuffles UNSEEDED
  (non-reproducible sets across runs); this loader orders by a stable
  per-line hash instead so the split is deterministic, documented
  deviation.

- IIIT5K (reference datasets/iiit5k.py:20-110): a v5 ``.mat`` holding a
  1xN struct array (ImgName, label chars, per-CHARACTER xywh boxes) —
  parsed with the bundled pure-Python MAT-v5 codec (sources/matio.py;
  the public MAT-File Format spec, zlib elements included).
- SynthText (reference datasets/synthtext.py:20-140): ``gt.mat`` cell
  arrays ``imnames`` / ``wordBB`` (2x4xW corner tensors) / ``txt``
  (char rows whose whitespace-split words align with boxes), 90/10
  in-order split — same MAT-v5 codec.

(The one remaining reference format — SVHN — stores digitStruct.mat as
HDF5 (MAT v7.3); no HDF5 reader ships in this container, so it stays
out of scope.)

Spark shape — identical to sources/datasets.py: the archive extracts
once on the driver (the reference's VisionDataset download+extract step,
minus the network), image bytes enter through a ``binaryFile`` scan of
exactly the annotated files (split-parallel, content never shuffles),
and the parsed per-image (geoms, labels) ride as ONE broadcast dict
applied in a mapInPandas projection. Output schema for all three:
``(img_name, image binary, n_bytes, geoms array<array<double>>,
labels array<string>)`` with straight boxes as 4 doubles and polygons as
8 corner doubles.
"""

from __future__ import annotations

import csv
import io
import json
import os
import zipfile

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .datasets import _attach_broadcast_columns, _images_df

GEOM_SCHEMA = "geoms array<array<double>>, labels array<string>"


def extract_archive(archive_path: str, extract_root: str) -> str:
    """Extract a dataset zip (idempotent: skips when the marker exists).
    Plays VisionDataset's download_and_extract step (reference
    datasets/datasets/base.py) without the network."""
    marker = os.path.join(extract_root, ".extracted")
    if not os.path.exists(marker):
        os.makedirs(extract_root, exist_ok=True)
        with zipfile.ZipFile(archive_path) as zf:
            zf.extractall(extract_root)
        with open(marker, "w") as fh:
            fh.write(os.path.basename(archive_path))
    return extract_root


def _by_basename(parsed: dict) -> dict:
    """Re-key a per-image map by basename, the key binaryFile surfaces.
    Two annotated files with one basename in different subdirectories
    would silently collapse into one entry, so that raises instead."""
    rekeyed = {os.path.basename(k): v for k, v in parsed.items()}
    if len(rekeyed) != len(parsed):
        names = [os.path.basename(k) for k in parsed]
        dup = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"annotated images share basenames {dup} across subdirectories")
    return rekeyed


# ------------------------------------------------------------ annotation parsers


def parse_funsd_annotation(
    data: dict, use_polygons: bool = False
) -> tuple[list[list[float]], list[str]]:
    """FUNSD form JSON -> (geoms, labels); empty-text words dropped and
    the straight box optionally expanded to its 4 corners, exactly
    funsd.py:86-103."""
    geoms: list[list[float]] = []
    labels: list[str] = []
    for block in data["form"]:
        for word in block["words"]:
            if len(word["text"]) == 0:
                continue
            b = [float(v) for v in word["box"]]
            if use_polygons:
                geoms.append([b[0], b[1], b[2], b[1], b[2], b[3], b[0], b[3]])
            else:
                geoms.append(b)
            labels.append(word["text"])
    return geoms, labels


def parse_cord_annotation(
    data: dict, use_polygons: bool = False
) -> tuple[list[list[float]], list[str]]:
    """CORD valid_line JSON -> (geoms, labels); quad corners kept in the
    x1..x4 order with use_polygons else reduced to min/max
    (cord.py:94-110)."""
    geoms: list[list[float]] = []
    labels: list[str] = []
    for line in data["valid_line"]:
        for word in line["words"]:
            if len(word["text"]) == 0:
                continue
            q = word["quad"]
            xs = [float(q["x1"]), float(q["x2"]), float(q["x3"]), float(q["x4"])]
            ys = [float(q["y1"]), float(q["y2"]), float(q["y3"]), float(q["y4"])]
            if use_polygons:
                geoms.append(
                    [xs[0], ys[0], xs[1], ys[1], xs[2], ys[2], xs[3], ys[3]]
                )
            else:
                geoms.append([min(xs), min(ys), max(xs), max(ys)])
            labels.append(word["text"])
    return geoms, labels


def parse_sroie_annotation(
    text: str, use_polygons: bool = False
) -> tuple[list[list[float]], list[str]]:
    """SROIE CSV rows (8 corner ints, label tail possibly containing
    commas) -> (geoms, labels), sroie.py:88-100."""
    rows = [r for r in csv.reader(io.StringIO(text)) if len(r) > 0]
    geoms: list[list[float]] = []
    labels: list[str] = []
    for row in rows:
        coords = np.array([int(v) for v in row[:8]], dtype=np.float64).reshape(4, 2)
        if use_polygons:
            geoms.append([float(v) for v in coords.reshape(-1)])
        else:
            geoms.append(
                [
                    float(coords[:, 0].min()), float(coords[:, 1].min()),
                    float(coords[:, 0].max()), float(coords[:, 1].max()),
                ]
            )
        labels.append(",".join(row[8:]))
    return geoms, labels


def parse_ic13_annotation(
    text: str, use_polygons: bool = False
) -> tuple[list[list[float]], list[str]]:
    """IC13 gt file -> (geoms, labels): space-delimited, ``'`` quotechar,
    per-value trailing commas stripped, label dequoted (ic13.py:77-85)."""
    rows = [
        [v[:-1] if v.endswith(",") else v for v in row]
        for row in csv.reader(io.StringIO(text), delimiter=" ", quotechar="'")
        if row
    ]
    geoms: list[list[float]] = []
    labels: list[str] = []
    for row in rows:
        b = [float(int(v)) for v in row[:4]]  # xmin, ymin, xmax, ymax
        if use_polygons:
            geoms.append([b[0], b[1], b[2], b[1], b[2], b[3], b[0], b[3]])
        else:
            geoms.append(b)
        labels.append(row[-1].replace('"', ""))
    return geoms, labels


def parse_ic03_words_xml(
    xml_text: str, use_polygons: bool = False
) -> dict[str, tuple[list[list[float]], list[str]]]:
    """IC03 words.xml -> {img_name: (geoms, labels)}: taggedRectangle
    x/y/width/height attributes, tag-child labels, box-less images
    filtered (ic03.py:83-120)."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml_text)
    out: dict[str, tuple[list[list[float]], list[str]]] = {}
    for image in root:
        name, _resolution, rectangles = image
        geoms: list[list[float]] = []
        for rect in rectangles:
            x, y = float(rect.attrib["x"]), float(rect.attrib["y"])
            w, h = float(rect.attrib["width"]), float(rect.attrib["height"])
            if use_polygons:
                geoms.append([x, y, x + w, y, x + w, y + h, x, y + h])
            else:
                geoms.append([x, y, x + w, y + h])
        labels = [lab.text for rect in rectangles for lab in rect if lab.text]
        if geoms:  # filter images without boxes (ic03.py:117)
            out[name.text] = (geoms, labels)
    return out


def parse_wildreceipt_line(
    json_line: dict, use_polygons: bool = False
) -> tuple[list[list[float]], list[str]]:
    """One WILDRECEIPT JSON-lines record's annotations -> (geoms, labels):
    8 flat coords per box, min/max reduction else the 4 corners in file
    order (wildreceipt.py:91-105)."""
    geoms: list[list[float]] = []
    labels: list[str] = []
    for ann in json_line["annotations"]:
        c = [float(v) for v in ann["box"]]
        if use_polygons:
            geoms.append(c[:8])
        else:
            xs, ys = c[::2], c[1::2]
            geoms.append([min(xs), min(ys), max(xs), max(ys)])
        labels.append(ann["text"])
    return geoms, labels


def parse_svt_xml(
    xml_text: str, use_polygons: bool = False
) -> dict[str, tuple[list[list[float]], list[str]]]:
    """SVT train/test.xml -> {img_relpath: (geoms, labels)}: per-image
    taggedRectangles with x/y/width/height attributes and tag-child
    labels (svt.py:76-111; the reference unpacks the image element
    positionally — this parses by tag name, same result on the published
    schema)."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml_text)
    out: dict[str, tuple[list[list[float]], list[str]]] = {}
    for image in root:
        name = image.find("imageName").text
        rectangles = image.find("taggedRectangles")
        geoms: list[list[float]] = []
        labels: list[str] = []
        for rect in rectangles:
            x, y = float(rect.attrib["x"]), float(rect.attrib["y"])
            w, h = float(rect.attrib["width"]), float(rect.attrib["height"])
            if use_polygons:
                geoms.append([x, y, x + w, y, x + w, y + h, x, y + h])
            else:
                geoms.append([x, y, x + w, y + h])
            labels.extend(lab.text for lab in rect)
        out[name] = (geoms, labels)
    return out


def parse_cocotext(
    data: dict, train: bool = True, use_polygons: bool = False
) -> dict[str, tuple[list[list[float]], list[str]]]:
    """COCO-Text annotation JSON -> {file_name: (geoms, labels)}: images
    filtered by set, annotations by legibility == 'legible', xywh boxes
    to corners or min/max, images without legible text skipped
    (coco_text.py:78-118)."""
    out: dict[str, tuple[list[list[float]], list[str]]] = {}
    for img_id, img_info in data["imgs"].items():
        if (img_info["set"] == "train") != train:
            continue
        anns = [
            a
            for a in data["anns"].values()
            if a["image_id"] == int(img_id) and a["legibility"] == "legible"
        ]
        if not anns:
            continue  # some images have no readable text
        geoms: list[list[float]] = []
        labels: list[str] = []
        for a in anns:
            x, y, w, h = (float(v) for v in a["bbox"])
            if use_polygons:
                geoms.append([x, y, x + w, y, x + w, y + h, x, y + h])
            else:
                geoms.append([x, y, x + w, y + h])
            labels.append(a["utf8_string"])
        out[img_info["file_name"]] = (geoms, labels)
    return out


# ------------------------------------------------------------------ loaders


def _load_archive_dataset(
    spark: SparkSession,
    img_folder: str,
    ann_folder: str,
    ann_suffix: str,
    parse,
    use_polygons: bool,
    encoding: str | None = None,
) -> DataFrame:
    """Shared scan+broadcast plan: list images, parse each one's sibling
    annotation on the driver (annotations are KBs; image bytes are the
    heavy side and stay in the binaryFile scan)."""
    if not os.path.isdir(img_folder):
        raise FileNotFoundError(f"unable to locate {img_folder}")
    parsed: dict[str, tuple[list[list[float]], list[str]]] = {}
    for img_name in sorted(os.listdir(img_folder)):
        stem = os.path.splitext(img_name)[0]
        ann_path = os.path.join(ann_folder, f"{stem}{ann_suffix}")
        if not os.path.exists(ann_path):
            raise FileNotFoundError(f"unable to locate {ann_path}")
        if ann_suffix == ".json":
            with open(ann_path, "rb") as fh:
                parsed[img_name] = parse(json.load(fh), use_polygons)
        else:
            with open(ann_path, encoding=encoding or "utf-8") as fh:
                parsed[img_name] = parse(fh.read(), use_polygons)
    imgs = _images_df(spark, img_folder, list(parsed))
    return _attach_broadcast_columns(
        spark, imgs, parsed, ["geoms", "labels"], GEOM_SCHEMA
    )


def load_funsd(
    spark: SparkSession, root: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """FUNSD extracted-archive root -> (img_name, image, n_bytes, geoms,
    labels). ``train`` picks training_data/testing_data (funsd.py:70)."""
    sub = os.path.join(root, "dataset", "training_data" if train else "testing_data")
    return _load_archive_dataset(
        spark, os.path.join(sub, "images"), os.path.join(sub, "annotations"),
        ".json", parse_funsd_annotation, use_polygons,
    )


def load_cord(
    spark: SparkSession, root: str, use_polygons: bool = False
) -> DataFrame:
    """CORD extracted-archive root (train and test ship as separate
    archives, cord.py:39-50) -> the shared dataset shape."""
    return _load_archive_dataset(
        spark, os.path.join(root, "image"), os.path.join(root, "json"),
        ".json", parse_cord_annotation, use_polygons,
    )


def load_sroie(
    spark: SparkSession, root: str, use_polygons: bool = False
) -> DataFrame:
    """SROIE extracted-archive root -> the shared dataset shape; the
    annotation files are latin-encoded (sroie.py:87)."""
    return _load_archive_dataset(
        spark, os.path.join(root, "images"), os.path.join(root, "annotations"),
        ".txt", parse_sroie_annotation, use_polygons, encoding="latin-1",
    )


def load_ic13(
    spark: SparkSession, img_folder: str, label_folder: str, use_polygons: bool = False
) -> DataFrame:
    """IC13 takes explicit image/label folders (the reference's only
    non-archive constructor, ic13.py:36-44): per-image ``gt_<stem>.txt``."""
    if not os.path.isdir(img_folder) or not os.path.isdir(label_folder):
        missing = img_folder if not os.path.isdir(img_folder) else label_folder
        raise FileNotFoundError(f"unable to locate {missing}")
    parsed = {}
    for img_name in sorted(os.listdir(img_folder)):
        stem = os.path.splitext(img_name)[0]
        gt = os.path.join(label_folder, f"gt_{stem}.txt")
        if not os.path.exists(gt):
            raise FileNotFoundError(f"unable to locate {gt}")
        with open(gt, newline="\n") as fh:
            parsed[img_name] = parse_ic13_annotation(fh.read(), use_polygons)
    imgs = _images_df(spark, img_folder, list(parsed))
    return _attach_broadcast_columns(spark, imgs, parsed, ["geoms", "labels"], GEOM_SCHEMA)


def load_ic03(
    spark: SparkSession, root: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """IC03 extracted-archive root: one words.xml for the whole subset
    (SceneTrialTrain/SceneTrialTest, ic03.py:77-81); image paths in the
    XML are relative to that folder. Note: binaryFile surfaces basenames,
    so the broadcast map is re-keyed by basename — IC03's archives keep
    basenames unique across subdirs (apanar_*/IMG_NNNN numbering)."""
    sub = os.path.join(root, "SceneTrialTrain" if train else "SceneTrialTest")
    xml_path = os.path.join(sub, "words.xml")
    if not os.path.exists(xml_path):
        raise FileNotFoundError(f"unable to locate {xml_path}")
    with open(xml_path) as fh:
        parsed = parse_ic03_words_xml(fh.read(), use_polygons)
    imgs = _images_df(spark, sub, list(parsed))
    parsed = _by_basename(parsed)
    return _attach_broadcast_columns(spark, imgs, parsed, ["geoms", "labels"], GEOM_SCHEMA)


def load_svt(
    spark: SparkSession, root: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """SVT extracted-archive root: svt1/{train,test}.xml with image paths
    relative to svt1/ (svt.py:68-75). Broadcast map re-keyed by basename
    (the published archive's img/NN.jpg basenames are unique)."""
    sub = os.path.join(root, "svt1")
    xml_path = os.path.join(sub, "train.xml" if train else "test.xml")
    if not os.path.exists(xml_path):
        raise FileNotFoundError(f"unable to locate {xml_path}")
    with open(xml_path) as fh:
        parsed = parse_svt_xml(fh.read(), use_polygons)
    imgs = _images_df(spark, sub, list(parsed))
    parsed = _by_basename(parsed)
    return _attach_broadcast_columns(spark, imgs, parsed, ["geoms", "labels"], GEOM_SCHEMA)


def load_cocotext(
    spark: SparkSession,
    img_folder: str,
    label_path: str,
    train: bool = True,
    use_polygons: bool = False,
) -> DataFrame:
    """COCO-Text: one annotation JSON over an image folder
    (coco_text.py:66-76)."""
    if not os.path.exists(label_path) or not os.path.isdir(img_folder):
        missing = label_path if not os.path.exists(label_path) else img_folder
        raise FileNotFoundError(f"unable to find {missing}")
    with open(label_path) as fh:
        parsed = parse_cocotext(json.load(fh), train, use_polygons)
    imgs = _images_df(spark, img_folder, list(parsed))
    return _attach_broadcast_columns(spark, imgs, parsed, ["geoms", "labels"], GEOM_SCHEMA)


def load_iiit5k(
    spark: SparkSession, root: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """IIIT5K extracted-archive root: {train,test}CharBound.mat holds a
    1xN struct array whose fields unpack positionally to (img path,
    label, per-character xywh boxes) (iiit5k.py:70-110); labels become
    the per-character list aligned with the boxes."""
    from .matio import read_mat

    sub = os.path.join(root, "IIIT5K")
    mat_file = "trainCharBound" if train else "testCharBound"
    mat_path = os.path.join(sub, f"{mat_file}.mat")
    if not os.path.exists(mat_path):
        raise FileNotFoundError(f"unable to locate {mat_path}")
    entries = read_mat(mat_path)[mat_file]
    parsed: dict[str, tuple[list[list[float]], list[str]]] = {}
    for entry in entries:
        img_path, label, boxes = list(entry.values())[:3]  # field order
        geoms: list[list[float]] = []
        for b in np.atleast_2d(np.asarray(boxes, dtype=np.float64)):
            x, y, w, h = (float(v) for v in b[:4])
            if use_polygons:
                geoms.append([x, y, x + w, y, x + w, y + h, x, y + h])
            else:
                geoms.append([x, y, x + w, y + h])
        parsed[img_path] = (geoms, list(label))
    imgs = _images_df(spark, sub, list(parsed))
    parsed = _by_basename(parsed)
    return _attach_broadcast_columns(spark, imgs, parsed, ["geoms", "labels"], GEOM_SCHEMA)


def load_synthtext(
    spark: SparkSession, root: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """SynthText extracted-archive root: gt.mat cells imnames / wordBB /
    txt with a 90/10 in-order split (synthtext.py:91-116); wordBB is a
    2x4xW corner tensor (2x4 when one word) transposed to per-word
    (4, 2) quads, txt rows whitespace-split to per-box labels."""
    from .matio import read_mat

    sub = os.path.join(root, "SynthText")
    mat_path = os.path.join(sub, "gt.mat")
    if not os.path.exists(mat_path):
        raise FileNotFoundError(f"unable to locate {mat_path}")
    gt = read_mat(mat_path)
    imnames, word_bbs, txts = gt["imnames"], gt["wordBB"], gt["txt"]
    train_samples = int(len(imnames) * 0.9)
    sl = slice(train_samples) if train else slice(train_samples, None)
    parsed: dict[str, tuple[list[list[float]], list[str]]] = {}
    for img_path, wb, txt in zip(imnames[sl], word_bbs[sl], txts[sl]):
        rows = txt if isinstance(txt, list) else [txt]
        labels = [word for row in rows for word in row.split()]
        q = np.asarray(wb, dtype=np.float64)
        q = q.transpose(2, 1, 0) if q.ndim == 3 else q.transpose(1, 0)[None]
        if use_polygons:
            geoms = [[float(v) for v in quad.reshape(-1)] for quad in q]
        else:
            geoms = [
                [
                    float(quad[:, 0].min()), float(quad[:, 1].min()),
                    float(quad[:, 0].max()), float(quad[:, 1].max()),
                ]
                for quad in q
            ]
        parsed[img_path] = (geoms, labels)
    imgs = _images_df(spark, sub, list(parsed))
    parsed = _by_basename(parsed)
    return _attach_broadcast_columns(spark, imgs, parsed, ["geoms", "labels"], GEOM_SCHEMA)


def _mjsynth_rel(path: str) -> str:
    path = path.strip()
    return path[2:] if path.startswith("./") else path


def load_mjsynth(
    spark: SparkSession,
    img_folder: str,
    label_path: str,
    train: bool = True,
    blacklist: frozenset[str] = frozenset(),
) -> DataFrame:
    """MJSynth recognition corpus -> (img_name, image, n_bytes, label):
    labels parsed from the filename's second underscore field, 90/10
    in-order train split (mjsynth.py:95-104). The reference hardcodes a
    blacklist of known-corrupt archive paths (mjsynth.py:54-74); pass
    yours via ``blacklist`` — the corrupt-file list is data, not format.
    Entries and label lines compare without their newline and ``./``
    prefix, so ``"2/1/x.jpg"`` and ``"./2/1/x.jpg\n"`` both match."""
    if not os.path.exists(label_path) or not os.path.isdir(img_folder):
        missing = label_path if not os.path.exists(label_path) else img_folder
        raise FileNotFoundError(f"unable to locate {missing}")
    with open(label_path) as fh:
        img_paths = fh.readlines()
    train_samples = int(len(img_paths) * 0.9)
    set_slice = slice(train_samples) if train else slice(train_samples, None)
    blocked = {_mjsynth_rel(p) for p in blacklist}
    parsed: dict[str, str] = {}
    for path in img_paths[set_slice]:
        rel = _mjsynth_rel(path)
        if rel not in blocked:
            parsed[rel] = path.split("_")[1]
    imgs = _images_df(spark, img_folder, list(parsed))
    parsed = _by_basename(parsed)
    return _attach_broadcast_columns(spark, imgs, parsed, ["label"], "label string")


def load_iiithws(
    spark: SparkSession, img_folder: str, label_path: str, train: bool = True
) -> DataFrame:
    """IIIT-HWS recognition corpus -> (img_name, image, n_bytes, label):
    'path label' lines, shuffled then split 90/10 (iiithws.py:57-71).
    Deviation from the reference, documented: theirs shuffles with the
    UNSEEDED stdlib sample() — a different train/test membership every
    run; this orders by a stable per-line md5 so the split is
    deterministic (required for driver-pinnable results, and strictly
    more reproducible)."""
    import hashlib

    if not os.path.exists(label_path) or not os.path.isdir(img_folder):
        missing = label_path if not os.path.exists(label_path) else img_folder
        raise FileNotFoundError(f"unable to locate {missing}")
    with open(label_path) as fh:
        annotations = [ln for ln in fh.readlines() if ln.strip()]
    annotations.sort(key=lambda ln: hashlib.md5(ln.encode()).hexdigest())
    train_samples = int(len(annotations) * 0.9)
    set_slice = slice(train_samples) if train else slice(train_samples, None)
    parsed: dict[str, str] = {}
    for ln in annotations[set_slice]:
        rel, label = ln.split()[0:2]
        parsed[rel] = label
    imgs = _images_df(spark, img_folder, list(parsed))
    parsed = _by_basename(parsed)
    return _attach_broadcast_columns(spark, imgs, parsed, ["label"], "label string")


def load_wildreceipt(
    spark: SparkSession, img_folder: str, label_path: str, use_polygons: bool = False
) -> DataFrame:
    """WILDRECEIPT: one JSON-lines annotation file; each record names its
    image via file_name (wildreceipt.py:78-90)."""
    if not os.path.exists(label_path) or not os.path.isdir(img_folder):
        missing = label_path if not os.path.exists(label_path) else img_folder
        raise FileNotFoundError(f"unable to locate {missing}")
    parsed = {}
    with open(label_path) as fh:
        for line in fh.read().strip().split("\n"):
            rec = json.loads(line)
            parsed[rec["file_name"]] = parse_wildreceipt_line(rec, use_polygons)
    parsed = _by_basename(parsed)
    imgs = _images_df(spark, img_folder, list(parsed))
    return _attach_broadcast_columns(spark, imgs, parsed, ["geoms", "labels"], GEOM_SCHEMA)

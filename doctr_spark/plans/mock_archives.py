"""Deterministic mock dataset archives for the archive loaders
(sources/archives.py), built the way the reference's own tests mock them
(tests/conftest.py:113-783: zip layout + per-image annotations, opaque
image bytes, no network). Shared by the ``archive_datasets`` query
(__spark_entry__.py) and tests/test_archives.py, so the pinned oracle sums
and the unit-test assertions read the same fixtures.

Each ``build_*`` writes one layout under ``root`` and returns the paths its
loader takes.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

FUNSD_ANN = {
    "form": [
        {"text": "TOTAL:", "label": "question", "id": 0, "linking": [],
         "words": [{"box": [10, 20, 58, 32], "text": "TOTAL:"}]},
        {"text": "42.50 EUR", "label": "answer", "id": 1, "linking": [],
         "words": [{"box": [64, 20, 104, 32], "text": "42.50"},
                   {"box": [110, 20, 128, 32], "text": "EUR"}]},
        {"text": "", "label": "other", "id": 2, "linking": [],
         "words": [{"box": [10, 40, 30, 52], "text": ""}]},
    ]
}

CORD_ANN = {
    "dontcare": [],
    "valid_line": [
        {"category": "menu.nm", "group_id": 1,
         "words": [{"text": "LATTE",
                    "quad": {"x1": 100, "y1": 50, "x2": 160, "y2": 52,
                             "x3": 158, "y3": 70, "x4": 98, "y4": 68}}]},
        {"category": "menu.price", "group_id": 2,
         "words": [{"text": "4.00",
                    "quad": {"x1": 200, "y1": 50, "x2": 240, "y2": 50,
                             "x3": 240, "y3": 70, "x4": 200, "y4": 70}},
                   {"text": "",
                    "quad": {"x1": 246, "y1": 50, "x2": 280, "y2": 50,
                             "x3": 280, "y3": 70, "x4": 246, "y4": 70}}]},
    ],
}

SROIE_ANN = (
    "12,30,180,30,180,60,12,60,ACME STORE\n"
    "20,70,120,75,118,95,18,90,RECEIPT,NO,7\n"
    "30,110,90,110,90,130,30,130,9.99\n"
)

IC13_GT = (
    "38 43 920 215 'FOUND'\n"
    "275, 264, 665, 450 \"IT\"\n"
    "0 699 77 1498 'HERE,'\n"
)

# the second image has no boxes and must be filtered
IC03_XML = """<tagset>
  <image>
    <imageName>apanar/IMG_1.jpg</imageName>
    <resolution x="640" y="480"/>
    <taggedRectangles>
      <taggedRectangle x="10" y="20" width="40" height="12" offset="0" rotation="0">
        <tag>STOP</tag>
      </taggedRectangle>
      <taggedRectangle x="60" y="20" width="30" height="12" offset="0" rotation="0">
        <tag>AHEAD</tag>
      </taggedRectangle>
    </taggedRectangles>
  </image>
  <image>
    <imageName>apanar/IMG_2.jpg</imageName>
    <resolution x="640" y="480"/>
    <taggedRectangles/>
  </image>
</tagset>"""

WILDRECEIPT_JSONL = (
    '{"file_name": "r/0.jpeg", "height": 80, "width": 60, "annotations":'
    ' [{"box": [10.0, 20.0, 50.0, 22.0, 48.0, 40.0, 8.0, 38.0], "text": "CAFE", "label": 1},'
    '  {"box": [60.0, 20.0, 90.0, 20.0, 90.0, 40.0, 60.0, 40.0], "text": "9.50", "label": 17}]}\n'
    '{"file_name": "r/1.jpeg", "height": 80, "width": 60, "annotations":'
    ' [{"box": [5.0, 5.0, 25.0, 5.0, 25.0, 15.0, 5.0, 15.0], "text": "SUM", "label": 2}]}\n'
)

SVT_XML = """<tagset>
  <image>
    <imageName>img/14_03.jpg</imageName>
    <address>341 Example Street</address>
    <lex>STOP,AHEAD,OTHER</lex>
    <Resolution x="640" y="480"/>
    <taggedRectangles>
      <taggedRectangle height="12" width="40" x="10" y="20"><tag>STOP</tag></taggedRectangle>
      <taggedRectangle height="12" width="30" x="60" y="20"><tag>AHEAD</tag></taggedRectangle>
    </taggedRectangles>
  </image>
  <image>
    <imageName>img/14_04.jpg</imageName>
    <address>342 Example Street</address>
    <lex>WEST</lex>
    <Resolution x="640" y="480"/>
    <taggedRectangles>
      <taggedRectangle height="10" width="20" x="5" y="5"><tag>WEST</tag></taggedRectangle>
    </taggedRectangles>
  </image>
</tagset>"""

# set filter drops the val image; legibility filter drops a2 and leaves
# ct3 with no readable text, so it is skipped
COCO_JSON = {
    "imgs": {
        "101": {"set": "train", "file_name": "ct0.jpg"},
        "102": {"set": "val", "file_name": "ct1.jpg"},
        "103": {"set": "train", "file_name": "ct2.jpg"},
        "104": {"set": "train", "file_name": "ct3.jpg"},
    },
    "anns": {
        "a1": {"image_id": 101, "legibility": "legible", "bbox": [10, 20, 40, 12], "utf8_string": "EXIT"},
        "a2": {"image_id": 101, "legibility": "illegible", "bbox": [5, 5, 10, 10], "utf8_string": "??"},
        "a3": {"image_id": 103, "legibility": "legible", "bbox": [30, 40, 20, 10], "utf8_string": "NORTH"},
        "a4": {"image_id": 104, "legibility": "illegible", "bbox": [1, 1, 2, 2], "utf8_string": "x"},
    },
}

MJSYNTH_PATHS = ("2/1/107_WELCOME_123.jpg", "2/1/108_Hello_77.jpg", "3/1/109_SKIPPED_1.jpg")
# the 90% in-order split keeps the first two lines for train
MJSYNTH_ANN = "".join(f"./{p}\n" for p in MJSYNTH_PATHS)

IIITHWS_ANN = "img/a0.png HELLO\nimg/a1.png WORLD\nimg/a2.png SPARK\n"


def _write(path: str, data: bytes | str, encoding: str = "utf-8") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if isinstance(data, str):
        data = data.encode(encoding)
    with open(path, "wb") as fh:
        fh.write(data)


def build_funsd_zip(root: str) -> str:
    src = os.path.join(root, "funsd_src")
    sub = os.path.join(src, "dataset", "training_data")
    for i in range(2):
        _write(os.path.join(sub, "images", f"{i}.png"), b"\x89PNG-funsd" + bytes([i]))
        _write(os.path.join(sub, "annotations", f"{i}.json"), json.dumps(FUNSD_ANN))
    return shutil.make_archive(os.path.join(root, "funsd"), "zip", src)


def build_cord_zip(root: str) -> str:
    src = os.path.join(root, "cord_src")
    for i in range(2):
        _write(os.path.join(src, "image", f"r{i}.png"), b"\x89PNG-cord" + bytes([i]))
        _write(os.path.join(src, "json", f"r{i}.json"), json.dumps(CORD_ANN))
    return shutil.make_archive(os.path.join(root, "cord_train"), "zip", src)


def build_sroie_zip(root: str) -> str:
    src = os.path.join(root, "sroie_src")
    for i in range(2):
        _write(os.path.join(src, "images", f"{i}.jpg"), b"\xff\xd8-sroie" + bytes([i]))
        _write(os.path.join(src, "annotations", f"{i}.txt"), SROIE_ANN, "latin-1")
    return shutil.make_archive(os.path.join(root, "sroie2019_train_task1"), "zip", src)


def build_ic13(root: str) -> tuple[str, str]:
    """Explicit image / label folders (the reference's non-archive ctor)."""
    img, gt = os.path.join(root, "ic13", "images"), os.path.join(root, "ic13", "gt")
    for i in range(2):
        _write(os.path.join(img, f"w{i}.png"), b"ic13" + bytes([i]))
        _write(os.path.join(gt, f"gt_w{i}.txt"), IC13_GT)
    return img, gt


def build_ic03(root: str) -> str:
    sub = os.path.join(root, "ic03", "SceneTrialTrain")
    _write(os.path.join(sub, "words.xml"), IC03_XML)
    for i in (1, 2):
        _write(os.path.join(sub, "apanar", f"IMG_{i}.jpg"), b"ic03" + bytes([i]))
    return os.path.join(root, "ic03")


def build_wildreceipt(root: str) -> tuple[str, str]:
    ann = os.path.join(root, "wild", "ann.txt")
    _write(ann, WILDRECEIPT_JSONL)
    for i in range(2):
        _write(os.path.join(root, "wild", "r", f"{i}.jpeg"), b"wild" + bytes([i]))
    return os.path.join(root, "wild", "r"), ann


def build_svt(root: str) -> str:
    sub = os.path.join(root, "svt", "svt1")
    _write(os.path.join(sub, "train.xml"), SVT_XML)
    for n in ("14_03", "14_04"):
        _write(os.path.join(sub, "img", f"{n}.jpg"), b"svt-" + n.encode())
    return os.path.join(root, "svt")


def build_cocotext(root: str) -> tuple[str, str]:
    coco = os.path.join(root, "coco")
    ann = os.path.join(coco, "ann.json")
    _write(ann, json.dumps(COCO_JSON))
    for i in range(4):
        _write(os.path.join(coco, f"ct{i}.jpg"), b"coco" + bytes([i]))
    return coco, ann


def build_mjsynth(root: str) -> tuple[str, str]:
    img = os.path.join(root, "mj")
    for rel in MJSYNTH_PATHS:
        _write(os.path.join(img, rel), b"mj-" + rel.encode())
    ann = os.path.join(root, "mj_ann.txt")
    _write(ann, MJSYNTH_ANN)
    return img, ann


def build_iiithws(root: str) -> tuple[str, str]:
    for n in ("a0", "a1", "a2"):
        _write(os.path.join(root, "hw", "img", f"{n}.png"), b"hw-" + n.encode())
    ann = os.path.join(root, "hw_ann.txt")
    _write(ann, IIITHWS_ANN)
    return os.path.join(root, "hw"), ann


def build_iiit5k(root: str) -> str:
    from ..sources.matio import write_mat

    sub = os.path.join(root, "i5k", "IIIT5K")
    for n in ("1", "2"):
        _write(os.path.join(sub, "train", f"{n}.png"), b"i5k-" + n.encode())
    write_mat(
        os.path.join(sub, "trainCharBound.mat"),
        {"trainCharBound": [
            {"ImgName": "train/1.png", "chars": "YOU",
             "charBB": np.array([[10.0, 20, 8, 12], [20, 20, 8, 12], [30, 20, 8, 12]])},
            {"ImgName": "train/2.png", "chars": "ARE",
             "charBB": np.array([[5.0, 5, 6, 10], [12, 5, 6, 10], [19, 5, 6, 10]])},
        ]},
    )
    return os.path.join(root, "i5k")


def build_synthtext(root: str) -> str:
    from ..sources.matio import write_mat

    sub = os.path.join(root, "st", "SynthText")
    for n in ("0", "1", "2"):
        _write(os.path.join(sub, "d", f"{n}.jpg"), b"st-" + n.encode())
    # two words on image 0 (2x4x2 corner tensor), one on images 1 and 2
    w0a = np.array([[10, 50, 48, 8], [20, 22, 40, 38]], dtype=float)  # (2,4) x;y
    w0b = np.array([[60, 90, 90, 60], [20, 20, 40, 40]], dtype=float)
    wb1 = np.array([[5, 25, 25, 5], [5, 5, 15, 15]], dtype=float)  # (2, 4)
    write_mat(
        os.path.join(sub, "gt.mat"),
        {"imnames": ["d/0.jpg", "d/1.jpg", "d/2.jpg"],
         "wordBB": [np.stack([w0a, w0b], axis=2), wb1, wb1],
         "txt": [["CAFE 9X    ", "          "], ["SOLO   "], ["LAST   "]]},
    )
    return os.path.join(root, "st")

"""Seeded, cached benchmark inputs.

A workload's input is made from ``sources.corpus.gen_conversation`` with
the conversation index offset by ``seed`` times a multiple of
``LONG_EVERY``, so every seed sees the same skew pattern and different
content. Rows are dealt into one parquet file per core with equal row
counts and an equal share of each payload kind, so every core gets equal
work. A workload with a ``page_mix`` generates ``PAGE_MIX_POOL`` times the
turns it needs and keeps, for each page count, the number of OCR turns the
mix asks for, spread evenly over that page count's payload sizes. The program
only ever reads these files; the expected text sits in a file of its own.

Generation runs before any timed window and before set-up is timed. The
cache key covers workload, seed, size and a hash of ``doctr_spark/sources``
(and of this file and common.py).
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import multiprocessing
import os
import shutil

from common import HERE, LONG_EVERY, LONG_TURNS, NPROC, ROOT, WORKLOADS, work_dir

INPUT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
KEEP_CACHED = 6  # input sets kept per workload
PAGE_MIX_POOL = 8


def sources_hash() -> str:
    """Hash of the generator's sources, of this file and of the workload
    specs in common.py."""
    h = hashlib.sha256()
    paths = sorted(glob.glob(os.path.join(ROOT, "doctr_spark", "sources", "*.py")))
    for path in paths + [os.path.abspath(__file__), os.path.join(HERE, "common.py")]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def conv_plan(workload: str, seed: int, want: int) -> list[tuple[int, int]]:
    """(conversation index, turns taken) until ``want`` turns are reached;
    the last conversation may be cut short."""
    from doctr_spark.sources.corpus import conv_length

    span = math.ceil(want / LONG_EVERY) * LONG_EVERY  # >= conversations used
    plan, got, conv = [], 0, seed * span
    while got < want:
        n = min(conv_length(conv, 8, LONG_EVERY, LONG_TURNS), want - got)
        plan.append((conv, n))
        got += n
        conv += 1
    return plan


def _gen_chunk(args: tuple) -> list[dict]:
    chunk, ocr_ratio, html_ratio = args
    from doctr_spark.sources.corpus import gen_conversation

    rows = []
    for conv, n in chunk:
        turns = gen_conversation(
            conv, long_every=LONG_EVERY, long_turns=LONG_TURNS,
            ocr_ratio=ocr_ratio, html_ratio=html_ratio,
        )
        rows.extend(turns[:n])
    return rows


def page_count(row: dict) -> int:
    from doctr_spark.plans.pipeline import decode_page_bundle, parse_tool_envelope

    return len(decode_page_bundle(parse_tool_envelope(row["tool"])[1])[0])


def take_page_mix(rows: list[dict], mix: dict[int, int]) -> list[dict]:
    """For every ``n``, ``mix[n]`` OCR turns of ``n`` pages, taken at evenly
    spaced quantiles of payload size from the candidates of ``n`` pages: the
    sizes follow the whole pool's, which vary less between seeds than those
    of a few turns drawn in order."""
    out = []
    for n, k in mix.items():
        pool = sorted((r for r in rows if page_count(r) == n), key=lambda r: len(r["tool"]))
        if len(pool) < k:
            raise RuntimeError(f"{len(pool)} OCR turns of {n} pages, the page mix needs {k}")
        out += [pool[(2 * i + 1) * len(pool) // (2 * k)] for i in range(k)]
    return sorted(out, key=lambda r: (r["conv_id"], r["turn_idx"]))


def deal(rows: list[dict], n_files: int) -> list[list[dict]]:
    """Split rows into ``n_files`` lists of equal length (±1) with the same
    payload-kind mix: rows are ordered by kind and payload size, dealt out
    in snake order, then put back into generation order."""
    order = sorted(
        range(len(rows)),
        key=lambda i: (rows[i]["payload_kind"], -len(rows[i]["tool"]) - len(rows[i]["text"]), i),
    )
    files: list[list[int]] = [[] for _ in range(n_files)]
    for pos, i in enumerate(order):
        lap, k = divmod(pos, n_files)
        files[k if lap % 2 == 0 else n_files - 1 - k].append(i)
    return [[rows[i] for i in sorted(f)] for f in files]


def _write(rows: list[dict], path: str, columns: list[str]) -> None:
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=columns)
    if "ts" in pdf:
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf.to_parquet(path, index=False, coerce_timestamps="us")


def ensure_inputs(workload: str, seed: int) -> str:
    """Directory holding ``input/``, ``warm/`` and ``expected.parquet`` for
    (workload, seed); generated on first use."""
    spec = WORKLOADS[workload]
    key = f"{workload}-s{seed}-n{spec['turns']}-c{NPROC}-{sources_hash()}"
    base = work_dir("inputs")
    final = os.path.join(base, key)
    if os.path.isfile(os.path.join(final, "meta.json")):
        os.utime(final)
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "input"))
    os.makedirs(os.path.join(tmp, "warm"))

    mix = spec.get("page_mix")
    plan = conv_plan(workload, seed, spec["turns"] * (PAGE_MIX_POOL if mix else 1))
    chunks = [(plan[i::NPROC * 4], spec["ocr_ratio"], spec["html_ratio"]) for i in range(NPROC * 4)]
    # fork: unlike spawn it starts no resource-tracker process that would
    # outlive the pool
    with multiprocessing.get_context("fork").Pool(NPROC) as pool:
        parts = pool.map(_gen_chunk, chunks)
        pool.close()
        pool.join()
    rows = sorted((r for p in parts for r in p), key=lambda r: (r["conv_id"], r["turn_idx"]))
    if mix:
        rows = take_page_mix(rows, mix)

    for k, file_rows in enumerate(deal(rows, NPROC)):
        _write(file_rows, os.path.join(tmp, "input", f"part-{k:05d}.parquet"), INPUT_COLUMNS)
        # the warm-up slice leads with OCR and HTML turns so that every
        # worker loads the models and parsers the timed passes use
        warm = sorted(file_rows, key=lambda r: r["payload_kind"] == "plain")
        _write(warm[: spec["warm_per_core"]], os.path.join(tmp, "warm", f"part-{k:05d}.parquet"), INPUT_COLUMNS)
    _write(rows, os.path.join(tmp, "expected.parquet"), ["conv_id", "turn_idx", "payload_kind", "expected_text"])
    kinds: dict[str, int] = {}
    for r in rows:
        kinds[r["payload_kind"]] = kinds.get(r["payload_kind"], 0) + 1
    meta = {"workload": workload, "seed": seed, "turns": len(rows), "kinds": kinds, "page_mix": mix,
            "conversations": len(plan), "sources_hash": sources_hash()}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _prune(base, workload)
    return final


def _prune(base: str, workload: str) -> None:
    sets = sorted(glob.glob(os.path.join(base, f"{workload}-s*")), key=os.path.getmtime)
    for old in sets[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)


def read_meta(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "meta.json")) as f:
        return json.load(f)

"""Self-tests of the benchmark itself (not of the program):

    python3 -m pytest perfbench -q -p no:cacheprovider

They run on small inputs under ``.perfbench/selftest`` in the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

import common

common.require_program()

import inputs  # noqa: E402
import kernel  # noqa: E402
from child import score_output  # noqa: E402
from kernel import spans_mode  # noqa: E402
from traced import MIN_SPAN_COVERAGE, span_coverage  # noqa: E402

SMALL = 600


def selftest_dir(name: str) -> str:
    path = os.path.join(common.WORK, "selftest", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@pytest.fixture
def small(monkeypatch):
    """Workloads shrunk to SMALL turns, writing under .perfbench/selftest."""
    monkeypatch.setattr(common, "WORK", selftest_dir("work"))
    for spec in common.WORKLOADS.values():
        monkeypatch.setitem(spec, "turns", min(spec["turns"], SMALL))


def _expected(input_dir: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(input_dir, "expected.parquet"))


def test_exactness_check_fails_an_altered_missing_or_duplicated_turn(small):
    expected = _expected(inputs.ensure_inputs("mixed", 1))
    out = expected.rename(columns={"expected_text": "extracted_text"})
    assert score_output(expected, out)["exact_match_ratio"] == 1.0

    altered = out.copy()
    altered.loc[7, "extracted_text"] += "x"
    score = score_output(expected, altered)
    assert score["exact_match_ratio"] < 1.0 and score["failed"] == 1

    missing = score_output(expected, out.drop(index=3))
    assert missing["failed"] == 1 and missing["ok_turn_ratio"] < 1.0

    duplicated = score_output(expected, pd.concat([out, out.iloc[[5]]]))
    assert duplicated["failed"] == 1 and duplicated["output_rows"] == len(expected) + 1

    errored = out.copy()
    errored.loc[2, "payload_kind"] = "error"
    assert score_output(expected, errored)["ok_turn_ratio"] < 1.0


def test_seed_changes_content_but_keeps_the_mix(small):
    one, two = (_expected(inputs.ensure_inputs("mixed", seed)) for seed in (1, 2))
    assert len(one) == len(two) == SMALL
    assert not one["expected_text"].equals(two["expected_text"])
    shares = [df["payload_kind"].value_counts(normalize=True) for df in (one, two)]
    for kind, share in {"ocr": 0.2, "html": 0.3, "plain": 0.5}.items():
        assert abs(shares[0][kind] - share) < 0.06
        assert abs(shares[1][kind] - share) < 0.06
    # the same seed gives the same input
    again = _expected(inputs.ensure_inputs("mixed", 1))
    assert again.equals(one)


def test_page_mix_holds_for_every_seed(small):
    frames = []
    for seed in (1, 2):
        input_dir = inputs.ensure_inputs("ocr_onnx", seed)
        frame = pd.read_parquet(os.path.join(input_dir, "input"))
        pages = [inputs.page_count(row) for row in frame.to_dict("records")]
        assert {n: pages.count(n) for n in set(pages)} == common.WORKLOADS["ocr_onnx"]["page_mix"]
        frames.append(frame.sort_values(["conv_id", "turn_idx"], ignore_index=True))
    assert not frames[0]["tool"].equals(frames[1]["tool"])


def test_input_files_carry_equal_work(small):
    input_dir = inputs.ensure_inputs("mixed", 3)
    files = sorted(os.listdir(os.path.join(input_dir, "input")))
    assert len(files) == common.NPROC
    frames = [pd.read_parquet(os.path.join(input_dir, "input", f)) for f in files]
    sizes = [len(f) for f in frames]
    assert max(sizes) - min(sizes) <= 1
    ocr = [int((f["tool"] != "").sum()) for f in frames]
    assert max(ocr) - min(ocr) <= 1


def test_traced_kernel_is_bit_equal_and_covered(small):
    spans = spans_mode("mixed", inputs.ensure_inputs("mixed", 4))
    assert spans["bit_equal"]
    assert span_coverage(spans) >= MIN_SPAN_COVERAGE
    assert spans["pages"] > 0 and spans["items"]["detection"] > 0


def test_span_coverage_fails_when_a_layer_is_not_wrapped(small, monkeypatch):
    monkeypatch.delitem(kernel.WRAPPED, "gate.ocr")
    spans = spans_mode("mixed", inputs.ensure_inputs("mixed", 4))
    assert spans["bit_equal"]
    assert span_coverage(spans) < MIN_SPAN_COVERAGE


def test_two_counted_passes_repeat_exactly(small):
    input_dir = inputs.ensure_inputs("mixed", 5)
    counted = [
        common.run_child("kernel.py", "counts", "mixed", input_dir, env={"PYTHONHASHSEED": seed})[1]
        for seed in ("0", "1")
    ]
    assert counted[0]["calls"]["detection"] > 0
    assert counted[0] == counted[1]


def test_exits_nonzero_without_the_program():
    bare = selftest_dir("bare")
    shutil.copytree(common.HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(common.ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mixed", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    for line in proc.stdout.splitlines():
        with pytest.raises(ValueError):
            json.loads(line)


def test_stop_descendants_ends_orphaned_grandchildren():
    # a shell that backgrounds a long sleep and exits, orphaning the sleep
    # the way a Spark worker can outlive its session process
    script = (
        "import subprocess, common\n"
        "common.adopt_orphans()\n"
        "common.STOP_GRACE_S = 1\n"
        "subprocess.run(['sh', '-c', 'sleep 300 & echo $!'], stdout=open('pid', 'w'), check=True)\n"
        "common.stop_descendants()\n"
    )
    work = selftest_dir("orphans")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=work, env={**os.environ, "PYTHONPATH": common.HERE},
        timeout=60,
    )
    assert proc.returncode == 0
    with open(os.path.join(work, "pid")) as f:
        sleeper = int(f.read())
    assert not os.path.exists(f"/proc/{sleeper}")

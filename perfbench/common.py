"""Shared pieces of the benchmark: paths, workloads, the pinned run
environment and readers of /proc for memory, CPU and host context.

Everything the benchmark writes lives under ``.perfbench/`` at the root of
the checkout (ignored by git)."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 150
WORK = os.path.join(ROOT, ".perfbench")
NPROC = os.cpu_count() or 1

# Arrow batch size of doctr_spark.session.get_spark; the traced kernel
# slices its input the same way one Python worker receives it.
ARROW_BATCH = 1024

# One entry per workload. ``turns`` is the input size of one pass;
# ``warm_per_core`` is the fixed warm-up slice per input file, large enough
# that every Python worker resolves its models. Every workload keeps the
# generator's skew: every LONG_EVERY-th conversation has LONG_TURNS turns.
# ``page_mix`` (pages -> OCR turns) fixes how many OCR turns of each page
# count the input holds, taken at payload-size quantiles
# (inputs.take_page_mix): the cost of a small OCR input is set by its pages,
# and this keeps it from changing with the seed.
WORKLOADS = {
    "mixed": {
        "turns": 6_000,
        "ocr_ratio": 0.2,
        "html_ratio": 0.3,
        "models": "default",
        "warm_per_core": 8,
    },
    "ocr_onnx": {
        "turns": 24,
        "ocr_ratio": 1.0,
        "html_ratio": 0.0,
        "models": "onnx",
        "warm_per_core": 1,
        "page_mix": {1: 12, 2: 12},
    },
}
LONG_EVERY = 200
LONG_TURNS = 96
CHECKPOINT_BUCKETS = 8


def require_program() -> None:
    """Exit with code 2 when the checkout does not hold the program."""
    if not os.path.isfile(os.path.join(ROOT, "doctr_spark", "plans", "pipeline.py")):
        print(f"perfbench: no doctr_spark package under {ROOT}", file=sys.stderr)
        sys.exit(2)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def work_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def total_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


PINNED = ("PYTHONHASHSEED", "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "DOCTR_SPARK_DRIVER_MEM")


def pinned_env() -> dict[str, str]:
    """Environment of every benchmark child process. Spark's Python workers
    inherit it through the JVM; run records show the ``PINNED`` values a
    worker really saw."""
    env = dict(os.environ)
    tmp = work_dir("tmp")
    env.update(
        {
            "PYTHONHASHSEED": "0",
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "TMPDIR": tmp,
            # no /tmp/hsperfdata_* files from the spark-submit launcher JVM
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_LOCAL_DIRS": work_dir("spark-local"),
            "DOCTR_SPARK_DRIVER_MEM": f"{min(4096, total_ram_mb() // 4)}m",
            "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        }
    )
    return env


def spark_conf() -> dict[str, str]:
    """Session settings the benchmark adds to get_spark's defaults: they
    keep every file the session writes inside the checkout."""
    tmp = work_dir("tmp")
    return {
        "spark.local.dir": work_dir("spark-local"),
        "spark.sql.warehouse.dir": work_dir("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }


def run_child(script: str, mode: str, workload: str, input_dir: str, *extra: str, env: dict | None = None):
    """Run ``script`` of this directory in a fresh process with the pinned
    environment (plus ``env``). Returns (seconds from process start until it
    printed READY, or None if it never did; the JSON it wrote)."""
    out_json = os.path.join(work_dir("tmp"), f"{mode}-{os.getpid()}.json")
    log_path = os.path.join(work_dir("logs"), f"{workload}-{mode}.log")
    cmd = [sys.executable, os.path.join(HERE, script), mode, workload, input_dir, out_json, *extra]
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT,
            env={**pinned_env(), **(env or {})},
        )
        try:
            ready = None
            for line in proc.stdout:
                if line.strip() == "READY":
                    ready = time.perf_counter() - t0
                    break
            proc.stdout.read()
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            proc.stdout.close()
    if code != 0:
        raise RuntimeError(f"{script} {mode} {workload} exited with {code}; see {log_path}")
    with open(out_json) as f:
        result = json.load(f)
    os.remove(out_json)
    return ready, result


PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 30


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts: one whose
    parent ends first (a Spark JVM or Python worker that outlives its session
    process) is re-parented here, not to init, so ``stop_descendants`` still
    sees it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants() -> None:
    """Wait until every descendant of this process has ended, reaping each:
    ``STOP_GRACE_S`` to end on its own, then SIGKILL."""
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        _reap()
        others = [pid for pid in process_tree(os.getpid()) if pid != os.getpid()]
        if not others:
            return
        if time.monotonic() > deadline:
            for pid in others:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# ----------------------------------------------------------------- /proc


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def process_tree(root_pid: int) -> dict[int, str]:
    """pid -> command line of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat is None:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out: dict[int, str] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        cmd = _read(f"/proc/{pid}/cmdline")
        if cmd is None:
            continue
        out[pid] = cmd.replace("\0", " ")
        todo.extend(children.get(pid, ()))
    return out


def is_python_worker(cmdline: str) -> bool:
    return "pyspark.daemon" in cmdline or "pyspark.worker" in cmdline


def is_jvm(cmdline: str) -> bool:
    return "org.apache.spark.deploy.SparkSubmit" in cmdline


def environ(pid: int) -> dict[str, str]:
    raw = _read(f"/proc/{pid}/environ") or ""
    return dict(item.split("=", 1) for item in raw.split("\0") if "=" in item)


def vm_hwm_mb(pid: int) -> float:
    status = _read(f"/proc/{pid}/status") or ""
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_seconds(pid: int) -> float:
    """utime + stime of one live process (children it reaped not included)."""
    stat = _read(f"/proc/{pid}/stat")
    if stat is None:
        return 0.0
    fields = stat.rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def host_probe() -> dict:
    """Host context, never used to adjust a metric: the rate of a fixed
    pure-Python loop on one core, and the host's steal counter."""
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        rates.append(1.0 / (time.perf_counter() - t0))
    return {"probe_loops_per_s": statistics.median(rates), "steal_jiffies": steal_jiffies()}

"""plans/worker.py: the once-per-worker zip guard and heap freeze."""

import os
import subprocess
import sys
import textwrap

from doctr_spark.plans.worker import install_zip_guard

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TASKS = 16

# Runs in a fresh interpreter, so the pytest process keeps the real,
# unwrapped zipimport. The counting wrapper goes in first, so it is the
# "original" the guard calls: ``reads`` counts the guard's re-reads.
_ZIP_SCRIPT = textwrap.dedent(
    """
    import gc, importlib, os, sys, zipfile, zipimport

    from doctr_spark.plans import worker

    archive = os.path.join(sys.argv[1], "mods.zip")

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as zf:
            for name, value in modules.items():
                zf.writestr(f"{name}.py", f"VALUE = {value!r}\\n")

    write(zmod_a=1)
    sys.path.insert(0, archive)
    import zmod_a
    assert zmod_a.VALUE == 1

    reads = []
    original = zipimport.zipimporter.invalidate_caches
    def counting(self):
        reads.append(self.archive)
        original(self)
    zipimport.zipimporter.invalidate_caches = counting

    assert worker.install_zip_guard() is True
    guard = zipimport.zipimporter.invalidate_caches
    assert guard.__wrapped__ is counting
    assert worker.install_zip_guard() is False
    assert zipimport.zipimporter.invalidate_caches is guard

    importlib.invalidate_caches()  # no signature yet: reads, and records one
    assert reads == [archive], reads
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], reads

    write(zmod_a=1, zmod_b=2)
    importlib.invalidate_caches()
    assert reads == [archive], reads
    import zmod_b
    assert zmod_b.VALUE == 2
    importlib.invalidate_caches()
    assert reads == [archive], reads

    os.remove(archive)
    importlib.invalidate_caches()  # the unwrapped method raises nothing here either
    importlib.invalidate_caches()
    assert reads == [archive] * 3, reads
    try:
        import zmod_c
    except ImportError:
        pass
    else:
        raise AssertionError("imported from a deleted archive")

    worker.prepare_worker()
    frozen = gc.get_freeze_count()
    assert worker.prepared and frozen > 0
    worker.prepare_worker()
    assert gc.get_freeze_count() == frozen
    assert zipimport.zipimporter.invalidate_caches is guard
    print("zip guard OK")
    """
)


def test_zip_guard_rereads_only_changed_archives(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_SCRIPT, str(tmp_path)],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "zip guard OK"


def test_zip_guard_leaves_a_lazy_zipimport_alone():
    class LazyImporter:
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    original = LazyImporter.invalidate_caches
    assert install_zip_guard(LazyImporter) is False
    assert LazyImporter.invalidate_caches is original


def test_extract_pass_prepares_its_workers(spark):
    """After an extract_turns pass, every worker the pass prepared re-reads
    no archive on the per-task ``importlib.invalidate_caches()``.

    Idle workers are reused first in, first out, and earlier tests may have
    left unprepared ones, so both stages run more tasks than cores: the
    pass walks the idle queue, and so does the probe. The input is built on
    the driver, so no other Python stage shares the pass."""
    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import TRANSCRIPT_SCHEMA, make_transcripts_pdf

    columns = [c.split()[0] for c in TRANSCRIPT_SCHEMA.split(", ")]
    turns = spark.createDataFrame(make_transcripts_pdf(8)[columns], TRANSCRIPT_SCHEMA).repartition(TASKS)
    extract_turns(turns).write.format("noop").mode("overwrite").save()

    def probe(batches):
        import importlib
        import os

        import pyarrow as pa

        from doctr_spark.plans import worker

        for _ in batches:
            pass
        before = worker.zip_rereads
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "prepared": [worker.prepared], "rereads": [worker.zip_rereads - before]}
        )

    rows = (
        spark.range(TASKS, numPartitions=TASKS)
        .mapInArrow(probe, schema="pid long, prepared boolean, rereads long")
        .collect()
    )
    prepared = [r for r in rows if r["prepared"]]
    assert prepared, rows
    assert all(r["rereads"] == 0 for r in prepared), rows

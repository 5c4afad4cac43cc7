"""Once-per-worker-process preparation for the fused stage's tasks.

A reused PySpark worker (``spark.python.worker.reuse``, on by default) pays
two fixed costs on every task, whatever the task's size:

- Before each task, ``pyspark/worker_util.py:setup_spark_files`` calls
  ``importlib.invalidate_caches()``. Where ``zipimport`` invalidates
  eagerly (Python 3.11 and 3.12), that makes every ``zipimporter`` on the
  path re-read its archive's whole central directory: ``pyspark.zip`` and
  its sub-package paths, the py4j zip and the ``spark-core`` jar, 16
  importers in a warm worker: 0.13-0.42 s per task on Python 3.11 in
  ``scripts/fixed_cost.py`` on a 4-core box.
- After each task, ``pyspark/daemon.py`` runs a full ``gc.collect()``,
  which walks every tracked object of the warm heap (imports, models):
  35-81 ms per task there.

``prepare_worker()`` cuts both, once per process:

- it wraps ``zipimporter.invalidate_caches`` so that an importer re-reads
  its archive only when the archive's stat signature (inode, size, mtime)
  differs from the one taken before its last read, or when ``os.stat``
  fails. A rewritten or new archive (a later ``addPyFile``) is still
  picked up. Where ``zipimport`` already invalidates lazily (it has
  ``_get_files``, Python 3.13), it is left alone;
- it runs ``gc.collect(); gc.freeze()`` once, so the per-task collect
  skips the warm heap.

No output byte changes, and nothing is configured: the hook acts only in
the process that calls it.
"""

from __future__ import annotations

import gc
import os
import zipimport

# the per-importer attribute holding the signature taken before its last read
_SIGNATURE = "_doctr_archive_signature"

prepared = False
# archive reads the guard let through in this process (observability/tests)
zip_rereads = 0


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _guard(original):
    def invalidate_caches(self):
        global zip_rereads
        sig = _signature(self.archive)
        if sig is None or getattr(self, _SIGNATURE, None) != sig:
            zip_rereads += 1
            original(self)
            setattr(self, _SIGNATURE, sig)

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def install_zip_guard(importer_type: type = zipimport.zipimporter) -> bool:
    """Wrap ``importer_type.invalidate_caches`` with the signature check;
    True if this call installed it. A lazy ``zipimport`` and an
    already-wrapped method are left alone. An importer holds no signature
    until its first invalidation after install, which therefore reads."""
    if hasattr(importer_type, "_get_files") or hasattr(importer_type.invalidate_caches, "__wrapped__"):
        return False
    importer_type.invalidate_caches = _guard(importer_type.invalidate_caches)
    return True


def prepare_worker() -> None:
    """Install the zip guard and freeze the warm heap, once per process.
    The fused stage calls it at the top of each task, after its models
    resolve, so the frozen heap holds them."""
    global prepared
    if prepared:
        return
    install_zip_guard()
    gc.collect()
    gc.freeze()
    prepared = True

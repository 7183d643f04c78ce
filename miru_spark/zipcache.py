"""Re-read a zip archive's directory only when the archive has changed.

Before every Python task, PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). On CPython 3.10-3.12 that makes every
``zipimport.zipimporter`` on the worker's path re-read its archive's whole
central directory in pure Python (``zipimporter.invalidate_caches`` ->
``zipimport._read_directory``); 3.13 only drops the cache entry. A worker
holds about 16 of them: a dozen for ``pyspark.zip`` and its sub-packages
(~13 ms each), two for the ``spark-core`` jar PySpark puts on the worker
path (5,359 entries, ~57 ms each) and two for py4j. Measured on a 4-core
host with Python 3.11.7 and PySpark 4.1.2, that was 0.28-0.31 s of every
task when idle and ~1 s under load, all of it in ``_read_directory``.

``install()`` wraps ``zipimporter.invalidate_caches`` so an importer re-reads
only when its archive's ``(st_mtime_ns, st_size)`` differs from the stamp
taken at its last re-read, or when the archive cannot be stat'ed. A first
call (no stamp yet) re-reads, as upstream does; a ``--py-files`` zip that is
replaced gets a new stamp and is re-read by the next task. ``miru_spark``
installs the wrapper on import, which every Python worker does when it
unpickles one of the engine's kernels; the wrapper is one code path on every
version. ``tools/python_task_cost.py`` measures the per-task cost it leaves.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process (a no-op on
    Pythons without the method, or when already wrapped)."""
    cls = zipimport.zipimporter
    reread = getattr(cls, "invalidate_caches", None)
    if reread is None or hasattr(reread, "__wrapped__"):
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)  # taken before the read: a later write re-reads
        if stamp is None or stamp != getattr(self, "_miru_stamp", None):
            reread(self)
            self._miru_stamp = stamp

    cls.invalidate_caches = invalidate_caches


PROBE_SCHEMA = "re_reads long, zipimporters long"


def probe(batches):
    """``mapInArrow`` kernel: one row per task with the number of archive
    re-reads (``zipimport._read_directory`` calls) across two
    ``importlib.invalidate_caches()`` calls, made after one uncounted call
    as a previous task would have made, and the number of zipimporters on
    the worker's path."""
    import pyarrow as pa

    for _ in batches:
        pass
    importlib.invalidate_caches()
    real, calls = zipimport._read_directory, [0]

    def counting(archive):
        calls[0] += 1
        return real(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pydict({"re_reads": [calls[0]], "zipimporters": [n]})

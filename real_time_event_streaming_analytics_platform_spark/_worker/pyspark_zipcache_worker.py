"""Python worker entry that keeps unchanged zip directories cached.

Spark runs ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``). CPython 3.11's zipimporter answers by
re-reading the whole central directory of its archive, so every task
re-parses ``pyspark.zip`` (once per importer, ~12 of them) and the
spark-core jar: 130-210 ms of CPU on a 4-core VM before the task does
any work. Here an archive whose ``(st_mtime_ns, st_size)`` is the same as
at its last read keeps the directory already in
``zipimport._zip_directory_cache``; an archive seen for the first time, or
changed since, is read as before.

Selected by ``spark.python.worker.module`` (session.py) and loaded by
``pyspark.daemon``, Spark's default worker launcher on POSIX. The daemon only
honours module names starting with ``pyspark`` and imports this module
before any ``addPyFile`` zip is on ``sys.path``, hence the name and the
``spark.executorEnv.PYTHONPATH`` entry for this directory.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)
    _stamps[self.archive] = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_caches

from pyspark.worker import main  # noqa: E402,F401

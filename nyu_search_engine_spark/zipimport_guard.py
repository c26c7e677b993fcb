"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zip archives.

Spark's Python worker ends every task's set-up with
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``). Before CPython 3.12 (gh-103200 made it lazy),
that call makes each ``zipimport.zipimporter`` re-read its archive's whole
central directory at once. A reused worker holds 16 of them: 12 over
``pyspark.zip``, 2 over the spark-core jar and 2 over the py4j zip, which
profiled at 0.47 s of a 0.51 s no-op ``mapInArrow`` task. Every Spark stage
that runs Python pays that on its critical path, on every task.

``install()`` wraps ``zipimporter.invalidate_caches`` so that it re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` differs from the
stamp taken before the directory now in ``zipimport``'s cache was read. An
archive rewritten on disk (a new ``--py-files`` zip) is still re-read, once,
and every importer over it picks the new directory up. The package imports
this module, so a worker is guarded from the task after the one that
unpickled its first engine function. On CPython >= 3.12 it does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    if sys.version_info >= (3, 12):
        return
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    # In a Spark worker this runs while the task that just re-read every
    # cached directory unpickles its function, so the cache is current.
    stamps = {path: _stamp(path) for path in cache}

    def _read_directory(archive):
        stamp = _stamp(archive)  # before the read: a racing rewrite re-reads
        files = read_directory(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is not None and stamp is not None \
                and stamps.get(self.archive) == stamp:
            self._files = files
        else:
            invalidate(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()

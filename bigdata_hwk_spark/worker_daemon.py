"""Python-worker daemon: ``pyspark.daemon`` with a stat-guarded zip-importer
invalidation.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py::setup_spark_files``). On CPython 3.11 and
3.12 that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's whole central directory: a worker holds about 16 of them
(``pyspark.zip`` once per imported subpackage, ``py4j``'s zip, the
``spark-core`` jar), about 0.2 s of CPU per task before it reads a row.
CPython 3.13 made the call lazy: it only drops the archive's entry in
``zipimport._zip_directory_cache`` and importers no longer keep ``_files``,
so there the daemon installs nothing and is Spark's stock daemon.

``_guarded_invalidate_caches`` replaces ``zipimporter.invalidate_caches``:

- an archive whose ``(st_mtime_ns, st_size)`` is the one recorded when it
  was last read is never read again (its importers share that read);
- a changed, missing or never-read archive is read exactly as the stock
  method reads it, so ``addPyFile`` zips and rewritten archives still
  import.

Importing this module patches nothing. ``python -m
bigdata_hwk_spark.worker_daemon`` (``spark.python.daemon.module``, set by
``session.get_spark`` for local masters) installs the guard where it
applies (``_install_guard``), reads each archive once so every forked
worker inherits the record, then runs ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path → ((st_mtime_ns, st_size) taken before the read, its files).
# Process-global like zipimport's own directory cache, which it mirrors.
_READS: dict[str, tuple[tuple[int, int], dict]] = {}


def _guarded_invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    seen = _READS.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _stock_invalidate_caches(self)
    if stamp is None or not self._files:  # gone, or the read failed
        _READS.pop(self.archive, None)
    else:
        _READS[self.archive] = (stamp, self._files)


def _install_guard() -> bool:
    """Install the guard where the stock method re-reads eagerly (CPython
    before 3.13); return whether it was installed."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    if _install_guard():
        importlib.invalidate_caches()
    daemon.manager()

"""Python-worker daemon of the engine's Spark sessions.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so Spark starts each executor's Python daemon as ``python -m
zestdb_spark.worker_daemon``. The module changes one thing and then runs
pyspark's own daemon (``pyspark.daemon.manager``), whose forked workers
inherit the change.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task. Up to Python 3.12, ``zipimporter.invalidate_caches`` re-parses the
archive's whole central directory, once per importer instance. The worker
path holds ``pyspark.zip`` (~12 importers), the py4j zip (2) and the
spark-core jar (2), so every task re-read ~27k zip entries in pure
Python: ~120 ms of CPU per task on a 4-vCPU host. Here an archive is
re-read only when its ``(st_mtime_ns, st_size)`` differs from the stamp
taken just before its last read, so an unchanged archive costs one
``stat`` and a rewritten one is still picked up. Python 3.13 made the
method lazy; there it is left alone.

Only the standard library is imported before pyspark's daemon takes
over.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and read each zip archive
    on ``sys.path`` once, stamped, so the first task of every forked
    worker finds them current too."""
    if hasattr(zipimport.zipimporter, "_get_files"):  # lazy since 3.13
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for path in sys.path:
        if path in _stamps or not os.path.isfile(path):
            continue
        stamp = _stamp(path)
        try:
            files = zipimport._read_directory(path)
        except zipimport.ZipImportError:
            continue
        zipimport._zip_directory_cache[path] = files
        if stamp is not None:
            _stamps[path] = stamp


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()

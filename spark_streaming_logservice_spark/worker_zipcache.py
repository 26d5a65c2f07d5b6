"""Stat-keyed zip directory cache for Spark Python workers on CPython < 3.12.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's whole central directory in pure Python
(``zipimport._read_directory``). Workers import pyspark from ``pyspark.zip``
(1,328 entries) through one importer per package prefix, about 17 of them,
so each task re-parses the same unchanged archive about 17 times: roughly
0.25 s of CPU per task on a 4-vCPU Xeon host.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)`` differs
from the stat taken before its last read. Otherwise the importer takes the
shared cached directory from ``zipimport._zip_directory_cache``. A stat
error falls back to the stock method.

The hook is installed only where it pays and where nothing else is touched:
on CPython < 3.12 (3.12 made the re-read lazy) and inside a Spark Python
worker, recognised by the ``PYTHON_WORKER_FACTORY_SECRET`` variable the JVM
sets for every worker it starts. The driver process is left alone. Delete
this module once the supported floor is CPython 3.12.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_ino, st_size, st_mtime_ns) taken just before the read
# that produced zipimport._zip_directory_cache[archive]
_READ_SIGS: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _READ_SIGS.pop(self.archive, None)
        return _STOCK_INVALIDATE(self)
    sig = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _READ_SIGS.get(self.archive) == sig:
        self._files = files
        return None
    # stat before the read: a rewrite racing the read leaves a stale sig,
    # which only forces one more read next time
    _STOCK_INVALIDATE(self)
    if self.archive in zipimport._zip_directory_cache:
        _READ_SIGS[self.archive] = sig
    else:
        _READ_SIGS.pop(self.archive, None)
    return None


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` when running in a Spark Python
    worker on CPython < 3.12; returns whether the hook is in place."""
    if sys.version_info >= (3, 12) or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True

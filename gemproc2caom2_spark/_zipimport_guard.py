"""Stop zipimport from re-reading unchanged archives on every task.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py``, after it extends
``sys.path`` with the task's ``--py-files``). That reaches every
``zipimporter`` in ``sys.path_importer_cache``, and before CPython 3.13
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory. A worker that imports pyspark from ``pyspark.zip`` (1,328
entries) holds one zipimporter per package directory it imported from
it — 16 in a ``curate()`` worker — so every task paid 16 full directory
reads of an archive that never changes (in a plain 3.11 process on a
4-vCPU host, with 12 importers on ``pyspark.zip``, one
``invalidate_caches()`` took 84 ms; guarded, 0.08 ms). CPython 3.13
only drops the cache entry and re-reads lazily, so it needs no guard.

The guard keeps the cached directory unless the archive changed: an
archive is re-read when its ``(st_mtime_ns, st_size)`` differs from the
stamp taken at its last guarded read, when it has no stamp yet, or when
it is not in zipimport's directory cache. The stamp is taken before the
read, so a rewrite racing the read is caught on the next call.

It is installed from the package ``__init__``, so it is active in every
worker that imports the package — in ``curate()``, whose kernels pull
the package in when they are unpickled.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Replace ``zipimporter.invalidate_caches`` with the guarded form.
    Idempotent. Returns whether the guard is active (False on 3.13+)."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stamp_guarded", False):
        return True
    reread = cls.invalidate_caches
    # archive path -> (st_mtime_ns, st_size) at its last guarded read
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches._stamp_guarded = True
    cls.invalidate_caches = invalidate_caches
    return True

"""Custom pyspark worker daemon: preload the heavy imports once, and strip
the fixed cost every Python task pays before it does any work.

pyspark's default daemon forks a fresh worker per executor slot, and each
worker pays the numpy/pandas/pyarrow import tax (~1-2 s) on its first task —
across 32 slots and several distinct Python stages that is minutes of
aggregate "time to initialize Python workers" (observed: 534 task-seconds on
a 45 s job).  Importing the libraries in the daemon BEFORE it forks lets
every worker inherit them via copy-on-write for free.

Two more costs are paid per TASK, by every reused worker (4 cores,
Python 3.11, PySpark 4.1.2):

- `worker_util.setup_spark_files` calls `importlib.invalidate_caches()` at
  the start of each task.  On Python < 3.13 `zipimporter.invalidate_caches`
  re-parses its archive's whole central directory at once, and a worker
  holds one zipimporter per package directory it imported from — 16 over
  `pyspark.zip` (1,328 entries) — so each task re-read that directory 16
  times: median 0.17 s per task, 15.8 s over the 87 tasks of three
  `crawl_dupheavy` runs.  `patch_zip_invalidation` re-reads an archive
  only when its `(st_mtime_ns, st_size)` differs from the last read, and
  otherwise re-binds the shared `zipimport._zip_directory_cache` entry.  Python 3.13
  already behaves so (its `invalidate_caches` only drops the cache entry
  and `_get_files` re-reads lazily), so the patch is not installed there.
  Like CPython's own source-file check it trusts the stat: an archive
  rewritten in place at the same size within one filesystem timestamp
  tick keeps its old directory.
- after each task `pyspark.daemon` runs `gc.collect()`, which re-scanned
  the whole preloaded heap: median 49 ms per task.  `gc.freeze()` after
  the preloads (the CPython `gc` docs' advice before a fork) moves that
  heap to the permanent generation, which collections skip; it is also
  the only change 3.13+ needs.

Enabled via spark.python.daemon.module=qalsh_spark.daemon (session.py),
which Spark runs as `python -m qalsh_spark.daemon`; requires the repo root
on PYTHONPATH (session.py exports it).  The patch and the freeze run only
under `__main__`, so importing the module changes nothing but preloads.
"""

import gc
import importlib
import os
import sys
import zipimport

import numpy  # noqa: F401  (preload: inherited by forked workers)
import pandas  # noqa: F401
import pyarrow  # noqa: F401

import qalsh_spark.kernels  # noqa: F401

from pyspark.daemon import manager


def patch_zip_invalidation() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive's directory
    only when the file's `(st_mtime_ns, st_size)` changed since the last
    read; otherwise re-bind the shared `zipimport._zip_directory_cache`
    entry.  Process-wide: it replaces the method on the class, then reads
    every archive on the path once."""
    stamps: dict = {}  # archive path -> stat stamp of its last directory read
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_if_changed(self):
        # stat BEFORE reading, so a concurrent rewrite is seen as a change
        # next time rather than hidden behind the newer stat
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # one read per archive now, so workers forked later inherit known
    # stamps and their first task re-reads nothing
    importlib.invalidate_caches()


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        patch_zip_invalidation()
    gc.freeze()
    manager()

"""Custom PySpark worker daemon: preloads the scientific stack, stops
every task from re-reading unchanged zip archives, and freezes the
preloaded heap out of the workers' garbage collections.

The daemon forks the Python workers; Spark reuses each worker across tasks.
Three costs are paid once here, before any fork, instead of in every worker
or every task:

- Imports. Without preloading, each forked worker pays the
  numpy/pandas/pyarrow import (~1 s CPU and a syscall storm) when it
  unpickles its first Arrow kernel. Imported here, the workers inherit the
  modules by copy-on-write.
- Zip directory re-reads. At the start of every task, pyspark's
  `worker_util.setup_spark_files` calls `importlib.invalidate_caches()` so
  that newly shipped py-files become importable. On CPython 3.11 each
  `zipimporter` then re-parses its archive's whole central directory, and a
  worker holds one importer per imported sub-package of `pyspark.zip`
  (16 importers, 26,672 entries each time). That re-read was most of the
  per-task worker init on a 4-vCPU box. `guard_zip_rereads` makes the
  re-read conditional on the archive's stat stamp, so an unchanged archive
  is read once and a rewritten one is still re-read.
- Garbage collection of the preload. pyspark's daemon runs `gc.collect()`
  in a reused worker after every task. The preload leaves ~72,600
  GC-tracked objects in the daemon (numpy, pandas, pyarrow, pyspark), and
  one full collection over them took 28-45 ms on a 4-vCPU box, in series
  with the next task. `gc.freeze()` just before the fork moves them to the
  permanent generation: a worker's collection then scans only the objects
  it made itself (0.05-0.4 ms), and no longer writes to the inherited
  pages, which stay shared with the daemon.

Enabled via spark.python.daemon.module=cogger_spark.daemon_preload
(session.py); requires this package on the worker PYTHONPATH.
"""

import gc
import os
import sys
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import zlib  # noqa: F401

from pyspark.daemon import manager


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guard_zip_rereads() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive's directory
    only when `os.stat` shows a different (mtime_ns, size) from the last
    read of that archive; otherwise the importer takes that read's
    directory. A failed stat or read always goes to the original method.
    Importers already in `sys.path_importer_cache` are stamped now, so a
    worker's first task skips the re-read too."""
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    # archive path -> ((st_mtime_ns, st_size) before the read, its directory)
    last_read = {}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        last = last_read.get(self.archive)
        if stamp is not None and last is not None and last[0] == stamp:
            self._files = last[1]
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            last_read[self.archive] = (stamp, self._files)

    cls.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls) and imp.archive not in last_read:
            stamp = _stamp(imp.archive)
            if stamp is not None:
                last_read[imp.archive] = (stamp, imp._files)


if __name__ == "__main__":
    guard_zip_rereads()
    gc.freeze()
    manager()

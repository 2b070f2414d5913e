"""Custom PySpark worker daemon: imports pyspark and py4j from their
byte-compiled installed copies, preloads the scientific stack, stops every
task from re-reading unchanged zip archives, and freezes the preloaded heap
out of the workers' garbage collections.

The daemon forks the Python workers; Spark reuses each worker across tasks.
Four costs are paid once here, before any fork, instead of in every worker
or every task:

- Compiling source-only zips. Spark puts `$SPARK_HOME/python/lib/pyspark.zip`
  and the py4j source zip first on the daemon's PYTHONPATH. Those archives
  hold `.py` files and no bytecode, and zipimport never writes any, so every
  new daemon compiled the ~100 modules it imports from them: `from
  pyspark.daemon import manager` took 0.67-0.70 s from the zip and
  0.06-0.09 s from the installed pyspark on a 4-vCPU box, most of a new
  session's first-job wait. `prefer_installed` drops such an archive from
  `sys.path` when the interpreter's installed copy is the same release
  (byte-equal `version.py`); the workers inherit the daemon's `sys.path`.
  An archive of another release, or one with no installed copy, stays.
- Imports. Without preloading, each forked worker pays the
  numpy/pandas/pyarrow import (~1 s CPU and a syscall storm) when it
  unpickles its first Arrow kernel. Imported here, the workers inherit the
  modules by copy-on-write.
- Zip directory re-reads. At the start of every task, pyspark's
  `worker_util.setup_spark_files` calls `importlib.invalidate_caches()` so
  that newly shipped py-files become importable. On CPython 3.11 each
  `zipimporter` then re-parses its archive's whole central directory, and a
  worker importing pyspark from `pyspark.zip` holds one importer per
  imported sub-package (16 importers, 26,672 entries each time). That
  re-read was most of the per-task worker init on a 4-vCPU box.
  `guard_zip_rereads` makes the re-read conditional on the archive's stat
  stamp, so an unchanged archive is read once and a rewritten one is still
  re-read.
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
from importlib.machinery import PathFinder


def _zipped_version(entry: str, pkg: str) -> bytes | None:
    """`<pkg>/version.py` inside the zip archive `entry`; None where `entry`
    is no zip archive or holds no such file."""
    try:
        return zipimport.zipimporter(entry).get_data(f"{pkg}/version.py")
    except (ImportError, OSError):
        return None


def prefer_installed(pkg: str) -> None:
    """Drop from `sys.path` (and its importer cache) each zip archive that
    holds package `pkg` at the release of the copy the rest of `sys.path`
    imports, by byte-equal `<pkg>/version.py`, so that copy and its bytecode
    are imported in place of the archive's sources. An archive of another
    release stays, and so does every archive when the rest of `sys.path`
    has no regular `pkg` package with a readable `version.py`. Call it
    before anything imports `pkg`."""
    zipped = {}
    for entry in sys.path:
        version = _zipped_version(entry, pkg)
        if version is not None:
            zipped[entry] = version
    if not zipped:
        return
    spec = PathFinder.find_spec(pkg, [p for p in sys.path if p not in zipped])
    if spec is None or spec.origin is None:
        return
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"),
                  "rb") as f:
            installed = f.read()
    except OSError:
        return
    drop = {p for p, version in zipped.items() if version == installed}
    sys.path[:] = [p for p in sys.path if p not in drop]
    for p in drop:
        sys.path_importer_cache.pop(p, None)


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
    # before anything imports pyspark or py4j
    prefer_installed("pyspark")
    prefer_installed("py4j")

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import zlib  # noqa: F401

    from pyspark.daemon import manager

    guard_zip_rereads()
    gc.freeze()
    manager()

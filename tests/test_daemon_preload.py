"""The worker daemon's stat-guarded zip directory cache: an unchanged
archive is not re-read on `importlib.invalidate_caches()`, a rewritten one
is, and the guard is live inside the Spark workers."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from cogger_spark import daemon_preload


def _count_reads(monkeypatch) -> list:
    """Wrap zipimport._read_directory with a call counter."""
    calls = []
    orig = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_guard_skips_unchanged_archive_and_rereads_rewritten(
        tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zipguard_m1": "X = 1\n"})
    for name in ("zipguard_m1", "zipguard_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(str(archive))
    # the original method is restored at teardown
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    try:
        import zipguard_m1
        assert zipguard_m1.X == 1
        assert isinstance(sys.path_importer_cache[str(archive)],
                          zipimport.zipimporter)

        daemon_preload.guard_zip_rereads()
        calls = _count_reads(monkeypatch)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert calls == []

        # rewrite the archive in place with a second module
        _write_zip(archive, {"zipguard_m1": "X = 1\n",
                             "zipguard_m2": "Y = 2\n"})
        importlib.invalidate_caches()
        assert calls == [str(archive)]
        import zipguard_m2
        assert zipguard_m2.Y == 2
        importlib.invalidate_caches()
        assert calls == [str(archive)]

        # a failed stat always goes to the original method
        os.remove(archive)
        importlib.invalidate_caches()
        assert calls == [str(archive)] * 2
    finally:
        sys.path_importer_cache.pop(str(archive), None)


def test_guard_is_live_in_spark_workers(spark):
    """Through a session from get_spark: inside a worker, one
    `importlib.invalidate_caches()` re-reads no zip directory. pyspark is
    imported from pyspark.zip there, so this also proves the daemon module
    is wired."""
    def kernel(batches):
        calls = [0]
        orig = zipimport._read_directory

        def counted(archive):
            calls[0] += 1
            return orig(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        zips = sum(isinstance(i, zipimport.zipimporter)
                   for i in sys.path_importer_cache.values())
        for pdf in batches:
            yield pd.DataFrame({"reads": [calls[0]] * len(pdf),
                                "zip_importers": [zips] * len(pdf)})

    rows = (spark.range(0, 8, numPartitions=8)
            .mapInPandas(kernel, "reads long, zip_importers long").collect())
    assert len(rows) == 8
    assert all(r.zip_importers > 0 for r in rows)
    assert all(r.reads == 0 for r in rows)

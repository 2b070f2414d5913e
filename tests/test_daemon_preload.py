"""The worker daemon's stat-guarded zip directory cache: an unchanged
archive is not re-read on `importlib.invalidate_caches()`, a rewritten one
is, and the guard is live inside the Spark workers. The daemon's frozen
heap and the session's Unix-socket worker channel, with its private socket
directory."""

import gc
import importlib
import os
import shutil
import stat
import subprocess
import sys
import tempfile
import types
import zipfile
import zipimport

import pandas as pd

from cogger_spark import daemon_preload, session


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


def test_worker_heap_is_frozen(spark):
    """The daemon freezes its preloaded heap before it forks: a worker's
    per-task `gc.collect()` then scans only the worker's own objects, a
    small fraction of the frozen ones (~72k after the preload)."""
    def kernel(batches):
        frozen, tracked = gc.get_freeze_count(), len(gc.get_objects())
        for pdf in batches:
            yield pd.DataFrame({"frozen": [frozen] * len(pdf),
                                "tracked": [tracked] * len(pdf)})

    rows = (spark.range(0, 8, numPartitions=8)
            .mapInPandas(kernel, "frozen long, tracked long").collect())
    assert len(rows) == 8
    assert all(r.frozen > 10_000 for r in rows)
    assert all(r.tracked * 5 < r.frozen for r in rows)


def test_session_talks_to_workers_over_unix_sockets(spark):
    """get_spark turns Unix domain sockets on, in a private directory short
    enough for an AF_UNIX path, and every channel between the session and
    its Python workers works through them."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert sock_dir == session._socket_dir()
    assert len(sock_dir) <= 64
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700

    sc = spark.sparkContext
    df = spark.range(0, 100, numPartitions=4)
    assert sum(r.id for r in df.collect()) == 4950
    assert df.toPandas()["id"].sum() == 4950
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    back = spark.createDataFrame(pdf).toPandas()
    assert back.sort_values("k").reset_index(drop=True).equals(pdf)
    acc = sc.accumulator(0)
    sc.parallelize(range(10), 4).foreach(lambda x: acc.add(x))
    assert acc.value == 45
    table = sc.broadcast({i: i * i for i in range(10)})
    squares = sc.parallelize(range(10), 4).map(lambda x: table.value[x])
    assert squares.collect() == [i * i for i in range(10)]
    assert [r.id for r in df.toLocalIterator()] == list(range(100))
    assert sc.parallelize(range(6), 3).map(lambda x: x + 1).sum() == 21
    assert any(n.endswith(".sock") for n in os.listdir(sock_dir))


def test_socket_dir_falls_back(monkeypatch, tmp_path):
    """Without AF_UNIX there is no socket directory (get_spark keeps TCP);
    a temp directory too long for an AF_UNIX path gives way to /tmp."""
    monkeypatch.setattr(session, "_socket_dirs", {})
    monkeypatch.setattr(session, "socket", types.SimpleNamespace())
    assert session._socket_dir() is None
    monkeypatch.undo()

    long_tmp = tmp_path / ("t" * 80)
    long_tmp.mkdir()
    monkeypatch.setattr(session, "_socket_dirs", {})
    monkeypatch.setattr(tempfile, "tempdir", str(long_tmp))
    d = session._socket_dir()
    try:
        assert d.startswith("/tmp/cgs-") and len(d) <= 64
        assert os.listdir(long_tmp) == []
        assert session._socket_dir() == d
    finally:
        shutil.rmtree(d)


_STOP_AND_EXIT = """
import os
from cogger_spark.session import get_spark, _socket_dir

def ident(batches):
    yield from batches

spark = get_spark("sock-cleanup", cores=2)
sock_dir = _socket_dir()
print("dir", sock_dir)
spark.range(0, 4, numPartitions=4).mapInPandas(ident, "id long").collect()
print("running", sorted(os.listdir(sock_dir)))
spark.stop()
print("stopped", sorted(os.listdir(sock_dir)))
# a second session in the same process, left running at exit
spark = get_spark("sock-cleanup", cores=2)
spark.range(0, 4, numPartitions=4).mapInPandas(ident, "id long").collect()
print("unstopped", sorted(os.listdir(sock_dir)))
"""


def test_no_socket_file_left_after_session_stops():
    """Stopping a session removes its socket files, and the process's exit
    removes the socket directory even under a session left running."""
    root = os.path.dirname(os.path.dirname(daemon_preload.__file__))
    # a temp directory short enough for the socket directory to go in it
    tmp = tempfile.mkdtemp(prefix="sk-", dir="/tmp")
    try:
        out = subprocess.run([sys.executable, "-c", _STOP_AND_EXIT], cwd=root,
                             env={**os.environ, "TMPDIR": tmp},
                             capture_output=True, text=True, timeout=600)
        assert out.returncode == 0, out.stderr[-2000:]
        lines = dict(line.split(" ", 1) for line in out.stdout.splitlines()
                     if line.split(" ", 1)[0] in
                     ("dir", "running", "stopped", "unstopped"))
        assert os.path.dirname(lines["dir"]) == tmp
        assert ".sock" in lines["running"]
        assert lines["stopped"] == "[]"
        assert ".sock" in lines["unstopped"]
        assert not os.path.exists(lines["dir"])
        assert not [f for _, _, fs in os.walk(tmp) for f in fs
                    if f.endswith(".sock")]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

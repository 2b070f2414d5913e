"""The worker daemon's import of the installed pyspark and py4j in place of
same-release source zips, and its fallback to the zips; its stat-guarded zip
directory cache: an unchanged archive is not re-read on
`importlib.invalidate_caches()`, a rewritten one is, and the guard is live
inside the Spark workers. The daemon's frozen heap and the session's
Unix-socket worker channel, with its private socket directory."""

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
import pytest

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
    """Through a session from get_spark, inside a worker: the zip importer
    class carries the guard, so a fresh archive's directory is re-read once
    over two `invalidate_caches()` calls (twice without the guard), and one
    `importlib.invalidate_caches()` re-reads no zip directory."""
    def kernel(batches):
        calls = [0]
        orig = zipimport._read_directory

        def counted(archive):
            calls[0] += 1
            return orig(archive)

        d = tempfile.mkdtemp()
        archive = os.path.join(d, "fresh.zip")
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("fresh_mod.py", "X = 1\n")
        imp = zipimport.zipimporter(archive)
        zipimport._read_directory = counted
        try:
            imp.invalidate_caches()
            imp.invalidate_caches()
            fresh = calls[0]
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
            shutil.rmtree(d)
        for pdf in batches:
            yield pd.DataFrame({"fresh": [fresh] * len(pdf),
                                "reads": [calls[0] - fresh] * len(pdf)})

    rows = (spark.range(0, 8, numPartitions=8)
            .mapInPandas(kernel, "fresh long, reads long").collect())
    assert len(rows) == 8
    assert all(r.fresh == 1 for r in rows)
    assert all(r.reads == 0 for r in rows)


def _spark_zip() -> str:
    return os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib",
                        "pyspark.zip")


def test_workers_import_compiled_pyspark(spark):
    """Where $SPARK_HOME's pyspark.zip is the installed release (or absent),
    a worker imports pyspark and py4j from the installed packages and their
    bytecode, and no module from a zip."""
    import pyspark
    with open(os.path.join(os.path.dirname(pyspark.__file__),
                           "version.py"), "rb") as f:
        installed = f.read()
    if os.path.isfile(_spark_zip()):
        with zipfile.ZipFile(_spark_zip()) as zf:
            if zf.read("pyspark/version.py") != installed:
                pytest.skip("pyspark.zip is another release than the "
                            "installed pyspark")

    def kernel(batches):
        specs = [sys.modules[m].__spec__ for m in ("pyspark", "py4j")]
        zipped = sum(".zip" in (getattr(m.__spec__, "origin", None) or "")
                     for m in list(sys.modules.values())
                     if getattr(m, "__spec__", None) is not None)
        for pdf in batches:
            yield pd.DataFrame({
                "origins": [" ".join(s.origin for s in specs)] * len(pdf),
                "compiled": [all(os.path.isfile(s.cached) for s in specs)]
                * len(pdf),
                "zipped": [zipped] * len(pdf)})

    rows = (spark.range(0, 4, numPartitions=4)
            .mapInPandas(kernel, "origins string, compiled boolean, "
                                 "zipped long").collect())
    assert len(rows) == 4
    for r in rows:
        assert ".zip" not in r.origins, r.origins
        assert r.compiled
        assert r.zipped == 0


def _fake_package(root, pkg: str, version: bytes) -> None:
    os.makedirs(os.path.join(root, pkg))
    open(os.path.join(root, pkg, "__init__.py"), "w").close()
    with open(os.path.join(root, pkg, "version.py"), "wb") as f:
        f.write(version)


def _zip_version(path, pkg: str, version: bytes) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/version.py", version)
    return str(path)


def test_prefer_installed_drops_only_a_same_release_zip(tmp_path,
                                                         monkeypatch):
    v1, v2 = b"__version__ = '1.0'\n", b"__version__ = '2.0'\n"
    site = str(tmp_path / "site")
    _fake_package(site, "cgsfake", v1)
    same = _zip_version(tmp_path / "same.zip", "cgsfake", v1)
    other = _zip_version(tmp_path / "other.zip", "cgsfake", v2)
    monkeypatch.setattr(sys, "path", [same, other, site])
    monkeypatch.setattr(sys, "path_importer_cache",
                        {same: zipimport.zipimporter(same)})
    daemon_preload.prefer_installed("cgsfake")
    assert sys.path == [other, site]
    assert same not in sys.path_importer_cache

    # no installed copy, or only a namespace package: every zip stays
    namespace = tmp_path / "ns"
    (namespace / "cgsfake").mkdir(parents=True)
    for rest in ([], [str(namespace)]):
        monkeypatch.setattr(sys, "path", [same, *rest])
        daemon_preload.prefer_installed("cgsfake")
        assert sys.path == [same, *rest]


def test_pyspark_zip_of_another_release_stays(tmp_path, monkeypatch):
    """Against the installed pyspark, a pyspark.zip of another release stays
    on sys.path."""
    other = _zip_version(tmp_path / "pyspark.zip", "pyspark",
                         b"__version__: str = '0.0.1'\n")
    path = [p for p in sys.path if not p.endswith(".zip")]
    monkeypatch.setattr(sys, "path", [other, *path])
    daemon_preload.prefer_installed("pyspark")
    assert sys.path == [other, *path]


_MISMATCHED_INSTALL = """
import sys
from cogger_spark.session import get_spark

def origins(batches):
    import sys
    import pandas as pd
    for pdf in batches:
        yield pd.DataFrame({m: [sys.modules[m].__spec__.origin] * len(pdf)
                            for m in ("pyspark", "py4j")})

# the workers' PYTHONPATH gains a pyspark of another release, after the zips
spark = get_spark("zip-fallback", cores=2,
                  extra={"spark.executorEnv.PYTHONPATH": sys.argv[1]})
for r in (spark.range(0, 2, numPartitions=2)
          .mapInPandas(origins, "pyspark string, py4j string").collect()):
    print("origin", r.pyspark, r.py4j)
spark.stop()
"""


@pytest.mark.skipif(not os.path.isfile(_spark_zip()),
                    reason="no pyspark.zip under $SPARK_HOME")
def test_mismatched_install_keeps_workers_on_the_zip(tmp_path):
    """When the pyspark the workers would import in place of pyspark.zip is
    another release, the workers import pyspark from the zip as before; py4j,
    whose installed copy matches, still comes from its installed copy."""
    fake = tmp_path / "fake"
    _fake_package(str(fake), "pyspark", b"__version__: str = '0.0.1'\n")
    root = os.path.dirname(os.path.dirname(daemon_preload.__file__))
    tmp = tempfile.mkdtemp(prefix="zf-", dir="/tmp")
    try:
        out = subprocess.run([sys.executable, "-c", _MISMATCHED_INSTALL,
                              str(fake)], cwd=root,
                             env={**os.environ, "TMPDIR": tmp},
                             capture_output=True, text=True, timeout=600)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert out.returncode == 0, out.stderr[-2000:]
    rows = [line.split()[1:] for line in out.stdout.splitlines()
            if line.startswith("origin ")]
    assert len(rows) == 2
    for pyspark_origin, py4j_origin in rows:
        assert pyspark_origin == os.path.join(_spark_zip(), "pyspark",
                                              "__init__.py")
        assert ".zip" not in py4j_origin


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
    assert len(sock_dir) <= session._SOCKET_DIR_MAX
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
    a temp directory too long for a socket directory gives way to /tmp."""
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
        assert d.startswith("/tmp/cgs-") and len(d) <= session._SOCKET_DIR_MAX
        assert os.listdir(long_tmp) == []
        assert session._socket_dir() == d
    finally:
        shutil.rmtree(d)


@pytest.mark.parametrize("length", [60, 61, 62, 64])
def test_socket_dir_keeps_under_sparks_limit(monkeypatch, length):
    """Spark takes a socket directory "lower than 61" characters: a temp
    directory whose `cgs-*` directory would reach 61-64 characters gives
    way to /tmp, one whose directory has 60 is used."""
    base = tempfile.mkdtemp(prefix="sk-", dir="/tmp")
    # mkdtemp names the directory cgs-<8 characters>: 13 past the parent
    tmp = os.path.join(base, "t" * (length - 13 - len(base) - 1))
    os.mkdir(tmp)
    monkeypatch.setattr(session, "_socket_dirs", {})
    monkeypatch.setattr(tempfile, "tempdir", tmp)
    d = session._socket_dir()
    try:
        assert len(d) <= session._SOCKET_DIR_MAX == 60
        if length <= 60:
            assert os.path.dirname(d) == tmp and len(d) == length
        else:
            assert d.startswith("/tmp/cgs-") and os.listdir(tmp) == []
    finally:
        shutil.rmtree(d)
        shutil.rmtree(base)


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

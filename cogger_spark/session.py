"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for correctness at local[32] and for the same code to hold on a
multi-executor cluster: AQE (runtime re-plan + skew-join splitting), Arrow
batching for every Python kernel, bounded Arrow batch sizes so per-image
pixel buffers never blow an executor, and shuffle partitions proportional to
parallelism (the bench harness pins partitions = cores at both N and 4N so
scaling efficiency measures the engine, not a fixed shuffle width).

The JVM talks to the Python workers over Unix domain sockets rather than
TCP on loopback, through a private socket directory (`_socket_dir`). With
the worker daemon's frozen heap (daemon_preload.py) this cut a trivial
24-task mapInPandas job at local[4] from 0.51-0.59 s to 0.24-0.25 s;
either change alone reached only 0.39-0.43 s (NOTES #38).
"""

from __future__ import annotations

import atexit
import os
import shutil
import socket
import tempfile

from pyspark.sql import SparkSession

# Spark 4.1 requires a spark.python.unix.domain.socket.dir "lower than 61"
# characters; past it (62 characters fail) every Python task of the session
# fails with INVALID_CONF_VALUE. That is stricter than the AF_UNIX bound of
# 107 bytes less the 43 characters of the <dir>/.<uuid4>.sock PySpark binds.
_SOCKET_DIR_MAX = 60
_socket_dirs: dict = {}  # pid -> this process's socket directory


def _socket_dir() -> str | None:
    """This process's private directory (mode 0700) for the Unix sockets of
    the worker daemon and the accumulator server, made on first use and
    removed with everything in it when the process exits: PySpark removes
    its socket files when a session stops, but a process that exits
    without stopping its session leaves the accumulator server's. The temp
    directory is tried first, then /tmp; None (keep TCP) where the platform
    has no AF_UNIX or neither gives a path of at most _SOCKET_DIR_MAX
    characters. get_spark's sessions are local, so the executors see the
    same directory."""
    if not hasattr(socket, "AF_UNIX"):
        return None
    pid = os.getpid()
    d = _socket_dirs.get(pid)
    if d is not None and os.path.isdir(d):
        return d
    for parent in (tempfile.gettempdir(), "/tmp"):
        try:
            d = tempfile.mkdtemp(prefix="cgs-", dir=parent)
        except OSError:
            continue
        if len(d) <= _SOCKET_DIR_MAX:
            _socket_dirs[pid] = d
            # a forked child inherits the hook; only the owner removes
            atexit.register(lambda: os.getpid() == pid
                            and shutil.rmtree(d, ignore_errors=True))
            return d
        os.rmdir(d)
    return None


def get_spark(app_name: str = "cogger-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              arrow_batch_rows: int = 10_000,
              arrow_batch_bytes: int = 64 * 1024 * 1024,
              extra: dict | None = None) -> SparkSession:
    """Build (or fetch) a session.

    Arrow batches are bounded by BOTH rows and bytes (Spark cuts a batch when
    either bound is hit): multi-MB image rows get small batches from the byte
    bound while thin tile/document/metadata rows keep full 10k-row batches —
    a per-size policy from two global knobs, replacing the round-1 global
    16-row bound that starved every small-row Python kernel of batch
    amortization. The pixel kernels additionally flush their OUTPUT by
    accumulated payload bytes, so worker memory stays bounded even under a
    foreign session with unbounded batch config.

    Worker traffic goes over Unix domain sockets in `_socket_dir()`, or
    over TCP where that gives no directory.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cores
    # make the engine importable by python workers: the worker daemon
    # (daemon_preload.py) imports the installed pyspark in place of a
    # same-release pyspark.zip, preloads numpy/pandas/pyarrow and stops each
    # task from re-reading zip directories, before it forks the workers
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{pp}" if pp else repo_root
    b = (SparkSession.builder
         .appName(app_name)
         .master(f"local[{cores}]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
         .config("spark.sql.execution.arrow.maxBytesPerBatch", str(arrow_batch_bytes))
         .config("spark.sql.parquet.compression.codec", "snappy")
         .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
         .config("spark.sql.warehouse.dir",
                 os.environ.get("SPARK_WAREHOUSE", "/tmp/cogger_warehouse"))
         .config("spark.python.daemon.module", "cogger_spark.daemon_preload")
         .config("spark.ui.enabled", "false"))
    sock_dir = _socket_dir()
    if sock_dir is not None:
        b = (b.config("spark.python.unix.domain.socket.enabled", "true")
             .config("spark.python.unix.domain.socket.dir", sock_dir))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

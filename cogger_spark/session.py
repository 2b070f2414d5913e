"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for correctness at local[32] and for the same code to hold on a
multi-executor cluster: AQE (runtime re-plan + skew-join splitting), Arrow
batching for every Python kernel, bounded Arrow batch sizes so per-image
pixel buffers never blow an executor, and shuffle partitions proportional to
parallelism (the bench harness pins partitions = cores at both N and 4N so
scaling efficiency measures the engine, not a fixed shuffle width).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cores
    # make the engine importable by python workers: the worker daemon
    # (daemon_preload.py) preloads numpy/pandas/pyarrow and stops each task
    # from re-reading pyspark.zip's directory, before it forks the workers
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
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

"""TIFF file-directory source — the reference's native input mode
(cmd/cogger/main.go: `cogger input.tif [overview.ovr ...] -output out.tif`)
lifted to a table of files.

Spark's binaryFile source lists and reads the files in parallel with
locality and packs small files per `spark.sql.files.maxPartitionBytes`, so
a directory of millions of TIFFs fans out across the cluster without any
driver-side listing loop. Column pruning applies: plans that only need
`path`/`length` (manifesting, sizing) never read file contents.
"""

from __future__ import annotations

import os
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def _stem(col):
    """Basename without the final extension: .../a/b/img_0001.tif → img_0001."""
    base = F.element_at(F.split(col, "/"), -1)
    return F.regexp_replace(base, r"\.[Tt][Ii][Ff][Ff]?$", "")


def read_tiff_dir(spark: SparkSession, path: str,
                  pattern: str = "*.tif") -> DataFrame:
    """Directory of TIFF files → (image_id, bytes, n_bytes, path)."""
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", pattern)
            .load(path)
            .select(_stem(F.col("path")).alias("image_id"),
                    F.col("content").alias("bytes"),
                    F.col("length").alias("n_bytes"),
                    F.col("path")))


def read_tiff_sets_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory where an image may arrive as SEVERAL files — main .tif plus
    external overview files (.tif.ovr, .tif.2, .tif.4 …, loader.go:63-106 /
    TestMultiFiles) — grouped as (image_id, part_id, bytes): the main file is
    part 0, suffixed parts follow in lexicographic suffix order, matching the
    reader-argument order of the reference CLI. Feed to rewrite_tiff_sets."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.tif*")
             .load(path)
             .select(F.element_at(F.split("path", "/"), -1).alias("fname"),
                     F.col("content").alias("bytes")))
    image_id = _stem(F.regexp_replace("fname", r"(\.tif)(\..*)?$", r"$1"))
    raw_suffix = F.regexp_extract("fname", r"\.tif\.(.+)$", 1)
    # numeric suffixes sort numerically (".10" after ".2"), others as text
    suffix = F.when(raw_suffix.rlike(r"^[0-9]+$"),
                    F.lpad(raw_suffix, 12, "0")).otherwise(raw_suffix)
    w = Window.partitionBy("image_id").orderBy("part_rank")
    return (files.withColumn("image_id", image_id)
            .withColumn("part_rank", suffix)
            .withColumn("part_id", (F.row_number().over(w) - 1).cast("int"))
            .select("image_id", "part_id", "bytes"))


def write_tif(out_dir: str, image_id: str, write: Callable[[int], int]) -> int:
    """Atomically create <out_dir>/<image_id>.tif: `write(fd)` fills the
    dotfile <out_dir>/.<image_id>.tmp and returns its byte count, then the
    tmp is renamed to the final name. The one tmp+rename writer behind
    every .tif sink: a failed write or rename removes the tmp, so a
    reader sees either the whole file or none."""
    tmp = os.path.join(out_dir, f".{image_id}.tmp")
    try:
        fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o666)
        try:
            n = write(fd)
        finally:
            os.close(fd)
        os.replace(tmp, os.path.join(out_dir, f"{image_id}.tif"))
    finally:
        # after a successful replace there is no tmp left
        if os.path.exists(tmp):
            os.remove(tmp)
    return n


def write_tiff_dir(df: DataFrame, out_dir: str, col: str = "cog") -> None:
    """(image_id, <col>: binary) → <out_dir>/<image_id>.tif, written on the
    executors (foreachPartition — no driver collect, scales with the
    cluster); atomic per-file via write_tif."""
    from ..tiff.codec import write_pieces

    def write_partition(rows):
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            write_tif(out_dir, r.image_id,
                      lambda fd, _b=r[col]: write_pieces(fd, (_b,)))

    df.select("image_id", col).foreachPartition(write_partition)

"""Focused regression tests for the round-6 ADVICE correctness fixes:

1. iceberg_shim._collect_file_stats must not record non-JSON-native footer
   bounds (DATE columns) — commits on such tables used to raise TypeError.
2. merge_into when_matched='delete' keeps matched rows whose
   matched_condition evaluates to NULL (SQL MERGE fires only on TRUE).
3. stream_upsert_table resolves equal-version duplicate keys spanning two
   files in one micro-batch by source FILE, not by split packing.
4. distance_join validates radius_deg in (0, 90] with a clear error.
5. asof_join rejects reserved left columns _side/_pay loudly.
6. rewrite_tiffs_to_dir keeps a file literally named 'a%20b.tif' apart
   from 'a b.tif' (the path-read route is refused when a URI holds '%').
"""
import datetime
import os
import shutil

import pytest
from pyspark.sql import functions as F

from cogger_spark.sources import iceberg_shim as shim


def test_shim_date_column_stats_commit_succeeds(spark, tmp_path):
    """A table with a DATE column must commit: pyarrow footer min/max for
    date32 come back as datetime.date, which json.dumps rejects — the
    stats collector must skip (not record) such bounds."""
    tbl = str(tmp_path / "date_tbl")
    df = spark.createDataFrame(
        [("a", datetime.date(2024, 1, 1), 1),
         ("b", datetime.date(2024, 3, 5), 2)],
        "image_id string, d date, w int")
    shim.write_table(df, tbl, n_buckets=2,
                     partition_cols=())   # used to TypeError
    shim.append(df.withColumn("image_id", F.concat(F.col("image_id"),
                                                   F.lit("_2"))), tbl)
    got = shim.read_table(spark, tbl)
    assert got.count() == 4
    rows = {(r.image_id, r.d, r.w) for r in got.collect()}
    assert ("a", datetime.date(2024, 1, 1), 1) in rows


def test_shim_merge_delete_null_condition_keeps_row(spark, tmp_path):
    """WHEN MATCHED AND s.w > t.w THEN DELETE with t.w NULL: the condition
    is NULL, the clause must NOT fire, the row must survive."""
    tbl = str(tmp_path / "merge_nullcond")
    tgt = spark.createDataFrame(
        [("k1", None), ("k2", 5), ("k3", 7)], "image_id string, w int")
    shim.write_table(tgt, tbl, n_buckets=2, partition_cols=())
    src = spark.createDataFrame(
        [("k1", 3), ("k2", 10), ("k3", 1)], "image_id string, w int")
    shim.merge_into(spark, src, tbl, on="image_id",
                    matched_condition="s.w > t.w",
                    when_matched="delete", when_not_matched="ignore")
    got = {r.image_id: r.w for r in shim.read_table(spark, tbl).collect()}
    # k2 fired (10 > 5, deleted); k1 condition NULL -> kept with its NULL
    # w; k3 condition FALSE -> kept
    assert got == {"k1": None, "k3": 7}


def test_stream_upsert_cross_file_tiebreak_is_by_source_file(
        spark, tmp_path):
    """Two files in ONE micro-batch, same key, no version_col: the row from
    the later source file (path order — the file source's listing tiebreak
    for equal mtimes) must win, regardless of which parquet split Spark
    happens to schedule first. Files are written in REVERSE path order so
    a mtime- or split-ordering-based winner would differ."""
    from cogger_spark.streaming.ingest import stream_upsert_table
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def one_file(name, val, mtime):
        d = str(tmp_path / f"stage_{name}")
        spark.createDataFrame([("dup", val)],
                              "image_id string, v string"
                              ).coalesce(1).write.parquet(d)
        src = next(p for p in (tmp_path / f"stage_{name}").rglob("*.parquet"))
        dst = in_dir / name
        src.rename(dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(d)

    # b written "earlier" (smaller mtime) than a, but b > a by path: the
    # path-order rule must pick b deterministically.
    one_file("b.parquet", "from_b", 1_700_000_000)
    one_file("a.parquet", "from_a", 1_700_000_000)
    tbl = str(tmp_path / "tbl")
    shim.write_table(
        spark.createDataFrame([("dup", "base")], "image_id string, v string"),
        tbl, n_buckets=2, partition_cols=())
    stream_upsert_table(spark, str(in_dir), tbl, str(tmp_path / "ck"),
                        key="image_id", max_files_per_trigger=2)
    got = {r.image_id: r.v for r in shim.read_table(spark, tbl).collect()}
    assert got == {"dup": "from_b"}


def test_distance_join_rejects_bad_radius(spark):
    from cogger_spark.operators.spatial import distance_join
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.01, 0.01)],
        "point_id int, lon double, lat double")
    for bad in (0.0, -1.0, 90.1, float("nan")):
        with pytest.raises(ValueError, match="radius_deg"):
            distance_join(pts, radius_deg=bad)
    # the boundary itself is legal (coarsest lat cell spans exactly 90)
    assert distance_join(pts, radius_deg=90.0).count() == 1


def test_asof_join_rejects_reserved_left_columns(spark):
    from cogger_spark.operators.temporal import asof_join
    right = spark.createDataFrame(
        [("u", 1, "e", 1.0)], "user_id string, ts long, event_id string, "
        "value double")
    for bad in ("_side", "_pay"):
        left = (spark.createDataFrame([("u", 2)], "user_id string, ts long")
                .withColumn(bad, F.lit(0)))
        with pytest.raises(ValueError, match=bad):
            asof_join(left, right, payload=("event_id", "value"))


def test_rewrite_to_dir_percent_named_files_keep_their_own_tiles(
        spark, tmp_path):
    """'a%20b.tif' and 'a b.tif' side by side: percent-decoding the first
    path would read the second file. Each output must be the rewrite of
    its OWN input."""
    from cogger_spark.fixtures import make_images_table
    from cogger_spark.operators.tiling import (
        _binaryfile_path_route, convert_images, rewrite_tiffs_to_dir)
    from cogger_spark.sources.tiffdir import read_tiff_dir
    from cogger_spark.tiff.codec import Config, rewrite
    import pyarrow.parquet as pq
    src = tmp_path / "images.parquet"
    pq.write_table(make_images_table(2, dims=[600, 300]), src)
    cogs = tmp_path / "cogs"
    convert_images(spark.read.parquet(str(src)), str(cogs), tile=256)
    a, b = sorted(cogs.glob("*.tif"))
    indir = tmp_path / "in"
    indir.mkdir()
    shutil.copy(a, indir / "a%20b.tif")
    shutil.copy(b, indir / "a b.tif")
    tiffs = read_tiff_dir(spark, str(indir))
    assert _binaryfile_path_route(tiffs) is False
    out = tmp_path / "out"
    rewrite_tiffs_to_dir(tiffs, str(out)).count()
    cfg = Config(with_gdal_ghost=True)
    assert (out / "a%20b.tif").read_bytes() == rewrite(a.read_bytes(), cfg=cfg)
    assert (out / "a b.tif").read_bytes() == rewrite(b.read_bytes(), cfg=cfg)
    assert a.read_bytes() != b.read_bytes()

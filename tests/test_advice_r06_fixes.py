"""Focused regression tests for the round-6 ADVICE correctness fixes:

1. distance_join validates radius_deg in (0, 90] with a clear error.
2. asof_join rejects reserved left columns _side/_pay loudly.
3. rewrite_tiffs_to_dir keeps a file literally named 'a%20b.tif' apart
   from 'a b.tif' (the path-read route is refused when a URI holds '%').
"""
import shutil

import pytest
from pyspark.sql import functions as F


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

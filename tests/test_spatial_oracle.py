"""Spark queries vs DuckDB oracles — the same comparison the driver runs:
row count, column names, and order-insensitive values."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from cogger_spark import oracles, queries


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pdf


def compare(spark_df, sql: str, float_tol: float = 0.0):
    got = _normalize(spark_df.toPandas())
    want = _normalize(duckdb.sql(sql).df())
    assert list(got.columns) == list(want.columns), \
        f"columns {list(got.columns)} != {list(want.columns)}"
    assert len(got) == len(want), f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(w.dtype, np.floating):
            if float_tol == 0.0:
                assert np.array_equal(g.to_numpy(), w.to_numpy()), f"col {c} differs"
            else:
                assert np.allclose(g.to_numpy(), w.to_numpy(), atol=float_tol,
                                   rtol=0), f"col {c} differs"
        else:
            assert g.astype(object).tolist() == w.astype(object).tolist(), \
                f"col {c} differs"


CASES = [
    ("tile_manifest", oracles.TILE_MANIFEST),
    ("tile_pixel_sums", oracles.TILE_PIXEL_SUMS),
    ("pip_join", oracles.PIP_JOIN),
    ("knn_join", oracles.KNN_JOIN),
    ("knn_adaptive", oracles.KNN_ADAPTIVE),
    ("zonal_stats", oracles.ZONAL_STATS),
    ("zonal_pixel_stats", oracles.ZONAL_PIXEL_STATS),
    ("phash_canonical", oracles.PHASH_CANONICAL),
    ("caption_token_stats", oracles.CAPTION_TOKEN_STATS),
    ("point_grid_counts", oracles.POINT_GRID_COUNTS),
    ("dedup_images", oracles.DEDUP_IMAGES),
    ("points_within_radius", oracles.DISTANCE_JOIN),
    ("tile_offsets_planar", oracles.TILE_OFFSETS_PLANAR),
]


@pytest.mark.parametrize("name,sql", CASES, ids=[c[0] for c in CASES])
def test_query_matches_oracle(spark, name, sql):
    compare(queries.SPATIAL_QUERIES[name](spark, "/root/testdata/sf0.01"), sql)


def test_tile_offsets_raw_matches_oracle(spark):
    # real pixel work on the Spark side vs closed-form SQL
    compare(queries.q_tile_offsets_raw(spark, "/root/testdata/sf0.01"),
            oracles.TILE_OFFSETS_RAW)


# raw and deflate, with and without a mask plane, 1 to 4 bands, 1-px-wide
# (15) and 1-px-tall (20) images, and heights up to 513 rows: five
# one-tile-row level-0 blocks at tile 128
STATS_IDS = (0, 1, 2, 3, 5, 15, 20, 50)


def _numpy_tile_stats(i: int, tile: int) -> dict:
    """Per-tile (count, sum, min, max) of fixture image i by direct NumPy
    over fixtures.make_pixels, mask plane excluded."""
    from cogger_spark import fixtures
    w, h = fixtures.image_dims(i)
    nb = fixtures.n_bands(i)
    px = fixtures.make_pixels(i, w, h, nb, fixtures.has_mask(i))[:, :, :nb]
    out = {}
    for ty in range(-(-h // tile)):
        for tx in range(-(-w // tile)):
            b = px[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile]
            out[(f"img_{i:08d}", ty, tx)] = (
                b.size, int(b.sum(dtype=np.int64)), int(b.min()),
                int(b.max()))
    return out


@pytest.mark.parametrize("tile", [512, 128, 129])
def test_tile_pixel_stats_match_numpy(spark, fixture_dir, tile):
    """Per-tile pixel stats from the Spark kernel equal direct NumPy over the
    regenerated fixture pixels, at a tile that holds each image whole (512),
    at one that cuts it into up to five level-0 blocks (128), and at an odd
    one (129)."""
    from cogger_spark.fixtures import FIXTURE_DIR
    from cogger_spark.operators.spatial import tile_pixel_stats
    ids = ", ".join(f"'img_{i:08d}'" for i in STATS_IDS)
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet")) \
        .filter(f"image_id in ({ids})")
    got = {(r.image_id, r.ty, r.tx): (r.px_count, r.px_sum, r.px_min, r.px_max)
           for r in tile_pixel_stats(images, tile=tile).collect()}
    want = {}
    for i in STATS_IDS:
        want.update(_numpy_tile_stats(i, tile))
    assert got == want


def test_tile_pixel_stats_memory_bounded_deflate():
    """The stats kernel streams a deflate image one tile row at a time: its
    tracemalloc peak on a 4096x4104 gray image (16.8 MB decoded) stays
    below half the decoded image."""
    import tracemalloc
    import zlib

    from cogger_spark import fixtures
    from cogger_spark.operators.spatial import _image_stats_rows
    w, h = 4096, 4104
    px = fixtures.make_pixels(0, w, h, 1, False)
    data = zlib.compress(px.tobytes(), 1)
    tracemalloc.start()
    try:
        out = list(_image_stats_rows("img_00000000", data, w, h, "deflate",
                                     512))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < px.nbytes / 2, (peak, px.nbytes)
    _, ty, _, px_count, px_sum, _, _ = zip(*out)
    assert len(ty) == 9 * 8
    assert sum(px_count) == px.size
    assert sum(px_sum) == int(px.sum(dtype=np.int64))


def test_tile_pixel_sums_strips_plans_one_stage(spark):
    """tile_pixel_sums_strips runs the one block-streamed stage: exactly one
    MapInPandas and no Union."""
    import re
    df = queries.SPATIAL_QUERIES["tile_pixel_sums_strips"](
        spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bMapInPandas\b", plan)) == 1, plan
    assert "Union" not in plan, plan


def test_zonal_pixel_stats_consistent(spark, fixture_dir):
    from cogger_spark.fixtures import FIXTURE_DIR
    from cogger_spark.operators.spatial import zonal_pixel_stats
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    zones = spark.read.parquet(str(FIXTURE_DIR / "zones_test.parquet"))
    rows = zonal_pixel_stats(zones, images).collect()
    assert rows
    for r in rows:
        assert r.value_count > 0
        assert 0 <= r.value_min <= r.value_max <= 255
        assert abs(r.value_mean - r.value_sum / r.value_count) < 1e-6


def test_sql_api_over_engine_views(spark, fixture_dir):
    """The engine's relations compose with plain spark.sql (same Catalyst
    plans either way)."""
    from cogger_spark.fixtures import FIXTURE_DIR
    from cogger_spark.operators.spatial import tile_manifest
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    tile_manifest(images, level=None).createOrReplaceTempView("tiles_v")
    spark.read.parquet(str(FIXTURE_DIR / "points_test.parquet")) \
        .createOrReplaceTempView("points_v")
    out = spark.sql("""
        SELECT t.image_id, COUNT(*) AS n_points
        FROM points_v p JOIN tiles_v t
          ON p.lon >= t.lon_min AND p.lon < t.lon_max
         AND p.lat >= t.lat_min AND p.lat < t.lat_max
        WHERE t.level = 0
        GROUP BY t.image_id ORDER BY n_points DESC LIMIT 5
    """).collect()
    assert out and out[0].n_points >= out[-1].n_points


def test_distance_join_lat_cell_coverage(spark):
    """Regression (r5 self-review, verified counter-example): the grid's
    LATITUDE cell is half the longitude cell, so sizing the resolution on
    the lon cell alone let in-range pairs sit two lat-cells apart — outside
    the 1-ring — and vanish. This exact pair (0.0495 deg apart at
    radius 0.05) must be found."""
    from cogger_spark.operators.spatial import distance_join
    pts = spark.createDataFrame(
        [(1, 10.0, 0.0430, "a"), (2, 10.0, 0.0925, "b"),
         (3, 120.0, 50.0, "c")],
        "point_id long, lon double, lat double, label string")
    got = {(r.point_a, r.point_b) for r in
           distance_join(pts, radius_deg=0.05).collect()}
    assert (1, 2) in got
    assert not any(3 in pair for pair in got)


def test_every_id_digit_places_the_image(spark, tmp_path):
    """A 9-digit image id: tile_manifest, its DuckDB oracle and the written
    COG's ModelTiepoint all anchor at geo.anchor(geo.img_index(id)); the
    first 8 digits alone give another anchor."""
    from cogger_spark.functions.geo import anchor, img_index
    from cogger_spark.operators.spatial import tile_manifest
    from cogger_spark.operators.tiling import convert_images
    from cogger_spark.tiff.codec import parse_tiff
    iid, w, h = "img_123456789", 40, 30
    lon0, lat0 = anchor(img_index(iid))
    assert (lon0, lat0) != anchor(12345678)
    pd.DataFrame({"image_id": [iid], "bytes": [bytes(w * h * 3)], "w": [w],
                  "h": [h], "fmt": ["raw"]}).to_parquet(tmp_path / "img.parquet")
    images = spark.read.parquet(str(tmp_path / "img.parquet"))

    manifest = tile_manifest(images, tile=512, level=None)
    (t,) = manifest.collect()
    assert (t.lon_min, t.lat_min) == (lon0, lat0)
    compare(queries._longs(manifest, "level", "ty", "tx", "lw", "lh", "ntx",
                           "nty", "px_w", "px_h"),
            oracles.TILE_MANIFEST.replace(
                oracles.IMAGES, f"read_parquet('{tmp_path / 'img.parquet'}')"))

    convert_images(images, str(tmp_path / "cogs"), tile=16)
    cog = parse_tiff((tmp_path / "cogs" / f"{iid}.tif").read_bytes())
    assert cog.ifds[0].model_tie_point[3:5] == (lon0, lat0)

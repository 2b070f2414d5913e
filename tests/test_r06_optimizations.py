"""Round-6 optimization regression tests.

Pins the plan/behavior contracts of the r6 performance changes:

* ensure_fanout's coalesce arm (one-row-per-task scans merged zero-shuffle);
* knn_join_adaptive's collapsed ladder (identical rows to the per-rung
  ladder semantics, already oracle-pinned — here: single wide explode only
  for unresolved points);
* cosine norm precomputation (bit-identical scores to the inline form).
"""

import numpy as np
import pyspark.sql.functions as F

from cogger_spark.operators.tiling import ensure_fanout


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ensure_fanout_coalesces_tiny_partitions(spark):
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(12 * slots)
    out = ensure_fanout(df)
    assert out.rdd.getNumPartitions() == 3 * slots
    # zero-shuffle: a Coalesce node, and no NEW exchange beyond the one the
    # input's own repartition(12*slots) already carries
    plan = _plan(out.select("id"))
    assert "Coalesce" in plan, plan
    assert plan.count("Exchange") == _plan(df.select("id")).count("Exchange")


def test_ensure_fanout_leaves_wellformed_input_alone(spark):
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(2 * slots)
    assert ensure_fanout(df) is df


def test_ring_cells_dist_matches_plain_ring(spark):
    """The distance-annotated ring explode must cover exactly the plain
    r-ring membership at every distance threshold r <= k (border clamps
    keep the MIN in-grid distance)."""
    from cogger_spark.functions import cells as C
    rng = np.random.RandomState(66)
    lon = rng.uniform(-179, 179, 50)
    lat = rng.uniform(-89, 89, 50)
    # include grid-border points (clamped rings)
    lon[:3] = [-180.0, 179.999, 0.0]
    lat[:3] = [-90.0, 89.999, -90.0]
    res, k = 6, 5
    from cogger_spark.operators.spatial import ring_cells_dist_udf
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double")
    rows = (df.withColumn("rc", ring_cells_dist_udf(res, k)("lon", "lat"))
            .select("lon", "lat", F.col("rc.cells").alias("cells"),
                    F.col("rc.ds").alias("ds")).collect())
    for r in rows:
        by_d = dict(zip(r.cells, r.ds))
        for rr in range(k + 1):
            plain = set(np.unique(C.k_ring(
                C.cell_encode(np.array([r.lon]), np.array([r.lat]), res),
                rr)).tolist())
            got = {c for c, d in by_d.items() if d <= rr}
            assert got == plain, (r.lon, r.lat, rr)


def test_cosine_pre_bit_identical(spark):
    """Precomputed-norm cosine == inline cosine_expr, bit for bit."""
    from cogger_spark.operators.similarity import (cosine_expr, cosine_pre,
                                                   norm_expr)
    rng = np.random.RandomState(7)
    rows = [(i, rng.standard_normal(64).astype(np.float32).tolist(),
             rng.standard_normal(64).astype(np.float32).tolist())
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "id long, a array<float>, b array<float>")
    out = (df.withColumn("_na", norm_expr(F.col("a")))
           .withColumn("_nb", norm_expr(F.col("b")))
           .select(
               cosine_expr(F.col("a"), F.col("b")).alias("inline"),
               cosine_pre(F.col("a"), F.col("b"),
                          F.col("_na"), F.col("_nb")).alias("pre"))
           .collect())
    for r in out:
        assert r.inline == r.pre  # exact double equality, no tolerance


def test_route_probe_footer_matches_aggregate(spark, fixture_dir):
    """The footer-statistics probe must agree with the aggregate probe on
    bare parquet relations (exactly here — fixture dims carry no
    cross-column spread), and derived frames must fall back."""
    from cogger_spark.fixtures import FIXTURE_DIR, ensure_test_fixtures
    from cogger_spark.operators.tiling import (_probe_from_footers,
                                               route_probe)
    ensure_test_fixtures()
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    for thr in (1, 512 * 512, 64 * 1024 * 1024):
        foot = _probe_from_footers(images, thr)
        assert foot is not None
        assert foot == route_probe(images, thr)
    # derived frame -> footer probe refuses, route_probe still answers
    derived = images.filter(F.col("fmt") == "raw")
    assert _probe_from_footers(derived, 1) is None
    hs, hb, dims = route_probe(derived, 1)
    assert dims[0] is not None


def test_knn_adaptive_single_rung(spark, fixture_dir):
    """rings=(r,) takes the phase-A-only path and must equal the bounded
    knn_join at the same ring (modulo the extra `ring` column)."""
    from cogger_spark.fixtures import FIXTURE_DIR, ensure_test_fixtures
    from cogger_spark.operators import spatial
    ensure_test_fixtures()
    images = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    points = spark.read.parquet(str(FIXTURE_DIR / "points_test.parquet"))
    tiles = spatial.tile_manifest(images, tile=512, level=0)
    single = spatial.knn_join_adaptive(points, tiles, k=3, rings=(2,))
    plain = spatial.knn_join(points, tiles, k=3, ring=2)
    a = {tuple(r) for r in single.drop("ring").collect()}
    b = {tuple(r) for r in plain.collect()}
    assert a == b


def test_strips_level0_threaded_byte_identical(spark):
    """The threaded per-strip compress (l0_threads>1) must produce the SAME
    rows and byte-identical payloads as the serial path, and the auto
    sizing must stay serial when no footer row bound exists (derived
    frame)."""
    from cogger_spark.operators.strips import _scan_rows_upper, strips_level0
    from cogger_spark.fixtures import FIXTURE_DIR, ensure_test_fixtures
    ensure_test_fixtures()
    images = (spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
              .limit(3))

    def rows(threads):
        return sorted(
            ((r.image_id, r.strip_id, r.top_row, r.strip_h, r.planes,
              r.has_mask, bytes(r.payload))
             for r in strips_level0(images, tile=256, target_px=64 * 1024,
                                    l0_threads=threads).collect()))

    assert rows(8) == rows(1)

    # footer upper bound: real for a Filter-over-scan, None for derived
    base = spark.read.parquet(str(FIXTURE_DIR / "images_test.parquet"))
    n = _scan_rows_upper(base.filter(F.col("w") > 0))
    assert n is not None and n >= base.count()
    assert _scan_rows_upper(base.groupBy("fmt").count()) is None


def test_rewrite_path_route_equivalent_and_guarded(spark, smoke_images,
                                                   tmp_path):
    """rewrite_tiffs over a pure binaryFile scan takes the path-read route
    (bytes never cross the JVM↔Python boundary; ReadSchema prunes content)
    and must return byte-identical results to the bytes route; ANY derived
    frame must refuse the route."""
    import hashlib
    from cogger_spark.operators.tiling import (
        _binaryfile_path_route, convert_images, rewrite_tiffs)
    from cogger_spark.sources.tiffdir import read_tiff_dir
    src = spark.read.parquet(smoke_images).limit(5)
    d = tmp_path / "tifs"
    convert_images(src, str(d), tile=512)
    tiffs = read_tiff_dir(spark, str(d))

    assert _binaryfile_path_route(tiffs) is True
    # derived bytes / missing path / non-scan frames refuse the route
    assert _binaryfile_path_route(
        tiffs.withColumn("bytes", F.expr("substring(bytes, 1, 4)"))) is False
    assert _binaryfile_path_route(tiffs.drop("path")) is False
    forced = tiffs.localCheckpoint()
    assert _binaryfile_path_route(forced) is False

    def digest(df):
        return {r.image_id: (r.in_bytes, r.out_bytes,
                             hashlib.md5(bytes(r.cog)).hexdigest())
                for r in rewrite_tiffs(df).collect()}

    assert digest(tiffs) == digest(forced)
    # the path-route scan must never read file contents in the JVM
    plan = rewrite_tiffs(tiffs)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<path:string>" in plan, plan

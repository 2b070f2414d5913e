"""Spatial operators: tile extents, point-in-polygon, kNN, zonal joins,
phash dedup (SURVEY.md §2.3 J5-J8, BASELINE.json:6,14).

Design (filter-and-refine, classic spatial-join shape):

* tile extents are pure column arithmetic — closed-form from (image_id, w, h)
  via the synthetic geo frame (functions/geo.py) — so the whole manifest
  stays JVM-side/whole-stage-codegen and the parquet scan reads only 3 thin
  columns (never `bytes`).
* every spatial join is an equi-join on quadtree cell ids (vectorized
  pandas_udf producing the cells) followed by an exact geometric refinement
  predicate — Catalyst gets a shuffle-hash/broadcast equi-join instead of a
  theta join, which is what makes this hold at 10^12 rows.
* skew: hot cells (point clusters) are handled by AQE skew-join splitting
  (enabled in session.py); the dedup/count paths offer salted two-stage
  aggregation (`salted_count_by`).

Containment/overlap conventions (mirrored exactly by the DuckDB oracles):
point-in-tile is half-open (min <= p < max); box-box overlap is strict on
both sides (t.min < z.max AND t.max > z.min).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import ArrayType, LongType

from ..functions import cells as C
from ..functions.geo import (
    DEFAULT_RES,
    LAT_BASE,
    LAT_MOD,
    LAT_MULT,
    LON_BASE,
    LON_MOD,
    LON_MULT,
    PIXEL_DEG,
)
from .tiling import _IMAGE_COLS, _cog_stage, _fail_closed, _level0_blocks

# ---------------------------------------------------------------------------
# tile extents — JVM-only column math
# ---------------------------------------------------------------------------


def _anchor_cols(df: DataFrame) -> DataFrame:
    # every digit after 'img_', as geo.img_index reads it
    img_idx = F.expr("substring(image_id, 5)").cast("long")
    return (df
            .withColumn("img_idx", img_idx)
            .withColumn("lon0", F.lit(LON_BASE) + (img_idx * LON_MULT % LON_MOD) / 10.0)
            .withColumn("lat0", F.lit(LAT_BASE) + (img_idx * LAT_MULT % LAT_MOD) / 10.0))


def n_extra_levels_col(tile: int, min_size: int = 2):
    """Overview count, closed form (rule of stripper.go:265-275):
    halvings until the level fits one tile, capped by halvings until the
    smaller dim reaches min_size."""
    k_tile = F.greatest(
        F.lit(0),
        F.ceil(F.log2(F.col("w") / F.lit(float(tile)))),
        F.ceil(F.log2(F.col("h") / F.lit(float(tile)))))
    k_min = F.greatest(
        F.lit(0),
        F.ceil(F.log2(F.least("w", "h") / F.lit(float(min_size)))))
    return F.least(k_tile, k_min).cast("int")


def tile_manifest(images: DataFrame, tile: int = 512, level: int | None = 0,
                  min_size: int = 2) -> DataFrame:
    """One row per output tile (imagery plane) with pixel dims and geo bbox.

    level=None emits all pyramid levels (full manifest); level=k restricts.
    Entirely built-in functions: sequence+explode for the tile grid, integer
    ceil math for per-level dims — no Python in the plan, filters and column
    pruning push into the scan.
    """
    df = _anchor_cols(images.select("image_id", "w", "h"))
    df = df.withColumn("n_levels", n_extra_levels_col(tile, min_size) + F.lit(1))
    if level is None:
        df = df.withColumn("level", F.explode(F.sequence(F.lit(0), F.col("n_levels") - 1)))
    else:
        df = df.withColumn("level", F.lit(level)).filter(F.col("level") < F.col("n_levels"))
    scale = F.pow(F.lit(2.0), F.col("level"))
    # iterated ceil-halving == ceil(w / 2^level)
    df = (df
          .withColumn("lw", F.ceil(F.col("w") / scale).cast("int"))
          .withColumn("lh", F.ceil(F.col("h") / scale).cast("int"))
          .withColumn("ntx", F.ceil(F.col("lw") / F.lit(float(tile))).cast("int"))
          .withColumn("nty", F.ceil(F.col("lh") / F.lit(float(tile))).cast("int")))
    df = (df
          .withColumn("ty", F.explode(F.sequence(F.lit(0), F.col("nty") - 1)))
          .withColumn("tx", F.explode(F.sequence(F.lit(0), F.col("ntx") - 1))))
    # valid pixels in this tile (edge tiles are partial)
    df = (df
          .withColumn("px_w", F.least(F.lit(tile), F.col("lw") - F.col("tx") * tile))
          .withColumn("px_h", F.least(F.lit(tile), F.col("lh") - F.col("ty") * tile)))
    deg_px = F.lit(PIXEL_DEG) * scale  # ground resolution doubles per level
    return (df
            .withColumn("lon_min", F.col("lon0") + F.col("tx") * tile * deg_px)
            .withColumn("lat_min", F.col("lat0") + F.col("ty") * tile * deg_px)
            .withColumn("lon_max", F.col("lon0") + (F.col("tx") * tile + F.col("px_w")) * deg_px)
            .withColumn("lat_max", F.col("lat0") + (F.col("ty") * tile + F.col("px_h")) * deg_px)
            .select("image_id", "level", "ty", "tx", "lw", "lh", "ntx", "nty",
                    "px_w", "px_h", "lon_min", "lat_min", "lon_max", "lat_max"))


# ---------------------------------------------------------------------------
# cell columns — vectorized Arrow kernels (F8)
# ---------------------------------------------------------------------------


def point_cell_udf(res: int = DEFAULT_RES):
    @F.pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(C.cell_encode(lon.values, lat.values, res))
    return _enc


def cover_cells_udf(res: int = DEFAULT_RES):
    @F.pandas_udf(ArrayType(LongType()))
    def _cover(lon_min: pd.Series, lat_min: pd.Series,
               lon_max: pd.Series, lat_max: pd.Series) -> pd.Series:
        covers = C.cover_bbox(lon_min.values, lat_min.values,
                              lon_max.values, lat_max.values, res)
        return pd.Series([c.tolist() for c in covers])
    return _cover


def ring_cells_udf(res: int = DEFAULT_RES, k: int = 2):
    @F.pandas_udf(ArrayType(LongType()))
    def _ring(lon: pd.Series, lat: pd.Series) -> pd.Series:
        cell = C.cell_encode(lon.values, lat.values, res)
        rings = C.k_ring(cell, k)
        return pd.Series([np.unique(r).tolist() for r in rings])
    return _ring


def ring_cells_dist_udf(res: int = DEFAULT_RES, k: int = 2):
    """Like ring_cells_udf but each cell carries its IN-GRID Chebyshev
    distance from the point's own cell, as a struct of PARALLEL ARRAYS
    (cells, ds) — zip+explode JVM-side with F.arrays_zip. The MIN distance
    is kept for border-clamped duplicates, so `d <= r` reproduces exactly
    the membership of the r-ring for every r <= k (the single-explode
    ladder collapse of knn_join_adaptive). Fully vectorized: one lexsort +
    first-occurrence mask over the whole batch — no per-cell Python objects
    (the array<struct> formulation built 289 dicts per point and measured
    2.7x slower than this)."""
    from pyspark.sql.types import IntegerType, StructField, StructType
    out_t = StructType([StructField("cells", ArrayType(LongType())),
                        StructField("ds", ArrayType(IntegerType()))])

    @F.pandas_udf(out_t)
    def _ring(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        cell = C.cell_encode(lon.values, lat.values, res)
        rings = np.atleast_2d(C.k_ring(cell, k))      # (n, (2k+1)^2), clamped
        n, m = rings.shape
        if n == 0:
            return pd.DataFrame({"cells": [], "ds": []})
        dx, dy = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
        cheb = np.maximum(np.abs(dx), np.abs(dy)).ravel()  # meshgrid order
        rows = np.repeat(np.arange(n), m)
        flat = rings.ravel().astype(np.int64)
        chebs = np.tile(cheb, n)
        order = np.lexsort((chebs, flat, rows))
        r_s, c_s, d_s = rows[order], flat[order], chebs[order]
        # first occurrence per (row, cell) in (row, cell, d) order = min d of
        # each (possibly clamped) cell
        first = np.ones(len(r_s), dtype=bool)
        first[1:] = (r_s[1:] != r_s[:-1]) | (c_s[1:] != c_s[:-1])
        r_u, c_u, d_u = r_s[first], c_s[first], d_s[first]
        splits = np.searchsorted(r_u, np.arange(1, n))
        return pd.DataFrame({
            "cells": [a.tolist() for a in np.split(c_u, splits)],
            "ds": [a.tolist() for a in np.split(d_u, splits)],
        })
    return _ring


def with_tile_cells(tiles: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Explode each tile's bbox cover into (tile, cell_id) rows."""
    cover = cover_cells_udf(res)
    return tiles.withColumn(
        "cell_id",
        F.explode(cover("lon_min", "lat_min", "lon_max", "lat_max")))


# ---------------------------------------------------------------------------
# J5 — point-in-polygon (point-in-tile-extent) join
# ---------------------------------------------------------------------------


def pip_join(points: DataFrame, tiles: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """points × tile extents via shared cells + exact half-open containment.

    Each point has exactly one cell and the tile cover includes every cell the
    tile touches, so the equi-join emits each qualifying (point, tile) pair at
    most once — no post-join dedup needed."""
    pc = points.withColumn("cell_id", point_cell_udf(res)("lon", "lat"))
    tc = with_tile_cells(tiles, res)
    joined = pc.join(tc, "cell_id")
    return (joined
            .filter((F.col("lon") >= F.col("lon_min")) & (F.col("lon") < F.col("lon_max"))
                    & (F.col("lat") >= F.col("lat_min")) & (F.col("lat") < F.col("lat_max")))
            .select("point_id", "label", "image_id", "level", "ty", "tx",
                    "lon", "lat"))


# ---------------------------------------------------------------------------
# J6 — bounded-radius kNN via k-ring expansion + per-key top-k
# ---------------------------------------------------------------------------


def knn_join(points: DataFrame, tiles: DataFrame, k: int = 5,
             ring: int = 2, res: int = DEFAULT_RES) -> DataFrame:
    """k nearest tiles (by squared center distance, deterministic tiebreak)
    among candidates whose cell cover intersects the point's `ring`-ring.

    Semantics are *bounded-radius* kNN — the candidate set is the ring
    neighborhood, exactly reproducible in SQL from grid coordinates, so the
    oracle can verify rows exactly. W5: row_number over (point) ordered by
    distance."""
    pc = points.withColumn(
        "ring_cell", F.explode(ring_cells_udf(res, ring)("lon", "lat")))
    tc = with_tile_cells(tiles, res).withColumnRenamed("cell_id", "ring_cell")
    cand = (pc.join(tc, "ring_cell")
            # one point_id-keyed exchange serves the dedup AND the top-k
            # window below (HashPartitioning(point_id) satisfies both
            # clusterings — guide 2.4)
            .repartition("point_id")
            .select("point_id", "lon", "lat", "image_id", "level", "ty", "tx",
                    "lon_min", "lat_min", "lon_max", "lat_max")
            .distinct())  # a tile may meet a point through several cells
    cx = (F.col("lon_min") + F.col("lon_max")) / 2.0
    cy = (F.col("lat_min") + F.col("lat_max")) / 2.0
    d2 = (F.col("lon") - cx) * (F.col("lon") - cx) \
        + (F.col("lat") - cy) * (F.col("lat") - cy)
    w = Window.partitionBy("point_id").orderBy(
        F.col("dist2").asc(), F.col("image_id").asc(), F.col("level").asc(),
        F.col("ty").asc(), F.col("tx").asc())
    return (cand.withColumn("dist2", d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("point_id", "image_id", "level", "ty", "tx", "dist2", "rank"))


def knn_join_adaptive(points: DataFrame, tiles: DataFrame, k: int = 5,
                      rings: tuple[int, ...] = (2, 4, 8),
                      res: int = DEFAULT_RES) -> DataFrame:
    """True-kNN variant of J6: ring-ladder expansion. Each point's candidate
    neighborhood starts at rings[0]; points that find >= k candidate tiles
    resolve there, the rest escalate to the next rung — so under-dense
    regions still return k rows (up to the final rung) while the common case
    never pays the wide explode (ring r is (2r+1)² cells per point).

    Execution shape (r6): the semantics are a ladder, but the PLAN is two
    phases and ONE Spark job. Phase A explodes only the first rung's
    (2·rings[0]+1)² cells for every point — the common case's whole cost.
    Points the first rung cannot satisfy (< k candidate tiles) take phase B:
    one explode of the LAST rung's cells annotated with each cell's in-grid
    Chebyshev distance, so every remaining rung's candidate set is the
    `min cell distance <= r` subset of ONE relation and the chosen rung is a
    conditional-count expression — no per-rung jobs, no eager
    materialization (the r5 ladder ran len(rings)+1 jobs with a
    localCheckpoint per rung; at bench scale the job launches dominated).
    The escalating minority still pays the wide explode, the resolved
    majority never does. Deterministic semantics (chosen rung = first with
    >= k distinct candidate tiles; top-k by squared center distance with
    (image_id, ty, tx) tiebreak) are exactly mirrored by the KNN_ADAPTIVE
    SQL oracle. Output adds the chosen `ring` per point."""
    if not rings:
        raise ValueError("knn_join_adaptive: rings ladder must be non-empty")
    tc = with_tile_cells(tiles, res).withColumnRenamed("cell_id", "ring_cell")
    cx = (F.col("lon_min") + F.col("lon_max")) / 2.0
    cy = (F.col("lat_min") + F.col("lat_max")) / 2.0
    d2 = (F.col("lon") - cx) * (F.col("lon") - cx) \
        + (F.col("lat") - cy) * (F.col("lat") - cy)
    w = Window.partitionBy("point_id").orderBy(
        F.col("dist2").asc(), F.col("image_id").asc(),
        F.col("level").asc(), F.col("ty").asc(), F.col("tx").asc())

    def ranked(cand, ring_col):
        return (cand.withColumn("dist2", d2)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("point_id", "image_id", "level", "ty", "tx",
                        "dist2", "rank", ring_col.alias("ring")))

    # phase A: first rung only — the cost the common case pays
    r0, last0 = rings[0], len(rings) == 1
    pc = points.withColumn(
        "ring_cell", F.explode(ring_cells_udf(res, r0)("lon", "lat")))
    # ONE exchange keyed on point_id serves the whole downstream chain:
    # HashPartitioning(point_id) satisfies the ClusteredDistribution of the
    # distinct (grouping is a superset of point_id), the per-point counts,
    # the top-k window, and the resolved join — without it each of those
    # planned its own exchange (guide 2.4; A/B at bench scale: 2.3 -> 1.8s).
    cand_a = (pc.join(tc, "ring_cell")
              .repartition("point_id")
              .select("point_id", "lon", "lat", "image_id", "level", "ty",
                      "tx", "lon_min", "lat_min", "lon_max", "lat_max")
              .distinct()
              # the ONE materialization the collapsed ladder keeps: cand_a
              # feeds three consumers (counts, phase-A top-k, phase-B
              # anti-join); without it the explode+join lineage runs 3x
              # (A/B: 2.5s -> 1.75s). Narrow metadata rows, no payloads.
              # Lazy: the consumers share the cached blocks within the one
              # query job, so no separate materialization job is paid.
              .localCheckpoint(eager=False))
    counts_a = cand_a.groupBy("point_id").agg(F.count(F.lit(1)).alias("_n"))
    resolved_a = (counts_a if last0 else counts_a.filter(F.col("_n") >= k)) \
        .select("point_id")
    out = ranked(cand_a.join(resolved_a, "point_id"), F.lit(r0))
    if last0:
        return out

    # phase B: every later rung from ONE wide explode with cell distances
    remaining = points.join(resolved_a, "point_id", "left_anti")
    rmax = rings[-1]
    pb = (remaining.withColumn("rc", ring_cells_dist_udf(res, rmax)("lon", "lat"))
          .withColumn("z", F.explode(F.arrays_zip(F.col("rc.cells"),
                                                  F.col("rc.ds"))))
          .select("point_id", "lon", "lat",
                  F.col("z.cells").alias("ring_cell"),
                  F.col("z.ds").alias("d")))
    cand_b = (pb.join(tc, "ring_cell")
              .repartition("point_id")  # same shared-exchange trick as cand_a
              .groupBy("point_id", "lon", "lat", "image_id", "level", "ty",
                       "tx", "lon_min", "lat_min", "lon_max", "lat_max")
              .agg(F.min("d").alias("mind"))
              # two consumers (rung counts, final join) — share the cached
              # blocks instead of re-running the wide explode twice
              .localCheckpoint(eager=False))
    cnt = cand_b.groupBy("point_id").agg(
        *[F.sum((F.col("mind") <= r).cast("int")).alias(f"_n{r}")
          for r in rings[1:]])
    chosen = F.lit(rings[-1])
    for r in reversed(rings[1:-1]):
        chosen = F.when(F.col(f"_n{r}") >= k, F.lit(r)).otherwise(chosen)
    picked = cnt.select("point_id", chosen.alias("_ring"))
    out_b = ranked(
        cand_b.join(picked, "point_id").filter(F.col("mind") <= F.col("_ring")),
        F.col("_ring"))
    return out.unionByName(out_b)


# ---------------------------------------------------------------------------
# J7 — raster↔vector zonal join + stats
# ---------------------------------------------------------------------------


def zonal_join(zones: DataFrame, tiles: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """zones × tiles overlap join: shared cover cells, distinct pairs, exact
    rectangle-overlap refinement. Zones are broadcast (small dim side)."""
    cover = cover_cells_udf(res)
    zc = zones.withColumn(
        "cell_id", F.explode(cover("lon_min", "lat_min", "lon_max", "lat_max")))
    zc = zc.select("zone_id", "cell_id",
                   F.col("lon_min").alias("z_lon_min"), F.col("lat_min").alias("z_lat_min"),
                   F.col("lon_max").alias("z_lon_max"), F.col("lat_max").alias("z_lat_max"))
    tc = with_tile_cells(tiles, res)
    pairs = (tc.join(F.broadcast(zc), "cell_id")
             .filter((F.col("lon_min") < F.col("z_lon_max"))
                     & (F.col("lon_max") > F.col("z_lon_min"))
                     & (F.col("lat_min") < F.col("z_lat_max"))
                     & (F.col("lat_max") > F.col("z_lat_min")))
             .select("zone_id", "image_id", "level", "ty", "tx", "px_w", "px_h")
             .distinct())
    return pairs


def zonal_stats(zones: DataFrame, tiles: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Per-zone aggregates over the joined tiles (A6): tile count, distinct
    images, total valid pixels. Partial aggregation comes free from Catalyst."""
    pairs = zonal_join(zones, tiles, res)
    return (pairs.groupBy("zone_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.countDistinct("image_id").alias("n_images"),
                 F.sum(F.col("px_w").cast("long") * F.col("px_h")).alias("px_sum"))
            )


# ---------------------------------------------------------------------------
# J8 — phash dedup + salted aggregation for hot keys
# ---------------------------------------------------------------------------


def distance_join(points: DataFrame, radius_deg: float,
                  res: int | None = None) -> DataFrame:
    """Self distance (range) join — the ST_DWithin shape: every unordered
    pair of points within `radius_deg` (planar degrees), as
    (point_a < point_b, dist2). Filter-and-refine like every join here:

    * `res` defaults to the FINEST grid whose LATITUDE cell still covers
      the radius — the grid quantizes 180 lat degrees with the same 2^res
      as 360 lon degrees, so lat cells are HALF cell_size_deg(res) and the
      coverage condition is cell_size_deg(res) / 2 >= radius (r5
      self-review: sizing on the lon cell alone dropped in-range pairs two
      lat-cells apart). Two in-range points are then always within one
      cell step in BOTH axes — side A keeps its single cell, side B
      explodes its 1-ring (<= 9 cells), and the cell equi-join bounds
      candidates by local density (never all-pairs);
    * the exact euclidean refine keeps only true pairs; each pair joins on
      exactly one cell (A's cell is unique and B's ring cells are deduped)
      so no post-join distinct is needed.

    At 10^12 points this is the standard uniform-grid spatial join: shuffle
    keyed on cells, AQE skew-split for hot cells, candidate count linear in
    sum-of-neighborhood sizes."""
    if not (0.0 < float(radius_deg) <= 90.0):
        # The (0, 90] cap is a deliberate API restriction, not a
        # correctness need: above 90 planar degrees only res 0 (one cell)
        # covers the radius, and the join degenerates to all-pairs + exact
        # refine. <= 0 (or NaN) would silently return no pairs at the
        # finest grid.
        raise ValueError(
            f"radius_deg must be in (0, 90]: got {radius_deg}")
    if res is None:
        res = max(r for r in range(0, 29)
                  if C.cell_size_deg(r) / 2.0 >= radius_deg)
    a = points.select(
        F.col("point_id").alias("pa"), F.col("lon").alias("lon_a"),
        F.col("lat").alias("lat_a")).withColumn(
            "cell_id", point_cell_udf(res)("lon_a", "lat_a"))
    b = points.select(
        F.col("point_id").alias("pb"), F.col("lon").alias("lon_b"),
        F.col("lat").alias("lat_b")).withColumn(
            "cell_id", F.explode(ring_cells_udf(res, 1)("lon_b", "lat_b")))
    dx = F.col("lon_a") - F.col("lon_b")
    dy = F.col("lat_a") - F.col("lat_b")
    d2 = dx * dx + dy * dy
    r2 = float(radius_deg) * float(radius_deg)
    return (a.join(b, "cell_id")
            .filter(F.col("pa") < F.col("pb"))
            .filter(d2 <= F.lit(r2))
            .select(F.col("pa").alias("point_a"),
                    F.col("pb").alias("point_b"),
                    F.round(d2, 12).alias("dist2")))


def point_grid_counts(points: DataFrame, res: int = DEFAULT_RES,
                      salt_buckets: int = 32) -> DataFrame:
    """Points per grid cell with salted two-stage aggregation (the hot-cell
    skew pattern, BASELINE.json:6): partial counts on (cell, salt) spread the
    hot cluster across reducers; the final merge is tiny. Identical result to
    a plain count — the oracle computes the plain version.

    Grid coords are plain column arithmetic (the Morton packing is only
    needed for join keys, not counting), so the whole plan is JVM-side."""
    n = 1 << res
    gx = F.least(F.greatest(F.floor((F.col("lon") + 180.0) / 360.0 * n)
                            .cast("long"), F.lit(0)), F.lit(n - 1))
    gy = F.least(F.greatest(F.floor((F.col("lat") + 90.0) / 180.0 * n)
                            .cast("long"), F.lit(0)), F.lit(n - 1))
    salted = (points.withColumn("gx", gx).withColumn("gy", gy)
              .withColumn("_salt", F.pmod(F.xxhash64("point_id"),
                                          F.lit(salt_buckets))))
    partial = (salted.groupBy("gx", "gy", "_salt")
               .agg(F.count(F.lit(1)).alias("_c")))
    return (partial.groupBy("gx", "gy")
            .agg(F.sum("_c").alias("n_points")))


def phash_canonical(images: DataFrame) -> DataFrame:
    """Duplicate groups by phash: canonical id = min(image_id), group size.
    A hash aggregate (map-side partials) rather than a self-join bounds the
    shuffle to one row per distinct key."""
    return (images.groupBy("phash")
            .agg(F.min("image_id").alias("canonical_image_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def dedup_images(images: DataFrame) -> DataFrame:
    """Keep exactly one row per phash (the smallest image_id): window
    row_number over the key (J8)."""
    w = Window.partitionBy("phash").orderBy("image_id")
    return (images.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))


def salted_count_by(df: DataFrame, key: str, salt_buckets: int = 32) -> DataFrame:
    """Two-stage salted count for skewed keys: pre-aggregate on (key, salt),
    then merge — the hot key's rows split across `salt_buckets` reducers
    before the final (tiny) merge. Identical result to count-by-key."""
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets)))
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("cnt"))


# ---------------------------------------------------------------------------
# J7+ — pixel-level zonal statistics (raster values, not just footprints)
# ---------------------------------------------------------------------------


_PIXEL_STATS_SCHEMA = ("image_id string, ty int, tx int, px_count long, "
                       "px_sum long, px_min int, px_max int")


def _image_stats_rows(image_id: str, data: bytes, w: int, h: int, fmt: str,
                      tile: int):
    """Yield the per-tile stats rows of one image, in _PIXEL_STATS_SCHEMA
    order. Level 0 streams as one-tile-row blocks (_level0_blocks), so
    every tile lies inside one block and the kernel holds one block, never
    the decoded image (png/jpeg excepted: their decoders are whole-image).
    Undecodable input raises ValueError naming the image (_fail_closed)."""
    with _fail_closed(image_id):
        nplanes, _mask, blocks = _level0_blocks(data, w, h, fmt, tile)
        for y0, rows in blocks:
            px = rows[:, :, :nplanes]
            for tx in range(-(-w // tile)):
                block = px[:, tx * tile:(tx + 1) * tile]
                yield (image_id, y0 // tile, tx, int(block.size),
                       int(block.sum(dtype=np.int64)), int(block.min()),
                       int(block.max()))


def tile_pixel_stats(images: DataFrame, tile: int = 512) -> DataFrame:
    """Level-0 tiles with real pixel statistics over the VALID region (edge
    padding excluded): sum/min/max/count per tile, all bands pooled (mask
    plane excluded). Emits no payloads (stats only), so the shuffle to any
    downstream join moves a few longs per tile.

    One _cog_stage (ensure_fanout + mapInPandas) for every image size: each
    image streams through _image_stats_rows one tile row at a time, so a
    task's pixel memory is one block (tile × width × planes), not the
    image."""
    return _cog_stage(
        images, _IMAGE_COLS,
        lambda r: _image_stats_rows(r.image_id, r.bytes, int(r.w), int(r.h),
                                    r.fmt, tile),
        _PIXEL_STATS_SCHEMA)


def zonal_pixel_stats(zones: DataFrame, images: DataFrame,
                      tile: int = 512, res: int = DEFAULT_RES) -> DataFrame:
    """Per-zone statistics over the actual raster values of overlapping
    tiles: the metadata zonal join (cover cells + overlap refine) enriched
    with the tile pixel stats — mean = Σsum/Σcount across the zone's tiles."""
    # zonal_join needs only the (cheap, closed-form) extents; the expensive
    # pixel-decode stats join AFTER the zone pairing, exactly once — joining
    # stats into the zonal input too was a no-op filter that planned (and
    # ran) the whole decode subtree twice (r5 self-review)
    extents = tile_manifest(images, tile=tile, level=0)
    stats = tile_pixel_stats(images, tile=tile)
    pairs = zonal_join(zones, extents, res=res)
    enriched = pairs.join(stats, ["image_id", "ty", "tx"])
    return (enriched.groupBy("zone_id")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum("px_sum").alias("value_sum"),
                 F.sum("px_count").alias("value_count"),
                 F.min("px_min").alias("value_min"),
                 F.max("px_max").alias("value_max"))
            .withColumn("value_mean",
                        F.round(F.col("value_sum") / F.col("value_count"), 6)))

#!/usr/bin/env python
"""Headline benchmark: the engine's flagship queries at $SPARK_GRAFT_SF_DIR
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

The COG pipeline runs over a deterministic bench image table (generated once
per scale under /tmp — no external data); images/sec, tiles/sec and MB/sec of
tile payload are reported alongside so the numbers compare against the
reference's "I/O-bound byte reshuffle" model (BASELINE.md).

--cores N pins parallelism (used by bench_scaling.py to evidence the
N vs 4N scaling criterion with shuffle partitions proportional to cores).
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import sys
import time

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

BENCH_DIMS = [512, 768, 1024, 1024, 1536, 2048, 640, 896]


def _sf_of(sf_dir: str) -> float:
    name = pathlib.Path(sf_dir).name
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def _n_images(sf: float) -> int:
    env = os.environ.get("SPARK_GRAFT_BENCH_IMAGES")
    if env:
        return int(env)
    return max(24, int(4800 * sf))  # sf0.1 → 480 images (~3.4 GB pixels)


def _bench_fixtures(sf: float):
    """Deterministic bench tables under /tmp, generated once per scale."""
    import pyarrow.parquet as pq
    from cogger_spark.fixtures import (
        make_points_table, make_zones_table, write_images_parquet)
    n = _n_images(sf)
    root = pathlib.Path(f"/tmp/cogger_bench_{n}")
    marker = root / "_done"
    if not marker.exists():
        root.mkdir(parents=True, exist_ok=True)
        write_images_parquet(root / "images.parquet", n, dims=BENCH_DIMS)
        pq.write_table(make_points_table(n, dims=BENCH_DIMS),
                       root / "points.parquet")
        pq.write_table(make_zones_table(max(20, n // 10), n, dims=BENCH_DIMS),
                       root / "zones.parquet")
        marker.touch()
    return root


def _giga_fixture() -> pathlib.Path:
    """4 × 0.5-gigapixel synthetic gray images (32768×16384, deflate input
    blobs), generated once and cached — the gigapixel bench input
    (VERDICT r4 #4: the 100-TB story leans on bounded memory for oversized
    images, so it must be timed, not just correctness-tested)."""
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq
    from cogger_spark.fixtures import make_pixels
    root = pathlib.Path("/tmp/cogger_bench_giga")
    p = root / "giga.parquet"
    if not (root / "_done").exists():
        root.mkdir(parents=True, exist_ok=True)
        W, H = 32768, 16384
        ids, blobs = [], []
        for i in range(4):
            px = make_pixels(i, W, H, 1, False)
            ids.append(f"img_{90000000 + i}")  # img_<int>: geo-anchor contract
            blobs.append(zlib.compress(px.tobytes(), 1))
        tbl = pa.table({
            "image_id": pa.array(ids, pa.string()),
            "bytes": pa.array(blobs, pa.binary()),
            "w": pa.array([W] * 4, pa.int32()),
            "h": pa.array([H] * 4, pa.int32()),
            "fmt": pa.array(["deflate"] * 4, pa.string()),
        })
        # one row group PER IMAGE: a single row group would hand every blob
        # to one scan task — the split that contains the row-group offset —
        # serializing all decodes behind one core
        pq.write_table(tbl, p, row_group_size=1)
        (root / "_done").touch()
    return p


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from cogger_spark.session import get_spark
    from cogger_spark import queries as Q
    from cogger_spark.operators import spatial
    from cogger_spark.operators.tiling import cog_pipeline
    import pyspark.sql.functions as F

    sf = _sf_of(args.sf_dir)
    bench_root = _bench_fixtures(sf)
    # The synthetic pixels are closed-form (highly compressible), so parquet
    # compressed size wildly understates decode cost and Spark's default
    # compressed-byte split sizing would pack thousands of deflate rows into
    # one straggler split. Small splits restore row-count-granular balance;
    # real (incompressible) imagery splits correctly at the 128MB default.
    spark = get_spark("cogger-bench", cores=args.cores,
                      shuffle_partitions=args.cores)

    from contextlib import contextmanager

    @contextmanager
    def small_splits():
        """Row-count-granular input splits for the PIXEL stages only (the
        synthetic data is so compressible that byte-sized splits starve
        parallelism and skew decode cost); metadata/spatial queries keep the
        default 128m splits (a 1m global setting costs ~1300 footer-opening
        tasks per metadata scan). SPARK_GRAFT_SPLIT_BYTES overrides: at the
        19200-image scaling scale, 4m splits cut the scan's task count 4x
        and measurably reduce JVM busy-CPU (r4 A/B, scripts/scaling_ab.py);
        1m stays the default for the 480-image per-round bench where 4m
        would leave fewer tasks than cores."""
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       os.environ.get("SPARK_GRAFT_SPLIT_BYTES", "1m"))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
            spark.conf.set("spark.sql.files.openCostInBytes", "4194304")
    spark.sparkContext.setLogLevel("ERROR")

    images = spark.read.parquet(str(bench_root / "images.parquet"))
    points = spark.read.parquet(str(bench_root / "points.parquet"))
    zones = spark.read.parquet(str(bench_root / "zones.parquet"))
    n_images = images.count()

    timings: dict[str, float] = {}
    # VM steal-time variance is ±30% (NOTES.md): run the whole suite
    # SPARK_GRAFT_BENCH_REPS times (default 2, interleaved by construction)
    # and report the min per query, so round-over-round deltas track code,
    # not scheduler noise (VERDICT r2 item 9).
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

    def timed(name, fn):
        t0 = time.time()
        result = fn()
        dt = round(time.time() - t0, 3)
        timings[name] = min(timings.get(name, dt), dt)
        return result

    # warm the JVM, python worker pool, and codegen before timing
    with small_splits():
        cog_pipeline(images.limit(8), tile=512).count()

    for _rep in range(reps):
        with small_splits():
            # 1. flagship: full COG pipeline (decode → pyramid → tiles → blobs)
            agg = timed("cog_pipeline", lambda: cog_pipeline(images, tile=512)
                        .agg({"n_tiles": "sum", "total_bytes": "sum"}).collect()[0])
    n_tiles = int(agg["sum(n_tiles)"])
    total_mb = int(agg["sum(total_bytes)"]) / 1e6
    cog_sec = timings["cog_pipeline"]

    # 2. the reference's own workload: TIFF→COG byte reshuffle, no pixel work.
    #    Input = raw-tile (uncompressed) COG FILES of the FULL bench table —
    #    prepared untimed+cached through the bounded parts writer
    #    (convert_images), so there is no subset cap: no task or writer ever
    #    buffers a whole raw blob during preparation, and the measurement
    #    reads .tif files exactly like the reference's own workload does.
    from cogger_spark.operators.tiling import convert_images, rewrite_tiffs
    rew_dir = bench_root / "tiffs_raw"
    # rewrite measures MB/s: 480 images (~8 GB of raw .tif) saturates it;
    # scaling runs (19200 images) would need ~320 GB of files for no extra
    # signal, so the input is capped — by row count, not by writer memory
    # (the parts writer is bounded at any size)
    rew_n = min(n_images, 480)
    with small_splits():
        if not (rew_dir / "_done").exists():
            convert_images(images.limit(rew_n), str(rew_dir),
                           tile=512, compression="raw")
            (rew_dir / "_done").touch()
    from cogger_spark.operators.tiling import rewrite_tiffs_to_dir
    from cogger_spark.sources.tiffdir import read_tiff_dir
    import shutil
    import tempfile
    # All cog_rewrite reps run BEFORE the first cog_rewrite_files rep: the
    # files variant writes ~8 GB per rep, and its page-cache/writeback
    # pressure previously landed on the next rep's cog_rewrite read
    # (VERDICT r3 what's-wrong #4 — the 9.3→14.4s driver-side swing).
    tiffs = read_tiff_dir(spark, str(rew_dir))
    for _rep in range(reps):
        with small_splits():
            rew = timed("cog_rewrite", lambda: rewrite_tiffs(tiffs)
                        .agg({"in_bytes": "sum"}).collect()[0])
    # the reference CLI's true job shape: .tif in -> .tif out, write fused
    # into the kernel (blobs never return to the JVM). One output dir,
    # truncated between reps (untimed) and removed at the end — no /tmp leak.
    rw_out = tempfile.mkdtemp(prefix="bench_rw_")
    try:
        for _rep in range(reps):
            for p in pathlib.Path(rw_out).iterdir():
                p.unlink()
            with small_splits():
                timed("cog_rewrite_files",
                      lambda: rewrite_tiffs_to_dir(tiffs, rw_out).count())
    finally:
        shutil.rmtree(rw_out, ignore_errors=True)
    rewrite_mb = int(rew["sum(in_bytes)"]) / 1e6

    # 2c. gigapixel images (VERDICT r4 #4): 4 × 0.5-gigapixel images
    # through cog_pipeline_parts — one streaming mapInPandas stage; a task
    # holds one tile-row block per pyramid level (never the decoded
    # image), and each output row is one part of <= 256 tiles. Gated to
    # sf >= 0.1 (the fixture is ~2.1 GB of pixels) — override with
    # SPARK_GRAFT_BENCH_GIGA=1/0.
    giga_px_mb = 0.0
    run_giga = os.environ.get("SPARK_GRAFT_BENCH_GIGA",
                              "1" if sf >= 0.1 else "0") == "1"
    if run_giga:
        from cogger_spark.operators.tiling import cog_pipeline_parts
        giga = spark.read.parquet(str(_giga_fixture()))
        giga_px_mb = sum(r.w * r.h for r in
                         giga.select("w", "h").collect()) / 1e6
        for _rep in range(reps):
            with small_splits():
                timed("cog_gigapixel",
                      lambda: cog_pipeline_parts(giga, tile=512)
                      .agg(F.sum(F.length("part"))).collect())

    # 3. tile metadata + spatial joins over the bench-scale tables
    manifest = spatial.tile_manifest(images, tile=512, level=0)
    for _rep in range(reps):
        timed("tile_manifest",
              lambda: spatial.tile_manifest(images, tile=512, level=None).count())
        timed("pip_join", lambda: spatial.pip_join(points, manifest).count())
        timed("knn_join",
              lambda: spatial.knn_join(points, manifest, k=5).count())
        timed("knn_adaptive",
              lambda: spatial.knn_join_adaptive(points, manifest, k=2).count())
        timed("points_within_radius",
              lambda: spatial.distance_join(points, radius_deg=0.05).count())
        timed("zonal_stats",
              lambda: spatial.zonal_stats(zones, manifest).count())
        timed("zonal_pixel_stats",
              lambda: spatial.zonal_pixel_stats(zones, images).count())
        timed("phash_canonical",
              lambda: spatial.phash_canonical(images).count())

        # 4. documents / embeddings / relational at sf_dir scale
        for name in ("minhash_lsh_dedup", "simhash_pairs", "ngram_jaccard_pairs",
                     "ann_cosine_topk", "ann_pq_topk",
                     "doc_quality", "doc_fingerprint", "pricing_summary",
                     "orders_topk_per_customer", "events_by_type"):
            timed(name, lambda n=name: Q.ALL_QUERIES[n](spark, args.sf_dir).count())

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline suite wall (COG tiling + spatial joins + "
                  "dedup/ANN/text + relational)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": args.cores,
        "bench_reps": reps,
        "bench_images": n_images,
        "bench_tiles": n_tiles,
        "images_per_sec": round(n_images / cog_sec, 2),
        "tiles_per_sec": round(n_tiles / cog_sec, 2),
        "cog_mb_per_sec": round(total_mb / cog_sec, 2),
        "rewrite_mb_per_sec": round(rewrite_mb / timings["cog_rewrite"], 2),
        "rewrite_files_mb_per_sec": round(
            rewrite_mb / timings["cog_rewrite_files"], 2),
        **({"gigapixel_px_mb_per_sec": round(
                giga_px_mb / timings["cog_gigapixel"], 2)}
           if "cog_gigapixel" in timings else {}),
    }))
    spark.stop()


if __name__ == "__main__":
    main()

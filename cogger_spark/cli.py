"""spark-submit entrypoint (S7 / north rule: `spark-submit --py-files`).

Usage:
    python -m zipfile -c /tmp/cogger_spark.zip cogger_spark      # package
    spark-submit --py-files /tmp/cogger_spark.zip \
        cogger_spark/cli.py convert --images <parquet> --out <dir> \
        [--tile 512]

Subcommands:
    convert   images parquet → <out>/<image_id>.tif, one COG per image.
              Each file is committed by tmp+rename, so rerunning into the
              same <out> resumes: it converts only the images with no
              file yet, and prints the images, tiles, bytes and wall time
              of what it wrote
    manifest  images parquet → tile manifest parquet (metadata only)
    validate  images parquet → rejects report
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _spark(cores: str | None):
    # under spark-submit the session/config come from the launcher; fall back
    # to the engine defaults for plain `python cli.py`
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from cogger_spark.session import get_spark
    return get_spark("cogger-cli", cores=int(cores) if cores else None)


def _convert(spark, images, out: str, tile: int, compression: str):
    """The convert job: every image with no <out>/<image_id>.tif yet,
    through tile_assemble_write into that file. Returns (job, metrics):
    the job's CONVERT_STATS_SCHEMA rows, one per image it writes, and the
    Observation that the action running the job fills with their images,
    tiles and bytes, in the same stage.

    The files under `out` are the commit record: write_tif publishes each
    by rename, so a killed run leaves whole files (and perhaps dotfile
    tmps, which the listing skips and the rerun truncates). Resume is the
    images left-anti-joined on image_id against the broadcast ids of that
    listing, which reads no file content; the listing of (image_id,
    n_bytes) is also the run's lineage."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation
    from cogger_spark.operators.tiling import tile_assemble_write
    from cogger_spark.sources.tiffdir import read_tiff_dir
    # with no .tif under `out` the listing is empty: skip it and the join,
    # about a second of planning in a fresh session (4 vCPU)
    if os.path.isdir(out) and any(e.name.endswith(".tif")
                                  for e in os.scandir(out)):
        committed = read_tiff_dir(spark, out).select("image_id")
        images = images.join(F.broadcast(committed), "image_id", "left_anti")
    metrics = Observation("convert")
    job = tile_assemble_write(images, out, tile=tile, compression=compression)
    job = job.observe(metrics, F.count(F.lit(1)).alias("images"),
                      F.coalesce(F.sum("n_tiles"), F.lit(0)).alias("tiles"),
                      F.coalesce(F.sum("total_bytes"), F.lit(0)).alias("bytes"))
    return job, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="cogger-spark")
    ap.add_argument("--cores", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("convert")
    c.add_argument("--images", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--tile", type=int, default=512)
    c.add_argument("--compression", default="deflate")

    r = sub.add_parser("rewrite", help="directory of .tif files -> COG files "
                       "(the reference CLI's own job, distributed)")
    r.add_argument("--in-dir", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--multifile", action="store_true",
                   help="group main + external overview files "
                        "(.tif.ovr/.tif.N) per image before rewriting")
    r.add_argument("--no-ghost", action="store_true")

    m = sub.add_parser("manifest")
    m.add_argument("--images", required=True)
    m.add_argument("--out", required=True)
    m.add_argument("--tile", type=int, default=512)

    o = sub.add_parser(
        "rewrite-one",
        help="EXACT reference-CLI UX (cmd/cogger/main.go:25-64): "
             "`rewrite-one [--output out.tif] main.tif [overview.tif...]` — "
             "single invocation, pure codec path, no Spark session")
    o.add_argument("inputs", nargs="+",
                   help="main .tif followed by optional external-overview "
                        ".tifs (loader.go multi-reader order)")
    o.add_argument("--output", default="out.tif")
    o.add_argument("--no-ghost", action="store_true")

    v = sub.add_parser("validate")
    v.add_argument("--images", required=True)
    v.add_argument("--out", required=True)

    args = ap.parse_args(argv)
    if args.cmd == "rewrite-one":
        # the reference binary's whole job is one codec call; Spark buys
        # nothing for ONE file, so NO session is started (r5 self-review:
        # the session was previously created before dispatch)
        from .tiff.codec import Config, rewrite as codec_rewrite
        sources = [open(f, "rb").read() for f in args.inputs]
        blob = codec_rewrite(*sources,
                             cfg=Config(with_gdal_ghost=not args.no_ghost))
        with open(args.output, "wb") as f:
            f.write(blob)
        print(f"rewrite-one: {len(args.inputs)} input(s) -> "
              f"{args.output} ({len(blob)} bytes)")
        return 0
    spark = _spark(args.cores)

    if args.cmd == "convert":
        t0 = time.monotonic()
        job, metrics = _convert(spark, spark.read.parquet(args.images),
                                args.out, args.tile, args.compression)
        job.write.format("noop").mode("overwrite").save()
        m = metrics.get
        print(f"convert: images={m['images']} tiles={m['tiles']} "
              f"bytes={m['bytes']} wall_s={time.monotonic() - t0:.2f} "
              f"written under {args.out}")
    elif args.cmd == "rewrite":
        from cogger_spark.operators.tiling import (
            rewrite_tiff_sets, rewrite_tiffs_to_dir)
        from cogger_spark.sources.tiffdir import (
            read_tiff_dir, read_tiff_sets_dir, write_tiff_dir)
        ghost = not args.no_ghost
        if args.multifile:
            parts = read_tiff_sets_dir(spark, args.in_dir)
            cogs = rewrite_tiff_sets(parts, ghost=ghost)
            write_tiff_dir(cogs, args.out)
            n = None
        else:
            # fused rewrite+write: blobs never return to the JVM
            stats = rewrite_tiffs_to_dir(read_tiff_dir(spark, args.in_dir),
                                         args.out, ghost=ghost)
            n = stats.count()
        print(f"rewrite: wrote COGs under {args.out}"
              + (f" ({n} files)" if n is not None else ""))
    elif args.cmd == "manifest":
        from cogger_spark.operators.spatial import tile_manifest
        images = spark.read.parquet(args.images)
        tile_manifest(images, tile=args.tile, level=None) \
            .write.mode("overwrite").parquet(args.out)
        print(f"manifest: wrote {args.out}")
    elif args.cmd == "validate":
        from cogger_spark.operators.validate import validate_images
        images = spark.read.parquet(args.images)
        valid, rejects = validate_images(images)
        rejects.write.mode("overwrite").parquet(args.out)
        print(f"validate: {valid.count()} valid, see rejects at {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""spark-submit entrypoint (S7 / north rule: `spark-submit --py-files`).

Usage:
    python -m zipfile -c /tmp/cogger_spark.zip cogger_spark      # package
    spark-submit --py-files /tmp/cogger_spark.zip \
        cogger_spark/cli.py convert --images <parquet> --out <dir> \
        [--tile 512] [--buckets 64] [--ckpt <dir>]

Subcommands:
    convert   images parquet → per-image COG parts (checkpointed: rerunning
              with the same --ckpt resumes, skipping the finished buckets)
    manifest  images parquet → tile manifest parquet (metadata only)
    validate  images parquet → rejects report
"""

from __future__ import annotations

import argparse
import sys


def _spark(cores: str | None):
    # under spark-submit the session/config come from the launcher; fall back
    # to the engine defaults for plain `python cli.py`
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from cogger_spark.session import get_spark
    return get_spark("cogger-cli", cores=int(cores) if cores else None)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="cogger-spark")
    ap.add_argument("--cores", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("convert")
    c.add_argument("--images", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--tile", type=int, default=512)
    c.add_argument("--buckets", type=int, default=64)
    c.add_argument("--ckpt", default=None)
    c.add_argument("--compression", default="deflate")
    c.add_argument("--files", action="store_true",
                   help="write <out>/<image_id>.tif files directly "
                        "(non-checkpointed) instead of parts parquet")

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
        from cogger_spark.operators.tiling import (
            cog_pipeline_parts, convert_images)
        images = spark.read.parquet(args.images)
        if args.files:
            convert_images(images, args.out, tile=args.tile,
                           compression=args.compression)
            print(f"convert: wrote .tif files under {args.out}")
        else:
            # checkpointed parts parquet: every output row is a bounded COG
            # part, so the writer's buffers stay small no matter how large
            # any single image is; concatenate parts in part_idx order (or
            # use write_cog_parts) to materialize files
            from cogger_spark.plans.checkpoint import metrics_table, run_checkpointed
            ckpt = args.ckpt or (args.out.rstrip("/") + "_ckpt")
            recs = run_checkpointed(
                spark, images, args.out, ckpt, n_buckets=args.buckets,
                job=lambda df: cog_pipeline_parts(
                    df, tile=args.tile, compression=args.compression))
            metrics_table(spark, ckpt).show(truncate=False)
            print(f"convert: {len(recs)} buckets processed this run")
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

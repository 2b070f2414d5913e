"""The four benchmark workloads.

Each workload owns its inputs (a directory written by inputs.py), computes
its expected outputs before set-up, and offers one job: a full pass through
the program's public functions. With `traced=True` the job wraps each call
into a layer in a span; tile_convert and tiff_rewrite then call the public
steps their one-call entry point is made of, so each step gets its own span.
"""

from __future__ import annotations

import shutil
import time
import zlib
from pathlib import Path

import numpy as np
import pyspark.sql.functions as F

from cogger_spark import oracles
from cogger_spark.functions import cells, imagecodecs
from cogger_spark.operators import dedup, similarity, spatial, strips, tiling
from cogger_spark.planner.pyramid import overview_count
from cogger_spark.sources.tiffdir import read_tiff_dir
from cogger_spark.tiff import codec

TILE = 512


def _longs(df, *cols):
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


def frames_equal(got, want) -> bool:
    """Order-insensitive exact equality of two result frames, over the
    column-name-sorted schema (the comparison the query contract uses)."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    g = got[cols].sort_values(by=cols).reset_index(drop=True)
    w = want[cols].sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        if np.issubdtype(g[c].dtype, np.floating) or np.issubdtype(w[c].dtype, np.floating):
            if not np.array_equal(g[c].to_numpy(), w[c].to_numpy()):
                return False
        elif g[c].astype(object).tolist() != w[c].astype(object).tolist():
            return False
    return True


def closed_form_block(bands: int, x0: int, y0: int, w: int, h: int,
                      tile: int = TILE) -> np.ndarray:
    """The fixture pattern (cogger_spark.fixtures.make_pixels) over one
    tile window, imagery bands only, zero-padded past the image edge."""
    xs, ys = x0 + np.arange(tile), y0 + np.arange(tile)
    bx, by = (xs // 128)[None, :], (ys // 128)[:, None]
    mod4 = ((ys % 128)[:, None] * 128 + (xs % 128)[None, :]) % 4
    out = np.zeros((tile, tile, bands), np.uint8)
    inside = (ys < h)[:, None] & (xs < w)[None, :]
    for b in range(bands):
        v = ((b * 10 + by * 2 + bx) * 2) % 256
        out[:, :, b] = np.where(inside, (v * mod4) % 256, 0)
    return out


class Workload:
    name = ""
    unit_of_item = ""

    def __init__(self, inputs: Path, manifest: dict, scratch: Path):
        self.inputs = inputs
        self.manifest = manifest
        self.scratch = scratch
        self.items = manifest["items"]
        self.in_bytes = manifest["in_bytes"]

    # measured work
    def mb(self) -> float:
        return self.in_bytes / 1e6

    def expect(self) -> None:
        """Compute the expected outputs (before set-up, untimed)."""

    def reset(self) -> None:
        """Clear the previous job's outputs (untimed)."""

    def load(self, spark) -> None:
        raise NotImplementedError

    def job(self, spark, tr, traced: bool = False):
        raise NotImplementedError

    def check(self, out, job_no: int, full: bool = False) -> list[str]:
        raise NotImplementedError

    def out_bytes(self, out) -> int:
        raise NotImplementedError

    def extra_trace(self, spark, tr) -> dict:
        return {}


# --- tile_convert -----------------------------------------------------------

class TileConvert(Workload):
    name = "tile_convert"
    unit_of_item = "image"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.out_dir = self.scratch / "tile_convert_out"
        self.images_meta = {m["image_id"]: m for m in self.manifest["images"]}
        self.split_px = self.manifest.get("split_px") or tiling.SPLIT_THRESHOLD_PX

    def mb(self) -> float:
        return self.manifest["pixel_bytes"] / 1e6

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def load(self, spark) -> None:
        self.images = spark.read.parquet(str(self.inputs / "images.parquet"))

    def job(self, spark, tr, traced=False):
        out = str(self.out_dir)
        if not traced:
            tiling.convert_images(self.images, out, tile=TILE,
                                  split_threshold_px=self.split_px)
            return out
        px = F.col("w").cast("long") * F.col("h")
        with tr.span("tiling.route_probe"):
            has_small, has_big, max_dims = tiling.route_probe(self.images, self.split_px)
        if has_small:
            with tr.span("tiling.fused_write") as s:
                small = self.images.filter(px <= self.split_px) if has_big else self.images
                s["rows"] = tiling.tile_assemble_write(small, out, tile=TILE).count()
        if has_big:
            with tr.span("strips.tiles"):
                tiles = strips.tile_images_strips(
                    self.images.filter(px > self.split_px), tile=TILE,
                    max_dims=max_dims).localCheckpoint(eager=True)
            with tr.span("strips.parts_write"):
                tiling.write_cog_parts(tiling.assemble_cog_parts(tiles, tile=TILE), out)
        return out

    def check(self, out, job_no, full=False):
        problems = []
        files = sorted(Path(out).glob("*.tif"))
        if sorted(f.stem for f in files) != sorted(self.images_meta):
            return [f"tile_convert: {len(files)} files for {len(self.images_meta)} images"]
        for f in files:
            m = self.images_meta[f.stem]
            try:
                problems += self._check_file(f.read_bytes(), m, job_no)
            except (ValueError, KeyError, IndexError, zlib.error) as exc:
                problems.append(f"{f.name}: {exc!r}")
        return problems

    def _check_file(self, data: bytes, m: dict, job_no: int) -> list[str]:
        tf = codec.parse_tiff(data)
        w, h, bands = m["w"], m["h"], m["bands"]
        levels = overview_count(w, h, TILE, TILE) + 1
        per_level = 2 if m["mask"] else 1
        if len(tf.ifds) != levels * per_level:
            return [f"{m['image_id']}: {len(tf.ifds)} IFDs, want {levels * per_level}"]
        problems = []
        dims = sorted({(i.image_width, i.image_height) for i in tf.ifds}, reverse=True)
        lw, lh = w, h
        for lvl in range(levels):
            if dims[lvl] != (lw, lh):
                problems.append(f"{m['image_id']}: level {lvl} is {dims[lvl]}, want {(lw, lh)}")
            want = -(-lw // TILE) * -(-lh // TILE)
            for ifd in tf.ifds:
                if (ifd.image_width, ifd.image_height) == (lw, lh) \
                        and len(ifd.tile_byte_counts) != want:
                    problems.append(f"{m['image_id']}: level {lvl} has "
                                    f"{len(ifd.tile_byte_counts)} tiles, want {want}")
            lw, lh = -(-lw // 2), -(-lh // 2)
        main = next(i for i in tf.ifds if (i.image_width, i.image_height) == (w, h)
                    and i.subfile_type == 0)
        k = (job_no * 7919 + m["idx"]) % len(main.tile_byte_counts)
        ntx = -(-w // TILE)
        ty, tx = divmod(k, ntx)
        got = np.frombuffer(zlib.decompress(main.load_tile(k)), np.uint8)
        want = closed_form_block(bands, tx * TILE, ty * TILE, w, h)
        if not np.array_equal(got.reshape(want.shape), want):
            problems.append(f"{m['image_id']}: tile {k} differs from the closed form")
        return problems

    def out_bytes(self, out):
        return sum(f.stat().st_size for f in Path(out).glob("*.tif"))

    def kernel_serial_s(self) -> float:
        """Serial in-process decode + pyramid + cut/encode over every input
        image: the single-threaded baseline of the job's pixel work."""
        import pyarrow.parquet as pq
        total = 0.0
        pf = pq.ParquetFile(self.inputs / "images.parquet")
        for rg in range(pf.num_row_groups):
            for r in pf.read_row_group(rg).to_pylist():
                t = kernel_phases(r["bytes"], r["w"], r["h"], r["fmt"])
                total += t["decode"] + t["pyramid"] + t["cut_encode"]
        return total


def kernel_phases(data: bytes, w: int, h: int, fmt: str) -> dict:
    t0 = time.perf_counter()
    px, _, _ = tiling.decode_any(data, w, h, fmt)
    t1 = time.perf_counter()
    levels = imagecodecs.build_pyramid(px, TILE)
    t2 = time.perf_counter()
    n = 0
    for lpx in levels:
        for _tx, _ty, block in imagecodecs.cut_tiles(lpx, TILE):
            imagecodecs.encode_image(block, "deflate")
            n += 1
    t3 = time.perf_counter()
    return {"decode": t1 - t0, "pyramid": t2 - t1, "cut_encode": t3 - t2, "tiles": n}


# --- tiff_rewrite -----------------------------------------------------------

class TiffRewrite(Workload):
    name = "tiff_rewrite"
    unit_of_item = "image"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.tiff_dir = self.inputs / "tiffs"
        self.out_dir = self.scratch / "tiff_rewrite_out"
        self.sizes = {f["image_id"]: f["bytes"] for f in self.manifest["files"]}

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def load(self, spark) -> None:
        self.tiffs = read_tiff_dir(spark, str(self.tiff_dir))

    def job(self, spark, tr, traced=False):
        out = str(self.out_dir)
        if not traced:
            return tiling.rewrite_tiffs_to_dir(self.tiffs, out).collect()
        with tr.span("sources.read_tiff_dir") as s:
            tiffs = read_tiff_dir(spark, str(self.tiff_dir))
            s["rows"] = tiffs.select("path").count()
        with tr.span("tiling.rewrite_to_dir"):
            return tiling.rewrite_tiffs_to_dir(tiffs, out).collect()

    def check(self, rows, job_no, full=False):
        problems = []
        if sorted(r.image_id for r in rows) != sorted(self.sizes):
            return [f"tiff_rewrite: {len(rows)} rows for {len(self.sizes)} files"]
        for r in rows:
            p = Path(r.out_path)
            if r.in_bytes != self.sizes[r.image_id] or not p.exists() \
                    or p.stat().st_size != r.out_bytes:
                problems.append(f"{r.image_id}: sizes do not match the files")
        ids = sorted(self.sizes)
        sample = ids if full else [ids[(job_no * 4 + k) % len(ids)] for k in range(4)]
        for image_id in sample:
            src = (self.tiff_dir / f"{image_id}.tif").read_bytes()
            out = (self.out_dir / f"{image_id}.tif").read_bytes()
            try:
                problems += self._check_pair(image_id, src, out)
            except (ValueError, IndexError) as exc:
                problems.append(f"{image_id}: {exc!r}")
        return problems

    @staticmethod
    def _check_pair(image_id: str, src: bytes, out: bytes) -> list[str]:
        if codec.rewrite(out) != out:
            return [f"{image_id}: rewrite(out) != out"]

        def payloads(data):
            ifds = sorted(codec.parse_tiff(data).ifds,
                          key=lambda f: (-(f.image_width * f.image_height), f.subfile_type))
            return [[f.load_tile(k) for k in range(len(f.tile_byte_counts))] for f in ifds]

        if payloads(src) != payloads(out):
            return [f"{image_id}: tile payloads not preserved"]
        return []

    def out_bytes(self, rows):
        return sum(r.out_bytes for r in rows)


# --- spatial_join -----------------------------------------------------------

class SpatialJoin(Workload):
    name = "spatial_join"
    unit_of_item = "point"
    QUERIES = {"tile_manifest": oracles.TILE_MANIFEST, "pip_join": oracles.PIP_JOIN,
               "knn_adaptive": oracles.KNN_ADAPTIVE, "zonal_stats": oracles.ZONAL_STATS}

    def expect(self) -> None:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads=4")
        swap = {oracles.IMAGES: self.inputs / "images.parquet",
                oracles.POINTS: self.inputs / "points.parquet",
                oracles.ZONES: self.inputs / "zones.parquet"}
        self.want = {}
        for name, sql in self.QUERIES.items():
            for old, path in swap.items():
                sql = sql.replace(old, f"read_parquet('{path}')")
            self.want[name] = con.execute(sql).df()
        con.close()

    def load(self, spark) -> None:
        read = lambda f: spark.read.parquet(str(self.inputs / f))  # noqa: E731
        self.images, self.points, self.zones = (
            read("images.parquet"), read("points.parquet"), read("zones.parquet"))

    def job(self, spark, tr, traced=False):
        level0 = spatial.tile_manifest(self.images, tile=TILE, level=0)
        steps = {
            "tile_manifest": lambda: _longs(
                spatial.tile_manifest(self.images, tile=TILE, level=None),
                "level", "ty", "tx", "lw", "lh", "ntx", "nty", "px_w", "px_h"),
            "pip_join": lambda: _longs(spatial.pip_join(self.points, level0),
                                       "level", "ty", "tx"),
            "knn_adaptive": lambda: _longs(
                spatial.knn_join_adaptive(self.points, level0, k=2, rings=(2, 4, 8))
                .withColumn("dist2", F.round("dist2", 12)),
                "level", "ty", "tx", "rank", "ring"),
            "zonal_stats": lambda: spatial.zonal_stats(self.zones, level0),
        }
        out = {}
        for name, build in steps.items():
            with tr.span(f"spatial.{name}") as s:
                out[name] = build().toPandas()
                s["rows"] = len(out[name])
        return out

    def check(self, out, job_no, full=False):
        return [f"{n}: {len(out[n])} rows, oracle {len(w)}; values differ"
                for n, w in self.want.items() if not frames_equal(out[n], w)]

    def out_bytes(self, out):
        return sum(int(df.memory_usage(index=False, deep=True).sum()) for df in out.values())


# --- doc_dedup --------------------------------------------------------------

class DocDedup(Workload):
    name = "doc_dedup"
    unit_of_item = "document"
    QUERIES = {"minhash_lsh": oracles.MINHASH_LSH_DEDUP,
               "simhash": oracles.SIMHASH_PAIRS,
               "ngram_jaccard": oracles.NGRAM_JACCARD_PAIRS,
               "ann_pq": oracles.ANN_COSINE_TOPK}

    def mb(self) -> float:
        return self.manifest["text_bytes"] / 1e6

    def expect(self) -> None:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads=4")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.inputs / (t + '.parquet')}')")
        self.want = {n: con.execute(sql).df() for n, sql in self.QUERIES.items()}
        con.close()

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(str(self.inputs / "documents.parquet"))
        self.emb = spark.read.parquet(str(self.inputs / "embeddings.parquet"))

    def job(self, spark, tr, traced=False):
        steps = {
            "dedup.minhash_lsh": lambda: dedup.minhash_lsh_dedup(self.docs, threshold=0.5),
            "dedup.simhash": lambda: dedup.simhash_pairs(self.docs, max_hamming=3),
            "dedup.ngram_jaccard": lambda: dedup.ngram_jaccard_pairs(self.docs, threshold=0.5),
            "similarity.ann_pq": lambda: similarity.ann_pq_topk(
                self.emb, k=10, query_mod=50, m=16, kcent=32, rerank=128),
        }
        out = {}
        for name, build in steps.items():
            with tr.span(name) as s:
                out[name.split(".")[1]] = df = build().toPandas()
                s["rows"] = len(df)
        return out

    def check(self, out, job_no, full=False):
        return [f"{n}: {len(out[n])} rows, oracle {len(w)}; values differ"
                for n, w in self.want.items() if not frames_equal(out[n], w)]

    def out_bytes(self, out):
        return sum(int(df.memory_usage(index=False, deep=True).sum()) for df in out.values())

    def extra_trace(self, spark, tr) -> dict:
        """LSH candidate pairs, their verification yield, and PQ recall@10
        against the exact brute-force top-k (one extra pass each)."""
        with tr.span("dedup.lsh_buckets"):
            docs = self.docs.filter(F.size(F.split("text", " ")) >= 3)
            bb = dedup.lsh_buckets(docs)
            a = bb.select("band", "bucket", F.col("doc_id").alias("doc_a"))
            b = bb.select("band", "bucket", F.col("doc_id").alias("doc_b"))
            cand = (a.join(b, ["band", "bucket"]).filter("doc_a < doc_b")
                    .select("doc_a", "doc_b").distinct().count())
        with tr.span("dedup.minhash_lsh"):
            verified = dedup.minhash_lsh_dedup(self.docs, threshold=0.5).count()
        with tr.span("similarity.brute_force_topk"):
            exact = similarity.brute_force_topk(self.emb, k=10, query_mod=50).toPandas()
        with tr.span("similarity.ann_pq"):
            approx = similarity.ann_pq_topk(self.emb, k=10, query_mod=50, m=16,
                                            kcent=32, rerank=128).toPandas()
        hits = len(set(zip(exact.query_id, exact.vec_id))
                   & set(zip(approx.query_id, approx.vec_id)))
        return {"dedup.lsh_candidates": float(cand),
                "dedup.verify_yield": verified / cand if cand else 0.0,
                "similarity.pq_recall_at_10": hits / len(exact) if len(exact) else 0.0}


WORKLOADS = {w.name: w for w in (TileConvert, TiffRewrite, SpatialJoin, DocDedup)}


# --- in-process layer probes (traced runs) ----------------------------------

def _repeat(fn, min_s: float = 0.2) -> float:
    """Seconds per call of fn, repeated until min_s has passed."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / n


def codec_probe(files: list[Path]) -> dict:
    datas = [f.read_bytes() for f in files]
    mb = sum(map(len, datas)) / 1e6
    parse = _repeat(lambda: [codec.parse_tiff(d) for d in datas])
    emit = _repeat(lambda: [codec.rewrite_ifd_tree(
        codec.assemble_ifd_tree(codec.parse_tiff(d).ifds)) for d in datas])
    full = _repeat(lambda: [codec.rewrite(d) for d in datas])
    n = len(datas)
    return {"codec.parse_tiff_ms": parse / n * 1e3,
            "codec.rewrite_ms": full / n * 1e3,
            "codec.rewrite_mb_s": mb / full,
            "codec.rewrite_ifd_tree_ms": max(0.0, emit - parse) / n * 1e3}


def imagecodecs_probe(rows: list[dict]) -> dict:
    mpx = sum(r["w"] * r["h"] for r in rows) / 1e6
    tot = {"decode": 0.0, "pyramid": 0.0, "cut_encode": 0.0, "tiles": 0}
    for r in rows:
        for k, v in kernel_phases(r["bytes"], r["w"], r["h"], r["fmt"]).items():
            tot[k] += v
    return {"imagecodecs.decode_ms_per_mpx": tot["decode"] * 1e3 / mpx,
            "imagecodecs.pyramid_ms_per_mpx": tot["pyramid"] * 1e3 / mpx,
            "imagecodecs.cut_encode_ms_per_mpx": tot["cut_encode"] * 1e3 / mpx,
            "imagecodecs.tiles": float(tot["tiles"])}


def cells_probe(lon: np.ndarray, lat: np.ndarray) -> dict:
    enc = _repeat(lambda: cells.cell_encode(lon, lat, 10))
    ids = cells.cell_encode(lon, lat, 10)
    ring = _repeat(lambda: cells.k_ring(ids, 2))
    return {"cells.cell_encode_ns_per_pt": enc / len(lon) * 1e9,
            "cells.k_ring_ns_per_cell": ring / (len(ids) * 25) * 1e9}

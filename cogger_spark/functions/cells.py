"""Vectorized quadtree cell index (the H3/S2 role per BASELINE.json:14).

No h3/s2 library exists in this environment, so the engine ships a
from-scratch hierarchical cell index with the same API surface the spatial
joins need: point→cell encode, parent, k-ring expansion, and bbox cover —
all as branch-free NumPy bit-twiddling suitable for `pandas_udf` batches.

Scheme: at resolution r (0..28), the lon/lat plane is quantized to a
2^r x 2^r grid; the cell id packs the resolution in the top 6 bits and the
Morton (Z-order) interleave of (x, y) below, so a parent is a simple
right-shift — the property equi-join pruning and k-ring expansion rely on.
Grid-edge k-rings clamp (no lon wrap); the synthetic geo frame keeps
fixtures away from the antimeridian.
"""

from __future__ import annotations

import numpy as np

_B = [
    0x5555555555555555,
    0x3333333333333333,
    0x0F0F0F0F0F0F0F0F,
    0x00FF00FF00FF00FF,
    0x0000FFFF0000FFFF,
]


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v into even bit positions (Morton helper)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def grid_xy(lon, lat, res: int):
    """Quantize lon/lat to integer grid coords at resolution `res`."""
    n = 1 << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def cell_from_xy(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """(grid x, grid y, res) → int64 cell id."""
    m = _part1by1(np.asarray(x)) | (_part1by1(np.asarray(y)) << np.uint64(1))
    return ((np.uint64(res) << np.uint64(58)) | m).astype(np.int64)


def xy_from_cell(cell: np.ndarray):
    """int64 cell id → (x, y, res)."""
    c = np.asarray(cell).astype(np.uint64)
    res = (c >> np.uint64(58)).astype(np.int64)
    m = c & ((np.uint64(1) << np.uint64(58)) - np.uint64(1))
    x = _compact1by1(m).astype(np.int64)
    y = _compact1by1(m >> np.uint64(1)).astype(np.int64)
    return x, y, res


def cell_encode(lon, lat, res: int) -> np.ndarray:
    """Point → cell id at resolution res (F8 role, BASELINE.json:14)."""
    x, y = grid_xy(lon, lat, res)
    return cell_from_xy(x, y, res)


def cell_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Hierarchical parent: drop 2 Morton bits per resolution step."""
    x, y, res = xy_from_cell(cell)
    shift = (res - parent_res).astype(np.int64)
    if np.any(shift < 0):
        raise ValueError("parent_res above cell resolution")
    return cell_from_xy(x >> shift, y >> shift, parent_res)


def k_ring(cell: np.ndarray, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k — shape (n, (2k+1)^2).
    Out-of-grid neighbors are clamped to the border (no antimeridian wrap).
    All input cells must share one resolution: ids are re-packed with a
    single res header, so mixed-res input would silently produce ids of
    unrelated cells (asserted; r5 self-review). Scalar input is accepted."""
    cell = np.atleast_1d(np.asarray(cell, dtype=np.uint64))
    x, y, res = xy_from_cell(cell)
    res = np.atleast_1d(res)
    if len(res) == 0:
        return np.empty((0, (2 * k + 1) ** 2), dtype=np.uint64)
    if not (res == res[0]).all():
        raise ValueError("k_ring requires uniform cell resolution")
    n = (np.int64(1) << res) - 1
    side = 2 * k + 1
    dx, dy = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    nx = np.clip(x[:, None] + dx.ravel()[None, :], 0, n[:, None])
    ny = np.clip(y[:, None] + dy.ravel()[None, :], 0, n[:, None])
    return cell_from_xy(nx.ravel(), ny.ravel(),
                        int(res[0])).reshape(-1, side * side)


def cover_bbox(lon_min, lat_min, lon_max, lat_max, res: int):
    """Cells covering an axis-aligned bbox → list of int64 arrays (ragged).

    The max corner is inclusive: an edge landing exactly on a cell boundary
    claims the next cell too. The cover may therefore be one cell wider than
    strictly needed — harmless, since every cell join is followed by an exact
    geometric refinement (filter-and-refine, SURVEY.md §2.3 J5).
    """
    x0, y0 = grid_xy(lon_min, lat_min, res)
    x1, y1 = grid_xy(np.asarray(lon_max), np.asarray(lat_max), res)
    x1 = np.maximum(x0, x1)
    y1 = np.maximum(y0, y1)
    out = []
    for i in range(len(np.atleast_1d(x0))):
        xs = np.arange(x0[i], x1[i] + 1, dtype=np.int64)
        ys = np.arange(y0[i], y1[i] + 1, dtype=np.int64)
        gx, gy = np.meshgrid(xs, ys)
        out.append(cell_from_xy(gx.ravel(), gy.ravel(), res))
    return out


def cell_size_deg(res: int) -> float:
    """Cell edge length in longitude degrees at resolution res."""
    return 360.0 / (1 << res)

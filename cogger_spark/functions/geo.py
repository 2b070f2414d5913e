"""Deterministic synthetic geo-frame for the image table.

Every image maps to a closed-form lon/lat anchor derived from its numeric id,
and tiles inherit axis-aligned extents from it (FIXTURES.md §2).  The
formulas are deliberately SQL-expressible (integer modular arithmetic) so the
DuckDB oracle can reproduce tile extents independently from the same parquet:

    img_idx  = CAST(substr(image_id, 5) AS BIGINT)          -- 'img_%08d'
    lon0     = -175.0 + ((img_idx * 7919)   % 3400) / 10.0
    lat0     =  -85.0 + ((img_idx * 104729) % 1650) / 10.0
    pixel    = 0.001 degrees
    tile bbox(level, tx, ty) =
        [lon0 + tx*T*pixel*2^level , lon0 + min((tx+1)*T, ceil(w/2^level))*pixel*2^level]
      x [lat0 + ty*T*pixel*2^level , lat0 + min((ty+1)*T, ceil(h/2^level))*pixel*2^level]

(lat grows with ty in this synthetic frame; frames stay well away from the
antimeridian/poles so no wrap handling is needed.)
"""

from __future__ import annotations

import re

PIXEL_DEG = 0.001
LON_MULT = 7919
LAT_MULT = 104729
LON_MOD = 3400
LAT_MOD = 1650
LON_BASE = -175.0
LAT_BASE = -85.0

# default analysis resolution: cell edge 360/2^10 ≈ 0.35°, close to a
# 512px*0.001° = 0.512° full-res tile
DEFAULT_RES = 10


def img_index(image_id: str) -> int:
    """The numeric part of an 'img_<digits>' id; any other id raises a
    ValueError naming it, since it has no place in the geo frame."""
    m = re.fullmatch(r"img_(\d+)", image_id or "", re.ASCII)
    if m is None:
        raise ValueError(f"image id {image_id!r} is not img_<digits>")
    return int(m.group(1))


def anchor(img_idx: int):
    lon0 = LON_BASE + ((img_idx * LON_MULT) % LON_MOD) / 10.0
    lat0 = LAT_BASE + ((img_idx * LAT_MULT) % LAT_MOD) / 10.0
    return lon0, lat0

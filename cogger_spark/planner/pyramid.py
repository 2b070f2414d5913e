"""Strip / overview-pyramid / DAG planner.

Reproduces the reference Stripper's planning semantics (stripper.go:130-350,
223-259) as pure functions: deterministic metadata-only computation.
overview_count/overview_dims size every pyramid the engine writes. Stripper,
pyramid_dag and tile_strip_idx stay as the tested reproduction of
stripper.go's planner (test_planner, test_property pin them), but no runtime
path uses them: the reference strips an image only to bound a worker's
memory, and every pixel kernel here streams level 0 as tile-row blocks
(operators/tiling._level0_blocks) instead.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import List, Optional, Tuple


@dataclass(frozen=True)
class Strip:
    """Horizontal slab of an output level + its source window in the parent
    level's pixel frame (stripper.go:161-182)."""

    width: int
    height: int
    top_left_x: int
    top_left_y: int
    src_top_left_x: float
    src_top_left_y: float
    src_width: float
    src_height: float


@dataclass
class Image:
    """One pyramid level and its strip decomposition (stripper.go:184-191)."""

    width: int
    height: int
    tile_width: int
    tile_height: int
    strips: List[Strip] = field(default_factory=list)


def overview_count(width: int, height: int, tile_w: int, tile_h: int,
                   min_overview_size: int = 2) -> int:
    """Number of 2x overviews until the level fits one internal tile or hits
    the minimum size (stripper.go:265-275)."""
    iw, ih = width, height
    count = 0
    while (iw > tile_w or ih > tile_h) and (iw > min_overview_size and ih > min_overview_size):
        count += 1
        iw = -(-iw // 2)  # ceil halving (stripper.go:272-273)
        ih = -(-ih // 2)
    return count


def overview_dims(width: int, height: int, levels: int) -> List[Tuple[int, int]]:
    """[(w,h)] for levels 0..levels, level 0 = full-res, ceil-halved each step."""
    out = [(width, height)]
    w, h = width, height
    for _ in range(levels):
        w, h = -(-w // 2), -(-h // 2)
        out.append((w, h))
    return out


def _stripping(src_w: int, src_h: int, dst_w: int, dst_h: int, *,
               target_pixels: int, tile_h: int, tile_w: int | None = None,
               fullres_strip_height_multiple: int = 0) -> Image:
    """Split one level into strips (stripper.go:293-350): strip height aligned
    to the internal tile height (or the fullres multiple when not
    downsampling), trailing runt strip merged into the previous one."""
    if dst_w * dst_h == 0 or src_w * src_h == 0:
        raise ValueError("0 sized image")
    num_strips = (src_w * src_h) // target_pixels
    if num_strips == 0:
        num_strips = 1
    strip_height = dst_h // num_strips
    if strip_height <= tile_h:
        strip_height = tile_h
    if src_w == dst_w and src_h == dst_h and fullres_strip_height_multiple != 0:
        strip_height = (strip_height // fullres_strip_height_multiple + 1) \
            * fullres_strip_height_multiple
    elif strip_height % tile_h != 0:
        strip_height = (strip_height // tile_h + 1) * tile_h
    num_strips = math.ceil(dst_h / strip_height)

    res_y = src_h / dst_h
    # strip PLANNING depends only on the tile height (strips are full-width),
    # but the emitted Image must carry the true tile WIDTH: tile_strip_idx
    # divides by it — with non-square internal tiles (reference
    # InternalTileSize(w, h), stripper.go:46-62) a tile_h-stamped width
    # would mis-map tile x to strip-local x
    img = Image(width=dst_w, height=dst_h,
                tile_width=tile_h if tile_w is None else tile_w,
                tile_height=tile_h)
    dst_row = 0
    src_row = 0.0
    for s in range(num_strips):
        this_height = strip_height
        if dst_row + strip_height > dst_h:
            this_height = dst_h - dst_row
        if s > 0 and this_height < tile_h:
            # merge runt strip into previous (stripper.go:330-334)
            last = img.strips[-1]
            img.strips[-1] = Strip(
                width=last.width,
                height=last.height + this_height,
                top_left_x=last.top_left_x,
                top_left_y=last.top_left_y,
                src_top_left_x=last.src_top_left_x,
                src_top_left_y=last.src_top_left_y,
                src_width=last.src_width,
                src_height=last.src_height + this_height * res_y,
            )
        else:
            img.strips.append(Strip(
                width=dst_w, height=this_height,
                top_left_x=0, top_left_y=dst_row,
                src_top_left_x=0.0, src_top_left_y=src_row,
                src_width=float(src_w), src_height=this_height * res_y,
            ))
        dst_row += strip_height
        src_row += strip_height * res_y
    return img


@dataclass
class Stripper:
    """Planner facade (stripper.go:22-159). Defaults: 64-MPix strips, 256x256
    internal tiles, overviews down to <2 px."""

    width: int
    height: int
    target_pixel_count: int = 8192 * 8192
    tile_width: int = 256
    tile_height: int = 256
    overview_count: int = -1
    min_overview_size: int = 2
    fullres_strip_height_multiple: int = 0

    def __post_init__(self):
        if self.fullres_strip_height_multiple % self.tile_height != 0:
            raise ValueError(
                f"StripHeightMultiple {self.fullres_strip_height_multiple} must be a "
                f"multiple of internal tiling height {self.tile_height}")
        self._pyr = self._pyramid()

    def pyramid(self) -> List[Image]:
        return self._pyr

    def _pyramid(self) -> List[Image]:
        if self.width * self.height == 0:
            raise ValueError("cannot tile 0-sized image")
        n = self.overview_count
        if n == -1:
            n = overview_count(self.width, self.height, self.tile_width,
                               self.tile_height, self.min_overview_size)
        out = [_stripping(self.width, self.height, self.width, self.height,
                          target_pixels=self.target_pixel_count,
                          tile_h=self.tile_height, tile_w=self.tile_width,
                          fullres_strip_height_multiple=self.fullres_strip_height_multiple)]
        iw, ih = self.width, self.height
        for _ in range(n):
            if iw <= 1 or ih <= 1:
                raise ValueError("requested overview count results in 0-sized image")
            niw, nih = -(-iw // 2), -(-ih // 2)
            out.append(_stripping(iw, ih, niw, nih,
                                  target_pixels=self.target_pixel_count,
                                  tile_h=self.tile_height,
                                  tile_w=self.tile_width))
            iw, ih = niw, nih
        return out


def tile_strip_idx(img: Image, x: int, y: int) -> Tuple[int, int, int]:
    """Map an output tile (x,y) to (strip, strip_x, strip_y)
    (stripper.go:372-390): cumulative scan over per-strip tile-row counts."""
    strip = 0
    accumy = 0
    while True:
        strip_nty = (img.strips[strip].height + img.tile_height - 1) // img.tile_height
        if accumy + strip_nty <= y:
            accumy += strip_nty
            strip += 1
            continue
        strip_y = y - accumy
        break
    ntx = (img.strips[strip].width + img.tile_width - 1) // img.tile_width
    return strip, x % ntx, strip_y


def pyramid_dag(pyr: List[Image]) -> List[List[dict]]:
    """Per-strip parent dependencies (stripper.go:223-259): overview strip s
    depends on the parent strips overlapping rows
    [floor(src_top), ceil(src_top+src_h)-1]."""
    dag: List[List[dict]] = []
    for level, img in enumerate(pyr):
        nodes = []
        for strip in img.strips:
            if level == 0:
                nodes.append({"parents": [], "parent_offset": 0})
                continue
            top = math.floor(strip.src_top_left_y)
            bottom = math.ceil(strip.src_top_left_y + strip.src_height) - 1
            h = 0
            parents: List[int] = []
            off: Optional[int] = None
            for psi, ps in enumerate(pyr[level - 1].strips):
                if top >= h + ps.height or bottom < h:
                    h += ps.height
                    continue
                if off is None or h < off:
                    off = h
                parents.append(psi)
                h += ps.height
            nodes.append({"parents": parents, "parent_offset": off or 0})
        dag.append(nodes)
    return dag

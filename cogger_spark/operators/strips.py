"""The `tile_images_strips` shim. It stays only because perfbench's traced
tile_convert job calls it; the next change to perfbench (ROADMAP
direction 5) removes it and this module. No operator splits an image into
strips: every pixel kernel streams level 0 one tile row at a time
(tiling._level0_blocks), which bounds a task's memory more tightly than
the reference's strips (stripper.go:261-350).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def tile_images_strips(images: DataFrame, tile: int = 512,
                       compression: str = "deflate",
                       target_px: int = 1024 * 1024,
                       max_levels: int = 16,
                       max_dims: tuple[int, int] | None = None,
                       tail_threshold_px: int | None = None) -> DataFrame:
    """images → tiles: the tile relation of tile_images (same rows and
    bytes). `target_px`, `max_levels`, `max_dims` and `tail_threshold_px`
    are ignored; they stay so that existing callers still run."""
    from .tiling import tile_images
    return tile_images(images, tile=tile, compression=compression)

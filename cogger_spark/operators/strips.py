"""Level-0 strip relation — the oversized-image path of tile_pixel_stats.

tile_pixel_stats' direct kernel holds one whole decoded image per call;
fine up to ~10^8 px, not for multi-gigapixel rasters. Oversized images
instead become full-width strip rows of the full-resolution level, sliced
by the planner (the reference's parallel decomposition,
cmd/pcogger/parallel-cogger.go, stripper.go). Strip tops are tile-aligned
(stripper.go:309-313), so every level-0 tile lives in exactly one strip and
per-strip statistics equal the whole-image ones (asserted in tests).

The COG sinks do not use strips: they stream every image size through one
per-image kernel (tiling._streamed_cog), whose working set is one tile-row
block per pyramid level.
"""

from __future__ import annotations

import zlib
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..planner import Stripper

STRIP_SCHEMA = (
    "image_id string, level int, strip_id int, top_row int, strip_h int, "
    "level_w int, level_h int, n_levels int, planes int, has_mask boolean, "
    "payload binary"
)


def _plan(w: int, h: int, tile: int, target_px: int) -> List[List[Tuple[int, int]]]:
    """Per level: [(top_row, height)] strip bounds (planner semantics)."""
    s = Stripper(w, h, tile_width=tile, tile_height=tile,
                 target_pixel_count=target_px)
    out = []
    for img in s.pyramid():
        bounds, top = [], 0
        for st in img.strips:
            bounds.append((top, st.height))
            top += st.height
        out.append(bounds)
    return out


def _scan_rows_upper(df: DataFrame) -> int | None:
    """Driver-side UPPER bound on df's row count from parquet footers — no
    Spark job. Only trusted when the optimized plan is a pure
    Filter/Project chain over one parquet scan (neither can add rows, so
    footer num_rows bounds the filtered count); anything else → None."""
    try:
        p = df._jdf.queryExecution().optimizedPlan()
        name = p.getClass().getSimpleName()
        while name in ("Filter", "Project"):
            p = p.child()
            name = p.getClass().getSimpleName()
        if name != "LogicalRelation":
            return None
        files = df.inputFiles()
        if not files or len(files) > 64:
            return None
        import pyarrow.parquet as pq
        total = 0
        for uri in files:
            path = uri[7:] if uri.startswith("file://") else uri
            total += pq.ParquetFile(path).metadata.num_rows
        return total
    except Exception:
        return None


def _imap_bounded(ex, fn, items, inflight: int):
    """In-order map through a thread pool with a bounded in-flight window
    (ex=None → plain serial map). Order and results are identical to the
    serial path; the window caps compressed-but-unconsumed outputs."""
    if ex is None:
        for it in items:
            yield fn(it)
        return
    from collections import deque
    q: "deque" = deque()
    for it in items:
        q.append(ex.submit(fn, it))
        if len(q) >= inflight:
            yield q.popleft().result()
    while q:
        yield q.popleft().result()


def strips_level0(images: DataFrame, tile: int = 512,
                  target_px: int = 1024 * 1024,
                  l0_threads: int | None = None) -> DataFrame:
    """Decode each image once and emit its full-res strips as rows.

    `l0_threads`: per-task thread count for the per-strip zlib compress
    (zlib releases the GIL, so threads scale; measured 1.16 s → 0.17 s per
    0.5-GPix image at 8 threads, byte-identical). Default None sizes it
    scale-adaptively: threads = slots // row-upper-bound (parquet footers,
    driver-side, no job), i.e. >1 ONLY when the stage provably has fewer
    input images than cores — the starved few-giant-images case this path
    exists for. A busy stage (rows >= slots, or no footer bound) stays
    single-threaded and never oversubscribes the executor."""

    from .tiling import ensure_fanout
    if l0_threads is None:
        slots = images.sparkSession.sparkContext.defaultParallelism
        n_up = _scan_rows_upper(images)
        l0_threads = max(1, min(8, slots // n_up)) if n_up else 1
    threads = max(1, int(l0_threads))
    images = ensure_fanout(images)

    FLUSH_BYTES = 32 * 1024 * 1024  # output-accumulation bound per yield

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("image_id", "level", "strip_id", "top_row", "strip_h",
                "level_w", "level_h", "n_levels", "planes", "has_mask",
                "payload")
        out = {k: [] for k in cols}
        acc = 0
        ex = None
        if threads > 1:
            from concurrent.futures import ThreadPoolExecutor
            ex = ThreadPoolExecutor(threads)
        try:
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    w, h = int(r.w), int(r.h)
                    from .tiling import decode_any
                    px, nplanes, mask = decode_any(r.bytes, w, h, r.fmt)
                    plan = _plan(w, h, tile, target_px)

                    def comp(bounds, px=px):
                        top, sh = bounds
                        s = px[top:top + sh]
                        if not s.flags["C_CONTIGUOUS"]:
                            s = np.ascontiguousarray(s)
                        # same bytes as .tobytes() without the copy —
                        # zlib reads the buffer directly
                        return zlib.compress(s, 1)

                    payloads = _imap_bounded(ex, comp, plan[0], 4 * threads)
                    for sid, ((top, sh), payload) in enumerate(
                            zip(plan[0], payloads)):
                        out["image_id"].append(r.image_id)
                        out["level"].append(0)
                        out["strip_id"].append(sid)
                        out["top_row"].append(top)
                        out["strip_h"].append(sh)
                        out["level_w"].append(w)
                        out["level_h"].append(h)
                        out["n_levels"].append(len(plan))
                        out["planes"].append(nplanes)
                        out["has_mask"].append(mask)
                        out["payload"].append(payload)
                        acc += len(payload)
                        # flush per strip: an oversized image must never
                        # require its own full output in worker memory
                        if acc >= FLUSH_BYTES:
                            yield pd.DataFrame(out)
                            out = {k: [] for k in cols}
                            acc = 0
        finally:
            if ex is not None:
                ex.shutdown()
        if out["image_id"]:
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "w", "h", "fmt") \
                 .mapInPandas(kernel, schema=STRIP_SCHEMA)


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

"""The producers × sinks layer of operators.tiling: the pixel producer
(_streamed_cog) and the rewrite producer (_rewritten_cog) into the file,
blob and parts sinks (convert_images / tile_assemble_write, cog_pipeline,
cog_pipeline_parts, rewrite_tiffs, rewrite_tiffs_to_dir): level 0
streamed as row blocks from raw or deflate input, tiles byte-identical to
the whole-image pyramid, working set bounded by a tile-row block per
level, every sink's bytes equal to its producer's pieces, fail-closed on
bad input in every sink, one Spark job per sink over a scan with a split
per slot."""

import os
import re
import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from cogger_spark.functions.imagecodecs import (
    build_pyramid, cut_tiles, encode_image)
from cogger_spark.operators import tiling
from cogger_spark.operators.tiling import (
    _blob_sink, _block_rows, _build_cog, _file_sink, _level0_blocks,
    _parts_sink, _pyramid_dims, _pyramid_tiles, _rewritten_cog,
    _streamed_cog, infer_planes)


def _views(px, tile):
    """The whole image px as _pyramid_tiles' level-0 (y0, rows) blocks."""
    bh = _block_rows(tile)
    return ((y0, px[y0:y0 + bh]) for y0 in range(0, px.shape[0], bh))


def _reference_tiles(px, nplanes, mask, tile, compression, min_overview_size,
                     planar):
    """build_pyramid + cut_tiles + encode_image, keyed (level, plane, ty, tx)."""
    out = {}
    for lvl, lpx in enumerate(build_pyramid(px, tile, min_overview_size)):
        for tx, ty, block in cut_tiles(lpx, tile):
            if planar:
                for p in range(nplanes):
                    out[(lvl, p, ty, tx)] = encode_image(block[:, :, p:p + 1],
                                                         compression)
                if mask:
                    out[(lvl, nplanes, ty, tx)] = encode_image(
                        block[:, :, nplanes:], compression)
            else:
                out[(lvl, 0, ty, tx)] = encode_image(block[:, :, :nplanes],
                                                     compression)
                if mask:
                    out[(lvl, 1, ty, tx)] = encode_image(block[:, :, nplanes:],
                                                         compression)
    return out


def _reference_cog(px, image_id, tile):
    """The whole-image reference COG of px (no mask): _reference_tiles
    assembled by _build_cog from in-memory payloads, deflate, ghost on."""
    h, w, nplanes = px.shape
    tiles = _reference_tiles(px, nplanes, False, tile, "deflate", 2, False)
    dims = _pyramid_dims(w, h, tile)
    return b"".join(_build_cog(image_id, nplanes, False, len(dims), dims,
                               {k: len(v) for k, v in tiles.items()},
                               tiles.__getitem__, tile, 8, True).pieces())


def _pixel_file(image_id, data, w, h, fmt, out_dir, tile):
    """The pixel producer into the file sink (tile_assemble_write's row)."""
    with _streamed_cog(image_id, data, w, h, fmt, tile, "deflate",
                       True) as writer:
        return _file_sink(out_dir, image_id, writer)


TILE = 16
# below the tile, exact tile multiples, odd/even, a 1-px-tall line
sizes = st.one_of(st.sampled_from([1, 2, 15, 16, 17, 32, 48, 64]),
                  st.integers(min_value=1, max_value=150))


@given(w=sizes, h=sizes, bands=st.sampled_from([1, 3, 4]),
       mask=st.booleans(), planar=st.booleans(),
       tile=st.sampled_from([TILE, 2 * TILE, 10]),
       min_overview_size=st.sampled_from([2, 7, 40]),
       seed=st.integers(0, 2 ** 16))
@settings(max_examples=120, deadline=None)
def test_streamed_tiles_equal_whole_pyramid(w, h, bands, mask, planar, tile,
                                            min_overview_size, seed):
    px = np.random.default_rng(seed).integers(
        0, 256, (h, w, bands + mask), dtype=np.uint8)
    dims = _pyramid_dims(w, h, tile, min_overview_size)
    got = {}
    for lvl, plane, ty, tx, payload in _pyramid_tiles(
            _views(px, tile), bands, mask, tile, "deflate", dims,
            planar=planar):
        assert (lvl, plane, ty, tx) not in got
        got[(lvl, plane, ty, tx)] = payload
    want = _reference_tiles(px, bands, mask, tile, "deflate",
                            min_overview_size, planar)
    assert got == want
    assert len(dims) == len(build_pyramid(px, tile, min_overview_size))


@given(w=sizes, h=st.one_of(sizes, st.integers(150, 400)),
       k=st.integers(1, 5), planar=st.booleans(),
       tile=st.sampled_from([4, 5, 10, TILE]),
       fmt=st.sampled_from(["raw", "deflate"]),
       seed=st.integers(0, 2 ** 16))
@settings(max_examples=120, deadline=None)
def test_level0_blocks_equal_whole_image(w, h, k, planar, tile, fmt, seed):
    """Level 0 streamed as _level0_blocks, from raw or deflate input, gives
    the tiles of _pyramid_tiles over views of the whole image in the same
    order, and both equal build_pyramid + cut_tiles. k planes cover 1-5
    bands, a 2- or 5-plane buffer ending in a mask; heights up to 400 rows
    at tiles down to 4 px make images of up to 100 blocks."""
    px = np.random.default_rng(seed).integers(0, 256, (h, w, k),
                                              dtype=np.uint8)
    data = px.tobytes() if fmt == "raw" else zlib.compress(px.tobytes(), 1)
    bh = _block_rows(tile)
    nplanes, mask, blocks = _level0_blocks(data, w, h, fmt, bh)
    assert (nplanes, mask) == infer_planes(px.size, w, h)
    blocks = list(blocks)
    assert [y0 for y0, _ in blocks] == list(range(0, h, bh))
    assert np.array_equal(np.concatenate([b for _, b in blocks]), px)
    dims = _pyramid_dims(w, h, tile)
    got = list(_pyramid_tiles(iter(blocks), nplanes, mask, tile, "deflate",
                              dims, planar=planar))
    assert got == list(_pyramid_tiles(_views(px, tile), nplanes, mask, tile,
                                      "deflate", dims, planar=planar))
    assert {t[:4]: t[4] for t in got} == _reference_tiles(
        px, nplanes, mask, tile, "deflate", 2, planar)


def test_streaming_write_memory_bounded(tmp_path):
    """A 4096×4104 gray image: the write kernel's peak allocation beyond the
    decoded image stays under half the image (the whole-image pyramid plus
    its payload dict needed ~2.2× the image), and the file is byte-identical
    to the in-memory assembly. Raw input decodes as a zero-copy view, so
    the traced peak is the kernel's own working set."""
    import tracemalloc
    from cogger_spark.fixtures import make_pixels
    w, h = 4096, 4104
    px = make_pixels(0, w, h, 1, False)
    data = px.tobytes()
    tracemalloc.start()
    try:
        _pixel_file("img_00000000", data, w, h, "raw", str(tmp_path), 512)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < len(data) / 2, (peak, len(data))
    assert (tmp_path / "img_00000000.tif").read_bytes() == _reference_cog(
        px, "img_00000000", 512)
    assert sorted(os.listdir(tmp_path)) == ["img_00000000.tif"]


def test_streaming_write_memory_bounded_deflate(tmp_path):
    """The same 4096×4104 gray image as deflate input, under the same
    bound: level 0 is inflated block by block and never held whole (the
    whole-image decode alone would be twice the bound)."""
    import tracemalloc
    from cogger_spark.fixtures import make_pixels
    w, h = 4096, 4104
    px = make_pixels(0, w, h, 1, False)
    raw = px.tobytes()
    data = zlib.compress(raw, 1)
    tracemalloc.start()
    try:
        _pixel_file("img_00000000", data, w, h, "deflate", str(tmp_path),
                    512)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < len(raw) / 2, (peak, len(raw))
    assert (tmp_path / "img_00000000.tif").read_bytes() == _reference_cog(
        px, "img_00000000", 512)


W, H = 40, 30
# a stream longer than one _inflate input chunk, corrupted in its middle
_LONG = zlib.compress(np.random.default_rng(3).integers(
    0, 256, W * H * 300, dtype=np.uint8).tobytes(), 1)
BAD_INPUTS = {
    "truncated_deflate": (zlib.compress(bytes(W * H * 3), 1)[:-9], "deflate"),
    "corrupt_deflate": (b"\x78\x01" + bytes(range(200)), "deflate"),
    "null_blob": (None, "deflate"),
    "zero_byte_raw": (b"", "raw"),
    "zero_byte_deflate": (b"", "deflate"),
    "length_mismatch": (bytes(W * H * 3 + 1), "raw"),
    "length_mismatch_deflate": (zlib.compress(bytes(W * H - 7)), "deflate"),
    "corrupt_deflate_midstream": (
        _LONG[:len(_LONG) // 2] + bytes(64) + _LONG[len(_LONG) // 2 + 64:],
        "deflate"),
    # valid pixels, but an id outside the synthetic geo frame (IMAGE_IDS)
    "bad_image_id": (bytes(W * H * 3), "raw"),
}
IMAGE_IDS = {"bad_image_id": "scene_42"}


@pytest.mark.parametrize("case", sorted(BAD_INPUTS))
def test_streaming_write_fails_closed(tmp_path, case):
    data, fmt = BAD_INPUTS[case]
    iid = IMAGE_IDS.get(case, "img_00000042")
    with pytest.raises(ValueError, match=iid):
        _pixel_file(iid, data, W, H, fmt, str(tmp_path), 16)
    assert os.listdir(tmp_path) == []


def _pixels(iid, data, fmt="raw", ghost=True):
    return _streamed_cog(iid, data, W, H, fmt, 16, "deflate", ghost)


def _rewrite(iid, data, fmt=None):
    return _rewritten_cog(iid, data)


def _into_blob(producer):
    def run(data, fmt, iid="img_00000042"):
        with producer(iid, data, fmt) as writer:
            return _blob_sink(writer)
    return run


def _into_parts(producer):
    def run(data, fmt, iid="img_00000042"):
        with producer(iid, data, fmt) as writer:
            return list(_parts_sink(writer, 7))
    return run


# the in-memory sinks under the pixel producer, and under the rewrite
# producer, which takes the same bad blobs as (non-)TIFF input
IN_MEMORY_SINKS = {
    "blob": _into_blob(_pixels),
    "parts": _into_parts(_pixels),
    "rewrite_blob": _into_blob(_rewrite),
    "rewrite_parts": _into_parts(_rewrite),
}


@pytest.mark.parametrize("case", sorted(BAD_INPUTS))
@pytest.mark.parametrize("sink", sorted(IN_MEMORY_SINKS))
def test_blob_and_parts_sinks_fail_closed(tmp_path, monkeypatch, sink, case):
    """The blob and parts sinks under either producer: ValueError naming
    the image, no file left in the temp dir and no descriptor left open."""
    import tempfile
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    fds = len(os.listdir("/proc/self/fd"))
    data, fmt = BAD_INPUTS[case]
    iid = IMAGE_IDS.get(case, "img_00000042")
    with pytest.raises(ValueError, match=iid):
        IN_MEMORY_SINKS[sink](data, fmt, iid)
    assert os.listdir(tmp_path) == []
    assert len(os.listdir("/proc/self/fd")) == fds


@pytest.mark.parametrize("sink", ["file", "blob", "parts"])
def test_block_pass_zlib_error_names_the_image(tmp_path, monkeypatch, sink):
    """A zlib error while level 0 is inflated block by block (after the
    length pass accepted the stream) is wrapped like a decode error."""
    calls = []
    inflate = tiling._inflate

    def flaky(data):
        calls.append(1)
        if len(calls) > 1:
            raise zlib.error("Error -3 while decompressing data")
        return inflate(data)

    monkeypatch.setattr(tiling, "_inflate", flaky)
    data = zlib.compress(bytes(W * H * 3), 1)
    with pytest.raises(ValueError, match="image 'img_00000042'.*Error -3"):
        if sink == "file":
            _pixel_file("img_00000042", data, W, H, "deflate", str(tmp_path),
                        16)
        else:
            IN_MEMORY_SINKS[sink](data, "deflate")
    assert len(calls) == 2
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("case", sorted(set(BAD_INPUTS) - set(IMAGE_IDS)))
def test_tile_pixel_stats_kernel_fails_closed(case):
    """tile_pixel_stats' per-image kernel reads level 0 through the same
    block stream and fails like the COG sinks: a ValueError naming the
    image, not a bare zlib.error or buffer-size message."""
    from cogger_spark.operators.spatial import _image_stats_rows
    data, fmt = BAD_INPUTS[case]
    with pytest.raises(ValueError, match="image 'img_00000042': "):
        list(_image_stats_rows("img_00000042", data, W, H, fmt, 16))


def test_deflate_trailing_bytes_accepted():
    """zlib.decompress ignores bytes after the end of the stream, and so
    does the streamed inflate: such a blob gives the clean stream's COG."""
    px = np.random.default_rng(9).integers(0, 256, (H, W, 3), dtype=np.uint8)
    clean = zlib.compress(px.tobytes(), 1)
    trailing = clean + b"trailing garbage"
    assert zlib.decompress(trailing) == px.tobytes()
    for sink in ("blob", "parts"):
        assert IN_MEMORY_SINKS[sink](trailing, "deflate") == \
            IN_MEMORY_SINKS[sink](clean, "deflate")


# a 2-plane (gray + mask) image of 16 tiles over 2 levels, 3 parts of 7
PX = np.random.default_rng(5).integers(0, 256, (H, W, 2),
                                       dtype=np.uint8).tobytes()


def _tiff():
    """A no-ghost COG of PX: rewrite input the rewrite re-frames."""
    with _pixels("img_00000042", PX, ghost=False) as writer:
        return b"".join(writer.pieces())


PRODUCERS = {"pixels": lambda: _pixels("img_00000042", PX),
             "rewrite": lambda: _rewrite("img_00000042", _tiff())}


def _sink_bytes(sink, writer, out_dir):
    if sink == "file":
        n = _file_sink(str(out_dir), "img_00000042", writer)
        data = (out_dir / "img_00000042.tif").read_bytes()
        assert n == len(data)
        return data
    if sink == "blob":
        cog, _ = _blob_sink(writer)
        return cog
    if sink == "split":
        header, data, _ = _blob_sink(writer, split=True)
        return header + data
    parts = list(_parts_sink(writer, 7))
    assert [k for k, _ in parts] == list(range(len(parts))) and len(parts) > 2
    return b"".join(p for _, p in parts)


@pytest.mark.parametrize("producer,sink", [
    ("pixels", "file"),     # tile_assemble_write / convert_images
    ("pixels", "blob"),     # cog_pipeline
    ("pixels", "parts"),    # cog_pipeline_parts
    ("rewrite", "file"),    # rewrite_tiffs_to_dir
    ("rewrite", "blob"),    # rewrite_tiffs, rewrite_tiff_sets
    ("rewrite", "split"),   # rewrite_tiffs(split=True)
])
def test_every_sink_equals_its_producers_pieces(tmp_path, producer, sink):
    """Each (producer, sink) pair in use: the sink's bytes — the file, the
    blob, header || data, the parts concatenated — are exactly the
    producer writer's pieces, and only the file sink leaves a file."""
    with PRODUCERS[producer]() as writer:
        want = b"".join(writer.pieces())
    with PRODUCERS[producer]() as writer:
        assert _sink_bytes(sink, writer, tmp_path) == want
    assert os.listdir(tmp_path) == (["img_00000042.tif"] if sink == "file"
                                    else [])


def test_convert_images_fails_closed_in_spark(spark, tmp_path):
    """Through Spark: the job fails naming the image, and the output
    directory holds no final, tmp or spill file for it."""
    from cogger_spark.operators.tiling import convert_images
    data, fmt = BAD_INPUTS["truncated_deflate"]
    df = spark.createDataFrame(
        [("img_00000042", data, W, H, fmt)],
        "image_id string, bytes binary, w int, h int, fmt string")
    out = tmp_path / "out"
    with pytest.raises(Exception, match="img_00000042"):
        convert_images(df, str(out), tile=16)
    assert not out.exists() or os.listdir(out) == []


# image ids that are not plain file names: before the check, the first
# wrote <out>/../x.tif (its tmp two levels up), the second a hidden
# <out>/.tif, and the third failed with a bare FileNotFoundError
BAD_IDS = ["./../x", "", "sub/y"]


def _files_under(root):
    return [p for p in root.rglob("*") if not p.is_dir()]


@pytest.mark.parametrize("iid", BAD_IDS + [".hidden", "nul\0x"])
def test_write_tif_rejects_ids_that_are_not_file_names(tmp_path, iid):
    """write_tif raises a ValueError naming the id before it opens a tmp:
    nothing is written in out_dir or above it."""
    from cogger_spark.sources.tiffdir import write_tif
    out = tmp_path / "a" / "out"
    out.mkdir(parents=True)
    calls = []
    with pytest.raises(ValueError, match=re.escape(f"image id {iid!r}")):
        write_tif(str(out), iid, lambda fd: calls.append(fd) or 0)
    assert calls == [] and _files_under(tmp_path) == []


@pytest.mark.parametrize("iid", BAD_IDS)
def test_convert_images_rejects_ids_that_are_not_file_names(spark, tmp_path,
                                                            iid):
    """Through Spark, a valid image under such an id fails the job naming
    the id, and nothing is written in out_dir or above it."""
    from cogger_spark.operators.tiling import convert_images
    df = spark.createDataFrame(
        [(iid, bytes(W * H * 3), W, H, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string")
    out = tmp_path / "a" / "out"
    with pytest.raises(Exception, match=re.escape(f"image id {iid!r}")):
        convert_images(df, str(out), tile=16)
    assert _files_under(tmp_path) == []


def test_validate_rejects_every_bad_deflate_input(spark):
    """validate_images quarantines every deflate case of BAD_INPUTS, so a
    convert of its valid rows does not fail on one, and keeps a good
    deflate row valid."""
    from cogger_spark.operators.validate import validate_images
    cases = {c: data for c, (data, fmt) in BAD_INPUTS.items()
             if fmt == "deflate"}
    rows = [(c, data, W, H, "deflate", "a caption")
            for c, data in cases.items()]
    rows.append(("good", zlib.compress(bytes(W * H * 3), 1), W, H, "deflate",
                 "a caption"))
    valid, rejects = validate_images(spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string"))
    assert [r.image_id for r in valid.collect()] == ["good"]
    assert {r.image_id: r.reject_reason for r in rejects.collect()} == {
        c: "bad deflate payload" if data else "missing payload"
        for c, data in cases.items()}


@pytest.mark.parametrize("pipeline", ["cog_pipeline", "cog_pipeline_parts"])
def test_pipelines_fail_closed_in_spark(spark, pipeline):
    """Through Spark, the blob and parts sinks fail the job naming the image
    (not with a bare zlib.error)."""
    from cogger_spark.operators import tiling
    data, fmt = BAD_INPUTS["truncated_deflate"]
    df = spark.createDataFrame(
        [("img_00000042", data, W, H, fmt)],
        "image_id string, bytes binary, w int, h int, fmt string")
    with pytest.raises(Exception, match="ValueError: image 'img_00000042'"):
        getattr(tiling, pipeline)(df, tile=16).collect()


@pytest.mark.parametrize("case", ["truncated_deflate", "length_mismatch",
                                  "null_blob"])
def test_tile_pixel_stats_fails_closed_in_spark(spark, case):
    """Through Spark, tile_pixel_stats and tile_images fail the job naming
    the image (not with a bare zlib.error)."""
    from cogger_spark.operators.spatial import tile_pixel_stats
    data, fmt = BAD_INPUTS[case]
    df = spark.createDataFrame(
        [("img_00000042", data, W, H, fmt)],
        "image_id string, bytes binary, w int, h int, fmt string")
    for operator in (tile_pixel_stats, tiling.tile_images):
        with pytest.raises(Exception,
                           match="ValueError: image 'img_00000042'"):
            operator(df, tile=16).collect()


def _convert(images, tmp_path):
    from cogger_spark.operators.tiling import convert_images
    out = tmp_path / "out"
    convert_images(images, str(out), tile=256, split_threshold_px=600 * 600)
    # every file in the directory: no tmp or spill may be left beside them
    return {name: (out / name).read_bytes() for name in os.listdir(out)}


def _blob(images, tmp_path):
    from cogger_spark.operators.tiling import cog_pipeline
    return {r.image_id: (bytes(r.cog), r.n_tiles, r.n_levels, r.header_bytes,
                         r.total_bytes)
            for r in cog_pipeline(images, tile=256).collect()}


def _parts(images, tmp_path):
    from cogger_spark.operators.tiling import cog_pipeline_parts
    return {(r.image_id, r.part_idx): bytes(r.part)
            for r in cog_pipeline_parts(images, tile=256,
                                        tiles_per_part=7).collect()}


def _grouped(sink, images):
    """The grouped assembly of the tile relation, in the sink's row shape."""
    from cogger_spark.operators.tiling import (
        assemble_cog_parts, assemble_cogs, tile_images)
    tiles = tile_images(images, tile=256)
    if sink == "parts":
        return {(r.image_id, r.part_idx): bytes(r.part)
                for r in assemble_cog_parts(tiles, tile=256,
                                            tiles_per_part=7).collect()}
    rows = assemble_cogs(tiles, tile=256).collect()
    if sink == "file":
        return {f"{r.image_id}.tif": bytes(r.cog) for r in rows}
    return {r.image_id: (bytes(r.cog), r.n_tiles, r.n_levels, r.header_bytes,
                         r.total_bytes) for r in rows}


SINKS = {"file": _convert, "blob": _blob, "parts": _parts}


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_one_job_mixed_table(spark, tmp_path, sink):
    """Each sink over small and oversized images (relative to the split
    threshold convert_images' callers still pass) is ONE Spark job, and its
    rows equal the grouped assembly of the tile relation byte for byte."""
    import pyarrow.parquet as pq
    from cogger_spark.fixtures import make_images_table
    table = make_images_table(12, dims=[1024, 700, 513, 1])
    path = tmp_path / "images.parquet"
    # one row group per image, as the benchmark inputs are written
    with pq.ParquetWriter(path, table.schema) as wr:
        for i in range(table.num_rows):
            wr.write_table(table.slice(i, 1))
    sc = spark.sparkContext
    old = {k: spark.conf.get(k) for k in ("spark.sql.files.maxPartitionBytes",
                                          "spark.sql.files.openCostInBytes")}
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    spark.conf.set("spark.sql.files.openCostInBytes", "1k")
    try:
        images = spark.read.parquet(str(path))
        # precondition: enough scan splits that ensure_fanout does not
        # repartition (a shuffle would be a second job under AQE)
        assert images.rdd.getNumPartitions() >= sc.defaultParallelism
        group = f"one-job-{sink}"
        sc.setJobGroup(group, f"{sink} sink job count")
        try:
            got = SINKS[sink](images, tmp_path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        want = _grouped(sink, images)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == want

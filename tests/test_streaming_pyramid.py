"""The streaming pyramid kernel behind convert_images / tile_assemble_write:
tiles byte-identical to the whole-image pyramid, working set bounded by a
tile-row block per level, fail-closed on bad input, one Spark job per
conversion of a scan with a split per slot."""

import os
import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from cogger_spark.functions.imagecodecs import (
    build_pyramid, cut_tiles, encode_image)
from cogger_spark.operators.tiling import (
    _cog_blob, _decode_and_cut, _pyramid_dims, _pyramid_tiles,
    _write_cog_file)


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
            px, bands, mask, tile, "deflate", dims, planar=planar):
        assert (lvl, plane, ty, tx) not in got
        got[(lvl, plane, ty, tx)] = payload
    want = _reference_tiles(px, bands, mask, tile, "deflate",
                            min_overview_size, planar)
    assert got == want
    assert len(dims) == len(build_pyramid(px, tile, min_overview_size))


def test_streaming_write_memory_bounded(tmp_path):
    """A 4096×4104 gray image: the write kernel's peak allocation beyond the
    decoded image stays under half the image (the whole-image pyramid plus
    its payload dict needed ~2.2× the image), and the file is byte-identical
    to the in-memory assembly. Raw input decodes as a zero-copy view, so
    the traced peak is the kernel's own working set."""
    import tracemalloc
    from cogger_spark.fixtures import make_pixels
    w, h = 4096, 4104
    data = make_pixels(0, w, h, 1, False).tobytes()
    tracemalloc.start()
    try:
        _write_cog_file("img_00000000", data, w, h, "raw", str(tmp_path),
                        512, "deflate", True)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < len(data) / 2, (peak, len(data))
    nplanes, mask, n_levels, dims, payloads = _decode_and_cut(
        data, w, h, "raw", 512, "deflate")
    header, body, _ = _cog_blob("img_00000000", nplanes, mask, n_levels, dims,
                                payloads, 512, 8, True)
    assert (tmp_path / "img_00000000.tif").read_bytes() == header + body
    assert sorted(os.listdir(tmp_path)) == ["img_00000000.tif"]


W, H = 40, 30
BAD_INPUTS = {
    "truncated_deflate": (zlib.compress(bytes(W * H * 3), 1)[:-9], "deflate"),
    "corrupt_deflate": (b"\x78\x01" + bytes(range(200)), "deflate"),
    "null_blob": (None, "deflate"),
    "zero_byte_raw": (b"", "raw"),
    "zero_byte_deflate": (b"", "deflate"),
    "length_mismatch": (bytes(W * H * 3 + 1), "raw"),
    "length_mismatch_deflate": (zlib.compress(bytes(W * H - 7)), "deflate"),
}


@pytest.mark.parametrize("case", sorted(BAD_INPUTS))
def test_streaming_write_fails_closed(tmp_path, case):
    data, fmt = BAD_INPUTS[case]
    with pytest.raises(ValueError, match="img_00000042"):
        _write_cog_file("img_00000042", data, W, H, fmt, str(tmp_path), 16,
                        "deflate", True)
    assert os.listdir(tmp_path) == []


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


def test_convert_images_one_job_mixed_table(spark, tmp_path):
    """convert_images over small and oversized images (relative to the
    split threshold its callers still pass) is ONE Spark job, and every
    file equals the grouped whole-blob assembly byte for byte."""
    import pyarrow.parquet as pq
    from cogger_spark.fixtures import make_images_table
    from cogger_spark.operators.tiling import (
        assemble_cogs, convert_images, tile_images)
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
        out = tmp_path / "out"
        group = "convert-one-job"
        sc.setJobGroup(group, "convert_images job count")
        try:
            convert_images(images, str(out), tile=256,
                           split_threshold_px=600 * 600,
                           target_px=256 * 512, tiles_per_part=7)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        whole = {r.image_id: bytes(r.cog)
                 for r in assemble_cogs(tile_images(images, tile=256),
                                        tile=256).collect()}
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    files = {f.stem: f.read_bytes() for f in out.glob("*.tif")}
    assert files == whole
    assert sorted(os.listdir(out)) == sorted(f"{k}.tif" for k in whole)

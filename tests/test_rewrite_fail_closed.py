"""Malformed TIFFs (truncated, looped, tiled with a zero tile size, with
a tile grid larger than its tile tables, or with tile data past the end)
fail the rewrite closed: `parse_tiff` raises ValueError naming the
offset, before any sink opens a file; the rewrite kernels
re-raise it naming the image on both input routes, and
`rewrite_tiffs_to_dir` leaves no file behind."""

import os
import random
import struct

import pytest

from cogger_spark.operators.tiling import _blob_sink, _streamed_cog
from cogger_spark.tiff.codec import parse_tiff, rewrite

W, H = 40, 30


@pytest.fixture(scope="module")
def cog() -> bytes:
    px = bytes(i % 251 for i in range(W * H * 3))
    with _streamed_cog("img_00000001", px, W, H, "raw", 16, "deflate",
                       True) as writer:
        return _blob_sink(writer)[0]


def _set_tag(cog: bytes, ifd0: int, ntags: int, tag: int,
             value: int) -> bytes:
    """`cog` with the inline value of IFD0's `tag` entry set to `value`
    (little-endian, so a SHORT or a LONG entry alike)."""
    out = bytearray(cog)
    for e in range(ifd0 + 2, ifd0 + 2 + ntags * 12, 12):
        if struct.unpack_from("<H", out, e)[0] == tag:
            struct.pack_into("<I", out, e + 8, value)
            return bytes(out)
    raise AssertionError(f"no tag {tag}")


def _bad_inputs(cog: bytes) -> dict:
    ifd0 = struct.unpack("<I", cog[4:8])[0]
    ntags = struct.unpack("<H", cog[ifd0:ifd0 + 2])[0]
    looped = bytearray(cog)
    struct.pack_into("<I", looped, ifd0 + 2 + ntags * 12, ifd0)
    zero_tile = f"IFD at offset {ifd0} has a zero tile size"
    # the 40x30 image at 16 px tiles has a 3x2 grid: 6 table entries
    short_tables = (f"IFD at offset {ifd0} has a .* tile grid but 6 "
                    "TileOffsets and 6 TileByteCounts")
    return {
        "zero_tile_width": (_set_tag(cog, ifd0, ntags, 322, 0), zero_tile),
        "zero_tile_length": (_set_tag(cog, ifd0, ntags, 323, 0), zero_tile),
        "wide_image_width": (_set_tag(cog, ifd0, ntags, 256, 10 * W),
                             short_tables),
        "tall_image_length": (_set_tag(cog, ifd0, ntags, 257, 10 * H),
                              short_tables),
        "truncated_header": (cog[:6], "at offset 4"),
        "truncated_ifd": (cog[:ifd0 + 2 + 5 * 12], f"IFD at offset {ifd0}"),
        "garbage_after_magic": (b"II*\x00" + bytes(range(7, 67)),
                                "IFD at offset 168364039"),
        "ifd_loop": (bytes(looped), f"loops at offset {ifd0}"),
        "truncated_tile_data": (cog[:-10], "tile"),
    }


CASES = ["truncated_header", "truncated_ifd", "garbage_after_magic",
         "ifd_loop", "truncated_tile_data", "zero_tile_width",
         "zero_tile_length", "wide_image_width", "tall_image_length"]


@pytest.mark.parametrize("case", CASES)
def test_codec_bad_input_raises_value_error(cog, case):
    data, match = _bad_inputs(cog)[case]
    with pytest.raises(ValueError, match=match):
        rewrite(data)
    with pytest.raises(ValueError, match=match):
        parse_tiff(data)


def test_codec_every_prefix_and_byte_flip_fails_closed(cog):
    """Every prefix of a valid COG that cuts into its tile data or header
    fails the rewrite with ValueError, and no random byte flip gets
    anything but ValueError (or a parsed file) out of parse_tiff. The last
    4 bytes are the GDAL ghost trailer of the last tile, not tile data."""
    for n in range(len(cog) - 4):
        with pytest.raises(ValueError):
            rewrite(cog[:n])
    rng = random.Random(7)
    for _ in range(500):
        b = bytearray(cog)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            parse_tiff(bytes(b))
        except ValueError:
            pass


def _tiffs(spark, tmp_path, route, data):
    from cogger_spark.sources.tiffdir import read_tiff_dir
    if route == "path":
        indir = tmp_path / "in"
        indir.mkdir()
        (indir / "img_00000042.tif").write_bytes(data)
        return read_tiff_dir(spark, str(indir))
    return spark.createDataFrame([("img_00000042", data)],
                                 "image_id string, bytes binary")


@pytest.mark.parametrize("route", ["bytes", "path"])
@pytest.mark.parametrize("case", CASES)
def test_rewrite_kernels_fail_closed(spark, tmp_path, cog, case, route):
    from cogger_spark.operators.tiling import (
        _binaryfile_path_route, rewrite_tiffs, rewrite_tiffs_to_dir)
    data, match = _bad_inputs(cog)[case]
    tiffs = _tiffs(spark, tmp_path, route, data)
    assert _binaryfile_path_route(tiffs) is (route == "path")
    with pytest.raises(Exception, match=f"img_00000042.*{match}"):
        rewrite_tiffs(tiffs).collect()
    out = tmp_path / "out"
    with pytest.raises(Exception, match=f"img_00000042.*{match}"):
        rewrite_tiffs_to_dir(tiffs, str(out)).collect()
    assert not out.exists() or os.listdir(out) == []


def test_rewrite_null_blob_names_the_image(spark):
    from cogger_spark.operators.tiling import rewrite_tiffs
    tiffs = spark.createDataFrame([("img_00000042", None)],
                                  "image_id string, bytes binary")
    with pytest.raises(Exception, match="img_00000042.*null TIFF blob"):
        rewrite_tiffs(tiffs).collect()


def test_rewrite_to_dir_failed_write_removes_tmp(spark, tmp_path, cog):
    """The final name is taken by a directory, so the rename fails: the
    job fails and the `.tmp` is gone."""
    from cogger_spark.operators.tiling import rewrite_tiffs_to_dir
    out = tmp_path / "out"
    (out / "img_00000042.tif" / "blocker").mkdir(parents=True)
    tiffs = _tiffs(spark, tmp_path, "bytes", cog)
    with pytest.raises(Exception, match="img_00000042"):
        rewrite_tiffs_to_dir(tiffs, str(out)).collect()
    assert sorted(os.listdir(out)) == ["img_00000042.tif"]
    assert os.listdir(out / "img_00000042.tif") == ["blocker"]


def test_read_tiff_dir_rejects_zero_byte_file(spark, tmp_path, cog):
    """Spark's binaryFile scan yields no row for a 0-byte file, so the
    reader refuses the directory instead of dropping the file."""
    import pyspark.sql.functions as F
    from cogger_spark.sources.tiffdir import read_tiff_dir
    (tmp_path / "a.tif").write_bytes(cog)
    (tmp_path / "b.tif").write_bytes(b"")
    scan = spark.read.format("binaryFile").load(str(tmp_path))
    assert len(scan.inputFiles()) == 2
    assert scan.select(F.col("path")).count() == 1  # the silent drop
    with pytest.raises(ValueError, match=r"empty TIFF file: file:.*/b\.tif$"):
        read_tiff_dir(spark, str(tmp_path))


def test_read_tiff_sets_dir_rejects_zero_byte_overview(spark, tmp_path, cog):
    """An empty .ovr part would otherwise vanish and the image's COG lose
    its overview without an error."""
    from cogger_spark.sources.tiffdir import read_tiff_sets_dir
    (tmp_path / "img_00000042.tif").write_bytes(cog)
    (tmp_path / "img_00000042.tif.ovr").write_bytes(b"")
    with pytest.raises(ValueError,
                       match=r"empty TIFF file: file:.*/img_00000042\.tif\.ovr$"):
        read_tiff_sets_dir(spark, str(tmp_path))

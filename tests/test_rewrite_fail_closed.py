"""Malformed TIFFs fail the rewrite closed: `parse_tiff` raises ValueError
naming the offset, the rewrite kernels re-raise it naming the image on both
input routes, and `rewrite_tiffs_to_dir` leaves no file behind."""

import os
import random
import struct

import pytest

from cogger_spark.operators.tiling import _write_cog_file
from cogger_spark.tiff.codec import parse_tiff, rewrite

W, H = 40, 30


@pytest.fixture(scope="module")
def cog(tmp_path_factory) -> bytes:
    d = tmp_path_factory.mktemp("cog")
    px = bytes(i % 251 for i in range(W * H * 3))
    _write_cog_file("img_00000001", px, W, H, "raw", str(d), 16, "deflate",
                    True)
    return (d / "img_00000001.tif").read_bytes()


def _bad_inputs(cog: bytes) -> dict:
    ifd0 = struct.unpack("<I", cog[4:8])[0]
    ntags = struct.unpack("<H", cog[ifd0:ifd0 + 2])[0]
    looped = bytearray(cog)
    struct.pack_into("<I", looped, ifd0 + 2 + ntags * 12, ifd0)
    return {
        "truncated_header": (cog[:6], "at offset 4"),
        "truncated_ifd": (cog[:ifd0 + 2 + 5 * 12], f"IFD at offset {ifd0}"),
        "garbage_after_magic": (b"II*\x00" + bytes(range(7, 67)),
                                "IFD at offset 168364039"),
        "ifd_loop": (bytes(looped), f"loops at offset {ifd0}"),
        "truncated_tile_data": (cog[:-10], "tile"),
    }


CASES = ["truncated_header", "truncated_ifd", "garbage_after_magic",
         "ifd_loop", "truncated_tile_data"]


@pytest.mark.parametrize("case", CASES)
def test_codec_bad_input_raises_value_error(cog, case):
    data, match = _bad_inputs(cog)[case]
    with pytest.raises(ValueError, match=match):
        rewrite(data)
    if case != "truncated_tile_data":  # parses; the tile read fails
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

"""Codec Config surface (cog.go:429-450): byte order, forced + adaptive
BigTIFF, custom planar interleaving — self-parse round trips."""

import mmap
import struct
import tempfile

import pytest

from cogger_spark.tiff import IFD, Config, parse_tiff, rewrite_ifd_tree, tile_order
from cogger_spark.tiff.codec import _Writer


def _ifd(w=64, h=64, tile=32, planes=1, planar=False, byte_counts=None):
    ntx, nty = -(-w // tile), -(-h // tile)
    n = ntx * nty * (planes if planar else 1)
    tbc = list(byte_counts) if byte_counts else [16] * n
    ifd = IFD(
        image_width=w, image_height=h,
        bits_per_sample=(8,) * planes,
        compression=1, photometric=1,
        samples_per_pixel=planes,
        planar_configuration=2 if planar else 1,
        tile_width=tile, tile_height=tile,
        tile_byte_counts=tuple(tbc),
        tile_offsets=tuple([0] * n),
    )
    # built on demand: the BigTIFF case declares two 3 GiB tiles
    ifd.load_tile = lambda idx: bytes([idx % 251]) * tbc[idx]
    return ifd


def test_big_endian_output_round_trips():
    out = rewrite_ifd_tree(_ifd(), Config(little_endian=False))
    assert out[:2] == b"MM"
    tf = parse_tiff(out)
    assert tf.byte_order == ">"
    assert tf.ifds[0].image_width == 64
    assert len(tf.ifds[0].tile_offsets) == 4


def test_forced_bigtiff():
    out = rewrite_ifd_tree(_ifd(), Config(big_tiff=True))
    assert struct.unpack("<H", out[2:4])[0] == 43
    tf = parse_tiff(out)
    assert tf.big_tiff
    assert tf.ifds[0].tile_byte_counts == (16,) * 4


def test_adaptive_bigtiff_restart():
    """Offsets past u32max mid-stream trigger the BigTIFF rerun
    (cog.go:576-587) — header must come out as version 43 with 64-bit
    offsets even though BigTIFF was not requested."""
    big = _ifd(byte_counts=[3 << 30, 3 << 30, 16, 16])
    w = _Writer(big, Config(big_tiff=False, with_gdal_ghost=False))
    header = w.header()
    assert w.bigtiff
    assert struct.unpack("<H", header[2:4])[0] == 43
    # parse_tiff rejects tiles past the end of its input, so the header
    # opens a sparse file of the COG's full length (the data a hole)
    with tempfile.TemporaryFile() as f:
        f.write(header)
        f.truncate(len(header) + sum(big.tile_byte_counts))
        tf = parse_tiff(mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ))
    offs = tf.ifds[0].tile_offsets
    assert offs[1] - offs[0] == 3 << 30
    assert offs[2] > 0xFFFFFFFF  # the offset that forced the upgrade


def test_custom_planar_interleaving_orders():
    """cog.go:26-32: [[0],[2],[1]] writes r1..rn, b1..bn, g1..gn."""
    ifd = _ifd(planes=3, planar=True)
    ifd.set_planar_interleaving([[0], [2], [1]])
    seq = [p for _, x, y, p in tile_order(ifd)]
    n = 4  # tiles per plane
    assert seq == [0] * n + [2] * n + [1] * n

    ifd2 = _ifd(planes=3, planar=True)
    ifd2.set_planar_interleaving([[0, 1], [2]])
    seq2 = [p for _, x, y, p in tile_order(ifd2)]
    assert seq2 == [0, 1] * n + [2] * n


def test_planar_interleaving_validation():
    ifd = _ifd(planes=3, planar=True)
    with pytest.raises(ValueError):
        ifd.set_planar_interleaving([[0, 1]])  # missing 2
    ifd = _ifd(planes=3, planar=True)
    with pytest.raises(ValueError):
        ifd.set_planar_interleaving([[0, 1, 2, 2]])  # dup
    nonplanar = _ifd(planes=1)
    with pytest.raises(ValueError):
        nonplanar.set_planar_interleaving([[0]])


def test_planar_disables_ghost():
    """Ghost areas are dropped for planar files (cog.go:600-608)."""
    out = rewrite_ifd_tree(_ifd(planes=3, planar=True),
                           Config(with_gdal_ghost=True))
    assert b"GDAL_STRUCTURAL_METADATA" not in out[:200]

"""The codec's piece emitter and its file sinks.

`_Writer.pieces()` emits a COG as the header plus, per tile, a leader, the
payload as a view of its source and a trailer; `rewrite`/`rewrite_split`
join those pieces once and `write_pieces` writes them with batched
os.writev. Every output here is checked byte for byte against a test-local
copy of the concatenating loop the emitter replaced."""

import os
import struct
import tracemalloc

import pytest

from cogger_spark.operators.tiling import (
    _read_local_file, _rewrite_file, rewrite_tiff_sets, rewrite_tiffs_to_dir,
    write_cogs)
from cogger_spark.sources.tiffdir import (
    read_tiff_dir, write_tif, write_tiff_dir)
from cogger_spark.tiff import codec
from cogger_spark.tiff.codec import (
    IFD, Config, _Writer, assemble_ifd_tree, parse_tiff, rewrite,
    rewrite_split, tile_order, write_pieces)


# --- the reference: the concatenating loop the emitter replaced -------------

def _concat_emit(main: IFD, cfg: Config) -> bytes:
    w = _Writer(main, cfg)
    out = bytearray(w.header())
    for ifd, x, y, p in tile_order(main):
        idx = ifd.tile_idx(x, y, p)
        bc = ifd.tile_byte_counts[idx]
        if bc <= 0:
            continue
        payload = bytes(ifd.load_tile(idx))
        if len(payload) != bc:
            raise ValueError(f"tile {idx}: got {len(payload)} bytes, want {bc}")
        if w.ghost:
            lead = struct.pack("<I", bc)
            tail = (lead + payload)[-4:]
            out += lead + payload + tail
        else:
            out += payload
    return bytes(out)


def _concat_rewrite(src: bytes, cfg: Config) -> bytes:
    return _concat_emit(assemble_ifd_tree(parse_tiff(src).ifds), cfg)


# --- source trees ------------------------------------------------------------

def _level(w, h, tile, counts, planes=1, planar=False, seed=0) -> IFD:
    cycle = bytes(range(251))
    blobs = [(cycle * (c // 251 + 2))[(seed + 7 * i) % 251:][:c]
             for i, c in enumerate(counts)]
    ifd = IFD(image_width=w, image_height=h, bits_per_sample=(8,) * planes,
              compression=1, photometric=2 if planes >= 3 else 1,
              samples_per_pixel=planes,
              planar_configuration=2 if planar else 1,
              tile_width=tile, tile_height=tile,
              tile_byte_counts=tuple(counts),
              tile_offsets=(0,) * len(counts))
    ifd.load_tile = blobs.__getitem__
    return ifd


def _mask(w, h, tile, n, seed):
    m = _level(w, h, tile, [5 + i % 9 for i in range(n)], seed=seed)
    m.photometric = 4
    return m


def _tree(counts=None, ocounts=None, mask=False, planes=1, planar=False):
    """64x48 main (4x3 tiles of 16) + a 32x24 overview (2x2 tiles)."""
    nplanes = planes if planar else 1
    counts = counts or [20 + 3 * i for i in range(12 * nplanes)]
    ocounts = ocounts or [9 + i for i in range(4 * nplanes)]
    main = _level(64, 48, 16, counts, planes, planar, seed=1)
    ovr = _level(32, 24, 16, ocounts, planes, planar, seed=2)
    if mask:
        ovr.add_mask(_mask(32, 24, 16, 4, seed=3))
    main.add_overview(ovr)
    if mask:
        main.add_mask(_mask(64, 48, 16, 12, seed=4))
    return main


# name -> (source tree factory, config the source is written with,
#          config the rewrite uses)
CASES = {
    "ghost": (_tree, Config(), Config()),
    "no_ghost": (_tree, Config(), Config(with_gdal_ghost=False)),
    "mask": (lambda: _tree(mask=True), Config(), Config()),
    "planar": (lambda: _tree(planes=3, planar=True), Config(), Config()),
    "sparse": (lambda: _tree(counts=[0 if i % 3 == 0 else 30 + i
                                     for i in range(12)],
                             ocounts=[0, 11, 0, 12]),
               Config(), Config()),
    "tiny_tiles": (lambda: _tree(counts=[1 + i % 3 for i in range(12)],
                                 ocounts=[1, 2, 3, 1]),
                   Config(), Config()),
    "big_endian": (_tree, Config(little_endian=False),
                   Config(little_endian=False)),
    "bigtiff": (_tree, Config(), Config(big_tiff=True)),
}


def _source(case: str) -> bytes:
    make, src_cfg, _ = CASES[case]
    return _concat_emit(make(), src_cfg)


@pytest.mark.parametrize("case", sorted(CASES))
def test_rewrite_and_split_equal_the_concatenating_loop(case):
    _, _, cfg = CASES[case]
    src = _source(case)
    want = _concat_rewrite(src, cfg)
    assert rewrite(src, cfg=cfg) == want
    header, data = rewrite_split(src, cfg=cfg)
    assert header + data == want
    assert codec.rewrite_ifd_tree(
        assemble_ifd_tree(parse_tiff(src).ifds), cfg) == want


def test_cases_cover_what_they_name():
    assert parse_tiff(_source("big_endian")).byte_order == ">"
    assert parse_tiff(rewrite(_source("bigtiff"),
                              cfg=Config(big_tiff=True))).big_tiff
    assert parse_tiff(_source("planar")).ifds[0].planar_configuration == 2
    assert any(f.subfile_type & 4 for f in parse_tiff(_source("mask")).ifds)
    assert 0 in parse_tiff(_source("sparse")).ifds[0].tile_byte_counts
    assert {1, 2, 3} <= set(parse_tiff(_source("tiny_tiles")).ifds[0]
                            .tile_byte_counts)


@pytest.mark.parametrize("route", ["bytes", "path"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_file_sink_equals_the_concatenating_loop(tmp_path, case, route):
    _, _, cfg = CASES[case]
    src = _source(case)
    if route == "path":
        p = tmp_path / "src.tif"
        p.write_bytes(src)
        data = _read_local_file(p.as_uri())
    else:
        data = src
    out = tmp_path / "out"
    out.mkdir()
    n = _rewrite_file("img", data, str(out), cfg)
    want = _concat_rewrite(src, cfg)
    assert (out / "img.tif").read_bytes() == want
    assert n == len(want)
    assert os.listdir(out) == ["img.tif"]


def test_short_writes_still_give_identical_files(tmp_path, monkeypatch):
    real = os.writev

    def at_most_1000(fd, buffers):
        head = b"".join(bytes(b) for b in buffers)[:1000]
        return real(fd, [head])

    monkeypatch.setattr(os, "writev", at_most_1000)
    for case in sorted(CASES):
        _, _, cfg = CASES[case]
        src = _source(case)
        _rewrite_file(case, src, str(tmp_path), cfg)
        assert (tmp_path / f"{case}.tif").read_bytes() == \
            _concat_rewrite(src, cfg), case


def test_write_pieces_batches_by_iov_max_and_loaded_bytes(tmp_path,
                                                          monkeypatch):
    """Views never count toward the 4 MB batch bound, loaded bytes do, and
    no batch exceeds IOV_MAX pieces."""
    calls = []
    real = os.writev

    def spy(fd, buffers):
        calls.append((len(buffers), sum(len(b) for b in buffers
                                        if not isinstance(b, memoryview))))
        return real(fd, buffers)

    monkeypatch.setattr(os, "writev", spy)
    mb = 1024 * 1024
    src = memoryview(bytes(range(256)) * 64)
    pieces = ([b"x" * mb for _ in range(10)]
              + [src[i:i + 16] for i in range(0, len(src), 16)] * 3)
    with open(tmp_path / "f", "wb") as f:
        n = write_pieces(f.fileno(), pieces)
    assert n == sum(len(p) for p in pieces)
    assert (tmp_path / "f").read_bytes() == b"".join(bytes(p) for p in pieces)
    assert [c[1] for c in calls[:2]] == [4 * mb, 4 * mb]
    assert all(c[0] <= os.sysconf("SC_IOV_MAX") for c in calls)
    assert max(c[0] for c in calls) == os.sysconf("SC_IOV_MAX")


# --- memory ------------------------------------------------------------------

def test_file_rewrite_holds_one_copy_of_the_input(tmp_path):
    """File→file rewrite of a ≥8 MB tiled TIFF: the Python heap peak stays
    under 1.5× the input (the input read once; the COG is never built)."""
    counts = [600_000 + i for i in range(16)]
    main = _level(1024, 1024, 256, counts, seed=5)
    src = tmp_path / "big.tif"
    src.write_bytes(_concat_emit(main, Config()))
    size = src.stat().st_size
    assert size >= 8 * 1024 * 1024
    out = tmp_path / "out"
    out.mkdir()
    tracemalloc.start()
    try:
        data = _read_local_file(src.as_uri())
        _rewrite_file("big", data, str(out), Config())
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1.5 * size, f"peak {peak} for a {size}-byte input"
    assert (out / "big.tif").read_bytes() == _concat_rewrite(
        src.read_bytes(), Config())


# --- fail closed -------------------------------------------------------------

def _bad(kind: str) -> bytes:
    return _source("ghost")[:-10] if kind == "truncated" else b""


@pytest.mark.parametrize("route", ["bytes", "path"])
@pytest.mark.parametrize("kind,match", [("truncated", "tile"),
                                        ("empty", "not a TIFF")])
def test_file_sink_fails_closed(tmp_path, kind, match, route):
    data = _bad(kind)
    if route == "path":
        p = tmp_path / "bad.tif"
        p.write_bytes(data)
        data = _read_local_file(str(p))
    out = tmp_path / "out"
    out.mkdir()
    with pytest.raises(ValueError, match=f"img_00000042.*{match}"):
        _rewrite_file("img_00000042", data, str(out), Config())
    assert os.listdir(out) == []


def test_rewrite_to_dir_empty_blob_fails_closed(spark, tmp_path):
    """A 0-byte blob through the Spark kernel. (read_tiff_dir refuses a
    directory holding a 0-byte file, see test_rewrite_fail_closed; the path
    route's own read of a 0-byte file is covered by
    test_file_sink_fails_closed.)"""
    tiffs = spark.createDataFrame([("img_00000042", b"")],
                                  "image_id string, bytes binary")
    out = tmp_path / "out"
    with pytest.raises(Exception, match="img_00000042.*not a TIFF"):
        rewrite_tiffs_to_dir(tiffs, str(out)).collect()
    assert not out.exists() or os.listdir(out) == []


@pytest.mark.parametrize("route", ["bytes", "path"])
@pytest.mark.parametrize("ghost", [True, False])
def test_rewrite_to_dir_equals_the_concatenating_loop(spark, tmp_path, route,
                                                      ghost):
    """The Spark file sink over every case's source, on both input routes."""
    srcs = {f"img_{i:08d}": _source(c) for i, c in enumerate(sorted(CASES))}
    if route == "path":
        indir = tmp_path / "in"
        indir.mkdir()
        for k, v in srcs.items():
            (indir / f"{k}.tif").write_bytes(v)
        tiffs = read_tiff_dir(spark, str(indir))
    else:
        tiffs = spark.createDataFrame(list(srcs.items()),
                                      "image_id string, bytes binary")
    out = tmp_path / "out"
    rows = rewrite_tiffs_to_dir(tiffs, str(out), ghost=ghost).collect()
    cfg = Config(with_gdal_ghost=ghost)
    assert sorted(os.listdir(out)) == sorted(f"{k}.tif" for k in srcs)
    for r in rows:
        want = _concat_rewrite(srcs[r.image_id], cfg)
        assert (out / f"{r.image_id}.tif").read_bytes() == want
        assert r.out_bytes == len(want)


# --- multi-file sets ---------------------------------------------------------

def _parts():
    main = codec.rewrite_ifd_tree(_level(64, 48, 16, [20] * 12, seed=1))
    ovr = codec.rewrite_ifd_tree(_level(32, 24, 16, [9] * 4, seed=2))
    return main, ovr


def _sets(spark, main, ovr):
    return spark.createDataFrame(
        [("img_00000042", 0, main), ("img_00000042", 1, ovr)],
        "image_id string, part_id int, bytes binary")


def test_rewrite_tiff_sets_folds_the_parts(spark):
    main, ovr = _parts()
    (row,) = rewrite_tiff_sets(_sets(spark, main, ovr)).collect()
    assert bytes(row.cog) == rewrite(main, ovr)
    assert row.in_bytes == len(main) + len(ovr)


@pytest.mark.parametrize("which,match", [("main", "tile"), ("ovr", "tile"),
                                         ("null", "null TIFF blob")])
def test_rewrite_tiff_sets_fails_closed(spark, which, match):
    main, ovr = _parts()
    if which == "main":
        main = main[:-10]
    elif which == "ovr":
        ovr = ovr[:-10]
    else:
        ovr = None
    with pytest.raises(Exception, match=f"img_00000042.*{match}"):
        rewrite_tiff_sets(_sets(spark, main, ovr)).collect()


# --- the one atomic .tif writer ----------------------------------------------

def test_write_tif_removes_tmp_when_the_write_fails(tmp_path):
    def boom(fd):
        os.write(fd, b"partial")
        raise RuntimeError("disk full")

    with pytest.raises(RuntimeError):
        write_tif(str(tmp_path), "img", boom)
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("sink", ["write_cogs", "write_tiff_dir"])
def test_blob_sinks_remove_tmp_when_the_rename_fails(spark, tmp_path, sink):
    """The final name is taken by a directory, so the rename fails: the job
    fails and the `.tmp` is gone."""
    out = tmp_path / "out"
    (out / "img_00000042.tif" / "blocker").mkdir(parents=True)
    cogs = spark.createDataFrame([("img_00000042", _source("ghost"))],
                                 "image_id string, cog binary")
    with pytest.raises(Exception):
        (write_cogs if sink == "write_cogs" else write_tiff_dir)(
            cogs, str(out))
    assert sorted(os.listdir(out)) == ["img_00000042.tif"]
    assert os.listdir(out / "img_00000042.tif") == ["blocker"]

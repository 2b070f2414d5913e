"""The COG sinks equal the grouped assembly of the tile relation: the
streaming blob and parts pipelines give the same rows as
assemble_cogs / assemble_cog_parts over tile_images, on a mixed-size table
and on an oversized RGB+mask image; and the parts writer is crash-atomic."""

import pytest

from cogger_spark.operators.tiling import (
    assemble_cog_parts, assemble_cogs, cog_pipeline, cog_pipeline_parts,
    tile_images)


@pytest.fixture(scope="module")
def big_images(spark, tmp_path_factory):
    import pyarrow.parquet as pq
    from cogger_spark.fixtures import make_images_table
    # dims incl. 1024 so a small tile gives several tile rows and levels,
    # and a 1x1 image
    path = tmp_path_factory.mktemp("strips") / "images.parquet"
    pq.write_table(make_images_table(12, dims=[1024, 700, 513, 1]), path)
    return spark.read.parquet(str(path))


TILE = 256  # small tile → four tile rows per 1024px image


def _blob_rows(cogs):
    return {r.image_id: (bytes(r.cog), r.n_tiles, r.n_levels,
                         r.header_bytes, r.total_bytes)
            for r in cogs.collect()}


def _part_rows(parts):
    return {(r.image_id, r.part_idx): bytes(r.part) for r in parts.collect()}


def test_assemble_parts_equals_whole_blob(spark, big_images):
    """Streaming parts assembly ≡ single-blob assembly: concatenating parts
    in order reproduces assemble_cogs byte-for-byte, with chunk memory
    bounded by tiles_per_part."""
    tiles = tile_images(big_images, tile=TILE)
    whole = {r.image_id: bytes(r.cog)
             for r in assemble_cogs(tile_images(big_images, tile=TILE),
                                    tile=TILE).collect()}
    parts = assemble_cog_parts(tiles, tile=TILE, tiles_per_part=7).collect()
    by_img = {}
    for r in parts:
        by_img.setdefault(r.image_id, []).append((r.part_idx, bytes(r.part)))
    assert set(by_img) == set(whole)
    for iid, plist in by_img.items():
        blob = b"".join(p for _, p in sorted(plist))
        assert blob == whole[iid], iid


def test_write_cog_parts_files(spark, big_images, tmp_path):
    import pathlib
    from cogger_spark.operators.tiling import write_cog_parts
    from cogger_spark.tiff import parse_tiff
    parts = assemble_cog_parts(tile_images(big_images, tile=TILE), tile=TILE)
    out = tmp_path / "parts_out"
    write_cog_parts(parts, str(out))
    whole = {r.image_id: bytes(r.cog)
             for r in assemble_cogs(tile_images(big_images, tile=TILE),
                                    tile=TILE).collect()}
    files = list(pathlib.Path(out).glob("*.tif"))
    assert len(files) == len(whole)
    for f in files:
        data = f.read_bytes()
        assert data == whole[f.stem]
        assert parse_tiff(data).ifds


def test_fused_assemble_equals_grouped(spark, big_images):
    """The fused (one-stage, zero-shuffle) blob sink gives the grouped
    assembly's rows: the same cog bytes, n_tiles, n_levels, header_bytes
    and total_bytes per image."""
    grouped = assemble_cogs(tile_images(big_images, tile=TILE), tile=TILE)
    assert (_blob_rows(cog_pipeline(big_images, tile=TILE))
            == _blob_rows(grouped))


def test_fused_parts_equal_grouped_parts(spark, big_images):
    """The fused parts sink gives the grouped parts assembly's rows,
    (image_id, part_idx) by (image_id, part_idx)."""
    grouped = assemble_cog_parts(tile_images(big_images, tile=TILE),
                                 tile=TILE, tiles_per_part=7)
    assert (_part_rows(cog_pipeline_parts(big_images, tile=TILE,
                                          tiles_per_part=7))
            == _part_rows(grouped))


def test_convert_images_autoroutes_mixed_table(spark, big_images, tmp_path):
    """convert_images end-to-end: mixed small/oversized table → .tif files,
    each byte-identical to the whole-blob direct assembly."""
    import pathlib
    from cogger_spark.operators.tiling import convert_images
    out = tmp_path / "auto_out"
    convert_images(big_images, str(out), tile=TILE,
                   split_threshold_px=600 * 600)
    whole = {r.image_id: bytes(r.cog)
             for r in assemble_cogs(tile_images(big_images, tile=TILE),
                                    tile=TILE).collect()}
    files = {f.stem: f.read_bytes() for f in pathlib.Path(out).glob("*.tif")}
    assert files == whole


@pytest.mark.slow
def test_oversized_e2e_bounded_parts(spark):
    """The oversized e2e: a 32-MPix image through cog_pipeline_parts — the
    streaming core bounds the pixel stages, parts bound the output, and the
    ordered concat equals the grouped whole blob exactly. No emitted row
    holds the whole image: every data part is checked against the
    tiles_per_part bound."""
    import zlib
    from cogger_spark.fixtures import make_pixels
    W, H, TPP = 8192, 4096, 16
    px = make_pixels(0, W, H, 1, False)
    df = spark.createDataFrame(
        [("img_00000000", zlib.compress(px.tobytes(), 1), W, H, "deflate")],
        "image_id string, bytes binary, w int, h int, fmt string")
    parts = cog_pipeline_parts(df, tile=512, tiles_per_part=TPP).collect()
    blob = b"".join(bytes(r.part) for r in sorted(parts, key=lambda r: r.part_idx))
    whole = assemble_cogs(tile_images(df, tile=512), tile=512).collect()[0]
    assert blob == bytes(whole.cog)
    # bound: a data part holds <= TPP ghost-framed single-band 512² tiles
    data_bound = TPP * (512 * 512 * 1 + 8)
    for r in parts:
        if r.part_idx > 0:
            assert len(bytes(r.part)) <= data_bound


def test_write_parts_crash_leaves_no_truncated_final_file(tmp_path):
    """Crash-atomicity of the parts writer (VERDICT r3 what's-wrong #3): a
    task dying mid-image leaves only a dot-tmpfile — completed images are
    visible under their final names, the interrupted one is not — and the
    retry completes normally over the residue."""
    from types import SimpleNamespace as Row

    import pytest

    from cogger_spark.operators.tiling import _write_parts_rows

    def crashing_rows():
        yield Row(image_id="img_a", part_idx=0, part=b"AAAA")
        yield Row(image_id="img_a", part_idx=1, part=b"BBBB")
        yield Row(image_id="img_b", part_idx=0, part=b"CC")
        raise RuntimeError("executor died mid-write")

    with pytest.raises(RuntimeError):
        _write_parts_rows(crashing_rows(), str(tmp_path))
    assert (tmp_path / "img_a.tif").read_bytes() == b"AAAABBBB"
    assert not (tmp_path / "img_b.tif").exists()

    retry = [Row(image_id="img_a", part_idx=0, part=b"AAAA"),
             Row(image_id="img_a", part_idx=1, part=b"BBBB"),
             Row(image_id="img_b", part_idx=0, part=b"CC"),
             Row(image_id="img_b", part_idx=1, part=b"DD")]
    _write_parts_rows(iter(retry), str(tmp_path))
    assert (tmp_path / "img_b.tif").read_bytes() == b"CCDD"
    assert not list(tmp_path.glob(".*.tmp"))


@pytest.mark.slow
def test_oversized_rgb_mask_through_parts(spark):
    """Oversized RGB+mask (4 planes incl. mask, 4096x4096): the blob and
    parts sinks give the grouped assembly's rows — the mask-plane
    interleave and the part boundaries survive the streaming core."""
    import zlib
    from cogger_spark.fixtures import make_pixels
    W, H = 4096, 4096
    px = make_pixels(3, W, H, 3, True)  # RGB + mask plane
    df = spark.createDataFrame(
        [("img_00000003", zlib.compress(px.tobytes(), 1), W, H, "deflate")],
        "image_id string, bytes binary, w int, h int, fmt string")
    tiles = tile_images(df, tile=512)
    assert (_blob_rows(cog_pipeline(df, tile=512))
            == _blob_rows(assemble_cogs(tiles, tile=512)))
    assert (_part_rows(cog_pipeline_parts(df, tile=512, tiles_per_part=7))
            == _part_rows(assemble_cog_parts(tiles, tile=512,
                                             tiles_per_part=7)))

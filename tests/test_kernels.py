"""Unit tests for the NumPy kernels: codecs, downsampling, cell index."""

import numpy as np
import pytest

from cogger_spark.functions import cells
from cogger_spark.functions.imagecodecs import (
    build_pyramid,
    cut_tiles,
    decode_image,
    downsample2x,
    encode_image,
    psnr,
    stitch_tiles,
)
from cogger_spark import fixtures


def test_codec_roundtrip():
    px = fixtures.make_pixels(3, 300, 257, 3, False)
    for fmt in ("raw", "deflate"):
        data = encode_image(px, fmt)
        back = decode_image(data, 300, 257, fmt, 3)
        assert np.array_equal(px, back)


def test_png_decode_is_real_now():
    """png is a real codec (functions/png.py) — decode_image round-trips it;
    corrupt bytes fail loudly rather than raising NotImplementedError."""
    from cogger_spark.functions.png import png_encode
    px = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    assert np.array_equal(decode_image(png_encode(px), 2, 2, "png", 3), px)
    with pytest.raises(ValueError):
        decode_image(b"not a png", 1, 1, "png", 1)


def test_downsample_even():
    px = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    out = downsample2x(px)
    assert out.shape == (2, 2, 1)
    # block [[0,1],[4,5]] mean=2.5 → round-half-up 3
    assert out[0, 0, 0] == 3


def test_downsample_odd_edges():
    px = np.array([[10, 20, 30]], dtype=np.uint8).reshape(1, 3, 1)
    out = downsample2x(px)
    assert out.shape == (1, 2, 1)
    assert out[0, 0, 0] == 15  # mean(10,20)
    assert out[0, 1, 0] == 30  # single edge pixel


@pytest.mark.parametrize("chunk", [1, 700, 256 * 1024])
@pytest.mark.parametrize("shape", [(1, 1, 1), (7, 5, 3), (64, 33, 2),
                                   (129, 96, 5)])
def test_downsample_chunks_equal_closed_form(monkeypatch, chunk, shape):
    """downsample2x runs in row-pair chunks: any chunk size gives the
    closed form — edge-replicate to even dims, round-half-up 2x2 mean."""
    from cogger_spark.functions import imagecodecs
    monkeypatch.setattr(imagecodecs, "DOWNSAMPLE_CHUNK_BYTES", chunk)
    h, w, b = shape
    px = np.random.default_rng(h * w).integers(0, 256, shape, dtype=np.uint8)
    even = np.pad(px, ((0, h & 1), (0, w & 1), (0, 0)), mode="edge")
    quads = even.astype(np.uint32).reshape(
        (h + 1) // 2, 2, (w + 1) // 2, 2, b).sum(axis=(1, 3))
    assert np.array_equal(downsample2x(px), ((quads + 2) // 4).astype(np.uint8))


def test_pyramid_depth_matches_reference_rule():
    # ceil-halving until fits one tile (stripper.go:265-275)
    levels = build_pyramid(np.zeros((301, 301, 1), np.uint8), tile=300,
                           min_overview_size=3)
    assert len(levels) == 2
    levels = build_pyramid(np.zeros((300, 300, 1), np.uint8), tile=300,
                           min_overview_size=3)
    assert len(levels) == 1
    levels = build_pyramid(np.zeros((3, 301, 1), np.uint8), tile=300,
                           min_overview_size=3)
    assert len(levels) == 1


def test_cut_and_stitch_roundtrip():
    px = fixtures.make_pixels(5, 513, 300, 4, True)
    tiles = {(tx, ty): block for tx, ty, block in cut_tiles(px, 128)}
    assert len(tiles) == 5 * 3  # ceil(513/128) x ceil(300/128)
    back = stitch_tiles(tiles, 513, 300, 5, 128)
    assert np.array_equal(px, back)


def test_psnr():
    a = np.zeros((8, 8, 1), np.uint8)
    assert psnr(a, a) == float("inf")
    b = a.copy()
    b[0, 0, 0] = 255
    assert 0 < psnr(a, b) < 40


def test_cell_roundtrip():
    lon = np.array([-175.0, 0.0, 12.34, 179.9])
    lat = np.array([-85.0, 0.0, -45.6, 89.9])
    for res in (0, 5, 10, 20, 28):
        c = cells.cell_encode(lon, lat, res)
        x, y, r = cells.xy_from_cell(c)
        assert np.all(r == res)
        ex, ey = cells.grid_xy(lon, lat, res)
        assert np.array_equal(x, ex) and np.array_equal(y, ey)


def test_cell_parent_contains_child():
    lon, lat = np.array([12.34]), np.array([-45.6])
    child = cells.cell_encode(lon, lat, 15)
    parent = cells.cell_parent(child, 8)
    direct = cells.cell_encode(lon, lat, 8)
    assert np.array_equal(parent, direct)


def test_k_ring_counts_and_membership():
    c = cells.cell_encode(np.array([10.0]), np.array([10.0]), 10)
    ring = cells.k_ring(c, 1)
    assert ring.shape == (1, 9)
    assert c[0] in set(ring[0].tolist())
    assert len(set(ring[0].tolist())) == 9  # interior cell: all distinct


def test_k_ring_clamps_at_border():
    c = cells.cell_encode(np.array([-180.0]), np.array([-90.0]), 10)
    ring = cells.k_ring(c, 1)
    assert len(set(ring[0].tolist())) == 4  # corner: 2x2 distinct


def test_k_ring_rejects_mixed_resolution():
    """Mixed-res input would re-pack every id with the first row's res
    header, silently producing cells of an unrelated grid — guarded."""
    lon, lat = np.array([10.0]), np.array([10.0])
    mixed = np.concatenate([cells.cell_encode(lon, lat, 10),
                            cells.cell_encode(lon, lat, 11)])
    with pytest.raises(ValueError, match="uniform cell resolution"):
        cells.k_ring(mixed, 1)


def test_k_ring_scalar_and_empty_inputs():
    c = cells.cell_encode(np.array([10.0]), np.array([10.0]), 10)
    scalar_ring = cells.k_ring(c[0], 1)  # 0-d scalar accepted
    assert scalar_ring.shape == (1, 9)
    assert np.array_equal(scalar_ring, cells.k_ring(c, 1))
    empty = cells.k_ring(np.empty(0, dtype=np.uint64), 2)
    assert empty.shape == (0, 25) and empty.dtype == np.uint64


def test_minhash_family_exact_mod_p():
    """The (a*x+b) mod p permutation family must be computed exactly in
    uint64: a < 2^32 and odd (so a*x never wraps for crc32 shingles), and
    the vectorized signature equals arbitrary-precision Python-int
    arithmetic term for term (r5 self-review: the old unreduced a wrapped
    mod 2^64 first, which is a different — and unanalyzed — hash family)."""
    from cogger_spark.operators import dedup

    assert (dedup._A < (1 << 32)).all()
    assert (dedup._A % 2 == 1).all()
    th = dedup._shingle_hashes("the quick brown fox jumps over the lazy dog")
    assert len(th) > 0 and (th < (1 << 32)).all()
    vals = ((th[None, :] * dedup._A[:, None]) % np.uint64(dedup._P)
            + dedup._B[:, None]) % np.uint64(dedup._P)
    sig = vals.min(axis=1).astype(np.int64)
    for i in (0, 17, 63):
        expect = min((int(dedup._A[i]) * int(x) + int(dedup._B[i])) % dedup._P
                     for x in th.tolist())
        assert int(sig[i]) == expect


def test_kmeans_sample_smaller_than_k():
    """IVF training on a tiny corpus: k clamps to the sample size instead
    of crashing inside np.random.choice; empty sample fails loudly."""
    from cogger_spark.operators.similarity import _kmeans

    sample = np.arange(12, dtype=np.float64).reshape(3, 4)
    cent = _kmeans(sample, k=8)
    assert cent.shape == (3, 4)
    assert {tuple(r) for r in cent} == {tuple(r) for r in sample}
    with pytest.raises(ValueError, match="empty training sample"):
        _kmeans(np.empty((0, 4)), k=4)


def test_cover_bbox():
    res = 10
    size = cells.cell_size_deg(res)
    covers = cells.cover_bbox(np.array([0.01]), np.array([0.01]),
                              np.array([0.01 + 2.5 * size]), np.array([0.01 + 0.5 * size]),
                              res)
    # ~3.5 cells wide x 1.5 tall around alignment → 3-4 x 1-2 cells
    assert 3 <= len(covers[0]) <= 8
    # every point sampled inside the bbox maps to a covered cell
    pts_lon = np.linspace(0.011, 0.01 + 2.49 * size, 7)
    pts_lat = np.full(7, 0.02)
    pc = cells.cell_encode(pts_lon, pts_lat, res)
    assert set(pc.tolist()) <= set(covers[0].tolist())


def test_fixture_pixels_closed_form():
    # block (1,0) of band 2, pixel flat idx i → ((2*10+0*2+1)*2 * (i%4)) & 255
    px = fixtures.make_pixels(0, 300, 200, 3, False)
    v = (2 * 10 + 0 * 2 + 1) * 2
    # pixel at row 0, col 128 → block (1,0), in-block idx 0 → 0
    assert px[0, 128, 2] == 0
    assert px[0, 129, 2] == (v * 1) & 0xFF
    assert px[0, 131, 2] == (v * 3) & 0xFF


def test_committed_fixtures_match_generator():
    """Drift guard: the committed parquet fixtures must equal the generator's
    output exactly — the DuckDB oracles and Spark queries read the same
    committed bytes, so silent generator drift would desynchronize them."""
    import pyarrow.parquet as pq
    from cogger_spark.fixtures import (
        FIXTURE_DIR, make_images_table, make_points_table, make_zones_table)
    assert make_images_table(240).equals(
        pq.read_table(FIXTURE_DIR / "images_test.parquet"))
    assert make_points_table(240).equals(
        pq.read_table(FIXTURE_DIR / "points_test.parquet"))
    assert make_zones_table(40, 240).equals(
        pq.read_table(FIXTURE_DIR / "zones_test.parquet"))

"""PNG codec validation: own round-trips for every supported band count and
filter type, plus cross-validation against the JVM's javax.imageio (both
directions: our encode → ImageIO decode, ImageIO encode → our decode)."""

import numpy as np
import pytest

from cogger_spark.functions.png import png_decode, png_encode


def _pattern(h, w, bands, seed=3):
    rng = np.random.RandomState(seed)
    grad = (np.arange(w)[None, :] * 3 + np.arange(h)[:, None] * 7) % 251
    px = np.stack([(grad + 13 * b) % 256 for b in range(bands)], axis=2)
    px[h // 3:, : w // 3] = rng.randint(0, 256, (h - h // 3, w // 3, bands))
    return px.astype(np.uint8)


@pytest.mark.parametrize("bands", [1, 2, 3, 4])
def test_own_roundtrip(bands):
    px = _pattern(37, 53, bands)
    assert np.array_equal(png_decode(png_encode(px)), px)


def test_all_filters_decode():
    """Hand-build scanlines with every filter type and verify against a
    straightforward per-pixel reference reconstruction."""
    import struct
    import zlib
    from cogger_spark.functions.png import _SIG, _chunk
    rng = np.random.RandomState(11)
    w, h, ch = 9, 5, 3
    px = rng.randint(0, 256, (h, w, ch)).astype(np.uint8)

    def fil(y, ftype):
        cur = px[y].reshape(-1).astype(np.int32)
        prev = (px[y - 1].reshape(-1).astype(np.int32)
                if y > 0 else np.zeros(w * ch, np.int32))
        out = np.zeros(w * ch, np.int32)
        for i in range(w * ch):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                out[i] = cur[i]
            elif ftype == 1:
                out[i] = cur[i] - a
            elif ftype == 2:
                out[i] = cur[i] - b
            elif ftype == 3:
                out[i] = cur[i] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[i] = cur[i] - pred
        return bytes([ftype]) + (out & 0xFF).astype(np.uint8).tobytes()

    rows = b"".join(fil(y, y % 5) for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(rows)) + _chunk(b"IEND", b""))
    assert np.array_equal(png_decode(data), px)


@pytest.fixture(scope="module")
def jimage(spark):
    jvm = spark._jvm
    return jvm, spark.sparkContext._gateway


def test_our_encode_imageio_decode(jimage):
    """ImageIO must read our PNGs back pixel-identically (RGB)."""
    jvm, gateway = jimage
    px = _pattern(23, 31, 3)
    data = png_encode(px)
    bis = jvm.java.io.ByteArrayInputStream(bytearray(data))
    img = jvm.javax.imageio.ImageIO.read(bis)
    assert img.getWidth() == 31 and img.getHeight() == 23
    h, w = px.shape[:2]
    rgb = img.getRGB(0, 0, w, h, None, 0, w)  # int[] ARGB row-major
    got = np.array(rgb, dtype=np.int64).reshape(h, w)
    want = ((px[:, :, 0].astype(np.int64) << 16)
            | (px[:, :, 1].astype(np.int64) << 8)
            | px[:, :, 2].astype(np.int64))
    assert np.array_equal(got & 0xFFFFFF, want)


def test_imageio_encode_our_decode(jimage):
    """We must read ImageIO's PNGs pixel-identically (exercises whatever
    filter choices the Java encoder makes)."""
    jvm, gateway = jimage
    h, w = 29, 41
    px = _pattern(h, w, 3, seed=9)
    TYPE_INT_RGB = 1  # BufferedImage.TYPE_INT_RGB
    img = jvm.java.awt.image.BufferedImage(w, h, TYPE_INT_RGB)
    argb = ((px[:, :, 0].astype(np.int64) << 16)
            | (px[:, :, 1].astype(np.int64) << 8)
            | px[:, :, 2].astype(np.int64)) | (0xFF << 24)
    # int[] via py4j gateway array
    arr = gateway.new_array(jvm.int, h * w)
    flat = argb.reshape(-1)
    for i in range(h * w):
        v = int(flat[i])
        arr[i] = v - (1 << 32) if v >= (1 << 31) else v
    img.setRGB(0, 0, w, h, arr, 0, w)
    bos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "png", bos)
    data = bytes(bos.toByteArray())
    got = png_decode(data)
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, px)


def test_png_images_through_cog_pipeline(spark):
    """png-format rows tile into COGs whose decoded tiles equal the source
    pixels exactly — any-format ingest through the shared decode_any."""
    from cogger_spark.operators.tiling import cog_pipeline
    from cogger_spark.tiff import assemble_ifd_tree, parse_tiff
    from cogger_spark.tiff.lzw import decode_tile
    px = _pattern(300, 520, 3, seed=21)
    df = spark.createDataFrame(
        [("img_00000007", png_encode(px), 520, 300, "png")],
        "image_id string, bytes binary, w int, h int, fmt string")
    blob = bytes(cog_pipeline(df, tile=256).collect()[0].cog)
    main = assemble_ifd_tree(parse_tiff(blob).ifds)
    assert (main.image_width, main.image_height) == (520, 300)
    got = np.zeros((512, 768, 3), np.uint8)  # padded tile canvas
    for ty in range(main.n_tiles_y()):
        for tx in range(main.n_tiles_x()):
            raw = decode_tile(main.load_tile(main.tile_idx(tx, ty, 0)),
                              main.compression, main.predictor, 256, 256, 3)
            got[ty * 256:(ty + 1) * 256, tx * 256:(tx + 1) * 256] = \
                np.frombuffer(raw, np.uint8).reshape(256, 256, 3)
    assert np.array_equal(got[:300, :520], px)

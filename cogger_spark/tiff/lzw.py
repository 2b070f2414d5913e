"""TIFF LZW decoder (compression 5) + horizontal-predictor undo, pure NumPy/
stdlib.

The reference never decodes pixels (README.md:9-14), but its golden fixtures
are LZW-compressed (testdata/main.go.removeme:17); this decoder lets the test
suite verify golden tile *content* in closed form, and lets users bring
LZW-tiled inputs into the Spark pipeline.

TIFF LZW specifics: MSB-first bit packing, codes start at 9 bits, ClearCode
256, EOI 257, table grows to 12 bits, and the code width bumps one code
EARLIER than vanilla LZW ("early change")."""

from __future__ import annotations

import numpy as np

CLEAR = 256
EOI = 257


def lzw_decode(data: bytes, max_out: int | None = None) -> bytes:
    out = bytearray()
    bitpos = 0
    nbits = 9
    total_bits = len(data) * 8
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None

    def read_code() -> int:
        nonlocal bitpos
        if bitpos + nbits > total_bits:
            return EOI
        byte0 = bitpos // 8
        shift = 24 - nbits - (bitpos % 8)
        window = int.from_bytes(data[byte0:byte0 + 3].ljust(3, b"\x00"), "big")
        bitpos += nbits
        return (window >> shift) & ((1 << nbits) - 1)

    while True:
        code = read_code()
        if code == EOI:
            break
        if code == CLEAR:
            table = table[:258]
            nbits = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # KwKwK case — only the next free code
                entry = prev + prev[:1]
            else:
                raise ValueError(
                    f"corrupt LZW stream: code {code} > table size {len(table)}")
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        # early change: widen when the NEXT code would not fit
        if len(table) + 1 >= (1 << nbits) and nbits < 12:
            nbits += 1
        if max_out is not None and len(out) >= max_out:
            break
    return bytes(out)


def undo_horizontal_predictor(buf: bytes, width: int, height: int,
                              samples: int) -> bytes:
    """TIFF predictor 2: each sample stores the delta to its left neighbor."""
    a = np.frombuffer(buf, dtype=np.uint8).reshape(height, width, samples).copy()
    np.cumsum(a, axis=1, dtype=np.uint8, out=a)
    return a.tobytes()


def decode_tile(payload: bytes | memoryview, compression: int, predictor: int,
                tile_w: int, tile_h: int, samples: int) -> bytes:
    """Decode one TIFF tile payload to raw bytes (compressions 1/5/8/50000).
    `payload` may be any bytes-like object, e.g. a parsed TIFF's
    memoryview `load_tile` slice."""
    import zlib
    payload = bytes(payload)
    n = tile_w * tile_h * samples
    if compression == 1:
        raw = payload
    elif compression == 5:
        raw = lzw_decode(payload, max_out=n)
    elif compression == 8:
        raw = zlib.decompress(payload)
    elif compression == 50000:  # ZSTD (GDAL) — pure-Python frame decoder
        from .zstd import decompress
        raw = decompress(payload)
    else:
        raise NotImplementedError(f"compression {compression}")
    raw = raw[:n]
    if predictor == 2:
        raw = undo_horizontal_predictor(raw, tile_w, tile_h, samples)
    return raw

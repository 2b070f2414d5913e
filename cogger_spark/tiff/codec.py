"""Pure-Python TIFF/COG codec reproducing the reference rewriter's byte layout.

Semantics derived from the reference Go implementation (read-only snapshot at
/root/reference):

* IFD model and tile grid math ..................... cog.go:47-117
* overview / mask tree assembly .................... cog.go:181-258, loader.go:75-99
* tag-structure size accounting .................... cog.go:278-418, field.go:10-146
* COG header + GDAL ghost areas .................... cog.go:460-520
* offset assignment (prefix sum, BigTIFF restart) .. cog.go:522-597
* IFD serialization + overflow areas ............... cog.go:786-1061, field.go:148-481
* deterministic global tile order .................. cog.go:1106-1168
* tile-data streaming with ghost framing ........... cog.go:722-750

This module is dependency-free (stdlib `struct`, `os` only) so it can run both
driver-side and inside Arrow-batched Spark kernels.  It is NOT a port of the
Go code: it is a re-derivation of the wire format the golden files pin down
(tests assert byte-identical md5 against /root/reference/testdata/cog_*.tif).
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field as dc_field
from typing import (Callable, Iterable, Iterator, List, Optional, Sequence,
                    Tuple, Union)

# a piece of an emitted COG: loaded bytes, or a view over a source buffer
Piece = Union[bytes, memoryview]

# --- subfile types (cog.go:12-17) -------------------------------------------
SUBFILE_NONE = 0
SUBFILE_REDUCED = 1
SUBFILE_MASK = 4

# --- TIFF wire types (cog.go:260-276) ----------------------------------------
T_BYTE = 1
T_ASCII = 2
T_SHORT = 3
T_LONG = 4
T_SBYTE = 6
T_UNDEFINED = 7
T_SSHORT = 8
T_SLONG = 9
T_FLOAT = 11
T_DOUBLE = 12
T_LONG8 = 16
T_SLONG8 = 17
T_IFD8 = 18

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8,
               11: 4, 12: 8, 13: 4, 16: 8, 17: 8, 18: 8}

# GDAL ghost areas, byte-exact (cog.go:505-520).
GHOST = (
    "GDAL_STRUCTURAL_METADATA_SIZE=000140 bytes\n"
    "LAYOUT=IFDS_BEFORE_DATA\n"
    "BLOCK_ORDER=ROW_MAJOR\n"
    "BLOCK_LEADER=SIZE_AS_UINT4\n"
    "BLOCK_TRAILER=LAST_4_BYTES_REPEATED\n"
    "KNOWN_INCOMPATIBLE_EDITION=NO\n"
    "  "  # one space per gdal spec + one for word alignment (cog.go:511)
).encode("ascii")

GHOST_MASK = (
    "GDAL_STRUCTURAL_METADATA_SIZE=000174 bytes\n"
    "LAYOUT=IFDS_BEFORE_DATA\n"
    "BLOCK_ORDER=ROW_MAJOR\n"
    "BLOCK_LEADER=SIZE_AS_UINT4\n"
    "BLOCK_TRAILER=LAST_4_BYTES_REPEATED\n"
    "KNOWN_INCOMPATIBLE_EDITION=NO\n"
    " MASK_INTERLEAVED_WITH_IMAGERY=YES\n"  # leading space: room for NO→YES
).encode("ascii")

MAX_U32 = 0xFFFFFFFF


@dataclass
class IFD:
    """One raster level (cog.go:47-90). Field order mirrors ascending tag ids."""

    subfile_type: int = 0                 # tag 254
    image_width: int = 0                  # tag 256
    image_height: int = 0                 # tag 257
    bits_per_sample: Tuple[int, ...] = () # tag 258
    compression: int = 0                  # tag 259
    photometric: int = 0                  # tag 262 (always emitted)
    document_name: str = ""               # tag 269
    samples_per_pixel: int = 0            # tag 277
    planar_configuration: int = 0         # tag 284
    software: str = ""                    # tag 305
    date_time: str = ""                   # tag 306
    predictor: int = 0                    # tag 317
    colormap: Tuple[int, ...] = ()        # tag 320
    tile_width: int = 0                   # tag 322
    tile_height: int = 0                  # tag 323
    tile_offsets: Tuple[int, ...] = ()    # tag 324
    tile_byte_counts: Tuple[int, ...] = () # tag 325
    extra_samples: Tuple[int, ...] = ()   # tag 338
    sample_format: Tuple[int, ...] = ()   # tag 339
    jpeg_tables: bytes = b""              # tag 347
    copyright: str = ""                   # tag 33432
    model_pixel_scale: Tuple[float, ...] = ()   # tag 33550
    model_tie_point: Tuple[float, ...] = ()     # tag 33922
    model_transformation: Tuple[float, ...] = () # tag 34264
    geo_key_directory: Tuple[int, ...] = ()     # tag 34735
    geo_double_params: Tuple[float, ...] = ()   # tag 34736
    geo_ascii_params: str = ""                  # tag 34737
    gdal_metadata: str = ""                     # tag 42112
    nodata: str = ""                            # tag 42113
    lerc_params: Tuple[int, ...] = ()           # tag 50674
    rpcs: Tuple[float, ...] = ()                # tag 50844

    load_tile: Optional[Callable[[int], Piece]] = None  # cog.go:81

    mask: Optional["IFD"] = None          # cog.go:83
    overviews: List["IFD"] = dc_field(default_factory=list)  # largest→smallest

    # internal (populated during rewrite)
    new_tile_offsets: List[int] = dc_field(default_factory=list)
    _ntags: int = 0
    _tag_size: int = 0
    _strile_size: int = 0
    planar_interleaving: Optional[List[List[int]]] = None

    # --- grid math (cog.go:92-117) -------------------------------------
    def n_tiles_x(self) -> int:
        return (self.image_width + self.tile_width - 1) // self.tile_width

    def n_tiles_y(self) -> int:
        return (self.image_height + self.tile_height - 1) // self.tile_height

    def n_planes(self) -> int:
        return self.samples_per_pixel if self.planar_configuration == 2 else 1

    def tile_idx(self, x: int, y: int, plane: int) -> int:
        nx, ny = self.n_tiles_x(), self.n_tiles_y()
        return nx * ny * plane + y * nx + x

    def tile_from_idx(self, idx: int) -> Tuple[int, int, int]:
        nx, ny = self.n_tiles_x(), self.n_tiles_y()
        psize = nx * ny
        plane, pidx = divmod(idx, psize)
        return pidx % nx, pidx // nx, plane

    # --- tree assembly (cog.go:181-258) ---------------------------------
    def _strip_geo(self) -> None:
        """Overviews/masks carry no geo/GDAL metadata (cog.go:186-193, 248-255)."""
        self.model_pixel_scale = ()
        self.model_tie_point = ()
        self.model_transformation = ()
        self.geo_ascii_params = ""
        self.geo_double_params = ()
        self.geo_key_directory = ()
        self.gdal_metadata = ""
        self.rpcs = ()

    def add_overview(self, ovr: "IFD") -> None:
        if ovr.overviews:
            raise ValueError("cannot add overview with embedded overview")
        ovr.subfile_type = SUBFILE_REDUCED
        ovr._strip_geo()
        idx = 0
        for idx in range(len(self.overviews)):
            if (self.overviews[idx].image_width > ovr.image_width
                    or self.overviews[idx].image_height > ovr.image_height):
                idx += 1
                continue
            break
        prev = self.overviews[-1] if self.overviews else self
        if ((prev.image_width < ovr.image_width or prev.image_height < ovr.image_height)
                or (prev.image_width == ovr.image_width
                    and prev.image_height == ovr.image_height)):
            raise ValueError("invalid overview size")
        if (prev.samples_per_pixel != ovr.samples_per_pixel
                or len(prev.bits_per_sample) != len(ovr.bits_per_sample)):
            raise ValueError("invalid band count")
        if ovr.mask is not None:
            ovr.mask.subfile_type = SUBFILE_MASK | SUBFILE_REDUCED
        self.overviews.insert(idx, ovr)

    def add_mask(self, msk: "IFD") -> None:
        if msk.mask is not None or msk.overviews:
            raise ValueError("cannot add mask containing overviews or mask")
        if self.planar_interleaving:
            raise ValueError("add_mask must be called before set_planar_interleaving")
        if (msk.image_width != self.image_width or msk.image_height != self.image_height
                or msk.tile_width != self.tile_width or msk.tile_height != self.tile_height
                or msk.samples_per_pixel != 1 or len(msk.bits_per_sample) != 1
                or len(msk.tile_byte_counts) != len(self.tile_byte_counts) // self.n_planes()):
            raise ValueError("incompatible mask structure")
        if self.subfile_type == SUBFILE_NONE:
            msk.subfile_type = SUBFILE_MASK
        elif self.subfile_type == SUBFILE_REDUCED:
            msk.subfile_type = SUBFILE_MASK | SUBFILE_REDUCED
        else:
            raise ValueError("invalid parent subfiletype")
        msk._strip_geo()
        self.mask = msk

    # --- planar interleaving (cog.go:123-179) ----------------------------
    def set_planar_interleaving(self, pi: Sequence[Sequence[int]]) -> None:
        if self.planar_configuration != 2:
            raise ValueError("ifd is not PLANARCONFIG_SEPARATE")
        n = self.samples_per_pixel + (1 if self.mask is not None else 0)
        seen = [False] * n
        for group in pi:
            for p in group:
                if p < 0 or p >= n or seen[p]:
                    raise ValueError(f"invalid/duplicate entry {p}")
                seen[p] = True
        if not all(seen):
            raise ValueError("missing entry")
        self.planar_interleaving = [list(g) for g in pi]

    def set_default_planar_interleaving(self) -> None:
        if self.planar_interleaving is not None:
            return
        if self.n_planes() == 1:
            self.planar_interleaving = [[0, 1]] if self.mask is not None else [[0]]
            return
        n = self.samples_per_pixel + (1 if self.mask is not None else 0)
        self.set_planar_interleaving([list(range(n))])


# =============================================================================
# Parsing (role of google/tiff + loader.go:11-53)
# =============================================================================

# tag id -> (attr, kind).  kind ∈ scalar|ints|floats|ascii|bytes
_TAG_MAP = {
    254: ("subfile_type", "scalar"),
    256: ("image_width", "scalar"),
    257: ("image_height", "scalar"),
    258: ("bits_per_sample", "ints"),
    259: ("compression", "scalar"),
    262: ("photometric", "scalar"),
    269: ("document_name", "ascii"),
    277: ("samples_per_pixel", "scalar"),
    284: ("planar_configuration", "scalar"),
    305: ("software", "ascii"),
    306: ("date_time", "ascii"),
    317: ("predictor", "scalar"),
    320: ("colormap", "ints"),
    322: ("tile_width", "scalar"),
    323: ("tile_height", "scalar"),
    324: ("tile_offsets", "ints"),
    325: ("tile_byte_counts", "ints"),
    338: ("extra_samples", "ints"),
    339: ("sample_format", "ints"),
    347: ("jpeg_tables", "bytes"),
    33432: ("copyright", "ascii"),
    33550: ("model_pixel_scale", "floats"),
    33922: ("model_tie_point", "floats"),
    34264: ("model_transformation", "floats"),
    34735: ("geo_key_directory", "ints"),
    34736: ("geo_double_params", "floats"),
    34737: ("geo_ascii_params", "ascii"),
    42112: ("gdal_metadata", "ascii"),
    42113: ("nodata", "ascii"),
    50674: ("lerc_params", "ints"),
    50844: ("rpcs", "floats"),
}


@dataclass
class TiffFile:
    """A parsed TIFF: raw bytes + the flat IFD chain."""

    data: bytes
    byte_order: str  # '<' or '>'
    big_tiff: bool
    ifds: List[IFD]


def _decode_values(data: bytes, bo: str, typ: int, count: int, raw: bytes):
    size = _TYPE_SIZES.get(typ)
    if size is None:
        return None
    if typ == T_ASCII:
        s = raw[:count]
        return s.split(b"\x00", 1)[0].decode("latin-1")
    if typ in (T_BYTE, T_UNDEFINED):
        return raw[:count]
    fmt = {T_SHORT: "H", T_LONG: "I", T_SBYTE: "b", T_SSHORT: "h",
           T_SLONG: "i", T_FLOAT: "f", T_DOUBLE: "d", T_LONG8: "Q",
           T_SLONG8: "q", 5: "II", 10: "ii", 13: "I", T_IFD8: "Q"}.get(typ)
    if fmt is None:
        return None
    if typ in (5, 10):  # rationals: unused by the model, skip
        return None
    vals = struct.unpack(bo + fmt * count, raw[: size * count])
    return vals


def parse_tiff(data: bytes) -> TiffFile:
    """Parse a (Big)TIFF byte string into its flat IFD chain.

    Plays the role of `tiff.Parse` + `UnmarshalIFD` (loader.go:11-53):
    unknown tags are ignored; each tiled IFD gets a `load_tile` that returns
    a zero-copy memoryview slice of the source bytes (loader.go:45-51).
    Malformed input fails closed: a truncated header, IFD or tag value, an
    IFD chain that loops, or a tiled IFD with a zero tile width or length
    or with fewer TileOffsets or TileByteCounts than its tile grid has
    tiles, raises ValueError naming the offset.
    """
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    n = len(data)

    def unpack(fmt: str, at: int, what: str) -> tuple:
        try:
            return struct.unpack_from(bo + fmt, data, at)
        except struct.error:
            raise ValueError(f"truncated TIFF: {what} at offset {at} "
                             f"runs past the end ({n} bytes)") from None

    version = unpack("H", 2, "header")[0]
    if version == 42:
        big = False
        off = unpack("I", 4, "header")[0]
    elif version == 43:
        big = True
        bytesize, zero = unpack("HH", 4, "header")
        if bytesize != 8 or zero != 0:
            raise ValueError("bad bigtiff header")
        off = unpack("Q", 8, "header")[0]
    else:
        raise ValueError(f"bad TIFF version {version}")

    view = memoryview(data)
    ifds: List[IFD] = []
    seen = set()
    while off != 0:
        if off in seen:
            raise ValueError(f"bad TIFF: IFD chain loops at offset {off}")
        seen.add(off)
        ifd = IFD()
        if big:
            ntags = unpack("Q", off, "IFD")[0]
            entry_off, entry_len, next_len = off + 8, 20, 8
        else:
            ntags = unpack("H", off, "IFD")[0]
            entry_off, entry_len, next_len = off + 2, 12, 4
        after = entry_off + ntags * entry_len
        if after + next_len > n:
            raise ValueError(f"truncated TIFF: IFD at offset {off} with "
                             f"{ntags} entries runs past the end ({n} bytes)")
        for i in range(ntags):
            e = entry_off + i * entry_len
            tag, typ = struct.unpack_from(bo + "HH", data, e)
            spec = _TAG_MAP.get(tag)
            if spec is None:
                continue
            if big:
                count = struct.unpack_from(bo + "Q", data, e + 4)[0]
                inline = data[e + 12:e + 20]
                inline_cap = 8
            else:
                count = struct.unpack_from(bo + "I", data, e + 4)[0]
                inline = data[e + 8:e + 12]
                inline_cap = 4
            size = _TYPE_SIZES.get(typ, 0) * count
            if size <= inline_cap:
                raw = inline
            else:
                if big:
                    voff = struct.unpack(bo + "Q", inline)[0]
                else:
                    voff = struct.unpack(bo + "I", inline[:4])[0]
                if voff + size > n:
                    raise ValueError(
                        f"truncated TIFF: tag {tag} values at offset {voff} "
                        f"({size} bytes) run past the end ({n} bytes)")
                raw = data[voff:voff + size]
            attr, kind = spec
            vals = _decode_values(data, bo, typ, count, raw)
            if vals is None:
                continue
            if kind == "scalar":
                if not vals:
                    raise ValueError(f"bad TIFF: tag {tag} at offset {e} "
                                     "has no value")
                setattr(ifd, attr, int(vals[0]))
            elif kind == "ints":
                setattr(ifd, attr, tuple(int(v) for v in vals))
            elif kind == "floats":
                setattr(ifd, attr, tuple(float(v) for v in vals))
            elif kind == "ascii":
                setattr(ifd, attr, vals)
            elif kind == "bytes":
                setattr(ifd, attr, bytes(vals))
        if ifd.tile_offsets and not (ifd.tile_width and ifd.tile_height):
            raise ValueError(f"bad TIFF: tiled IFD at offset {off} has a "
                             f"zero tile size {ifd.tile_width}x"
                             f"{ifd.tile_height}")
        if ifd.tile_offsets:
            need = ifd.n_tiles_x() * ifd.n_tiles_y() * ifd.n_planes()
            if need > min(len(ifd.tile_offsets), len(ifd.tile_byte_counts)):
                raise ValueError(
                    f"bad TIFF: tiled IFD at offset {off} has a "
                    f"{ifd.n_tiles_x()}x{ifd.n_tiles_y()}x{ifd.n_planes()} "
                    f"tile grid but {len(ifd.tile_offsets)} TileOffsets and "
                    f"{len(ifd.tile_byte_counts)} TileByteCounts")
        off = struct.unpack_from(bo + ("Q" if big else "I"), data, after)[0]

        # bind the lazy tile reader (loader.go:45-51)
        offsets, counts = ifd.tile_offsets, ifd.tile_byte_counts

        def load_tile(idx: int, _o=offsets, _c=counts, _d=view) -> memoryview:
            return _d[_o[idx]:_o[idx] + _c[idx]]

        ifd.load_tile = load_tile
        ifds.append(ifd)
    return TiffFile(data=data, byte_order=bo, big_tiff=big, ifds=ifds)


def assemble_ifd_tree(ifds: List[IFD]) -> IFD:
    """Sort + fold a flat IFD list into main/mask/overview tree (loader.go:75-99)."""
    ifds = sorted(ifds, key=lambda f: (-(f.image_width * f.image_height), f.subfile_type))
    if ifds[0].subfile_type != 0:
        raise ValueError(
            f"failed sort: first px={ifds[0].image_width}x{ifds[0].image_height} "
            f"type={ifds[0].subfile_type}")
    main = ifds[0]
    cur = main
    w, h = cur.image_width, cur.image_height
    for ci in ifds[1:]:
        if ci.image_height == h and ci.image_width == w:
            cur.add_mask(ci)
        else:
            main.add_overview(ci)
            cur = ci
            w, h = cur.image_width, cur.image_height
    return main


# =============================================================================
# Tag-structure sizing (cog.go:278-418, field.go:10-146)
# =============================================================================

def _array_field_size32(n: int, bigtiff: bool) -> int:
    # field.go:10-31 — u32-encoded array entry size
    if bigtiff:
        return 20 if n <= 2 else 20 + 4 * n
    return 12 if n <= 1 else 12 + 4 * n


def _array_field_size(kind: str, n: int, bigtiff: bool) -> int:
    """field.go:33-146 — full entry size (inline or 12/20-byte entry + overflow)."""
    if bigtiff:
        caps = {"bytes": 8, "u16": 4, "u32": 2, "u64": 1, "f32": 2, "f64": 1}
        widths = {"bytes": 1, "u16": 2, "u32": 4, "u64": 8, "f32": 4, "f64": 8}
        if kind == "ascii":
            return 20 if n <= 7 else 20 + n + 1
        return 20 if n <= caps[kind] else 20 + widths[kind] * n
    caps = {"bytes": 4, "u16": 2, "u32": 1, "f32": 1}
    widths = {"bytes": 1, "u16": 2, "u32": 4, "f32": 4}
    if kind == "ascii":
        return 12 if n <= 3 else 12 + n + 1
    if kind in ("f64", "u64"):  # classic: never inline (field.go:136-141)
        return 12 + 8 * n
    return 12 if n <= caps[kind] else 12 + widths[kind] * n


# fields in emission order: (attr, tag, kind)
# kind: scalar_u32 | scalar_u16 | u16s | u32s | ascii | bytes | f64s
_WRITE_PLAN = [
    ("subfile_type", 254, "scalar_u32"),
    ("image_width", 256, "scalar_u32"),
    ("image_height", 257, "scalar_u32"),
    ("bits_per_sample", 258, "u16s"),
    ("compression", 259, "scalar_u16"),
    ("photometric", 262, "always_u16"),
    ("document_name", 269, "ascii"),
    ("samples_per_pixel", 277, "scalar_u16"),
    ("planar_configuration", 284, "scalar_u16"),
    ("software", 305, "ascii"),
    ("date_time", 306, "ascii"),
    ("predictor", 317, "scalar_u16"),
    ("colormap", 320, "u16s"),
    ("tile_width", 322, "scalar_u16"),
    ("tile_height", 323, "scalar_u16"),
    # 324/325 handled specially (strile arrays)
    ("extra_samples", 338, "u16s"),
    ("sample_format", 339, "u16s"),
    ("jpeg_tables", 347, "bytes"),
    ("copyright", 33432, "ascii"),
    ("model_pixel_scale", 33550, "f64s"),
    ("model_tie_point", 33922, "f64s"),
    ("model_transformation", 34264, "f64s"),
    ("geo_key_directory", 34735, "u16s"),
    ("geo_double_params", 34736, "f64s"),
    ("geo_ascii_params", 34737, "ascii"),
    ("gdal_metadata", 42112, "ascii"),
    ("nodata", 42113, "ascii"),
    ("lerc_params", 50674, "u32s"),
    ("rpcs", 50844, "f64s"),
]


def _compute_structure(ifd: IFD, bigtiff: bool) -> None:
    """Count tags + accumulate tag/strile byte sizes (cog.go:278-418)."""
    ntags = 0
    tag_size = 16 if bigtiff else 6  # field count + next-ifd pointer
    entry = 20 if bigtiff else 12
    strile = 0

    for attr, tag, kind in _WRITE_PLAN:
        v = getattr(ifd, attr)
        if kind == "always_u16":
            ntags += 1
            tag_size += entry
        elif kind in ("scalar_u32", "scalar_u16"):
            if v > 0:
                ntags += 1
                tag_size += entry
        elif kind == "u16s":
            if len(v) > 0:
                ntags += 1
                tag_size += _array_field_size("u16", len(v), bigtiff)
        elif kind == "u32s":
            if len(v) > 0:
                ntags += 1
                tag_size += _array_field_size("u32", len(v), bigtiff)
        elif kind == "ascii":
            if len(v) > 0:
                ntags += 1
                tag_size += _array_field_size("ascii", len(v), bigtiff)
        elif kind == "bytes":
            if len(v) > 0:
                ntags += 1
                tag_size += _array_field_size("bytes", len(v), bigtiff)
        elif kind == "f64s":
            if len(v) > 0:
                ntags += 1
                tag_size += _array_field_size("f64", len(v), bigtiff)
        else:  # pragma: no cover
            raise AssertionError(kind)
        if tag == 323:
            # TileOffsets (324): entry in tag area, data in strile area
            # (cog.go:347-356); u64 when bigtiff, else u32.
            n = len(ifd.tile_byte_counts)
            if n > 0:
                ntags += 1
                tag_size += entry
                if bigtiff:
                    strile += _array_field_size("u64", n, True) - entry
                else:
                    strile += _array_field_size32(n, False) - entry
            # TileByteCounts (325): always u32-encoded (cog.go:357-361)
            if n > 0:
                ntags += 1
                tag_size += entry
                strile += _array_field_size32(n, bigtiff) - entry

    ifd._ntags = ntags
    ifd._tag_size = tag_size
    ifd._strile_size = strile


# =============================================================================
# Deterministic global tile order (cog.go:1106-1168)
# =============================================================================

def _ifd_interlacing(main: IFD) -> List[Tuple[IFD, Optional[IFD]]]:
    """Data order: smallest overview → … → largest overview → full-res
    (cog.go:1106-1124). Masks ride along only if the main IFD has one."""
    havemask = main.mask is not None
    out: List[Tuple[IFD, Optional[IFD]]] = []
    for oifd in reversed(main.overviews):
        out.append((oifd, oifd.mask if havemask else None))
    out.append((main, main.mask if havemask else None))
    return out


def tile_order(main: IFD) -> Iterator[Tuple[IFD, int, int, int]]:
    """Yield (ifd, x, y, plane) in the exact global write order
    (cog.go:1126-1168): per level, per interleave-group, row-major y→x,
    plane-within-group; the mask plane index is SamplesPerPixel (planar)
    or 1 (pixel-interleaved)."""
    for ifd, mask in _ifd_interlacing(main):
        mask_idx = -1
        if mask is not None:
            mask_idx = ifd.samples_per_pixel if ifd.planar_configuration == 2 else 1
        ntx, nty = ifd.n_tiles_x(), ifd.n_tiles_y()
        if ifd.planar_interleaving is None:
            ifd.set_default_planar_interleaving()
        for group in ifd.planar_interleaving:
            for y in range(nty):
                for x in range(ntx):
                    for p in group:
                        if p != mask_idx:
                            yield ifd, x, y, p
                        else:
                            yield mask, x, y, 0


def _all_ifds(main: IFD) -> List[IFD]:
    """Header order: main, its mask, then overviews largest→smallest, each
    followed by its mask (cog.go:686-713)."""
    out = [main]
    if main.mask is not None:
        out.append(main.mask)
    for o in main.overviews:
        out.append(o)
        if o.mask is not None:
            out.append(o.mask)
    return out


# =============================================================================
# Serialization
# =============================================================================

@dataclass
class Config:
    """cog.go:429-450."""

    little_endian: bool = True
    big_tiff: bool = False
    planar_interleaving: Optional[List[List[int]]] = None
    with_gdal_ghost: bool = True


class _Writer:
    """Serializes one IFD tree as a COG (cog.go:599-750).

    header() plans every offset from the tile byte counts alone; pieces()
    then emits the file as a stream of pieces: the header, and for each
    tile in COG order its 4-byte leader, its payload exactly as
    `load_tile` returned it (for a parsed TIFF a zero-copy view of the
    source) and its 4-byte trailer. Nothing concatenates payloads here: a
    caller joins the pieces once (rewrite) or hands them to write_pieces,
    which writes them to a file descriptor with batched os.writev."""

    def __init__(self, main: IFD, cfg: Config):
        self.ifd = main
        self.enc = "<" if cfg.little_endian else ">"
        self.bigtiff = cfg.big_tiff
        self.ghost = cfg.with_gdal_ghost
        self.planar_interleaving = cfg.planar_interleaving

    # --- offsets (cog.go:522-597) ----------------------------------------
    def _compute_imagery_offsets(self) -> None:
        main = self.ifd
        nplanes = main.n_planes()
        have_mask = main.mask is not None
        for ifd in _all_ifds(main):
            _compute_structure(ifd, self.bigtiff)
        for oifd in main.overviews:
            if oifd.n_planes() != nplanes:
                raise ValueError("inconsistent band count")
            if (oifd.mask is not None) != have_mask:
                raise ValueError("inconsistent mask count")

        data_offset = 16 if self.bigtiff else 8
        if self.ghost:
            glen = len(GHOST_MASK) if main.mask is not None else len(GHOST)
            data_offset += glen + 4  # +4: first tile's BLOCK_LEADER (cog.go:549-555)
        for ifd in _all_ifds(main):
            data_offset += ifd._strile_size + ifd._tag_size

        for ifd, x, y, p in tile_order(main):
            tileidx = ifd.tile_idx(x, y, p)
            bc = ifd.tile_byte_counts[tileidx]
            if bc > 0:
                if not self.bigtiff and data_offset > MAX_U32:
                    # adaptive BigTIFF restart (cog.go:576-587)
                    self.bigtiff = True
                    self._alloc_new_offsets()
                    return self._compute_imagery_offsets()
                ifd.new_tile_offsets[tileidx] = data_offset
                data_offset += bc
                if self.ghost:
                    data_offset += 8
            else:
                ifd.new_tile_offsets[tileidx] = 0  # sparse elision (cog.go:592-594)

    def _alloc_new_offsets(self) -> None:
        for ifd in _all_ifds(self.ifd):
            ifd.new_tile_offsets = [0] * len(ifd.tile_byte_counts)

    # --- header (cog.go:460-520) -----------------------------------------
    def _header_bytes(self) -> bytes:
        glen = 0
        gbytes = b""
        if self.ghost:
            gbytes = GHOST_MASK if self.ifd.mask is not None else GHOST
            glen = len(gbytes)
        if self.bigtiff:
            mark = b"II" if self.enc == "<" else b"MM"
            return (mark + struct.pack(self.enc + "HHH", 43, 8, 0)
                    + struct.pack(self.enc + "Q", 16 + glen) + gbytes)
        mark = b"II" if self.enc == "<" else b"MM"
        return (mark + struct.pack(self.enc + "H", 42)
                + struct.pack(self.enc + "I", 8 + glen) + gbytes)

    # --- field encoders (field.go:148-481) --------------------------------
    def _entry(self, tag: int, typ: int, count: int, payload: bytes) -> bytes:
        if self.bigtiff:
            head = struct.pack(self.enc + "HH", tag, typ) + struct.pack(self.enc + "Q", count)
            return head + payload.ljust(8, b"\x00")[:8]
        head = struct.pack(self.enc + "HH", tag, typ) + struct.pack(self.enc + "I", count)
        return head + payload.ljust(4, b"\x00")[:4]

    def _off_payload(self, next_offset: int) -> bytes:
        if self.bigtiff:
            return struct.pack(self.enc + "Q", next_offset)
        return struct.pack(self.enc + "I", next_offset)

    def _write_field(self, out: bytearray, tag: int, value, kind: str) -> None:
        """Scalar field (field.go:378-481)."""
        if kind == "u16":
            payload = struct.pack(self.enc + "H", value)
            out += self._entry(tag, T_SHORT, 1, payload)
        elif kind == "u32":
            payload = struct.pack(self.enc + "I", value)
            out += self._entry(tag, T_LONG, 1, payload)
        else:  # pragma: no cover
            raise AssertionError(kind)

    def _write_array(self, out: bytearray, tag: int, values, kind: str,
                     overflow: "_TagArea") -> None:
        """Array/string field, inline or spilled to overflow area
        (field.go:161-376)."""
        enc = self.enc
        if kind == "ascii":
            data = values.encode("latin-1") + b"\x00"
            n = len(data)
            cap_ = 8 if self.bigtiff else 4
            if n <= cap_:
                out += self._entry(tag, T_ASCII, n, data)
            else:
                out += self._entry(tag, T_ASCII, n, self._off_payload(overflow.next_offset()))
                overflow.write(data)
            return
        if kind == "bytes":
            n = len(values)
            cap_ = 8 if self.bigtiff else 4
            if n <= cap_:
                out += self._entry(tag, T_BYTE, n, bytes(values))
            else:
                out += self._entry(tag, T_BYTE, n, self._off_payload(overflow.next_offset()))
                overflow.write(bytes(values))
            return
        spec = {
            "u16": (T_SHORT, "H", 4 if self.bigtiff else 2),
            "u32": (T_LONG, "I", 2 if self.bigtiff else 1),
            "u64": (T_LONG8, "Q", 1 if self.bigtiff else 0),
            "f32": (T_FLOAT, "f", 2 if self.bigtiff else 1),
            "f64": (T_DOUBLE, "d", 1 if self.bigtiff else 0),
        }[kind]
        typ, fmt, inline_cap = spec
        n = len(values)
        data = struct.pack(enc + fmt * n, *values)
        if n <= inline_cap:
            out += self._entry(tag, typ, n, data)
        else:
            out += self._entry(tag, typ, n, self._off_payload(overflow.next_offset()))
            overflow.write(data)

    # --- one IFD (cog.go:786-1061) -----------------------------------------
    def _write_ifd(self, ifd: IFD, offset: int, strile: "_TagArea",
                   has_next: bool) -> bytes:
        out = bytearray()
        next_off = offset + ifd._tag_size if has_next else 0
        if self.bigtiff:
            overflow = _TagArea(offset + 8 + 20 * ifd._ntags + 8)
            out += struct.pack(self.enc + "Q", ifd._ntags)
        else:
            overflow = _TagArea(offset + 2 + 12 * ifd._ntags + 4)
            out += struct.pack(self.enc + "H", ifd._ntags)

        for attr, tag, kind in _WRITE_PLAN:
            v = getattr(ifd, attr)
            if kind == "always_u16":
                self._write_field(out, tag, v, "u16")
            elif kind == "scalar_u32":
                if v > 0:
                    self._write_field(out, tag, v, "u32")
            elif kind == "scalar_u16":
                if v > 0:
                    self._write_field(out, tag, v, "u16")
            elif kind == "u16s":
                if v:
                    self._write_array(out, tag, v, "u16", overflow)
            elif kind == "u32s":
                if v:
                    self._write_array(out, tag, v, "u32", overflow)
            elif kind == "ascii":
                if v:
                    self._write_array(out, tag, v, "ascii", overflow)
            elif kind == "bytes":
                if v:
                    self._write_array(out, tag, v, "bytes", overflow)
            elif kind == "f64s":
                if v:
                    self._write_array(out, tag, v, "f64", overflow)
            if tag == 323:
                # TileOffsets (cog.go:921-932): u64 in bigtiff else u32;
                # TileByteCounts (cog.go:934-940): always u32.
                if ifd.new_tile_offsets:
                    if self.bigtiff:
                        self._write_array(out, 324, ifd.new_tile_offsets, "u64", strile)
                    else:
                        self._write_array(out, 324,
                                          [v & MAX_U32 for v in ifd.new_tile_offsets],
                                          "u32", strile)
                if ifd.tile_byte_counts:
                    self._write_array(out, 325,
                                      [v & MAX_U32 for v in ifd.tile_byte_counts],
                                      "u32", strile)

        out += self._off_payload(next_off)
        out += overflow.data
        return bytes(out)

    # --- whole header (cog.go:599-720) ---------------------------------------
    def header(self) -> bytes:
        main = self.ifd
        have_planar = main.n_planes() > 1 or any(o.n_planes() > 1 for o in main.overviews)
        if have_planar:
            self.ghost = False  # cog.go:600-608

        if not self.planar_interleaving:
            for ifd in [main] + main.overviews:
                ifd.set_default_planar_interleaving()
        else:
            for ifd in [main] + main.overviews:
                if not ifd.planar_interleaving:
                    ifd.set_planar_interleaving(self.planar_interleaving)

        self._alloc_new_offsets()
        self._compute_imagery_offsets()

        hdr_len = 16 if self.bigtiff else 8
        if self.ghost:
            hdr_len += len(GHOST_MASK) if main.mask is not None else len(GHOST)

        strile = _TagArea(hdr_len + sum(f._tag_size for f in _all_ifds(main)))

        out = bytearray(self._header_bytes())
        off = hdr_len
        ifds = _all_ifds(main)
        # next-pointer chain (cog.go:686-713)
        for i, ifd in enumerate(ifds):
            out += self._write_ifd(ifd, off, strile, i != len(ifds) - 1)
            off += ifd._tag_size
        out += strile.data
        return bytes(out)

    # --- the whole file as pieces (cog.go:722-750) ---------------------------
    def pieces(self) -> Iterator[Piece]:
        yield self.header()
        ghost = self.ghost  # header() turns it off for planar files
        for ifd, x, y, p in tile_order(self.ifd):
            idx = ifd.tile_idx(x, y, p)
            bc = ifd.tile_byte_counts[idx]
            if bc <= 0:
                continue
            payload = ifd.load_tile(idx)
            if len(payload) != bc:
                raise ValueError(f"tile {idx}: got {len(payload)} bytes, want {bc}")
            if ghost:
                # leader: size as LE uint32; trailer: last 4 bytes repeated
                # (cog.go:733-743 — always little-endian). A tile shorter
                # than 4 bytes repeats part of its own leader.
                lead = struct.pack("<I", bc)
                yield lead
                yield payload
                yield payload[-4:] if bc >= 4 else (lead + bytes(payload))[-4:]
            else:
                yield payload


class _TagArea:
    """Append-only overflow/strile area with running offset (cog.go:420-427)."""

    def __init__(self, offset: int):
        self.offset = offset
        self.data = bytearray()

    def next_offset(self) -> int:
        return self.offset + len(self.data)

    def write(self, b: bytes) -> None:
        self.data += b


# os.writev takes at most IOV_MAX buffers per call
_IOV_MAX = os.sysconf("SC_IOV_MAX")
# bytes pieces (not views) a write batch may hold, e.g. payloads os.pread
# from a spill file, before it is flushed
_BATCH_LOADED_BYTES = 4 * 1024 * 1024


def _writev_all(fd: int, batch: List[Piece]) -> int:
    """os.writev the whole batch, resuming after short writes."""
    total = left = sum(map(len, batch))
    while True:
        n = os.writev(fd, batch)
        if n <= 0:
            raise OSError(f"writev wrote {n} of {left} bytes")
        left -= n
        if not left:
            return total
        i = 0
        while n >= len(batch[i]):  # drop the pieces written whole
            n -= len(batch[i])
            i += 1
        batch = [memoryview(batch[i])[n:]] + batch[i + 1:]


def write_pieces(fd: int, pieces: Iterable[Piece]) -> int:
    """Write `pieces` in order to file descriptor `fd`; returns the byte
    count. Pieces go out in batched os.writev calls, so views are never
    copied in user space. A batch is flushed at IOV_MAX pieces or once its
    bytes pieces (loaded data, not views) reach 4 MB, whichever comes
    first: that bounds what a loader such as os.pread can queue."""
    total, batch, loaded = 0, [], 0
    for piece in pieces:
        batch.append(piece)
        if not isinstance(piece, memoryview):
            loaded += len(piece)
        if len(batch) >= _IOV_MAX or loaded >= _BATCH_LOADED_BYTES:
            total += _writev_all(fd, batch)
            batch, loaded = [], 0
    if batch:
        total += _writev_all(fd, batch)
    return total


def rewrite_ifd_tree(main: IFD, cfg: Optional[Config] = None) -> bytes:
    """RewriteIFDTree (cog.go:782-784): header + tile data, one byte string."""
    return b"".join(_Writer(main, cfg or Config()).pieces())


def _assemble_sources(*sources: bytes) -> IFD:
    """Parse N TIFFs (main + external overview files) into one IFD tree
    (loader.go:63-106)."""
    if not sources:
        raise ValueError("missing readers")
    order = None
    flat: List[IFD] = []
    for i, src in enumerate(sources):
        tf = parse_tiff(src)
        if i == 0:
            order = tf.byte_order
        elif tf.byte_order != order:
            raise ValueError("inconsistent tif byte ordering")
        for ifd in tf.ifds:
            if not ifd.tile_byte_counts or len(ifd.tile_byte_counts) != len(ifd.tile_offsets):
                raise ValueError("ifd is not tiled")
            flat.append(ifd)
    return assemble_ifd_tree(flat)


def rewrite_pieces(*sources: bytes,
                   cfg: Optional[Config] = None) -> Iterator[Piece]:
    """Parse N TIFFs and assemble their IFD tree now; return the COG as a
    piece stream (_Writer.pieces): the header first, then the data section
    as views of `sources`. Feed it to write_pieces to write a file without
    materializing the COG."""
    return _Writer(_assemble_sources(*sources), cfg or Config()).pieces()


def rewrite(*sources: bytes, cfg: Optional[Config] = None) -> bytes:
    """cogger.Rewrite (loader.go:59-106): parse N TIFFs, assemble, re-emit COG."""
    return rewrite_ifd_tree(_assemble_sources(*sources), cfg)


def rewrite_split(*sources: bytes,
                  cfg: Optional[Config] = None) -> tuple[bytes, bytes]:
    """RewriteSplitted / RewriteIFDTreeSplitted (loader.go:67,
    cog.go:765-780): header and tile data emitted as separate buffers so a
    sink can route metadata and payload bytes to different destinations;
    header + data concatenated equals rewrite() byte-for-byte."""
    pieces = rewrite_pieces(*sources, cfg=cfg)
    return next(pieces), b"".join(pieces)

"""From-scratch TIFF codec — stdlib + numpy only.

Widens ``decode_image``'s foreign-file surface (no PIL in this
container) with the last mainstream still-image container: TIFF 6.0
(public spec), both byte orders. The reference engine
(bxkftechteam/geomesa-sql) has no media code — this is payload-side
graft like ``io/jpeg.py``; the GeoTIFF tags below are
the raster half of the engine's raster↔vector tiling (north-star
surface), parsed per the public OGC GeoTIFF 1.1 spec.

Decoder surface: II (little-endian) and MM (big-endian) headers,
classic (version 42) AND BigTIFF (version 43, 8-byte offsets — what
multi-GB GeoTIFFs actually are), multi-page IFD chains (GeoTIFF
overview pyramids; ``page=`` selects, ``tiff_page_count`` counts),
strip layout (RowsPerStrip / StripOffsets / StripByteCounts) AND tiled
layout (TileWidth/TileLength/TileOffsets/TileByteCounts — the layout
real GeoTIFFs ship in), PlanarConfiguration 1 (chunky) and 2
(separate component planes), Compression 1 (none), 5 (TIFF-LZW:
MSB-first, early-change), 8/32946 (deflate), 32773 (PackBits) and 7
(new-style JPEG-in-TIFF: each segment an abbreviated JPEG stream,
tables spliced from the JPEGTables tag, decoded by ``io/jpeg.py``),
horizontal-differencing Predictor 2, PhotometricInterpretation 0/1
(grayscale, either polarity), 2 (RGB, extra samples dropped), 3
(palette via the 16-bit ColorMap), 5 (separated/CMYK,
JPEG-compressed) and 6 (YCbCr, JPEG-compressed),
BitsPerSample 1/4/8/16 for the RGB surface; the raster surface
(``decode_tiff_raster``) additionally decodes 32-bit integers (signed
or unsigned) and 32/64-bit IEEE floats in their native dtype — the
DEM/analytic payloads GeoTIFF carries. Old-style JPEG (compression 6),
CCITT fax codings, the floating-point predictor 3 and per-channel
BitsPerSample mixes raise loudly.

GeoTIFF georeferencing (``geotiff_info``): ModelPixelScaleTag +
ModelTiepointTag or the full ModelTransformationTag affine,
GeoKeyDirectoryTag keys (GTModelType, GTRasterType,
Geographic/ProjectedCSType → EPSG code, citation via GeoAsciiParams),
pixel→CRS affine and the image's CRS-unit bbox.

Encoders: ``encode_tiff`` (RGB strips, compression
none/packbits/lzw/deflate, optional predictor) and ``encode_geotiff``
(gray/RGB, uint8/uint16/uint32/float32, strip or tiled, geo tags,
overview pyramids, classic or BigTIFF), so round trips exercise every
decode path against streams this module can actually build.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from geomesa_sql_spark.io.errors import clean_decode

# 64 MP task-safety cap (as decode_png's): 32-bit header dimensions
# would let a few-byte payload allocate gigabytes inside a Spark task
_MAX_PIXELS = 1 << 26

# tag ids (TIFF 6.0 §8; GeoTIFF 1.1 §7)
_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMPRESSION, _T_PHOTometric = 258, 259, 262
_T_STRIP_OFFSETS, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_COUNTS = 273, 277, 278, 279
_T_PREDICTOR, _T_COLORMAP, _T_PLANAR = 317, 320, 284
_T_TILE_WIDTH, _T_TILE_LENGTH, _T_TILE_OFFSETS, _T_TILE_COUNTS = 322, 323, 324, 325
_T_SAMPLE_FORMAT = 339
_T_JPEG_TABLES = 347
_T_MODEL_PIXEL_SCALE = 33550
_T_MODEL_TIEPOINT = 33922
_T_MODEL_TRANSFORM = 34264
_T_GEO_KEYS = 34735
_T_GEO_DOUBLES = 34736
_T_GEO_ASCII = 34737

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8,
              11: 4, 12: 8, 16: 8, 17: 8, 18: 8}


def _header(data: bytes):
    """(byte order, bigtiff?, first IFD offset). Classic TIFF is
    version 42 with 4-byte offsets; BigTIFF is version 43 with 8-byte
    offsets (the format multi-GB GeoTIFFs actually ship in)."""
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF (no II*/MM* header)")
    bo = "<" if data[:2] == b"II" else ">"
    (version,) = struct.unpack_from(bo + "H", data, 2)
    if version == 42:
        (off,) = struct.unpack_from(bo + "I", data, 4)
        return bo, False, off
    if version == 43:
        if len(data) < 16:
            raise ValueError("truncated BigTIFF header")
        osize, zero = struct.unpack_from(bo + "HH", data, 4)
        if osize != 8 or zero != 0:
            raise ValueError("BigTIFF header with non-8-byte offsets")
        (off,) = struct.unpack_from(bo + "Q", data, 8)
        return bo, True, off
    raise ValueError("not a TIFF (no II*/MM* header)")


def _ifd_offsets(data: bytes, bo: str, big: bool, first: int,
                 strict: bool = True) -> list[int]:
    """Offsets of every IFD in the file's next-IFD chain (multi-page
    TIFF: GeoTIFF overview pyramids ship reduced-resolution pages this
    way). Cycles and implausible chains terminate the walk. With
    ``strict=False`` a chain link pointing past EOF ends the walk
    instead of raising — the EXIF privacy scrub must still zero the
    VALID prefix of a chain whose tail link is hostile/truncated
    (r5 review), while decode paths keep the loud error."""
    off = first
    cnt_sz, ent_sz, ptr_fmt = (8, 20, "Q") if big else (2, 12, "I")
    offs: list[int] = []
    seen: set[int] = set()
    while off and off not in seen and len(offs) < 64:
        if off + cnt_sz > len(data):
            if strict:
                raise ValueError(
                    "TIFF IFD offset runs off the end of the file")
            break
        seen.add(off)
        offs.append(off)
        (n,) = struct.unpack_from(bo + ("Q" if big else "H"), data, off)
        nxt_at = off + cnt_sz + ent_sz * n
        if nxt_at + struct.calcsize(ptr_fmt) > len(data):
            break  # no next-IFD pointer: chain ends here
        (off,) = struct.unpack_from(bo + ptr_fmt, data, nxt_at)
    if not offs and strict:
        raise ValueError("TIFF with no IFD")
    return offs


def _read_ifd(data: bytes, bo: str, off: int | None = None,
              big: bool = False):
    """IFD at ``off`` (default: first) → {tag: [values...]}.

    Integer and float types decode to Python numbers, rationals to
    floats, ASCII (2) and UNDEFINED (7) to a single raw ``bytes``
    value — the GeoTIFF/JPEGTables tags need the latter three.
    BigTIFF IFDs use 8-byte counts/offsets and 20-byte entries.
    Entry walking and every bounds check live in :func:`_ifd_spans`
    (one walker shared with the EXIF privacy scrub — r5 review)."""
    if off is None:
        bo, big, off = _header(data)
    _, spans = _ifd_spans(data, bo, off, big)
    tags: dict[int, list] = {}
    for tag, typ, count, _at, vat, _total in spans:
        fmt = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i",
               11: "f", 12: "d", 16: "Q", 17: "q", 18: "Q"}.get(typ)
        if fmt:
            tags[tag] = list(
                struct.unpack_from(bo + str(count) + fmt, data, vat))
        elif typ in (2, 7):  # ASCII / UNDEFINED: keep the raw bytes
            tags[tag] = [data[vat : vat + count]]
        elif typ == 5 or typ == 10:  # rationals → floats
            vals = struct.unpack_from(
                bo + str(2 * count) + "Ii"[typ == 10], data, vat)
            tags[tag] = [
                (vals[2 * k] / vals[2 * k + 1]) if vals[2 * k + 1] else 0.0
                for k in range(count)
            ]
    return tags


def _ifd_spans(data: bytes, bo: str, off: int, big: bool = False,
               strict: bool = True):
    """Byte extents of the IFD at ``off``: ((block_start, block_end),
    [(tag, typ, count, entry_at, val_at, total)]) where ``block``
    spans the count field through the next-IFD pointer, ``entry_at``
    is each 12/20-byte entry slot, and (val_at, total) the value
    bytes — equal to the inline value field when the value fits
    (ValueError on malformed; unknown types report total 0). This is
    the ONE entry walker: :func:`_read_ifd` decodes values from these
    spans, and the EXIF privacy scrub zeroes GPS data through them IN
    PLACE without shifting any offsets — a bounds rule fixed here
    fixes both consumers. ``strict=False`` (the scrub) keeps whatever
    is addressable instead of raising: a truncated entry table stops
    the walk and caps the block at the slots actually walked; an
    out-of-bounds value keeps the entry slot with total 0 — a
    one-byte count inflation must not void the zeroing of the valid
    entries around it (r5 review)."""
    cnt_sz, ent_sz = (8, 20) if big else (2, 12)
    inline = 8 if big else 4
    if off + cnt_sz > len(data):
        raise ValueError("TIFF IFD offset runs off the end of the file")
    (n,) = struct.unpack_from(bo + ("Q" if big else "H"), data, off)
    if n > 4096:
        raise ValueError("implausible TIFF IFD entry count")
    spans = []
    walked = 0
    truncated = False
    for i in range(int(n)):
        at = off + cnt_sz + ent_sz * i
        if at + ent_sz > len(data):
            if strict:
                raise ValueError("TIFF IFD runs off the end of the file")
            truncated = True
            break
        walked = i + 1
        if big:
            tag, typ, count = struct.unpack_from(bo + "HHQ", data, at)
            vfield_at = at + 12
        else:
            tag, typ, count = struct.unpack_from(bo + "HHI", data, at)
            vfield_at = at + 8
        size = _TYPE_SIZE.get(typ)
        if size is None:
            spans.append((tag, typ, int(count), at, vfield_at, 0))
            continue
        if count > (1 << 26):
            if strict:
                raise ValueError("implausible TIFF tag count")
            spans.append((tag, typ, 0, at, vfield_at, 0))
            continue
        total = size * count
        vat = vfield_at
        if total > inline:
            (vat,) = struct.unpack_from(
                bo + ("Q" if big else "I"), data, vfield_at
            )
        if vat + total > len(data):
            if strict:
                raise ValueError(
                    "TIFF tag value runs off the end of the file")
            spans.append((tag, typ, 0, at, vfield_at, 0))
            continue
        spans.append((tag, typ, int(count), at, vat, total))
    if truncated:
        block_end = off + cnt_sz + ent_sz * walked
    else:
        block_end = off + cnt_sz + ent_sz * int(n) + (8 if big else 4)
    return (off, min(block_end, len(data))), spans


def _packbits_decode(src: bytes, expect: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(src) and len(out) < expect:
        n = src[i]
        i += 1
        if n < 128:  # literal run of n+1
            out += src[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(src):
                raise ValueError("truncated PackBits stream")
            out += bytes([src[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expect:
        raise ValueError("PackBits stream ended early")
    return bytes(out[:expect])


def _packbits_encode(src: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        j = i
        while j + 1 < n and src[j + 1] == src[j] and j - i < 127:
            j += 1
        if j > i:  # run of (j - i + 1) identical bytes
            out.append(257 - (j - i + 1))
            out.append(src[i])
            i = j + 1
            continue
        # literal segment until a run of >= 3 starts
        j = i + 1
        while j < n and j - i < 128:
            if j + 2 < n and src[j] == src[j + 1] == src[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += src[i:j]
        i = j
    return bytes(out)


def _tiff_lzw_decode(src: bytes, expect: int) -> bytes:
    """TIFF-variant LZW: MSB-first bit packing, codes start at 9 bits,
    256=ClearCode, 257=EOI, EARLY width change (at 2^width - 1)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    acc = nbits = 0
    i = 0
    prev: bytes | None = None
    while len(out) < expect:
        while nbits < width:
            if i >= len(src):
                raise ValueError("truncated TIFF LZW stream")
            acc = (acc << 8) | src[i]
            i += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1
        if code == CLEAR:
            reset()
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= len(table) or code > 255:
                raise ValueError("TIFF LZW stream starts with a non-root code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF LZW code out of range")
        out += entry
        prev = entry
        # EARLY change, with the decoder's one-entry lag: the writer has
        # already added the entry THIS code implies, so the reader bumps
        # when its table size PLUS the pending entry hits 2^width - 1
        if len(table) + 1 >= (1 << width) - 1 and width < 12:
            width += 1
    if len(out) < expect:
        raise ValueError("TIFF LZW stream ended early")
    return bytes(out[:expect])


def _tiff_lzw_encode(src: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    out_codes: list[tuple[int, int]] = []
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out_codes.append((CLEAR, width))
    seq = b""
    for b in src:
        cand = seq + bytes([b])
        if cand in table:
            seq = cand
            continue
        out_codes.append((table[seq], width))
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code == 4094:  # table full: clear and restart
            out_codes.append((CLEAR, width))
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        seq = bytes([b])
    if seq:
        out_codes.append((table[seq], width))
    out_codes.append((EOI, width))
    acc = nbits = 0
    out = bytearray()
    for code, wd in out_codes:
        acc = (acc << wd) | code
        nbits += wd
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
            acc &= (1 << nbits) - 1
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# shared decode core


def _decompress(chunk: bytes, comp: int, expect: int) -> bytes:
    if comp == 1:
        if len(chunk) < expect:
            raise ValueError("TIFF segment ended early")
        return chunk[:expect]
    if comp == 32773:
        return _packbits_decode(chunk, expect)
    if comp == 5:
        return _tiff_lzw_decode(chunk, expect)
    if comp in (8, 32946):
        # bounded inflate: a crafted deflate bomb must not materialize
        # gigabytes before the [:expect] slice (decompressobj stops at
        # max_length; the tail stays compressed and is discarded)
        d = zlib.decompressobj().decompress(chunk, expect)
        if len(d) < expect:
            raise ValueError("TIFF deflate segment ended early")
        return d
    raise NotImplementedError(
        f"TIFF compression {comp}: none/LZW/deflate/PackBits/JPEG only "
        "(no CCITT fax or old-style JPEG)")


def _parse_header(data: bytes, page: int = 0):
    bo, big, first = _header(data)
    if page == 0:
        return bo, _read_ifd(data, bo, first, big)
    offs = _ifd_offsets(data, bo, big, first)
    if page < 0 or page >= len(offs):
        raise ValueError(f"TIFF page {page} out of range (file has {len(offs)})")
    return bo, _read_ifd(data, bo, offs[page], big)


@clean_decode
def tiff_page_count(data: bytes) -> int:
    """Number of IFDs in the chain (1 + overview/extra pages)."""
    bo, big, first = _header(data)
    return len(_ifd_offsets(data, bo, big, first))


def _segment_grid(tags, w: int, h: int, planes: int):
    """Segment placements: list of (offset, count, y0, x0, nrows, ncols),
    plane-major per TIFF 6.0 (all of component 0's segments first)."""
    tiled = _T_TILE_WIDTH in tags or _T_TILE_OFFSETS in tags
    segs = []
    if tiled:
        try:
            tw = int(tags[_T_TILE_WIDTH][0])
            th = int(tags.get(_T_TILE_LENGTH, tags[_T_TILE_WIDTH])[0])
            offsets = tags[_T_TILE_OFFSETS]
            counts = tags[_T_TILE_COUNTS]
        except KeyError as ex:
            raise ValueError(f"tiled TIFF missing required tag {ex}") from ex
        if tw <= 0 or th <= 0:
            raise ValueError("TIFF tile dimensions must be positive")
        if tw * th > _MAX_PIXELS:
            # a tile cannot plausibly exceed the whole-image cap — and
            # unbounded tile dims would let PackBits/LZW amplification
            # defeat the task-safety cap via `expect`
            raise ValueError(f"implausible TIFF tile dimensions {tw}x{th}")
        ta = -(-w // tw)
        td = -(-h // th)
        if len(offsets) != len(counts):
            raise ValueError("TileOffsets/TileByteCounts length mismatch")
        if len(offsets) < ta * td * planes:
            raise ValueError("TIFF tile tables shorter than the tile grid")
        k = 0
        for _p in range(planes):
            for ty in range(td):
                for tx in range(ta):
                    segs.append((offsets[k], counts[k], ty * th, tx * tw, th, tw))
                    k += 1
        return segs, True
    try:
        offsets = tags[_T_STRIP_OFFSETS]
        counts = tags[_T_STRIP_COUNTS]
    except KeyError as ex:
        raise ValueError(f"TIFF missing required tag {ex}") from ex
    rps = int(tags.get(_T_ROWS_PER_STRIP, [h])[0]) or h
    nstrips = -(-h // rps)
    if len(offsets) != len(counts):
        raise ValueError("StripOffsets/StripByteCounts length mismatch")
    if len(offsets) < nstrips * planes:
        raise ValueError("TIFF strip tables shorter than the image")
    k = 0
    for _p in range(planes):
        for s in range(nstrips):
            y0 = s * rps
            segs.append((offsets[k], counts[k], y0, 0, min(rps, h - y0), w))
            k += 1
    return segs, False


_UINT_OF = {8: np.uint8, 16: np.uint16, 32: np.uint32}
_INT_OF = {8: np.int8, 16: np.int16, 32: np.int32}


def _seg_to_array(raw: bytes, nrows: int, ncols: int, ch: int, depth: int,
                  sfmt: int, bo: str) -> np.ndarray:
    """One decompressed segment → (nrows, ncols, ch) native-dtype array."""
    if depth in (1, 2, 4):
        row_bytes = (ncols * depth + 7) // 8
        plane = np.frombuffer(raw, np.uint8).reshape(nrows, row_bytes)
        bits_arr = np.unpackbits(plane, axis=1)[:, : ncols * depth]
        vals = bits_arr.reshape(nrows, ncols, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
        return (vals * weights).sum(axis=2, dtype=np.uint16)[..., None]
    if sfmt == 3:
        code = {32: "f4", 64: "f8"}[depth]
    elif sfmt == 2:
        code = {8: "i1", 16: "i2", 32: "i4"}[depth]
    else:
        code = {8: "u1", 16: "u2", 32: "u4"}[depth]
    arr = np.frombuffer(raw, np.dtype(bo + code), nrows * ncols * ch)
    out = arr.reshape(nrows, ncols, ch)
    # native byte order for downstream numpy math
    return out.astype(out.dtype.newbyteorder("="), copy=False)


def _apply_predictor(seg: np.ndarray, depth: int, sfmt: int) -> np.ndarray:
    acc = np.cumsum(seg.astype(np.int64), axis=1) & ((1 << depth) - 1)
    out = acc.astype(_UINT_OF.get(depth, np.uint16))
    if sfmt == 2:
        out = out.view(_INT_OF[depth])
    return out


def _decode_samples(data: bytes, page: int = 0):
    """Header + sample plane decode shared by the RGB and raster
    surfaces → ((h, w, spp) native-dtype samples, tags, bo)."""
    bo, tags = _parse_header(data, page)
    try:
        w = int(tags[_T_WIDTH][0])
        h = int(tags[_T_HEIGHT][0])
    except KeyError as ex:
        raise ValueError(f"TIFF missing required tag {ex}") from ex
    if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
        raise ValueError(f"implausible TIFF dimensions {w}x{h}")
    spp = int(tags.get(_T_SPP, [1])[0])
    if spp < 1 or spp > 16:
        raise ValueError(f"implausible TIFF SamplesPerPixel {spp}")
    bits = tags.get(_T_BITS, [1] * spp)
    if len(set(bits)) != 1:
        raise NotImplementedError("per-channel BitsPerSample mixes")
    depth = int(bits[0])
    comp = int(tags.get(_T_COMPRESSION, [1])[0])
    pred = int(tags.get(_T_PREDICTOR, [1])[0])
    sfmts = tags.get(_T_SAMPLE_FORMAT, [1] * spp)
    if len(set(sfmts)) != 1:
        raise NotImplementedError("per-channel SampleFormat mixes")
    sfmt = int(sfmts[0])
    planar = int(tags.get(_T_PLANAR, [1])[0])
    if planar not in (1, 2):
        raise ValueError(f"invalid TIFF PlanarConfiguration {planar}")
    if comp == 7:
        return _decode_jpeg_tiff(data, bo, tags, w, h, spp), tags, bo
    if comp == 6:
        raise NotImplementedError("old-style JPEG-in-TIFF (compression 6)")
    if sfmt == 4:
        sfmt = 1  # 'undefined' — treat as unsigned per the spec's advice
    if sfmt not in (1, 2, 3):
        raise NotImplementedError(f"TIFF sample format {sfmt}")
    if depth in (1, 2, 4):
        if spp != 1 or planar != 1 or sfmt != 1:
            raise NotImplementedError(
                "sub-byte TIFF only as single-plane unsigned samples")
    elif depth not in (8, 16, 32, 64):
        raise NotImplementedError(f"TIFF BitsPerSample {depth}")
    if sfmt == 3 and depth not in (32, 64):
        raise NotImplementedError("TIFF float samples must be 32/64-bit")
    if depth == 64 and sfmt != 3:
        raise NotImplementedError("64-bit TIFF integers")
    if pred == 3:
        raise NotImplementedError("TIFF floating-point predictor 3")
    if pred not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {pred}")
    if pred == 2 and sfmt == 3:
        raise ValueError("TIFF predictor 2 on floating-point samples")

    planes = spp if planar == 2 else 1
    ch = 1 if planar == 2 else spp
    segs, tiled = _segment_grid(tags, w, h, planes)
    if depth in (1, 2, 4) and tiled:
        raise NotImplementedError("sub-byte tiled TIFF")

    if depth in (1, 2, 4):
        out_dtype = np.uint16
    elif sfmt == 3:
        out_dtype = {32: np.float32, 64: np.float64}[depth]
    elif sfmt == 2:
        out_dtype = _INT_OF[depth]
    else:
        out_dtype = _UINT_OF[depth]
    out = np.zeros((h, w, spp), dtype=out_dtype)

    per_plane = len(segs) // planes
    for si, (off, cnt, y0, x0, nrows, ncols) in enumerate(segs):
        if off + cnt > len(data):
            raise ValueError("TIFF segment runs off the end of the file")
        row_bytes = (ncols * ch * depth + 7) // 8
        raw = _decompress(data[off : off + cnt], comp, nrows * row_bytes)
        seg = _seg_to_array(raw, nrows, ncols, ch, depth, sfmt, bo)
        if pred == 2:
            seg = _apply_predictor(seg, depth, sfmt)
        vis_r = min(nrows, h - y0)
        vis_c = min(ncols, w - x0)
        if vis_r <= 0 or vis_c <= 0:
            continue
        p = si // per_plane
        if planar == 2:
            out[y0 : y0 + vis_r, x0 : x0 + vis_c, p] = seg[:vis_r, :vis_c, 0]
        else:
            out[y0 : y0 + vis_r, x0 : x0 + vis_c, :] = seg[:vis_r, :vis_c, :]
    return out, tags, bo


def _decode_jpeg_tiff(data: bytes, bo: str, tags, w: int, h: int,
                      spp: int) -> np.ndarray:
    """Compression 7 (new-style JPEG): each strip/tile is an abbreviated
    JPEG stream; shared tables come from the JPEGTables tag and are
    spliced in after the segment's SOI. io/jpeg.py does the entropy +
    color work (YCbCr→RGB for photometric 6), so every segment lands as
    (rows, cols, 3) uint8."""
    from geomesa_sql_spark.io.jpeg import decode_jpeg

    if int(tags.get(_T_PLANAR, [1])[0]) != 1:
        raise NotImplementedError("JPEG-in-TIFF with planar configuration 2")
    photo = int(tags.get(_T_PHOTometric, [6])[0])
    if photo not in (0, 1, 2, 5, 6):
        raise NotImplementedError(f"JPEG-in-TIFF photometric {photo}")
    tables = b""
    if _T_JPEG_TABLES in tags:
        tb = tags[_T_JPEG_TABLES][0]
        if not isinstance(tb, (bytes, bytearray)) or len(tb) < 4 or tb[:2] != b"\xff\xd8":
            raise ValueError("malformed JPEGTables tag")
        tables = bytes(tb[2:-2]) if tb[-2:] == b"\xff\xd9" else bytes(tb[2:])
    segs, _tiled = _segment_grid(tags, w, h, 1)
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for off, cnt, y0, x0, nrows, ncols in segs:
        if off + cnt > len(data):
            raise ValueError("TIFF segment runs off the end of the file")
        seg = data[off : off + cnt]
        if len(seg) < 4 or seg[:2] != b"\xff\xd8":
            raise ValueError("JPEG-in-TIFF segment without an SOI marker")
        px = decode_jpeg(seg[:2] + tables + seg[2:])
        if px.shape[0] < min(nrows, h - y0) or px.shape[1] < min(ncols, w - x0):
            raise ValueError("JPEG-in-TIFF segment smaller than its grid cell")
        vis_r = min(nrows, h - y0)
        vis_c = min(ncols, w - x0)
        block = px[:vis_r, :vis_c, :]
        if photo == 0:  # WhiteIsZero grayscale
            block = 255 - block
        out[y0 : y0 + vis_r, x0 : x0 + vis_c, :] = block
    return out


# ---------------------------------------------------------------------------
# public decode surfaces


@clean_decode
def decode_tiff(data: bytes) -> np.ndarray:
    """TIFF bytes → (h, w, 3) uint8 RGB (strip or tiled, planar 1/2).

    Float/signed/32-bit rasters are data, not pictures — they raise
    here and decode natively via ``decode_tiff_raster``."""
    samples, tags, bo = _decode_samples(data)
    h, w, spp = samples.shape
    comp = int(tags.get(_T_COMPRESSION, [1])[0])
    photo = int(tags.get(_T_PHOTometric, [6 if comp == 7 else 1])[0])
    if comp == 7:
        return samples.copy()  # JPEG path already produced uint8 RGB
    if samples.dtype.kind == "f" or samples.dtype.kind == "i":
        raise NotImplementedError(
            "float/signed TIFF samples: use decode_tiff_raster")
    depth = int(tags.get(_T_BITS, [1])[0])
    if depth not in (1, 2, 4, 8, 16):
        raise NotImplementedError(
            f"TIFF RGB surface with depth {depth}: use decode_tiff_raster")
    if photo in (0, 1, 3):
        if spp != 1:
            raise NotImplementedError(f"TIFF gray/palette with spp={spp}")
    elif photo == 2:
        if spp < 3:
            raise NotImplementedError(f"TIFF RGB with spp={spp}")
    else:
        raise NotImplementedError(
            f"TIFF photometric {photo}: gray/RGB/palette only "
            "(no CMYK/CIELab)")

    if photo == 3:
        cmap = tags.get(_T_COLORMAP)
        n = 1 << depth
        if not cmap or len(cmap) < 3 * n:
            raise ValueError("palette TIFF without a full ColorMap")
        lut = (np.array(cmap[: 3 * n], dtype=np.uint32)
               .reshape(3, n).T >> 8).astype(np.uint8)
        idx = samples[..., 0]
        if int(idx.max(initial=0)) >= n:
            raise ValueError("TIFF palette index out of range")
        return lut[idx].copy()
    if depth == 16:
        samples = (samples >> 8).astype(np.uint8)
    if photo == 2:
        return samples[..., :3].astype(np.uint8).copy()
    g = samples[..., 0].astype(np.uint16)
    if depth < 8:
        g = g * 255 // ((1 << depth) - 1)
    if photo == 0:  # WhiteIsZero
        g = 255 - g
    return np.repeat(g.astype(np.uint8)[..., None], 3, axis=2)


@clean_decode
def decode_tiff_raster(data: bytes, page: int = 0) -> tuple[np.ndarray, dict]:
    """TIFF bytes → ((h, w, spp) native-dtype samples, info dict).

    The raster/GeoTIFF surface: samples keep their file dtype
    (uint8/16/32, int8/16/32, float32/64 — DEMs, masks, analytic
    bands); no photometric coercion (the info dict carries it). The
    info dict is ``geotiff_info``'s (georeferencing resolved when the
    geo tags are present). ``page`` selects an IFD from the chain —
    GeoTIFF overview pyramids are pages 1..n-1."""
    samples, tags, bo = _decode_samples(data, page)
    info = _geo_info(tags, samples.shape[1], samples.shape[0])
    info["photometric"] = int(tags.get(_T_PHOTometric, [1])[0])
    info["bits"] = int(tags.get(_T_BITS, [1])[0])
    info["sample_format"] = int(tags.get(_T_SAMPLE_FORMAT, [1])[0])
    info["compression"] = int(tags.get(_T_COMPRESSION, [1])[0])
    info["tiled"] = _T_TILE_WIDTH in tags or _T_TILE_OFFSETS in tags
    return samples, info


# ---------------------------------------------------------------------------
# GeoTIFF georeferencing (OGC GeoTIFF 1.1, public spec)

# GeoKey ids
_GK_MODEL_TYPE = 1024       # 1 = projected, 2 = geographic
_GK_RASTER_TYPE = 1025      # 1 = PixelIsArea, 2 = PixelIsPoint
_GK_CITATION = 1026
_GK_GEOGRAPHIC_TYPE = 2048  # EPSG geographic CRS code
_GK_PROJECTED_TYPE = 3072   # EPSG projected CRS code


def _geo_keys(tags) -> dict[int, object]:
    kd = tags.get(_T_GEO_KEYS)
    if not kd:
        return {}
    if len(kd) < 4:
        raise ValueError("GeoKeyDirectory shorter than its header")
    nkeys = int(kd[3])
    if len(kd) < 4 + 4 * nkeys:
        raise ValueError("GeoKeyDirectory shorter than its key count")
    doubles = tags.get(_T_GEO_DOUBLES, [])
    ascii_raw = tags.get(_T_GEO_ASCII, [b""])[0]
    if not isinstance(ascii_raw, (bytes, bytearray)):
        ascii_raw = b""
    keys: dict[int, object] = {}
    for k in range(nkeys):
        kid, loc, cnt, val = (int(v) for v in kd[4 + 4 * k : 8 + 4 * k])
        if loc == 0:
            keys[kid] = val
        elif loc == _T_GEO_DOUBLES:
            if val + cnt > len(doubles):
                raise ValueError("GeoKey double value out of range")
            vals = doubles[val : val + cnt]
            keys[kid] = vals[0] if cnt == 1 else list(vals)
        elif loc == _T_GEO_ASCII:
            if val + cnt > len(ascii_raw):
                raise ValueError("GeoKey ascii value out of range")
            keys[kid] = (
                ascii_raw[val : val + cnt].rstrip(b"|\x00").decode(
                    "ascii", "replace"))
        # keys stored in other tags: not part of GeoTIFF 1.1 — skip
    return keys


def _geo_info(tags, w: int, h: int) -> dict:
    """Georeferencing from the GeoTIFF tags: pixel→CRS affine
    (a, b, c, d, e, f) with X = a·col + b·row + c, Y = d·col + e·row + f,
    EPSG code (None when absent or user-defined 32767) and the image's
    CRS-unit bbox. PixelIsPoint anchors the tiepoint at the pixel
    CENTER, so the covered extent grows half a pixel on every side."""
    info: dict = {"w": w, "h": h, "epsg": None, "model_type": None,
                  "raster_type": None, "citation": None, "transform": None,
                  "bbox": None, "pixel_scale": None, "tiepoint": None}
    keys = _geo_keys(tags)
    if keys:
        info["model_type"] = keys.get(_GK_MODEL_TYPE)
        info["raster_type"] = keys.get(_GK_RASTER_TYPE)
        info["citation"] = keys.get(_GK_CITATION)
        code = (keys.get(_GK_PROJECTED_TYPE)
                if keys.get(_GK_MODEL_TYPE) == 1
                else keys.get(_GK_GEOGRAPHIC_TYPE))
        if isinstance(code, int) and 0 < code < 32767:
            info["epsg"] = code
    xf = None
    if _T_MODEL_TRANSFORM in tags and len(tags[_T_MODEL_TRANSFORM]) >= 16:
        m = [float(v) for v in tags[_T_MODEL_TRANSFORM]]
        xf = (m[0], m[1], m[3], m[4], m[5], m[7])
    else:
        scale = tags.get(_T_MODEL_PIXEL_SCALE)
        tie = tags.get(_T_MODEL_TIEPOINT)
        if scale is not None and len(scale) >= 2:
            info["pixel_scale"] = [float(v) for v in scale[:3]]
        if tie is not None and len(tie) >= 6:
            info["tiepoint"] = [float(v) for v in tie[:6]]
        if info["pixel_scale"] and info["tiepoint"]:
            sx, sy = info["pixel_scale"][0], info["pixel_scale"][1]
            i, j, _k, x0, y0 = info["tiepoint"][:5]
            xf = (sx, 0.0, x0 - i * sx, 0.0, -sy, y0 + j * sy)
    if xf is not None:
        info["transform"] = xf
        a, b, c, d, e, f = xf
        half = 0.5 if info.get("raster_type") == 2 else 0.0
        xs, ys = [], []
        for px, py in ((0.0 - half, 0.0 - half), (w - half, 0.0 - half),
                       (0.0 - half, h - half), (w - half, h - half)):
            xs.append(a * px + b * py + c)
            ys.append(d * px + e * py + f)
        info["bbox"] = (min(xs), min(ys), max(xs), max(ys))
    return info


@clean_decode
def geotiff_info(data: bytes, page: int = 0) -> dict:
    """Georeferencing WITHOUT decoding pixels: header + IFD only, so a
    100 TB catalog pass can prune by bbox before paying decompression.
    ``page`` selects an IFD (overview pages carry their own scale)."""
    bo, tags = _parse_header(data, page)
    try:
        w = int(tags[_T_WIDTH][0])
        h = int(tags[_T_HEIGHT][0])
    except KeyError as ex:
        raise ValueError(f"TIFF missing required tag {ex}") from ex
    return _geo_info(tags, w, h)


def geotiff_bbox_lonlat(info: dict) -> tuple[float, float, float, float] | None:
    """CRS-unit bbox → EPSG:4326 lon/lat bbox via geom/crs.py (the
    engine's single source of CRS math). None when the CRS is absent or
    outside the supported registry — callers surface that as a null
    row, never a guess.

    The bbox PERIMETER is densified (33 samples per edge) before the
    transform: for projected CRSs the lat/lon extremes sit mid-edge,
    not at the corners (a zone-wide UTM raster's top edge peaks at the
    central meridian ~2 km above the corner latitude), and a
    corner-only bbox would under-cover the raster→vector fan-out."""
    if not info.get("bbox") or not info.get("epsg"):
        return None
    from geomesa_sql_spark.geom.crs import transform_fn

    fn = transform_fn(f"EPSG:{info['epsg']}", "EPSG:4326")
    if fn is None:
        return None
    minx, miny, maxx, maxy = info["bbox"]
    t = np.linspace(0.0, 1.0, 33)
    xs = minx + (maxx - minx) * t
    ys = miny + (maxy - miny) * t
    perim = np.concatenate([
        np.column_stack([xs, np.full_like(xs, miny)]),
        np.column_stack([xs, np.full_like(xs, maxy)]),
        np.column_stack([np.full_like(ys, minx), ys]),
        np.column_stack([np.full_like(ys, maxx), ys]),
    ])
    ll = fn(perim)
    return (float(ll[:, 0].min()), float(ll[:, 1].min()),
            float(ll[:, 0].max()), float(ll[:, 1].max()))


# ---------------------------------------------------------------------------
# encoders


def _write_tiff_pages(pages, bigtiff: bool = False):
    """Little-endian multi-IFD writer: ``pages`` = [(entries,
    seg_payloads, seg_offset_tag)] with entry typ in {3:SHORT, 4:LONG,
    12:DOUBLE, 7:UNDEFINED(bytes), 16:LONG8}; each page's IFD is
    chained through the next-IFD pointer (page 1+ = overview/extra
    pages). ``bigtiff`` writes the version-43 layout (8-byte counts
    and offsets, 20-byte entries; segment offsets become LONG8)."""
    if bigtiff:
        out = bytearray(b"II+\x00\x08\x00\x00\x00" + b"\x00" * 8)
        next_ptr_at, inline, ent_sz = 8, 8, 20
        ptr_fmt, ent_hdr = "<Q", "<HHQ"
    else:
        out = bytearray(b"II*\x00\x00\x00\x00\x00")
        next_ptr_at, inline, ent_sz = 4, 4, 12
        ptr_fmt, ent_hdr = "<I", "<HHI"
    ptr_sz = struct.calcsize(ptr_fmt)
    for entries, seg_payloads, seg_offset_tag in pages:
        if bigtiff:  # segment offsets may exceed 4 GiB: LONG8
            entries = [
                (t, 16 if t == seg_offset_tag and ty == 4 else ty, v)
                for t, ty, v in entries
            ]
        entries = sorted(entries)
        ifd_at = len(out)
        struct.pack_into(ptr_fmt, out, next_ptr_at, ifd_at)
        out += struct.pack(ptr_fmt if bigtiff else "<H", len(entries))
        cnt_sz = 8 if bigtiff else 2
        extra = bytearray()
        extra_base = ifd_at + cnt_sz + ent_sz * len(entries) + ptr_sz
        offsets_at = None
        for tag, typ, vals in entries:
            if typ == 7:  # UNDEFINED: vals is a bytes payload
                packed = bytes(vals)
                count = len(packed)
            elif typ == 12:
                packed = struct.pack("<" + str(len(vals)) + "d", *vals)
                count = len(vals)
            else:
                fmt = {3: "H", 4: "I", 16: "Q"}[typ]
                packed = struct.pack("<" + str(len(vals)) + fmt, *vals)
                count = len(vals)
            if len(packed) <= inline:
                if tag == seg_offset_tag:
                    offsets_at = (len(out) + ent_sz - inline, typ)
                vfield = packed + b"\x00" * (inline - len(packed))
            else:
                if tag == seg_offset_tag:
                    offsets_at = (extra_base + len(extra), typ)
                vfield = struct.pack(ptr_fmt, extra_base + len(extra))
                extra += packed
            out += struct.pack(ent_hdr, tag, typ, count) + vfield
        next_ptr_at = len(out)
        out += b"\x00" * ptr_sz  # next-IFD pointer (0 = chain end)
        out += extra
        seg_offsets = []
        for s in seg_payloads:
            seg_offsets.append(len(out))
            out += s
        at, typ = offsets_at
        step = {3: 2, 4: 4, 16: 8}[typ]
        pfmt = {3: "<H", 4: "<I", 16: "<Q"}[typ]
        for k, so in enumerate(seg_offsets):
            struct.pack_into(pfmt, out, at + step * k, so)
    return bytes(out)


def _write_ifd(entries, seg_payloads, seg_offset_tag):
    """Single-page writer (see _write_tiff_pages)."""
    return _write_tiff_pages([(entries, seg_payloads, seg_offset_tag)])


def _compress_segment(chunk: bytes, compression: str) -> bytes:
    if compression == "packbits":
        return _packbits_encode(chunk)
    if compression == "lzw":
        return _tiff_lzw_encode(chunk)
    if compression == "deflate":
        return zlib.compress(chunk)
    return chunk


_COMP_ID = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8}


def encode_tiff(pixels: np.ndarray, compression: str = "none",
                predictor: bool = False, rows_per_strip: int = 64) -> bytes:
    """(h, w, 3) uint8 RGB → little-endian strip TIFF bytes.

    ``compression``: 'none', 'packbits', 'lzw' or 'deflate';
    ``predictor`` applies horizontal differencing (decode exercises the
    cumulative-sum inverse)."""
    if compression not in _COMP_ID:
        raise ValueError(f"unsupported TIFF compression {compression!r}")
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    src = px.astype(np.int64)
    if predictor:
        src = src.copy()
        src[:, 1:] = (src[:, 1:] - src[:, :-1]) & 0xFF
    body = src.astype(np.uint8).reshape(h, w * 3)
    strips = [
        _compress_segment(body[y0 : y0 + rows_per_strip].tobytes(), compression)
        for y0 in range(0, h, rows_per_strip)
    ]
    entries = [
        (_T_WIDTH, 4, [w]),
        (_T_HEIGHT, 4, [h]),
        (_T_BITS, 3, [8, 8, 8]),
        (_T_COMPRESSION, 3, [_COMP_ID[compression]]),
        (_T_PHOTometric, 3, [2]),
        (_T_STRIP_OFFSETS, 4, [0] * len(strips)),
        (_T_SPP, 3, [3]),
        (_T_ROWS_PER_STRIP, 4, [rows_per_strip]),
        (_T_STRIP_COUNTS, 4, [len(s) for s in strips]),
    ]
    if predictor:
        entries.append((_T_PREDICTOR, 3, [2]))
    return _write_ifd(entries, strips, _T_STRIP_OFFSETS)


# EPSG codes whose CRS is geographic (GeoKey model type 2)
_GEOGRAPHIC_EPSG = {4326, 4269, 4267, 4258}


def encode_geotiff(
    samples: np.ndarray,
    *,
    pixel_scale: tuple[float, float],
    tiepoint_xy: tuple[float, float],
    epsg: int | None = None,
    raster_type: int = 1,
    compression: str = "none",
    tile: int | None = None,
    rows_per_strip: int = 64,
    predictor: bool = False,
    overviews: int = 0,
    bigtiff: bool = False,
) -> bytes:
    """(h, w) or (h, w, spp) samples → little-endian GeoTIFF bytes.

    Sample dtypes: uint8, uint16, uint32, float32 (SampleFormat written
    accordingly). ``pixel_scale`` = (sx, sy) CRS units per pixel;
    ``tiepoint_xy`` anchors raster (0,0) at that CRS point (upper-left,
    Y decreasing downward). ``tile`` switches to tiled layout with
    square tiles of that size (TIFF wants multiples of 16).
    ``overviews`` appends that many reduced-resolution pages (2×
    decimation each, NewSubfileType=1, pixel scale doubled — the
    GeoTIFF overview-pyramid convention). The writer exists so
    round-trip tests exercise the tiled/planar/float/geo/multi-page
    decode paths against streams this module can actually build.
    ``bigtiff`` writes the version-43 8-byte-offset layout (what
    multi-GB GeoTIFFs actually are)."""
    arr = np.asarray(samples)
    if arr.ndim == 2:
        arr = arr[..., None]
    if arr.dtype == np.uint8:
        depth, sfmt = 8, 1
    elif arr.dtype == np.uint16:
        depth, sfmt = 16, 1
    elif arr.dtype == np.uint32:
        depth, sfmt = 32, 1
    elif arr.dtype == np.float32:
        depth, sfmt = 32, 3
    else:
        raise ValueError(f"encode_geotiff: unsupported dtype {arr.dtype}")
    if compression not in _COMP_ID:
        raise ValueError(f"unsupported TIFF compression {compression!r}")
    if predictor and sfmt == 3:
        raise ValueError("predictor 2 is integer-only")
    arr = np.ascontiguousarray(arr.astype(arr.dtype.newbyteorder("<")))

    def seg_bytes(block: np.ndarray) -> bytes:
        if predictor:
            v = block.astype(np.int64)
            v[:, 1:] = (v[:, 1:] - v[:, :-1]) & ((1 << depth) - 1)
            block = v.astype(arr.dtype)
        return _compress_segment(block.tobytes(), compression)

    def build_page(page_arr: np.ndarray, scale_mult: int, reduced: bool):
        h, w, spp = page_arr.shape
        entries = [
            (_T_WIDTH, 4, [w]),
            (_T_HEIGHT, 4, [h]),
            (_T_BITS, 3, [depth] * spp),
            (_T_COMPRESSION, 3, [_COMP_ID[compression]]),
            (_T_PHOTometric, 3, [2 if spp >= 3 else 1]),
            (_T_SPP, 3, [spp]),
            (_T_SAMPLE_FORMAT, 3, [sfmt] * spp),
        ]
        if reduced:  # NewSubfileType: reduced-resolution page
            entries.append((254, 4, [1]))
        if predictor:
            entries.append((_T_PREDICTOR, 3, [2]))
        if tile:
            if tile <= 0:
                raise ValueError("tile size must be positive")
            segs = []
            for ty in range(0, h, tile):
                for tx in range(0, w, tile):
                    block = np.zeros((tile, tile, spp), dtype=arr.dtype)
                    sub = page_arr[ty : ty + tile, tx : tx + tile, :]
                    block[: sub.shape[0], : sub.shape[1], :] = sub
                    segs.append(seg_bytes(block))
            entries += [
                (_T_TILE_WIDTH, 4, [tile]),
                (_T_TILE_LENGTH, 4, [tile]),
                (_T_TILE_OFFSETS, 4, [0] * len(segs)),
                (_T_TILE_COUNTS, 4, [len(s) for s in segs]),
            ]
            seg_tag = _T_TILE_OFFSETS
        else:
            segs = [
                seg_bytes(page_arr[y0 : y0 + rows_per_strip])
                for y0 in range(0, h, rows_per_strip)
            ]
            entries += [
                (_T_STRIP_OFFSETS, 4, [0] * len(segs)),
                (_T_ROWS_PER_STRIP, 4, [rows_per_strip]),
                (_T_STRIP_COUNTS, 4, [len(s) for s in segs]),
            ]
            seg_tag = _T_STRIP_OFFSETS
        sx, sy = pixel_scale
        x0, y0 = tiepoint_xy
        entries.append(
            (_T_MODEL_PIXEL_SCALE, 12,
             [float(sx) * scale_mult, float(sy) * scale_mult, 0.0]))
        entries.append(
            (_T_MODEL_TIEPOINT, 12, [0.0, 0.0, 0.0, float(x0), float(y0), 0.0]))
        if epsg is not None:
            model = 2 if epsg in _GEOGRAPHIC_EPSG else 1
            code_key = _GK_GEOGRAPHIC_TYPE if model == 2 else _GK_PROJECTED_TYPE
            kd = [1, 1, 0, 3,
                  _GK_MODEL_TYPE, 0, 1, model,
                  _GK_RASTER_TYPE, 0, 1, raster_type,
                  code_key, 0, 1, int(epsg)]
            entries.append((_T_GEO_KEYS, 3, kd))
        return entries, segs, seg_tag

    pages = [build_page(arr, 1, False)]
    cur = arr
    for k in range(overviews):
        if min(cur.shape[0], cur.shape[1]) < 2:
            break
        cur = cur[::2, ::2, :]  # 2x decimation per overview level
        pages.append(build_page(np.ascontiguousarray(cur), 1 << (k + 1), True))
    return _write_tiff_pages(pages, bigtiff=bigtiff)

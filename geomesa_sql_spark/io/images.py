"""Image payload codecs — stdlib-only (no PIL/cv2 in the environment).

The graft input table carries images as opaque ``bytes`` with typed
metadata (image_id, w, h, fmt — BASELINE.json input_hint). The formats
``decode_image`` reads are the keys of :data:`DECODERS`:

- ``raw``: numpy (h, w, 3) uint8 ``tobytes()`` — zero-cost decode.
- ``png``: real PNG (zlib + struct), every color type and bit depth,
  filters 0-4 and Adam7; the encoder writes 8-bit RGB, filter 0 —
  lets the PSNR≥40dB payload invariant be exercised through an actual
  encode→decode round trip.
- ``jpeg``/``jpg``: from-scratch baseline+progressive JFIF codec
  (`io/jpeg.py`: numpy DCT, canonical Huffman, 4:4:4/4:2:0, restart
  markers) — the LOSSY leg of the invariant, measured ≥40 dB at
  quality 90 in tests.
- ``tiff``/``tif``: from-scratch TIFF 6.0 codec (`io/tiff.py`).

Any other ``fmt`` (NULL included) raises NotImplementedError naming
it; the image operators never turn such a row into a NULL row.

Per-row invariant vs the reference (BASELINE.json:15): decoded-pixel
allclose (PSNR ≥ 40 dB for lossy — exercised by the jpeg codec; raw
and png are lossless so their check is exact) + caption equality.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from geomesa_sql_spark.io.errors import clean_decode


def encode_raw(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → raw bytes."""
    return np.ascontiguousarray(pixels, dtype=np.uint8).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_SIG = PNG_SIG  # back-compat alias for in-module history


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (8-bit RGB, no filtering)."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # one filter byte (0 = None) per scanline
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = pixels.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


# Adam7 interlace passes: (x0, y0, dx, dy), spec order
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
# 64 MP: the spec-legal 2^31-1 x 2^31-1 header would make a 30-byte
# payload allocate terabytes inside a Spark task, so an implausible
# claim is refused instead; 64 MP is far above any real image payload
_PNG_MAX_PIXELS = 1 << 26
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}


def _png_unfilter(sub: bytes, w: int, h: int, channels: int, depth: int) -> np.ndarray:
    """Filtered scanlines → (h, row_bytes) unfiltered bytes (filters 0-4
    with the byte-level bpp the spec defines: sub-byte depths filter at
    bpp=1)."""
    row_bytes = (w * channels * depth + 7) // 8
    bpp = max(1, (channels * depth) // 8)
    need = h * (1 + row_bytes)
    if len(sub) < need:
        raise ValueError("PNG pixel data ended early")
    rows = np.frombuffer(bytes(sub[:need]), np.uint8).reshape(h, 1 + row_bytes)
    filters = rows[:, 0]
    data = rows[:, 1:]
    if (filters > 4).any():
        raise ValueError("bad PNG filter type")
    # vectorized fast paths — filter 0 (all our encoder emits) and the
    # Up filter (a column-wise cumulative sum); the general per-row
    # loop below only runs for Sub/Average/Paeth scanlines
    if not filters.any():
        return data.copy()
    if (filters == 2).all():
        return (np.cumsum(data.astype(np.int64), axis=0) & 0xFF).astype(np.uint8)
    out = np.zeros((h, row_bytes), dtype=np.uint8)
    for row in range(h):
        line = data[row].astype(np.int32)
        f = filters[row]
        prev = (out[row - 1].astype(np.int32) if row
                else np.zeros(row_bytes, dtype=np.int32))
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub(1) / Average(3) / Paeth(4) need sequential scan
            cur = np.zeros(row_bytes, dtype=np.int32)
            for i in range(row_bytes):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (line[i] + pred) & 0xFF
        out[row] = cur.astype(np.uint8)
    return out


def _png_samples(plane: np.ndarray, w: int, h: int, channels: int,
                 depth: int) -> np.ndarray:
    """(h, row_bytes) unfiltered bytes → (h, w, channels) uint8 samples.
    16-bit takes the high (network-order) byte; sub-byte samples are
    returned RAW (palette indexes must not be rescaled — the caller
    scales grayscale)."""
    if depth == 8:
        return plane.reshape(h, w, channels)
    if depth == 16:
        return plane.reshape(h, w, channels, 2)[..., 0].copy()
    bits = np.unpackbits(plane, axis=1)[:, : w * depth].reshape(h, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (bits * weights).sum(axis=2, dtype=np.uint16)[..., None].astype(np.uint8)


@clean_decode
def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8.

    Foreign-file surface: all five color types (grayscale, RGB,
    palette, gray+alpha, RGBA), every legal bit depth (1/2/4/8/16 —
    16-bit downconverts via the high byte, sub-byte grayscale rescales
    to 0-255, palette indexes look up PLTE), filters 0-4, and Adam7
    interlace. Alpha is dropped (the engine's payload model is opaque
    RGB). tRNS is ignored for the same reason."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    plte = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack_from(
                ">IIBBBBB", payload
            )
            if (comp != 0 or filt != 0 or interlace not in (0, 1)
                    or ctype not in _PNG_CHANNELS
                    or depth not in _PNG_DEPTHS[ctype]):
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={ctype}, "
                    f"interlace={interlace})"
                )
            if w * h > _PNG_MAX_PIXELS:
                # 32-bit header dims could demand terabytes from a
                # 30-byte payload (see _PNG_MAX_PIXELS)
                raise ValueError(f"implausible PNG dimensions {w}x{h}")
        elif tag == b"PLTE":
            if len(payload) % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    channels = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        samples = _png_samples(
            _png_unfilter(raw, w, h, channels, depth), w, h, channels, depth)
    else:  # Adam7: seven independently-filtered sub-images
        samples = np.zeros(
            (h, w, channels),
            dtype=np.uint8,
        )
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass contributes zero bytes
            row_bytes = (pw * channels * depth + 7) // 8
            sub = raw[off : off + ph * (1 + row_bytes)]
            off += ph * (1 + row_bytes)
            samples[y0::dy, x0::dx] = _png_samples(
                _png_unfilter(sub, pw, ph, channels, depth),
                pw, ph, channels, depth)

    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        idx = samples[..., 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[idx].copy()
    if ctype == 2:
        return samples.copy()
    if ctype == 6:
        return samples[..., :3].copy()
    # grayscale (0) / gray+alpha (4): rescale sub-byte levels, replicate
    g = samples[..., 0]
    if depth < 8:
        g = (g.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(np.uint8)
    return np.repeat(g[..., None], 3, axis=2)


def _decode_png(data: bytes, w: int, h: int) -> np.ndarray:
    return decode_png(data)


def _decode_jpeg(data: bytes, w: int, h: int) -> np.ndarray:
    # from-scratch baseline JFIF decoder (io/jpeg.py) — the lossy leg
    # of the PSNR>=40dB payload invariant; lazy import keeps the
    # lossless fast path import-light
    from geomesa_sql_spark.io.jpeg import decode_jpeg

    return decode_jpeg(data)


def _decode_tiff(data: bytes, w: int, h: int) -> np.ndarray:
    # from-scratch TIFF 6.0 decoder (io/tiff.py): strips AND tiles,
    # planar 1/2, none/LZW/deflate/PackBits/JPEG-in-TIFF, predictor,
    # gray/RGB/palette/YCbCr, II/MM (float rasters: decode_tiff_raster)
    from geomesa_sql_spark.io.tiff import decode_tiff

    return decode_tiff(data)


#: ``fmt`` → decoder(data, w, h) → (h, w, 3) uint8: the one table of
#: image formats this engine decodes. ``decode_image`` dispatches on it
#: and the image operators check a row's ``fmt`` against it before
#: their per-row corrupt-payload guards.
DECODERS = {
    "raw": decode_raw,
    "png": _decode_png,
    "jpeg": _decode_jpeg,
    "jpg": _decode_jpeg,
    "tiff": _decode_tiff,
    "tif": _decode_tiff,
}


def require_decoder(fmt):
    """The decoder for ``fmt``; a format outside :data:`DECODERS` (a
    NULL ``fmt`` included) raises NotImplementedError naming it."""
    dec = DECODERS.get(fmt)
    if dec is None:
        raise NotImplementedError(
            f"image fmt {fmt!r} has no decoder (supported: "
            f"{', '.join(DECODERS)})"
        )
    return dec


def decode_image(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    return require_decoder(fmt)(data, w, h)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical images)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float((diff * diff).mean())
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)

"""From-scratch GIF codec — stdlib + numpy only.

Widens ``decode_image``'s foreign-file surface (no PIL/cv2 in this
container): GIF87a/GIF89a decode with LZW, local/global palettes,
interlacing, and multi-frame animations (``gif_frames``;
``decode_image`` takes the first frame). The reference engine
(bxkftechteam/geomesa-sql) has no media code — payload-side graft, same
as ``io/jpeg.py`` / ``io/webp.py``.

Decoder surface: both signatures, global/local color tables, interlaced
images, animation frames composited per the disposal method (none/keep,
restore-background, restore-previous), sub-block reassembly, variable-
width LSB-first LZW with dictionary reset. Transparency composites
against the already-rendered canvas (frame stacking), which is what
viewers do; a transparent first frame shows the background color.

Encoder: real LZW compression over an exact palette (≤256 distinct
colors, else ValueError — quantization is out of scope), GIF89a with
per-frame graphics-control blocks for animations.
"""

from __future__ import annotations

import struct

import numpy as np

from geomesa_sql_spark.io.errors import clean_decode

# ---------------------------------------------------------------------------
# LZW (variable width, LSB-first, dictionary capped at 4096 codes)

# 64 MP per frame/canvas: far above any real-world GIF (palette formats
# top out around single-digit megapixels) while refusing the spec-legal
# 65535x65535 header that would allocate gigabytes inside a Spark task
_MAX_PIXELS = 1 << 26
# ... and 256 MP summed across an animation's composited frames (~768
# MB of RGB): the per-frame cap alone still lets a 10 KB payload claim
# hundreds of near-cap canvases
_MAX_TOTAL_PIXELS = 1 << 28


def _lzw_decode(data: bytes, min_code_size: int, npix: int) -> np.ndarray:
    clear = 1 << min_code_size
    end = clear + 1
    out = np.empty(npix, dtype=np.uint8)
    at = 0
    # dictionary as (prefix_code, last_byte); roots are (-1, i)
    prefix = np.full(4096, -1, dtype=np.int32)
    suffix = np.zeros(4096, dtype=np.uint8)
    suffix[:clear] = np.arange(clear, dtype=np.uint8)
    next_code = end + 1
    width = min_code_size + 1
    buf = nbits = 0
    pos = 0
    prev = -1
    scratch = bytearray(4096)
    while at < npix:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = buf & ((1 << width) - 1)
        buf >>= width
        nbits -= width
        if code == clear:
            next_code = end + 1
            width = min_code_size + 1
            prev = -1
            continue
        if code == end:
            break
        if prev < 0:
            if code >= clear:
                raise ValueError("GIF LZW stream starts with a non-root code")
            out[at] = code
            at += 1
            prev = code
            continue
        if code < next_code:
            cur = code
        elif code == next_code:
            cur = prev  # KwKwK case: emit prev + first(prev)
        else:
            raise ValueError("GIF LZW code out of range")
        # expand cur into scratch (reversed walk up the prefix chain)
        n = 0
        c = cur
        while c >= 0:
            scratch[n] = suffix[c]
            c = prefix[c]
            n += 1
        first = scratch[n - 1]
        seq = scratch[:n][::-1]
        if code == next_code:
            seq = bytes(seq) + bytes([first])
            n += 1
        take = min(n, npix - at)
        out[at : at + take] = np.frombuffer(bytes(seq[:take]), dtype=np.uint8)
        at += take
        if next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = first
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
    if at < npix:
        raise ValueError("GIF LZW stream ended early")
    return out


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    out_vals: list[int] = []
    out_ns: list[int] = []

    def emit(code: int) -> None:
        out_vals.append(code)
        out_ns.append(width)

    emit(clear)
    seq = b""
    for b in indices.astype(np.uint8).tobytes():
        cand = seq + bytes([b])
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        if next_code < 4096:
            table[cand] = next_code
            # grow when ASSIGNING code 2^width: the decoder's table lags
            # one entry behind the encoder's, so its post-increment check
            # (next_code == 2^width after adding) fires one code later —
            # exactly in step with this pre-increment one
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        seq = bytes([b])
    if seq:
        emit(table[seq])
    emit(end)
    # pack LSB-first, vectorized
    vals = np.array(out_vals, dtype=np.uint32)
    ns = np.array(out_ns, dtype=np.int64)
    ar = np.arange(12, dtype=np.uint32)
    bits = ((vals[:, None] >> ar) & 1).astype(np.uint8)
    flat = bits[ar < ns[:, None]]
    return np.packbits(flat, bitorder="little").tobytes()


# ---------------------------------------------------------------------------
# container

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


@clean_decode
def gif_frames(data: bytes) -> list[np.ndarray]:
    """GIF bytes -> list of composited (h, w, 3) uint8 canvases."""
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    sw, sh, packed, bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    if sw * sh > _MAX_PIXELS:
        # spec-legal dimensions reach 65535x65535 — a 12 GiB canvas from
        # a 20-byte header. These decoders run per-row inside executor
        # tasks, so an implausible claim is refused loudly instead of
        # OOM-killing the worker (ValueError joins the null-row guard).
        raise ValueError(f"implausible GIF canvas {sw}x{sh}")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(data[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    if gct is not None and bg < len(gct):
        canvas = np.tile(gct[bg], (sh, sw, 1))
    else:
        canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    frames: list[np.ndarray] = []
    transparent = None
    disposal = 0
    prev_canvas = None
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            subs = []
            while pos < len(data) and data[pos]:
                n = data[pos]
                subs.append(data[pos + 1 : pos + 1 + n])
                pos += 1 + n
            pos += 1  # terminator
            if label == 0xF9 and subs:  # graphics control
                gce = subs[0]
                if len(gce) < 4:
                    raise ValueError("truncated GIF graphics-control block")
                flags = gce[0]
                disposal = (flags >> 2) & 7
                transparent = gce[3] if flags & 1 else None
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 9 > len(data):
            raise ValueError("truncated GIF image descriptor")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            pal = np.frombuffer(data[pos : pos + 3 * n], np.uint8).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image with no color table")
        mcs = data[pos]
        pos += 1
        # palette-driven, so 1-8 by spec; a corrupt byte here would
        # otherwise size the LZW dictionary as 1 << mcs (observed: a
        # fuzzed mcs of 47 asking for a 128 TiB suffix table)
        if not 1 <= mcs <= 8:
            raise ValueError(f"GIF LZW min code size {mcs} out of range")
        if w * h > _MAX_PIXELS:
            raise ValueError(f"implausible GIF frame {w}x{h}")
        lzw = bytearray()
        while pos < len(data) and data[pos]:
            n = data[pos]
            lzw += data[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1
        idx = _lzw_decode(bytes(lzw), mcs, w * h)
        if ipacked & 0x40:  # interlaced: reorder rows
            rows = np.empty(h, dtype=np.int64)
            r = 0
            for start, step in _INTERLACE_PASSES:
                for y in range(start, h, step):
                    rows[y] = r
                    r += 1
            idx = idx.reshape(h, w)[rows].reshape(-1)
        idx = idx.reshape(h, w)
        if idx.max() >= len(pal):
            raise ValueError("GIF pixel index outside the color table")
        if disposal == 3:
            prev_canvas = canvas.copy()
        region = canvas[top : top + h, left : left + w]
        if region.shape[:2] != (h, w):
            raise ValueError("GIF frame extends outside the logical screen")
        px = pal[idx]
        if transparent is not None:
            mask = (idx != transparent)[:, :, None]
            px = np.where(mask, px, region)
        canvas[top : top + h, left : left + w] = px
        # total-memory guard, not just per-array: a tiny payload can
        # declare a near-cap canvas and hundreds of 1x1 frames, each
        # appending a full canvas copy (review r4g) — bound the SUM of
        # frame pixels the same way single allocations are bounded
        if (len(frames) + 1) * sw * sh > _MAX_TOTAL_PIXELS:
            raise ValueError(
                f"implausible GIF: {len(frames) + 1} frames of "
                f"{sw}x{sh} exceed the decode memory budget"
            )
        frames.append(canvas.copy())
        if disposal == 2:  # restore background in the frame region
            # the background index refers to the GLOBAL color table,
            # not the current frame's local palette
            bgcol = gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
            canvas[top : top + h, left : left + w] = bgcol
        elif disposal == 3 and prev_canvas is not None:
            canvas = prev_canvas
        disposal = 0
        transparent = None
    if not frames:
        raise ValueError("GIF with no image data")
    return frames


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes -> first frame as an (h, w, 3) uint8 canvas."""
    # cheap: gif_frames stops work only at the trailer; first-frame
    # callers on animations accept the full decode (bounded by payload)
    return gif_frames(data)[0]


def _palette(pixels: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    flat = pixels.reshape(-1, 3)
    pal, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError(
            f"GIF encode needs <= 256 distinct colors (got {len(pal)}); "
            "quantize first"
        )
    return pal, idx.astype(np.uint32)


def encode_gif(frames, delay_cs: int = 4) -> bytes:
    """One (h, w, 3) array or a list of same-shape arrays -> GIF89a."""
    if isinstance(frames, np.ndarray) and frames.ndim == 3:
        frames = [frames]
    frames = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    h, w, _ = frames[0].shape
    if any(f.shape != (h, w, 3) for f in frames):
        raise ValueError("all GIF frames must share one shape")
    pal, _ = _palette(np.stack(frames))
    nbits = max(int(len(pal) - 1).bit_length(), 1)
    table = np.zeros((1 << nbits, 3), dtype=np.uint8)
    table[: len(pal)] = pal
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((nbits - 1) & 7), 0, 0)
    out += table.tobytes()
    # exact-color index lookup per frame via a packed-key table
    key = (pal[:, 0].astype(np.int64) << 16) | (pal[:, 1].astype(np.int64) << 8) | pal[:, 2]
    order = np.argsort(key)
    for fi, f in enumerate(frames):
        if len(frames) > 1:
            out += b"\x21\xf9\x04" + struct.pack("<BHB", 0, delay_cs, 0) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        fk = (
            (f[:, :, 0].astype(np.int64) << 16)
            | (f[:, :, 1].astype(np.int64) << 8)
            | f[:, :, 2]
        ).reshape(-1)
        idx = order[np.searchsorted(key[order], fk)].astype(np.uint32)
        mcs = max(nbits, 2)
        out += bytes([mcs])
        lzw = _lzw_encode(idx, mcs)
        for s in range(0, len(lzw), 255):
            chunk = lzw[s : s + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)

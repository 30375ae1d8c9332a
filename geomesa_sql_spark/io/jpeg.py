"""Baseline JFIF JPEG codec — from scratch, numpy + stdlib only.

Closes the one lossy-format stub in `io/images.py` (no PIL/cv2 in the
environment): the north rule's per-row image invariant is
"decoded-pixel allclose (PSNR ≥ 40 dB for lossy)" (BASELINE.json
input_hint), and PNG/raw are lossless, so without this module nothing
ever exercised the lossy leg of that contract.

Decoder (`decode_jpeg`): baseline sequential DCT (SOF0/1) AND Huffman
progressive (SOF2, T.81 Annex G: spectral selection + successive
approximation, EOB runs, refinement correction bits), 8-bit, 1/3/4
components, any sampling factors in {1, 2} (4:4:4 / 4:2:2 / 4:2:0),
restart markers, multiple DQT/DHT segments — i.e. the shapes libjpeg,
cameras, and the web emit (large web JPEGs are usually progressive).
4-component files decode per the Adobe APP14 convention (transform 2 =
YCCK, else direct CMYK; samples stored ink-inverted) — the print/scan
shape. It builds Huffman tables from the FILE's own DHT segments, so
it decodes foreign JPEGs, not just this encoder's output. Arithmetic
coding, 12-bit, and hierarchical modes raise loudly.

Encoder (`encode_jpeg`): baseline 4:4:4 / 4:2:0, standard Annex-K
quantization tables with the libjpeg quality scaling law, vectorized
2-D DCT over all blocks at once; `progressive=True` emits a SOF2
stream through a libjpeg-style scan script (interleaved DC first, two
AC bands per component, two successive-approximation refinement
levels) that exercises every Annex-G code path, and is pinned by the
law decode(progressive) == decode(baseline) BIT-EXACT (same quantized
coefficients, same IDCT). Entropy tables are VALID canonical Huffman
tables constructed programmatically (every DC size 0-11 at 4 bits,
every AC (run, size) symbol plus EOB/ZRL at 9 bits — progressive adds
the 14 EOBn symbols) instead of a hand-transcribed Annex-K table: the
decoder always reads tables from the stream, so interop is unaffected
and a transcription typo cannot silently corrupt the bitstream. Costs
~1.5× the optimal entropy size; pixels (and therefore PSNR) are
identical to what the standard tables would give.

Fidelity: quality 90 on the synthetic fixture images measures PSNR
well above the 40 dB bar (smooth gradients); quality 50 sits in the
30s — both asserted in tests, along with an IDCT∘DCT identity law and
foreign-layout decoding via a 4:2:0 round trip.
"""

from __future__ import annotations

import struct

import numpy as np

from geomesa_sql_spark.io.errors import clean_decode

# ---------------------------------------------------------------- tables

# Annex K quantization tables (public, every JPEG article reproduces them)
Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

Q_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# zigzag scan order: ZIGZAG[k] = flat (row*8+col) index of the k-th
# zigzag position — derived, not transcribed
def _zigzag_order() -> np.ndarray:
    order = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        idx = [(s - j, j) for j in rng]
        if s % 2 == 0:
            idx.reverse()
        order.extend(r * 8 + c for r, c in idx)
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()

# 8x8 DCT-II matrix: dct(X) = A @ X @ A.T
def _dct_matrix() -> np.ndarray:
    k = np.arange(8)
    a = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16.0) * 0.5
    a[0, :] *= 1.0 / np.sqrt(2.0)
    return a


DCT_A = _dct_matrix()


def _quality_scale(tbl: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling law."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (tbl * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


# ------------------------------------------------------------- bit I/O


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        # drop emitted bits — otherwise acc grows one byte per output
        # byte and every put() shifts an ever-bigger int (O(n²) encode)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.buf)


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing
    and restart-marker awareness."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartHit()
            else:
                # reached a real marker (EOI) — per spec, pad with 1s
                self.acc = (self.acc << 8) | 0xFF
                self.n += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        # truncate to live bits — otherwise acc grows with the whole
        # entropy stream and each _fill shifts it (O(n²) decode)
        self.acc &= (1 << self.n) - 1
        return v

    def restart(self) -> None:
        """Byte-align, consume the RSTn marker."""
        self.acc = 0
        self.n = 0
        d = self.data
        while d[self.pos] != 0xFF or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            self.pos += 1
        self.pos += 2


class _RestartHit(Exception):
    pass


# ------------------------------------------------------ Huffman tables


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """(bits[1..16], values) → {symbol: (code, length)} canonical."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_FAST_BITS = 9


def _decode_table(bits: list[int], vals: list[int]):
    """(walk, fast) pair for the reader: ``walk`` maps (length, code) →
    symbol for the bit-by-bit path; ``fast`` maps every 9-bit prefix of
    a code of length ≤ 9 → (symbol, length), resolving the vast
    majority of symbols with ONE dict lookup (review r4e: the
    walk-only reader cost ~9 Python calls per symbol — the decode hot
    loop)."""
    enc = _canonical_codes(bits, vals)
    walk = {(ln, code): sym for sym, (code, ln) in enc.items()}
    fast: dict[int, tuple[int, int]] = {}
    for sym, (code, ln) in enc.items():
        if ln <= _FAST_BITS:
            base = code << (_FAST_BITS - ln)
            for suffix in range(1 << (_FAST_BITS - ln)):
                fast[base + suffix] = (sym, ln)
    return walk, fast


# encoder tables: flat-length canonical codes (valid Huffman — see
# module docstring). DC: 12 symbols × 4 bits; AC: 162 symbols × 9 bits.
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0] * 16
_AC_BITS[8] = len(_AC_VALS)  # all codes 9 bits long
_ENC_DC = _canonical_codes(_DC_BITS, _DC_VALS)
_ENC_AC = _canonical_codes(_AC_BITS, _AC_VALS)

# progressive AC scans additionally need the EOBn symbols (run << 4 with
# size 0, run 0-14: end-of-band run lengths 1..32767, T.81 G.1.2.2) that
# Annex K's sequential tables don't define; same flat 9-bit canonical
# construction (176 codes, Kraft 176/512)
_AC_VALS_PROG = [r << 4 for r in range(15)] + [0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS_PROG = [0] * 16
_AC_BITS_PROG[8] = len(_AC_VALS_PROG)
_ENC_AC_PROG = _canonical_codes(_AC_BITS_PROG, _AC_VALS_PROG)


def _size_of(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# ------------------------------------------------------------ encoder


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    px = px.astype(np.float64)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _plane_blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad (edge-replicate) to 8-multiples, return (n,8,8) blocks +
    block-grid dims."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return blocks, bh, bw


def _encode_block(wtr: _BitWriter, zz: np.ndarray, pred: int) -> int:
    diff = int(zz[0]) - pred
    s = _size_of(diff)
    code, ln = _ENC_DC[s]
    wtr.put(code, ln)
    if s:
        wtr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _ENC_AC[0xF0]
            wtr.put(code, ln)
            run -= 16
        s = _size_of(v)
        code, ln = _ENC_AC[(run << 4) | s]
        wtr.put(code, ln)
        wtr.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = _ENC_AC[0x00]
        wtr.put(code, ln)
    return int(zz[0])


# -------------------------------------------- progressive scan emitters
#
# T.81 Annex G spectral selection + successive approximation. Each
# helper emits ONE scan's entropy bytes over the already-quantized
# zigzag coefficients; the scan script itself lives in
# _progressive_scans. Key stream invariants (G.1.2.2-3):
#   - EOBn codes (run<<4, size 0) count end-of-band blocks; the count
#     includes the block whose symbol loop the EOBn terminates.
#   - In refinement scans, correction bits for already-nonzero
#     coefficients ride AFTER the symbol whose run walks over them, in
#     coefficient order — the decoder consumes them while walking.
#   - ZRL (0xF0) in a refinement scan skips 16 ZERO-HISTORY positions;
#     it must be emitted at the first nonzero coefficient reached with
#     run > 15 so the pending correction bits stay inside its span.


def _flush_eobrun(wtr: _BitWriter, eobrun: int, bitbuf: list[int]) -> int:
    if eobrun:
        nbits = eobrun.bit_length() - 1
        code, ln = _ENC_AC_PROG[nbits << 4]
        wtr.put(code, ln)
        if nbits:
            wtr.put(eobrun - (1 << nbits), nbits)
        for b in bitbuf:
            wtr.put(b, 1)
        bitbuf.clear()
    return 0


def _scan_dc_first(comp_coefs, mcu_order, ncomp: int, al: int) -> bytes:
    wtr = _BitWriter()
    preds = [0] * ncomp
    for ci, bi in mcu_order:
        v = int(comp_coefs[ci][bi][0]) >> al  # DC point transform is
        diff = v - preds[ci]                  # an arithmetic shift (G.1.1)
        preds[ci] = v
        s = _size_of(diff)
        code, ln = _ENC_DC[s]
        wtr.put(code, ln)
        if s:
            wtr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    return wtr.flush()


def _scan_dc_refine(comp_coefs, mcu_order, al: int) -> bytes:
    wtr = _BitWriter()
    for ci, bi in mcu_order:
        wtr.put((int(comp_coefs[ci][bi][0]) >> al) & 1, 1)
    return wtr.flush()


def _scan_ac_first(coefs, order, ss: int, se: int, al: int) -> bytes:
    wtr = _BitWriter()
    eobrun = 0
    for bi in order:
        zz = coefs[bi]
        r = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = abs(v) >> al
            if t == 0:
                r += 1
                continue
            eobrun = _flush_eobrun(wtr, eobrun, [])
            while r > 15:
                code, ln = _ENC_AC_PROG[0xF0]
                wtr.put(code, ln)
                r -= 16
            s = t.bit_length()
            code, ln = _ENC_AC_PROG[(r << 4) | s]
            wtr.put(code, ln)
            sv = t if v > 0 else -t
            wtr.put(sv if sv > 0 else sv + (1 << s) - 1, s)
            r = 0
        if r:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _flush_eobrun(wtr, eobrun, [])
    _flush_eobrun(wtr, eobrun, [])
    return wtr.flush()


def _scan_ac_refine(coefs, order, ss: int, se: int, al: int) -> bytes:
    wtr = _BitWriter()
    eobrun = 0
    bitbuf: list[int] = []  # correction bits owned by the pending EOBn
    for bi in order:
        zz = coefs[bi]
        vals = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        eob_i = -1  # last newly-significant position in the band
        for i, t in enumerate(vals):
            if t == 1:
                eob_i = i
        r = 0
        pend: list[int] = []  # correction bits since the last symbol
        for i, t in enumerate(vals):
            if t == 0:
                r += 1
                continue
            if i <= eob_i:
                # a run longer than 15 must be broken by ZRL *here*, at
                # the first nonzero reached, so every buffered
                # correction bit lies inside the emitted ZRL's span
                while r > 15:
                    eobrun = _flush_eobrun(wtr, eobrun, bitbuf)
                    code, ln = _ENC_AC_PROG[0xF0]
                    wtr.put(code, ln)
                    for b in pend:
                        wtr.put(b, 1)
                    pend = []
                    r -= 16
            if t > 1:
                pend.append(t & 1)  # history coefficient: correction bit
                continue
            # newly significant (+-1 at this precision)
            eobrun = _flush_eobrun(wtr, eobrun, bitbuf)
            code, ln = _ENC_AC_PROG[(r << 4) | 1]
            wtr.put(code, ln)
            wtr.put(1 if int(zz[ss + i]) > 0 else 0, 1)
            for b in pend:
                wtr.put(b, 1)
            pend = []
            r = 0
        if r or pend:
            eobrun += 1
            bitbuf.extend(pend)
            if eobrun == 0x7FFF:
                eobrun = _flush_eobrun(wtr, eobrun, bitbuf)
    _flush_eobrun(wtr, eobrun, bitbuf)
    return wtr.flush()


def _progressive_scans(comp_coefs, grids, factors, w: int, h: int):
    """The scan script: DC first (Al=1) interleaved, per-component AC
    bands 1-5 / 6-63 first at Al=2, refined 2->1, DC refined to full
    precision, AC refined 1->0 — i.e. two successive-approximation
    levels so every first-scan and refinement code path is exercised.
    Returns [(comp_indices, Ss, Se, Ah, Al, entropy_bytes)]."""
    ncomp = len(comp_coefs)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    # non-interleaved scans walk the component's OWN ceil raster
    # (B.2.3), not the MCU-padded grid the encoder allocates
    orders = []
    for ci in range(ncomp):
        fh, fv = factors[ci]
        bh, bw = grids[ci]
        compw, comph = -(-w * fh // hmax), -(-h * fv // vmax)
        bw2, bh2 = -(-compw // 8), -(-comph // 8)
        orders.append([row * bw + col
                       for row in range(bh2) for col in range(bw2)])
    mcuy = grids[0][0] // factors[0][1]
    mcux = grids[0][1] // factors[0][0]
    mcu_order = []
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(ncomp):
                fh, fv = factors[ci]
                bw = grids[ci][1]
                for by in range(fv):
                    for bx in range(fh):
                        mcu_order.append(
                            (ci, (my * fv + by) * bw + (mx * fh + bx)))
    scans = [(list(range(ncomp)), 0, 0, 0, 1,
              _scan_dc_first(comp_coefs, mcu_order, ncomp, 1))]
    bands = ((1, 5), (6, 63))
    for ci in range(ncomp):
        for ss, se in bands:
            scans.append(([ci], ss, se, 0, 2,
                          _scan_ac_first(comp_coefs[ci], orders[ci], ss, se, 2)))
    for ci in range(ncomp):
        for ss, se in bands:
            scans.append(([ci], ss, se, 2, 1,
                          _scan_ac_refine(comp_coefs[ci], orders[ci], ss, se, 1)))
    scans.append((list(range(ncomp)), 0, 0, 1, 0,
                  _scan_dc_refine(comp_coefs, mcu_order, 0)))
    for ci in range(ncomp):
        for ss, se in bands:
            scans.append(([ci], ss, se, 1, 0,
                          _scan_ac_refine(comp_coefs[ci], orders[ci], ss, se, 0)))
    return scans


def encode_jpeg(
    pixels: np.ndarray, quality: int = 90, subsampling: str = "444",
    progressive: bool = False,
) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes.

    ``subsampling``: '444' (full chroma) or '420' (chroma box-averaged
    2×2 — the layout cameras/libjpeg default to, and the path that
    exercises the decoder's generic MCU walker + upsampler).

    A side outside 1..65,535 (SOF's 16-bit fields) raises ValueError.
    """
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    sub = 2 if subsampling == "420" else 1
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = pixels.shape
    if not (1 <= w <= 0xFFFF and 1 <= h <= 0xFFFF):
        raise ValueError(f"JPEG cannot encode a {w}x{h} image (sides 1..65535)")
    ycc = _rgb_to_ycbcr(pixels)
    qt = [_quality_scale(Q_LUM, quality), _quality_scale(Q_CHR, quality)]

    # sampling factors per component; chroma planes box-downsampled
    factors = [(sub, sub), (1, 1), (1, 1)]
    mcu_px = 8 * sub
    mh, mw = -h % mcu_px, -w % mcu_px
    padded = np.pad(ycc, ((0, mh), (0, mw), (0, 0)), mode="edge")
    planes = [padded[..., 0]]
    if sub == 2:
        ph, pw = padded.shape[0], padded.shape[1]
        for ci in (1, 2):
            p = padded[..., ci].reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            planes.append(p)
    else:
        planes += [padded[..., 1], padded[..., 2]]

    comp_coefs = []
    grids = []
    for ci, plane in enumerate(planes):
        blocks, bh, bw = _plane_blocks(plane - 128.0)
        grids.append((bh, bw))
        coef = np.einsum("ij,njk,lk->nil", DCT_A, blocks, DCT_A)
        q = qt[0 if ci == 0 else 1].astype(np.float64)
        qc = np.round(coef / q).astype(np.int64)
        comp_coefs.append(qc.reshape(-1, 64)[:, ZIGZAG])

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, q in enumerate(qt):
        out += seg(0xFFDB, bytes([tid]) + bytes(q.reshape(-1)[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid in range(3):
        fh, fv = factors[cid]
        sof += bytes([cid + 1, (fh << 4) | fv, 0 if cid == 0 else 1])
    out += seg(0xFFC2 if progressive else 0xFFC0, sof)
    ac_bits, ac_vals = (
        (_AC_BITS_PROG, _AC_VALS_PROG) if progressive else (_AC_BITS, _AC_VALS)
    )
    for cls, tid, bits, vals in (
        (0, 0, _DC_BITS, _DC_VALS), (0, 1, _DC_BITS, _DC_VALS),
        (1, 0, ac_bits, ac_vals), (1, 1, ac_bits, ac_vals),
    ):
        out += seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    if progressive:
        for cis, ss, se, ah, al, entropy in _progressive_scans(
            comp_coefs, grids, factors, w, h
        ):
            sos = bytes([len(cis)])
            for ci in cis:
                t = 0 if ci == 0 else 1
                sos += bytes([ci + 1, (t << 4) | t])
            sos += bytes([ss, se, (ah << 4) | al])
            out += seg(0xFFDA, sos)
            out += entropy
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    wtr = _BitWriter()
    pred = [0, 0, 0]
    mcuy = grids[0][0] // factors[0][1]
    mcux = grids[0][1] // factors[0][0]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(3):
                fh, fv = factors[ci]
                bh, bw = grids[ci]
                for by in range(fv):
                    for bx in range(fh):
                        bi = (my * fv + by) * bw + (mx * fh + bx)
                        pred[ci] = _encode_block(wtr, comp_coefs[ci][bi], pred[ci])
    entropy = wtr.flush()
    sos = bytes([3])
    for cid in range(3):
        t = 0 if cid == 0 else 1
        sos += bytes([cid + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------------------ decoder


@clean_decode
def decode_jpeg(data: bytes) -> np.ndarray:
    """JFIF bytes → (h, w, 3) uint8 RGB (grayscale replicated).

    Running off the end of a truncated stream (IndexError/struct.error),
    a scan referencing an undefined DHT/DQT id (KeyError), or a mutated
    header overflowing a struct pack (OverflowError) surfaces as a clean
    ValueError via the shared clean_decode wrapper."""
    return _decode_jpeg(data)


def _read_symbol(rdr: _BitReader, table) -> int:
    walk, fast = table
    # fast path: buffer 9 bits, resolve short codes in one lookup.
    # _fill raises _RestartHit only BEFORE consuming the marker, so
    # bailing to the walk path at a restart boundary is lossless.
    try:
        while rdr.n < _FAST_BITS:
            rdr._fill()
    except _RestartHit:
        pass
    if rdr.n >= _FAST_BITS:
        hit = fast.get((rdr.acc >> (rdr.n - _FAST_BITS)) & ((1 << _FAST_BITS) - 1))
        if hit is not None:
            sym, ln = hit
            rdr.n -= ln
            rdr.acc &= (1 << rdr.n) - 1
            return sym
    # slow walk: long codes (10-16 bits) or a buffer cut short by a
    # restart marker
    code = 0
    for length in range(1, 17):
        code = (code << 1) | rdr.bits(1)
        sym = walk.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad Huffman code in JPEG stream")

def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

def _prog_ac_first_block(rdr, atab, zz, ss, se, al, eobrun) -> int:
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_symbol(rdr, atab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: sixteen zero coefficients
                k += 16
                continue
            # EOBn: (1 << r) + ext bits blocks end here, incl. this one
            eobrun = (1 << r) - 1
            if r:
                eobrun += rdr.bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC index overrun")
        zz[k] = _extend(rdr.bits(s), s) << al
        k += 1
    return eobrun

def _prog_ac_refine_block(rdr, atab, zz, ss, se, al, eobrun) -> int:
    p1, m1 = 1 << al, -(1 << al)

    def correct(i: int) -> None:
        # a set bit appends this scan's magnitude bit to a
        # coefficient that was already nonzero (G.1.2.3)
        if rdr.bits(1) and (int(zz[i]) & p1) == 0:
            zz[i] += p1 if zz[i] >= 0 else m1

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_symbol(rdr, atab)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = (1 << r) + (rdr.bits(r) if r else 0)
                    break
                # ZRL: walk over 16 zero-history positions below
            elif s == 1:
                val = p1 if rdr.bits(1) else m1
            else:
                raise ValueError(
                    "refinement scan magnitude must be 1")
            # advance over r zero-history coefficients; nonzero ones
            # along the way consume correction bits instead
            while k <= se:
                if zz[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val:
                if k > se:
                    raise ValueError("AC refine overrun")
                zz[k] = val
            k += 1
    if eobrun:
        # end-of-band: remaining nonzero coefficients still carry
        # one correction bit each
        while k <= se:
            if zz[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    h = w = 0
    hmax = vmax = 1
    mcux = mcuy = 0
    restart_interval = 0
    progressive = False
    scanned: set[int] = set()
    adobe_transform: int | None = None

    def decode_block(rdr, dtab, atab, pred, cid) -> np.ndarray:
        zz = np.zeros(64, dtype=np.int32)
        s = _read_symbol(rdr, dtab)
        diff = _extend(rdr.bits(s), s) if s else 0
        pred[cid] += diff
        zz[0] = pred[cid]
        k = 1
        while k <= 63:
            rs = _read_symbol(rdr, atab)
            if rs == 0x00:
                break
            if rs == 0xF0:
                k += 16
                continue
            k += rs >> 4
            s = rs & 15
            if k > 63:
                raise ValueError("AC index overrun")
            zz[k] = _extend(rdr.bits(s), s)
            k += 1
        return zz

    def decode_scan(rdr: _BitReader, scomp, restart_interval) -> None:
        # DC predictors reset at scan start and at every restart (spec)
        pred = {c["id"]: 0 for c in comps}
        try:
            if len(scomp) > 1:
                # interleaved scan: MCU = one (v x h) block group per
                # component, raster order over the MCU grid
                n_mcu = 0
                for my in range(mcuy):
                    for mx in range(mcux):
                        if (restart_interval and n_mcu
                                and n_mcu % restart_interval == 0):
                            rdr.restart()
                            pred = {c["id"]: 0 for c in comps}
                        n_mcu += 1
                        for c, dct, act in scomp:
                            dtab, atab = htabs[(0, dct)], htabs[(1, act)]
                            for by in range(c["v"]):
                                for bx in range(c["h"]):
                                    zz = decode_block(rdr, dtab, atab,
                                                      pred, c["id"])
                                    row = my * c["v"] + by
                                    col = mx * c["h"] + bx
                                    c["coef"][row * c["bw"] + col] = zz
            else:
                # non-interleaved scan: data units are the component's
                # OWN block raster (ceil of its scaled dims), not the
                # MCU-padded grid — legal baseline (one SOS per
                # component), which libjpeg can emit
                c, dct, act = scomp[0]
                dtab, atab = htabs[(0, dct)], htabs[(1, act)]
                compw = -(-w * c["h"] // hmax)
                comph = -(-h * c["v"] // vmax)
                bw2, bh2 = -(-compw // 8), -(-comph // 8)
                unit = 0
                for row in range(bh2):
                    for col in range(bw2):
                        if (restart_interval and unit
                                and unit % restart_interval == 0):
                            rdr.restart()
                            pred = {c["id"]: 0 for c in comps}
                        unit += 1
                        zz = decode_block(rdr, dtab, atab, pred, c["id"])
                        c["coef"][row * c["bw"] + col] = zz
        except _RestartHit:
            raise ValueError("unexpected restart marker") from None

    # ---------------- progressive (SOF2) scan walkers, T.81 Annex G ----
    # Scans deposit into the same per-component zigzag coefficient
    # arrays the sequential path uses; only the entropy layer differs.

    def decode_scan_prog(rdr, scomp, ss, se, ah, al, restart_interval):
        pred = {c["id"]: 0 for c in comps}
        eobrun = 0
        n_unit = 0

        def at_restart():
            nonlocal pred, eobrun
            rdr.restart()
            pred = {c["id"]: 0 for c in comps}
            eobrun = 0

        try:
            if ss == 0:  # DC scan (first or refinement), MCU-interleaved
                if se != 0:
                    raise ValueError("progressive DC scan with Se != 0")
                if len(scomp) > 1:
                    units = []
                    for my in range(mcuy):
                        for mx in range(mcux):
                            group = []
                            for c, dct, _act in scomp:
                                for by in range(c["v"]):
                                    for bx in range(c["h"]):
                                        group.append(
                                            (c, dct,
                                             (my * c["v"] + by) * c["bw"]
                                             + mx * c["h"] + bx))
                            units.append(group)
                else:
                    c, dct, _act = scomp[0]
                    compw = -(-w * c["h"] // hmax)
                    comph = -(-h * c["v"] // vmax)
                    bw2, bh2 = -(-compw // 8), -(-comph // 8)
                    units = [[(c, dct, row * c["bw"] + col)]
                             for row in range(bh2) for col in range(bw2)]
                for group in units:
                    if (restart_interval and n_unit
                            and n_unit % restart_interval == 0):
                        at_restart()
                    n_unit += 1
                    for c, dct, bi in group:
                        zz = c["coef"][bi]
                        if ah == 0:
                            s = _read_symbol(rdr, htabs[(0, dct)])
                            diff = _extend(rdr.bits(s), s) if s else 0
                            pred[c["id"]] += diff
                            zz[0] = pred[c["id"]] << al
                        elif rdr.bits(1):
                            zz[0] |= 1 << al
            else:  # AC scan: single component over its own ceil raster
                if len(scomp) > 1:
                    raise ValueError(
                        "progressive AC scan must be single-component")
                c, _dct, act = scomp[0]
                atab = htabs[(1, act)]
                compw = -(-w * c["h"] // hmax)
                comph = -(-h * c["v"] // vmax)
                bw2, bh2 = -(-compw // 8), -(-comph // 8)
                for row in range(bh2):
                    for col in range(bw2):
                        if (restart_interval and n_unit
                                and n_unit % restart_interval == 0):
                            at_restart()
                        n_unit += 1
                        zz = c["coef"][row * c["bw"] + col]
                        if ah == 0:
                            eobrun = _prog_ac_first_block(
                                rdr, atab, zz, ss, se, al, eobrun)
                        else:
                            eobrun = _prog_ac_refine_block(
                                rdr, atab, zz, ss, se, al, eobrun)
        except _RestartHit:
            raise ValueError("unexpected restart marker") from None

    while True:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xFF:
            # fill byte (B.1.1.2: any number of 0xFF pads before a
            # marker) — keep the second 0xFF as the candidate start
            pos += 1
            continue
        pos += 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        ln = struct.unpack(">H", data[pos:pos + 2])[0]
        body = data[pos + 2:pos + ln]
        if marker == 0xDB:  # DQT
            o = 0
            while o < len(body):
                pq, tid = body[o] >> 4, body[o] & 15
                o += 1
                if pq:
                    q = np.frombuffer(body[o:o + 128], dtype=">u2").astype(np.int32)
                    o += 128
                else:
                    q = np.frombuffer(body[o:o + 64], dtype=np.uint8).astype(np.int32)
                    o += 64
                tbl = np.zeros(64, dtype=np.int32)
                tbl[ZIGZAG] = q
                qtabs[tid] = tbl.reshape(8, 8)
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext seq / progressive
            progressive = marker == 0xC2
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            if nc not in (1, 3, 4):
                raise NotImplementedError(
                    f"{nc}-component JPEG not supported — grayscale, "
                    "YCbCr and CMYK/YCCK only"
                )
            if len(body) < 6 + 3 * nc:
                raise ValueError("JPEG SOF shorter than its component list")
            comps = []
            for i in range(nc):
                cid, hv, qid = body[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "q": qid})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for c in comps:
                c["bw"] = mcux * c["h"]
                c["bh"] = mcuy * c["v"]
                c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int32)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{marker:02X}: only baseline sequential "
                "(SOF0/SOF1) and Huffman progressive (SOF2) are supported "
                "(no arithmetic/lossless/hierarchical)"
            )
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(body):
                cls, tid = body[o] >> 4, body[o] & 15
                bits = list(body[o + 1:o + 17])
                n = sum(bits)
                vals = list(body[o + 17:o + 17 + n])
                htabs[(cls, tid)] = _decode_table(bits, vals)
                o += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xEE:  # APP14: Adobe color-transform flag
            if body[:5] == b"Adobe" and len(body) >= 12:
                adobe_transform = body[11]
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scomp = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                match = [c for c in comps if c["id"] == cs]
                if not match:
                    raise ValueError(f"SOS names unknown component {cs}")
                scomp.append((match[0], tt >> 4, tt & 15))
            rdr = _BitReader(data, pos + ln)
            if progressive:
                ss, se, ahal = body[1 + 2 * ns:4 + 2 * ns]
                if not (ss <= se <= 63):
                    raise ValueError("bad progressive spectral band")
                decode_scan_prog(rdr, scomp, ss, se, ahal >> 4, ahal & 15,
                                 restart_interval)
                if ss == 0:
                    # DC coverage is what makes a component renderable;
                    # AC bands only sharpen it (Annex G display model)
                    scanned.update(c["id"] for c, _, _ in scomp)
            else:
                decode_scan(rdr, scomp, restart_interval)
                scanned.update(c["id"] for c, _, _ in scomp)
            pos = rdr.pos
            continue
        pos += ln

    missing = [c["id"] for c in comps if c["id"] not in scanned]
    if not comps or missing:
        raise ValueError(f"JPEG stream missing scans for components {missing}")

    planes = []
    for c in comps:
        deq = np.zeros((len(c["coef"]), 64), dtype=np.float64)
        deq[:, ZIGZAG] = c["coef"]
        deq *= qtabs[c["q"]].reshape(-1)[None, :]
        blocks = deq.reshape(-1, 8, 8)
        px = np.einsum("ji,njk,kl->nil", DCT_A, blocks, DCT_A) + 128.0
        plane = (
            px.reshape(c["bh"], c["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["bh"] * 8, c["bw"] * 8)
        )
        # upsample to full-res grid, crop
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    if len(planes) == 4:
        # Adobe CMYK convention: stored samples are INVERTED ink
        # (255 = no ink). APP14 transform 2 = YCCK (first three
        # channels YCbCr-coded); transform 0 / absent = direct CMYK.
        if adobe_transform == 2:
            cmy = _ycbcr_to_rgb(planes[0], planes[1], planes[2]).astype(
                np.float64)
        else:
            cmy = np.clip(
                np.stack(planes[:3], axis=-1).round(), 0, 255)
        k = np.clip(planes[3].round(), 0, 255)
        # R = (255−C)(255−K)/255 over real ink = c'·k'/255 over the
        # stored inverted samples
        return np.clip(
            (cmy * k[..., None] / 255.0).round(), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])

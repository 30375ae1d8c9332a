"""From-scratch baseline JPEG codec (io/jpeg.py) — the lossy leg of the
north rule's image-payload invariant (input_hint: decoded-pixel
allclose, PSNR >= 40 dB for lossy).

The encoder is validated by decode round trips at closed thresholds;
the decoder's foreign-file paths (4:2:0 MCU interleave + upsampling,
restart markers, grayscale) are exercised with streams the public
encoder cannot emit, hand-assembled from the module's own primitives.
"""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_sql_spark.io.images import psnr
from geomesa_sql_spark.io.jpeg import (
    DCT_A,
    ZIGZAG,
    _BitWriter,
    _encode_block,
    _quality_scale,
    Q_LUM,
    _AC_BITS,
    _AC_VALS,
    _DC_BITS,
    _DC_VALS,
    decode_jpeg,
    encode_jpeg,
)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], axis=-1
    ).astype(np.uint8)


def test_dct_identity():
    rng = np.random.default_rng(7)
    x = rng.uniform(-128, 127, (16, 8, 8))
    c = np.einsum("ij,njk,lk->nil", DCT_A, x, DCT_A)
    back = np.einsum("ji,njk,kl->nil", DCT_A, c, DCT_A)
    assert abs(back - x).max() < 1e-10


def test_roundtrip_psnr_thresholds():
    px = _gradient(48, 64)
    assert psnr(px, decode_jpeg(encode_jpeg(px, 90))) >= 48.0
    assert psnr(px, decode_jpeg(encode_jpeg(px, 50))) >= 40.0
    assert psnr(px, decode_jpeg(encode_jpeg(px, 90, "420"))) >= 42.0
    # noise is the worst case for DCT coding — still bounded
    rng = np.random.default_rng(3)
    noisy = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    assert psnr(noisy, decode_jpeg(encode_jpeg(noisy, 90))) >= 28.0


def test_odd_dimensions_and_tiny():
    px = _gradient(41, 53)
    assert psnr(px, decode_jpeg(encode_jpeg(px, 90))) >= 45.0
    assert psnr(px, decode_jpeg(encode_jpeg(px, 90, "420"))) >= 40.0
    one = _gradient(3, 5)  # single partial block
    out = decode_jpeg(encode_jpeg(one, 95))
    assert out.shape == (3, 5, 3) and psnr(one, out) >= 35.0


def test_quality_monotone_size():
    px = _gradient(64, 64)
    sizes = [len(encode_jpeg(px, q)) for q in (30, 60, 90)]
    assert sizes == sorted(sizes)


def _seg(marker, payload):
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _headers_gray(h, w, q):
    out = bytearray(b"\xff\xd8")
    out += _seg(0xFFDB, bytes([0]) + bytes(q.reshape(-1)[ZIGZAG].astype(np.uint8)))
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += _seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    return out


def _gray_blocks(plane, q):
    ph = np.pad(
        plane.astype(np.float64) - 128.0,
        ((0, -plane.shape[0] % 8), (0, -plane.shape[1] % 8)),
        mode="edge",
    )
    bh, bw = ph.shape[0] // 8, ph.shape[1] // 8
    blocks = ph.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    coef = np.einsum("ij,njk,lk->nil", DCT_A, blocks, DCT_A)
    return np.round(coef / q.astype(np.float64)).astype(np.int64).reshape(-1, 64)[
        :, ZIGZAG
    ], bh, bw


def test_decode_grayscale_single_component():
    """1-component file (the decoder replicates Y into RGB) — a stream
    shape the public encoder never emits."""
    h, w = 24, 40
    plane = ((np.mgrid[0:h, 0:w][1] * 4) % 256).astype(np.uint8)
    q = _quality_scale(Q_LUM, 90)
    zz, bh, bw = _gray_blocks(plane, q)
    wtr = _BitWriter()
    pred = 0
    for bi in range(bh * bw):
        pred = _encode_block(wtr, zz[bi], pred)
    data = _headers_gray(h, w, q)
    data += _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    data += wtr.flush() + b"\xff\xd9"
    out = decode_jpeg(bytes(data))
    assert out.shape == (h, w, 3)
    assert (out[..., 0] == out[..., 1]).all() and (out[..., 1] == out[..., 2]).all()
    assert psnr(np.stack([plane] * 3, axis=-1), out) >= 45.0


def test_decode_restart_markers():
    """DRI + RSTn: byte-aligned restarts every MCU row, DC predictors
    reset — the camera-file layout the public encoder never emits."""
    h, w = 32, 48
    plane = ((np.mgrid[0:h, 0:w][0] * 7) % 256).astype(np.uint8)
    q = _quality_scale(Q_LUM, 90)
    zz, bh, bw = _gray_blocks(plane, q)
    data = _headers_gray(h, w, q)
    data += _seg(0xFFDD, struct.pack(">H", bw))  # restart every MCU row
    data += _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    for row in range(bh):
        wtr = _BitWriter()
        pred = 0  # predictors reset at each restart
        for col in range(bw):
            pred = _encode_block(wtr, zz[row * bw + col], pred)
        data += wtr.flush()
        if row < bh - 1:
            data += bytes([0xFF, 0xD0 + (row % 8)])
    data += b"\xff\xd9"
    out = decode_jpeg(bytes(data))
    assert psnr(np.stack([plane] * 3, axis=-1), out) >= 45.0


def test_garbage_and_unsupported_inputs():
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01\x02")
    px = _gradient(16, 16)
    good = bytearray(encode_jpeg(px, 90))
    # flip SOF0 to SOF9 (arithmetic coding) -> loud NotImplementedError
    # (SOF2 progressive is decoded for real since r4g; a baseline scan
    # header under a progressive frame is instead a clean ValueError)
    i = bytes(good).find(b"\xff\xc0")
    arith = bytes(good[:i]) + b"\xff\xc9" + bytes(good[i + 2:])
    with pytest.raises(NotImplementedError):
        decode_jpeg(arith)
    prog = bytes(good[:i]) + b"\xff\xc2" + bytes(good[i + 2:])
    with pytest.raises(ValueError):
        decode_jpeg(prog)


def test_jpeg_through_spark_ops(spark):
    """fmt='jpeg' rows flow through the Arrow-batched multimodal ops:
    image_stats channel means within lossy tolerance, resize runs, and
    the PSNR>=40dB invariant holds distributedly."""
    from geomesa_sql_spark.ops import image_stats, resize_images

    px = [_gradient(32, 32), _gradient(32, 32)[::-1].copy(), _gradient(24, 40)]
    rows = [
        (f"img{i}", encode_jpeg(p, 90), int(p.shape[1]), int(p.shape[0]), "jpeg")
        for i, p in enumerate(px)
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    stats = {r.image_id: r for r in image_stats(df).collect()}
    for i, p in enumerate(px):
        got = stats[f"img{i}"]
        assert abs(got.mean_r - p[..., 0].mean()) < 1.5
        assert abs(got.mean_g - p[..., 1].mean()) < 1.5
        assert abs(got.mean_b - p[..., 2].mean()) < 1.5
    rs = resize_images(df, out_size=8).collect()
    assert len(rs) == 3 and all(r.w == 8 and r.h == 8 for r in rs)
    # distributed PSNR law
    from pyspark.sql import types as T
    import pandas as pd

    from geomesa_sql_spark.io.images import decode_image

    @F.pandas_udf(T.DoubleType())
    def _psnr_vs_reencode(b: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        out = []
        for blob, ww, hh in zip(b, w, h):
            a = decode_image(bytes(blob), "jpeg", int(ww), int(hh))
            out.append(psnr(a, decode_jpeg(encode_jpeg(a, 90))))
        return pd.Series(out)

    vals = df.select(_psnr_vs_reencode("bytes", "w", "h").alias("p")).collect()
    assert all(r.p >= 40.0 for r in vals)


def test_linear_time_bit_io():
    """Review r4e: both bit accumulators must truncate to live bits —
    unbounded big-int accumulators made encode/decode O(n²), hidden by
    tiny test images. A 256×256 round trip (3× the entropy of anything
    else in the suite) must complete promptly."""
    import time

    rng = np.random.default_rng(11)
    base = _gradient(256, 256).astype(np.int32)
    px = np.clip(base + rng.integers(-12, 13, base.shape), 0, 255).astype(np.uint8)
    t0 = time.time()
    data = encode_jpeg(px, 85)
    out = decode_jpeg(data)
    wall = time.time() - t0
    assert psnr(px, out) >= 30.0  # ±12 noise at q85
    assert wall < 30.0, f"bit I/O should be linear; took {wall:.1f}s"


def test_fill_bytes_before_markers():
    """B.1.1.2: any number of 0xFF pad bytes may precede a marker —
    review r4e found the parser misread the pad as the marker."""
    good = encode_jpeg(_gradient(16, 24), 90)
    i = good.find(b"\xff\xdb")
    padded = good[:i] + b"\xff\xff\xff" + good[i:]
    assert (decode_jpeg(padded) == decode_jpeg(good)).all()


def test_multi_scan_non_interleaved():
    """Baseline-legal multi-scan layout (one SOS per component, data
    units in the component's own raster) must decode identically to
    the interleaved single-scan file."""
    px = _gradient(24, 40)
    q_l = _quality_scale(Q_LUM, 90)
    from geomesa_sql_spark.io.jpeg import Q_CHR, _rgb_to_ycbcr
    q_c = _quality_scale(Q_CHR, 90)
    ycc = _rgb_to_ycbcr(px)
    h, w = px.shape[:2]

    out = bytearray(b"\xff\xd8")
    out += _seg(0xFFDB, bytes([0]) + bytes(q_l.reshape(-1)[ZIGZAG].astype(np.uint8)))
    out += _seg(0xFFDB, bytes([1]) + bytes(q_c.reshape(-1)[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid in range(3):
        sof += bytes([cid + 1, 0x11, 0 if cid == 0 else 1])
    out += _seg(0xFFC0, sof)
    out += _seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    for ci in range(3):
        zz, bh, bw = _gray_blocks(
            ycc[..., ci], q_l if ci == 0 else q_c
        )
        wtr = _BitWriter()
        pred = 0
        for bi in range(bh * bw):
            pred = _encode_block(wtr, zz[bi], pred)
        out += _seg(0xFFDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        out += wtr.flush()
    out += b"\xff\xd9"

    got = decode_jpeg(bytes(out))
    want = decode_jpeg(encode_jpeg(px, 90))
    assert (got == want).all()


def test_unsupported_component_counts_and_bad_tables():
    px = _gradient(16, 16)
    good = bytearray(encode_jpeg(px, 90))
    # rewrite SOF to claim 4 components without the 4th spec bytes ->
    # clean ValueError (CMYK itself decodes now, see the YCCK tests)
    i = bytes(good).find(b"\xff\xc0")
    assert good[i + 9] == 3
    cmyk = bytes(good[:i + 9]) + bytes([4]) + bytes(good[i + 10:])
    with pytest.raises(ValueError):
        decode_jpeg(cmyk)
    # 5 components: loud NotImplementedError at SOF
    ln = int.from_bytes(good[i + 2:i + 4], "big")
    body = bytes(good[i + 4:i + 2 + ln])  # prec, h, w, nc, specs...
    newbody = body[:5] + bytes([5]) + body[6:] + bytes([4, 0x11, 1, 5, 0x11, 1])
    five = (bytes(good[:i + 2]) + struct.pack(">H", len(newbody) + 2)
            + newbody + bytes(good[i + 2 + ln:]))
    with pytest.raises(NotImplementedError, match="5-component"):
        decode_jpeg(five)
    # SOS naming an unknown component id -> clean ValueError
    j = bytes(good).find(b"\xff\xda")
    bad_sos = bytearray(good)
    bad_sos[j + 5] = 9  # first scan-component selector
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad_sos))
    # scan selecting an undefined AC table id -> clean ValueError
    bad_tab = bytearray(good)
    bad_tab[j + 6] = 0x03  # dc=0, ac=3 (never defined)
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad_tab))


def test_transcode_images_op(spark):
    """transcode_images (late r4): png/raw payloads re-encode as
    quality-90 JPEG with per-row PSNR >= 40 recorded, compression is
    real, null/corrupt rows survive as NULL, and a jpeg->png round
    trip is lossless vs the jpeg-decoded pixels."""
    from geomesa_sql_spark.io.images import decode_png, encode_png
    from geomesa_sql_spark.ops import transcode_images

    px0, px1 = _gradient(32, 48), _gradient(40, 40)[::-1].copy()
    rows = [
        ("a", encode_png(px0), 48, 32, "png"),
        ("b", px1.tobytes(), 40, 40, "raw"),
        ("n", None, 8, 8, "png"),
        ("x", b"\x89PNG-corrupt", 8, 8, "png"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r.image_id: r for r in transcode_images(df, to="jpeg", quality=90).collect()}
    for iid, src in (("a", px0), ("b", px1)):
        r = got[iid]
        assert r.fmt == "jpeg" and r.psnr_db >= 40.0
        assert (r.w, r.h) == (src.shape[1], src.shape[0])
        assert len(r.bytes) < len(encode_png(src))  # actually compresses
        assert psnr(src, decode_jpeg(bytes(r.bytes))) >= 40.0
    assert got["n"].bytes is None and got["n"].psnr_db is None
    assert got["x"].bytes is None  # corrupt input -> null row, no crash

    back = {r.image_id: r
            for r in transcode_images(
                transcode_images(df.filter("image_id = 'a'"), to="jpeg"),
                to="png").collect()}
    assert back["a"].psnr_db == float("inf")  # png leg is lossless
    assert decode_png(bytes(back["a"].bytes)).shape == (32, 48, 3)


def test_encode_rejects_sides_outside_sof_range():
    """SOF stores each side in 16 bits: a side over 65,535 (or an empty
    image) is a ValueError, not a struct.error from the header pack."""
    for shape in ((2, 70_000, 3), (70_000, 2, 3), (0, 4, 3)):
        with pytest.raises(ValueError, match="sides 1..65535"):
            encode_jpeg(np.zeros(shape, dtype=np.uint8))
    assert decode_jpeg(encode_jpeg(np.zeros((1, 1, 3), np.uint8))).shape == (1, 1, 3)


def test_transcode_survives_unencodable_dimensions(spark):
    """A 70,000-px-wide image decodes fine but exceeds JPEG's 65,535
    side — it must become a NULL row while the other rows still
    encode, not kill the task."""
    from geomesa_sql_spark.io.images import encode_raw
    from geomesa_sql_spark.ops.multimodal import transcode_images

    wide = np.zeros((2, 70_000, 3), dtype=np.uint8)
    ok = np.full((4, 4, 3), 7, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            ("wide", encode_raw(wide), 70_000, 2, "raw"),
            ("ok", encode_raw(ok), 4, 4, "raw"),
        ],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    out = transcode_images(df, to="jpeg").toPandas().set_index("image_id")
    assert out.loc["wide", "bytes"] is None
    assert psnr(ok, decode_jpeg(bytes(out.loc["ok", "bytes"]))) >= 40.0


def _cmyk_stream(planes4, q, transform):
    """4-component file (Adobe APP14 transform flag), one scan per
    component — the print/scan shape the public encoder never emits."""
    h, w = planes4[0].shape
    out = bytearray(b"\xff\xd8")
    out += _seg(0xFFEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, transform))
    out += _seg(0xFFDB, bytes([0]) + bytes(q.reshape(-1)[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 4)
    for cid in range(4):
        sof += bytes([cid + 1, 0x11, 0])
    out += _seg(0xFFC0, sof)
    out += _seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += _seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    for ci, plane in enumerate(planes4):
        zz, bh, bw = _gray_blocks(plane, q)
        wtr = _BitWriter()
        pred = 0
        for bi in range(bh * bw):
            pred = _encode_block(wtr, zz[bi], pred)
        out += _seg(0xFFDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_cmyk_direct_and_ycck():
    """Adobe 4-component JPEGs: transform 0 (direct inverted CMYK) and
    transform 2 (YCCK) both land within PSNR 40 of the closed-form
    RGB = c'·k'/255 expectation."""
    h, w = 24, 32
    yy, xx = np.mgrid[0:h, 0:w]
    cp = np.clip(60 + xx * 5, 0, 255).astype(np.float64)   # inverted C
    mp = np.clip(80 + yy * 5, 0, 255).astype(np.float64)
    yp = np.clip(100 + (xx + yy) * 2, 0, 255).astype(np.float64)
    kp = np.clip(150 + xx * 2, 0, 255).astype(np.float64)  # inverted K
    want = np.clip(
        (np.stack([cp, mp, yp], axis=-1) * kp[..., None] / 255.0).round(),
        0, 255).astype(np.uint8)
    q = _quality_scale(Q_LUM, 95)
    got = decode_jpeg(_cmyk_stream([cp, mp, yp, kp], q, transform=0))
    assert got.shape == (h, w, 3) and psnr(want, got) >= 40.0
    # YCCK: the first three channels ride the YCbCr transform
    from geomesa_sql_spark.io.jpeg import _rgb_to_ycbcr

    ycc = _rgb_to_ycbcr(np.stack([cp, mp, yp], axis=-1))
    got = decode_jpeg(_cmyk_stream(
        [ycc[..., 0], ycc[..., 1], ycc[..., 2], kp], q, transform=2))
    assert psnr(want, got) >= 40.0
    # without APP14 the 4-component default is direct CMYK
    stream = _cmyk_stream([cp, mp, yp, kp], q, transform=0)
    app14_at = stream.find(b"\xff\xee")
    ln = int.from_bytes(stream[app14_at + 2:app14_at + 4], "big")
    no_app14 = stream[:app14_at] + stream[app14_at + 2 + ln:]
    got2 = decode_jpeg(no_app14)
    assert psnr(want, got2) >= 40.0

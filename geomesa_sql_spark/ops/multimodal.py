"""Multimodal (image) operators over opaque binary columns.

The graft table carries images as ``bytes`` + typed metadata
(image_id, w, h, fmt — BASELINE.json input_hint). Operators run as
``mapInPandas`` over Arrow batches; decode uses the repo's from-scratch
codecs — raw + full PNG (``io.images``), baseline+progressive JPEG
(``io.jpeg``) and TIFF (``io.tiff``), listed once in
``io.images.DECODERS``. A row with a non-NULL payload whose ``fmt``
has no decoder there (a NULL ``fmt`` included) fails the task with
NotImplementedError naming the format: the check runs before the
per-row guards that turn a corrupt payload into a NULL row, so a
format the engine cannot read is never mistaken for a corrupt image.

Payload discipline at scale: each operator projects only the columns
it needs, so Catalyst prunes ``bytes`` out of any plan that doesn't
decode (the reference's analogous concern is projection pushdown
keeping unselected attributes out of GeoMesa scans,
GeoMesaProjectRule.scala:25-55).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_sql_spark.io.images import encode_raw, require_decoder


def image_stats(
    df: DataFrame, id_col: str = "image_id", carry: tuple[str, ...] = ()
) -> DataFrame:
    """Decode and compute per-channel means + a luma histogram bucket.

    (id, *carry, mean_r, mean_g, mean_b, luma_bucket) — the
    feature-extraction template: decode in Arrow batches, reduce with
    numpy. ``carry`` columns pass through untouched so downstream
    stages (geo-join, tiling) don't need a re-join by id.
    """
    carry = tuple(c for c in carry if c != id_col)
    schema = T.StructType(
        [T.StructField(id_col, T.StringType())]
        + [df.schema[c] for c in carry]
        + [
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
            T.StructField("luma_bucket", T.IntegerType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            mr = np.empty(n)
            mg = np.empty(n)
            mb = np.empty(n)
            fmts = pdf["fmt"].to_numpy()
            ws = pdf["w"].to_numpy(np.int64)
            hs = pdf["h"].to_numpy(np.int64)
            blobs = pdf["bytes"].to_numpy()
            # group by (fmt, w, h): decode into ONE stacked uint8 matrix
            # per group, then a single integer-accumulator sum over it —
            # the per-image numpy-call overhead (and any float64 temp)
            # is what turns a 32-core run memory-bound
            import pandas as _pd

            mr.fill(np.nan)
            mg.fill(np.nan)
            mb.fill(np.nan)
            valid = np.array([b is not None for b in blobs])
            codes, uniq = _pd.factorize(
                _pd.Series(list(zip(fmts, ws, hs))), sort=False
            )
            for gi, (fmt, w, h) in enumerate(uniq):
                idxs = np.nonzero((codes == gi) & valid)[0]
                if not len(idxs):
                    continue
                decode = require_decoder(fmt)  # outside the per-row guard
                w, h = int(w), int(h)
                stack = np.empty((len(idxs), h * w * 3), dtype=np.uint8)
                ok = np.ones(len(idxs), dtype=bool)
                for j, i in enumerate(idxs):
                    try:
                        stack[j] = decode(bytes(blobs[i]), w, h).reshape(-1)
                    except Exception:
                        ok[j] = False  # truncated blob: null stats row
                if not ok.all():  # fancy-index copies — skip when clean
                    idxs = idxs[ok]
                    stack = stack[ok]
                if not len(idxs):
                    continue
                sums = stack.reshape(len(idxs), -1, 3).sum(axis=1, dtype=np.int64)
                npx = float(w * h)
                mr[idxs] = sums[:, 0] / npx
                mg[idxs] = sums[:, 1] / npx
                mb[idxs] = sums[:, 2] / npx
            luma = 0.299 * mr + 0.587 * mg + 0.114 * mb
            out = {id_col: pdf[id_col]}
            for c in carry:
                out[c] = pdf[c]
            # null payload → null stats (nullable Int32 keeps the row:
            # a corrupt image must not kill a 100 TB pass)
            bucket = pd.array(
                np.where(np.isnan(luma), 0, luma // 32).astype(np.int32),
                dtype="Int32",
            )
            bucket[np.isnan(luma)] = pd.NA
            out.update(mean_r=mr, mean_g=mg, mean_b=mb, luma_bucket=bucket)
            yield pd.DataFrame(out)

    return df.select(id_col, *carry, "bytes", "fmt", "w", "h").mapInPandas(gen, schema)


def image_exif(
    df: DataFrame, id_col: str = "image_id", carry: tuple[str, ...] = ()
) -> DataFrame:
    """EXIF metadata lifted into typed columns — the image↔geospatial
    bridge: (id, *carry, exif_lon, exif_lat, exif_alt,
    exif_orientation, exif_make, exif_model, exif_datetime).

    Parses JPEG APP1 / PNG eXIf / bare-TIFF EXIF per row (io.exif.parse_exif —
    reuses the repo's one TIFF IFD walker); payloads without EXIF,
    without GPS tags, corrupt, or NULL yield NULL fields, never an
    error. The lon/lat DOUBLEs feed the spatial surface directly:
    ``spatial_join``, ``dbscan(metric='sphere')``, tile assignment.
    Projects only (id, carry, bytes), so Catalyst keeps the payload
    out of any plan that does not reach this operator."""
    from geomesa_sql_spark.io.exif import parse_exif

    carry = tuple(c for c in carry if c != id_col)
    schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + [df.schema[c] for c in carry]
        + [
            T.StructField("exif_lon", T.DoubleType()),
            T.StructField("exif_lat", T.DoubleType()),
            T.StructField("exif_alt", T.DoubleType()),
            T.StructField("exif_orientation", T.IntegerType()),
            T.StructField("exif_make", T.StringType()),
            T.StructField("exif_model", T.StringType()),
            T.StructField("exif_datetime", T.StringType()),
        ]
    )
    fields = ("lon", "lat", "alt", "orientation", "make", "model",
              "datetime")

    def gen(batches):
        for pdf in batches:
            cols: dict[str, list] = {f: [] for f in fields}
            for blob in pdf["bytes"]:
                # binary series deliver None (not NaN) for NULLs
                d = parse_exif(blob) if blob is not None else None
                for f in fields:
                    cols[f].append(d[f] if d else None)
            out = {id_col: pdf[id_col]}
            for c in carry:
                out[c] = pdf[c]
            out["exif_lon"] = pd.array(cols["lon"], dtype="float64")
            out["exif_lat"] = pd.array(cols["lat"], dtype="float64")
            out["exif_alt"] = pd.array(cols["alt"], dtype="float64")
            # a hostile tag can declare orientation as LONG 2^32-1;
            # pd.array(Int32) raises on unsafe casts, which would kill
            # the batch — out-of-range values are meaningless EXIF
            # orientations anyway, so they NULL (r5 review)
            out["exif_orientation"] = pd.array(
                [
                    o if o is not None and -(2**31) <= o < 2**31 else None
                    for o in cols["orientation"]
                ],
                dtype="Int32",
            )
            out["exif_make"] = cols["make"]
            out["exif_model"] = cols["model"]
            out["exif_datetime"] = cols["datetime"]
            yield pd.DataFrame(out)

    return df.select(id_col, *carry, "bytes").mapInPandas(gen, schema)


def geotag_images(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "image_id",
    alt_col: str | None = None,
) -> DataFrame:
    """The write direction of the EXIF bridge: stamp per-row
    coordinates INTO image payloads — a JPEG APP1 segment or a PNG
    ``eXIf`` chunk, dispatched on the payload signature —
    (id, bytes, tagged BOOLEAN). Rows whose payload is neither, or
    whose lon/lat is NULL/NaN/non-finite/outside ±180/±90 (altitude
    beyond ±4,000 km is dropped, position still tags), pass through
    byte-identical with tagged = false (never an error); re-tagging
    replaces nothing — the new segment/chunk is inserted first and
    :func:`image_exif` reads the FIRST one, so tag once or strip
    first. Round-trip law (tested): image_exif(geotag_images(df))
    returns the input coordinates to EXIF rational precision
    (~3e-10°)."""
    from geomesa_sql_spark.io.images import PNG_SIG

    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("tagged", T.BooleanType()),
        ]
    )
    cols = [id_col, "bytes", lon_col, lat_col] + (
        [alt_col] if alt_col else []
    )

    def gen(batches):
        import struct
        import zlib

        from geomesa_sql_spark.io.exif import build_gps_tiff_batch

        for pdf in batches:
            n = len(pdf)
            blobs = pdf["bytes"].to_numpy()
            # numeric Arrow columns deliver NULL as NaN — NaN fails the
            # isfinite gate exactly like the former per-row pd.isna +
            # math.isfinite check; inf or impossible magnitudes would
            # overflow the DMS rational encoding, so they pass through
            # untagged like NULLs (r5 review)
            lon = np.asarray(pdf[lon_col].astype("float64"))
            lat = np.asarray(pdf[lat_col].astype("float64"))
            ok = (
                np.isfinite(lon)
                & (np.abs(lon) <= 180.0)
                & np.isfinite(lat)
                & (np.abs(lat) <= 90.0)
            )
            if alt_col:
                alts = np.asarray(pdf[alt_col].astype("float64"))
                has_alt = np.isfinite(alts) & (np.abs(alts) <= 4.0e6)
            else:
                has_alt = np.zeros(n, dtype=bool)
            # EXIF blocks for all taggable-coordinate rows, one numpy
            # pass per (alt-present) sub-batch (r6, guide §4.2 — the
            # per-row struct.pack builder was ~90% of the inject cost);
            # container checks and splicing stay per row
            blocks: list = [None] * n
            for mask in (ok & ~has_alt, ok & has_alt):
                idx = np.flatnonzero(mask)
                if not len(idx):
                    continue
                blk = build_gps_tiff_batch(
                    lon[idx],
                    lat[idx],
                    alts[idx] if has_alt[int(idx[0])] else None,
                )
                for j, i in enumerate(idx):
                    blocks[i] = blk[j]
            out_b, out_t = [], []
            for i, blob in enumerate(blobs):
                block = blocks[i]
                tagged = False
                tb = blob
                if block is not None and blob is not None:
                    block = block.tobytes()
                    if blob[:2] == b"\xff\xd8":
                        payload = b"Exif\x00\x00" + block
                        if len(payload) + 2 <= 0xFFFF:
                            tb = (
                                blob[:2]
                                + b"\xff\xe1"
                                + struct.pack(">H", len(payload) + 2)
                                + payload
                                + blob[2:]
                            )
                            tagged = True
                    elif (
                        blob[:8] == PNG_SIG
                        and len(blob) >= 16
                        and blob[12:16] == b"IHDR"
                    ):
                        # same container checks as inject_exif_png: a
                        # hostile IHDR length passes through untagged
                        (ihdr_len,) = struct.unpack_from(">I", blob, 8)
                        end = 8 + 12 + ihdr_len
                        if ihdr_len == 13 and end <= len(blob):
                            body = b"eXIf" + block
                            chunk = (
                                struct.pack(">I", len(block))
                                + body
                                + struct.pack(
                                    ">I", zlib.crc32(body) & 0xFFFFFFFF
                                )
                            )
                            tb = blob[:end] + chunk + blob[end:]
                            tagged = True
                out_b.append(tb)
                out_t.append(tagged)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "bytes": out_b, "tagged": out_t}
            )

    return df.select(*cols).mapInPandas(gen, schema)


def scrub_exif_images(
    df: DataFrame, id_col: str = "image_id"
) -> DataFrame:
    """Privacy scrub — (id, bytes, scrubbed BOOLEAN): every Exif APP1
    segment (JPEG) / ``eXIf`` chunk (PNG, trailers included) removed,
    a bare TIFF's GPS IFDs (whole next-IFD chain) zeroed in place, and
    concatenated-container trailers (a second image hidden after
    EOI/IEND) scrubbed iteratively — though a TIFF member ends the
    structural scan, as its extent is not self-delimiting; all other
    bytes untouched. Payloads without EXIF (or
    non-container/NULL rows) pass through byte-identical with
    scrubbed = false. The inverse of :func:`geotag_images` on tagged
    payloads (law tested: scrub ∘ geotag restores the original
    bytes), and the standard PII step before publishing a crawled
    image corpus."""
    from geomesa_sql_spark.io.exif import strip_exif

    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("scrubbed", T.BooleanType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            out_b, out_s = [], []
            for blob in pdf["bytes"]:
                b, changed = strip_exif(blob)
                out_b.append(b)
                out_s.append(changed)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "bytes": out_b, "scrubbed": out_s}
            )

    return df.select(id_col, "bytes").mapInPandas(gen, schema)


def phash_images(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """(id, ahash bigint): 64-bit average-hash of the decoded image.

    8×8 block downsample of the INTEGER luma plane (299·R + 587·G +
    114·B — the BT.601 weights ×1000); bit (yb·8+xb) set where the
    block's luma sum × 64 ≥ the image's total luma sum (i.e. block mean
    ≥ global mean, compared in exact integer arithmetic, so the hash is
    independent of summation order — which also makes it reproducible
    in ANSI SQL; the image_stats oracle recomputes it in DuckDB).
    Vectorized per (fmt, w, h) group like image_stats.
    """
    schema = T.StructType(
        [T.StructField(id_col, T.StringType()), T.StructField("ahash", T.LongType())]
    )

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            out = np.zeros(n, dtype=np.int64)
            valid_any = np.zeros(n, dtype=bool)
            blobs = pdf["bytes"].to_numpy()
            fmts = pdf["fmt"].to_numpy()
            ws = pdf["w"].to_numpy(np.int64)
            hs = pdf["h"].to_numpy(np.int64)
            valid = np.array([b is not None for b in blobs])
            codes, uniq = pd.factorize(pd.Series(list(zip(fmts, ws, hs))), sort=False)
            weights = np.array([299, 587, 114], dtype=np.int64)
            shifts = np.arange(64, dtype=np.uint64)
            for gi, (fmt, w, h) in enumerate(uniq):
                idxs = np.nonzero((codes == gi) & valid)[0]
                if not len(idxs):
                    continue
                decode = require_decoder(fmt)  # outside the per-row guard
                w, h = int(w), int(h)
                if w < 8 or h < 8:
                    continue  # sub-8px: no 8x8 hash — row stays NULL
                by, bx = h // 8, w // 8
                stack = np.empty((len(idxs), h, w, 3), dtype=np.uint8)
                ok = np.ones(len(idxs), dtype=bool)
                for j, i in enumerate(idxs):
                    try:
                        stack[j] = decode(bytes(blobs[i]), w, h)
                    except Exception:
                        ok[j] = False  # corrupt blob: row stays NULL
                if not ok.all():  # fancy-index copies — skip when clean
                    idxs = idxs[ok]
                    stack = stack[ok]
                if not len(idxs):
                    continue
                luma = (stack.astype(np.int64) * weights).sum(axis=3)
                cropped = luma[:, : by * 8, : bx * 8]
                bsum = cropped.reshape(len(idxs), 8, by, 8, bx).sum(axis=(2, 4))
                total = bsum.sum(axis=(1, 2))
                bits = (bsum.reshape(len(idxs), 64) * 64) >= total[:, None]
                ah = (bits.astype(np.uint64) << shifts[None, :]).sum(
                    axis=1, dtype=np.uint64
                )
                out[idxs] = ah.view(np.int64)
                valid_any[idxs] = True
            hashes = pd.array(out, dtype="Int64")
            hashes[~valid_any] = pd.NA
            yield pd.DataFrame({id_col: pdf[id_col], "ahash": hashes})

    return df.select(id_col, "bytes", "fmt", "w", "h").mapInPandas(gen, schema)


def near_dup_images(
    df: DataFrame, max_hamming: int = 6, id_col: str = "image_id"
) -> DataFrame:
    """Image near-duplicate pairs (id_a < id_b, hamming ≤ max_hamming
    over the 64-bit average-hash) — the multimodal twin of the text
    near-dup pipeline, and EXACT at the signature level (pigeonhole
    band join, recall 1.0; see ``ops.dedup.hamming_near_dup_pairs``).

    Payload discipline: only (id, ahash) leaves the decode stage —
    ``bytes`` never rides the band-join shuffle. Null-payload rows
    (undecodable images) are excluded, matching image_stats."""
    from geomesa_sql_spark.ops.dedup import hamming_near_dup_pairs

    sigs = phash_images(df, id_col).filter(F.col("ahash").isNotNull())
    return hamming_near_dup_pairs(sigs, "ahash", id_col, max_hamming)


def resize_images(df: DataFrame, out_size: int, id_col: str = "image_id") -> DataFrame:
    """Nearest-neighbour resize → raw re-encode.

    (id, bytes raw, w, h, fmt, px_sum) — the resize/transcode template.
    Lossy formats would re-encode here (PSNR ≥ 40 dB invariant); with
    stdlib-only codecs the output is raw (lossless). ``px_sum`` is the
    integer sum of the resized pixel values — a per-row checksum of the
    output payload: deterministic, closed-form for the synthetic
    fixture, so the resize path is exactly oracle-checkable (and at
    scale it is the per-partition lineage metric a resumable transcode
    job records per the north rule).
    """
    schema = T.StructType(
        [
            T.StructField(id_col, T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("px_sum", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, outs, sums = [], [], []
            for iid, data, fmt, w, h in zip(
                pdf[id_col], pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]
            ):
                if data is None:
                    ids.append(iid)
                    outs.append(None)
                    sums.append(None)
                    continue
                decode = require_decoder(fmt)  # outside the per-row guard
                try:
                    px = decode(bytes(data), int(w), int(h))
                except Exception:
                    ids.append(iid)  # truncated blob: null row survives
                    outs.append(None)
                    sums.append(None)
                    continue
                yi = (np.arange(out_size) * px.shape[0] // out_size).astype(np.int64)
                xi = (np.arange(out_size) * px.shape[1] // out_size).astype(np.int64)
                rs = px[yi][:, xi]
                ids.append(iid)
                outs.append(encode_raw(rs))
                sums.append(int(rs.sum(dtype=np.int64)))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "bytes": outs,
                    "w": np.full(len(ids), out_size, dtype=np.int32),
                    "h": np.full(len(ids), out_size, dtype=np.int32),
                    "fmt": ["raw"] * len(ids),
                    "px_sum": pd.array(sums, dtype="Int64"),
                }
            )

    return df.select(id_col, "bytes", "fmt", "w", "h").mapInPandas(gen, schema)


def transcode_images(
    df: DataFrame,
    to: str = "jpeg",
    quality: int = 90,
    subsampling: str = "420",
    progressive: bool = False,
    id_col: str = "image_id",
) -> DataFrame:
    """Re-encode image payloads: decode whatever ``fmt`` each row
    carries → encode as ``to`` ('jpeg', 'png', 'raw' or 'tiff').

    The storage-compression stage of a training-data pipeline (late
    r4, riding the from-scratch io/jpeg.py codec): a 100 TB raw/png
    corpus shrinks ~10-30× as quality-90 JPEG while staying above the
    40 dB PSNR bar (asserted in tests through a decode round trip).
    Arrow-batched mapInPandas, null/corrupt payload rows survive as
    NULL output rows, and ``bytes`` never rides a shuffle (narrow
    transformation, same as resize_images).

    Output: (id, bytes, w, h, fmt, psnr_db) — ``psnr_db`` is measured
    against the decoded input per row (inf for lossless targets), so a
    resumable job can record fidelity as a per-partition metric next to
    the row counts (ckpt/manifest.py lineage discipline).
    """
    if to not in ("jpeg", "png", "raw", "tiff"):
        raise ValueError(f"unsupported target format {to!r}")
    schema = T.StructType(
        [
            T.StructField(id_col, T.StringType()),
            T.StructField("bytes", T.BinaryType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("psnr_db", T.DoubleType()),
        ]
    )

    def gen(batches):
        from geomesa_sql_spark.io.images import encode_png, psnr
        from geomesa_sql_spark.io.jpeg import decode_jpeg, encode_jpeg

        for pdf in batches:
            ids, outs, ws, hs, qs = [], [], [], [], []
            for iid, data, fmt, w, h in zip(
                pdf[id_col], pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]
            ):
                ids.append(iid)
                if data is None:
                    outs.append(None)
                    ws.append(None)
                    hs.append(None)
                    qs.append(None)
                    continue
                decode = require_decoder(fmt)  # outside the per-row guard
                try:
                    px = decode(bytes(data), int(w), int(h))
                    if to == "jpeg":
                        blob = encode_jpeg(
                            px, quality=quality, subsampling=subsampling,
                            progressive=progressive,
                        )
                        q = psnr(px, decode_jpeg(blob))
                    elif to == "png":
                        blob = encode_png(px)
                        q = float("inf")
                    elif to == "tiff":
                        from geomesa_sql_spark.io.tiff import encode_tiff

                        blob = encode_tiff(px, "lzw", predictor=True)
                        q = float("inf")
                    else:
                        blob = encode_raw(px)
                        q = float("inf")
                except Exception:
                    # corrupt blob OR un-encodable shape (e.g. JPEG's
                    # 65,535-pixel side): null row survives — a single
                    # bad image must not kill a 100 TB pass
                    outs.append(None)
                    ws.append(None)
                    hs.append(None)
                    qs.append(None)
                    continue
                outs.append(blob)
                ws.append(px.shape[1])
                hs.append(px.shape[0])
                qs.append(q)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "bytes": outs,
                    "w": pd.array(ws, dtype="Int32"),
                    "h": pd.array(hs, dtype="Int32"),
                    "fmt": [to] * len(ids),
                    "psnr_db": pd.array(qs, dtype="float64"),
                }
            )

    return df.select(id_col, "bytes", "fmt", "w", "h").mapInPandas(gen, schema)

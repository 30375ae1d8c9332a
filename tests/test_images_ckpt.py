"""Images table, codecs (PSNR invariant), multimodal ops, checkpoint."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_sql_spark.ckpt import CheckpointedRun
from geomesa_sql_spark.io.fixtures import image_pixels, images_table
from geomesa_sql_spark.io.images import (
    decode_image,
    decode_png,
    encode_png,
    psnr,
)
from geomesa_sql_spark.ops import image_stats, phash_images, resize_images


def test_png_roundtrip_exact():
    px = image_pixels(7, 16)
    assert (decode_png(encode_png(px)) == px).all()
    assert psnr(px, decode_png(encode_png(px))) == float("inf")


def test_psnr_sensitivity():
    px = image_pixels(3, 16)
    noisy = px.copy()
    noisy[0, 0, 0] ^= 255
    assert 20 < psnr(px, noisy) < 45


def test_images_table_deterministic_and_decodable(spark):
    df = images_table(spark, 50, size=16)
    rows = {r.image_id: r for r in df.collect()}
    assert len(rows) == 50
    for i in [0, 1, 13, 49]:
        r = rows[f"#{i}"]
        px = decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
        expect = image_pixels(i, 16)
        # payload invariant: decoded pixels exact (PSNR = inf), caption present
        assert (px == expect).all(), i
        assert r.caption.startswith(f"caption {i:06d} ")
        assert r.fmt == ("raw" if i % 2 == 0 else "png")
    # EXIF-style override rows
    assert rows["#10"].lon == 10.0 and rows["#10"].lat == 11.0
    # regeneration is identical (no RNG state)
    again = {r.image_id: r for r in images_table(spark, 50, size=16).collect()}
    assert all(bytes(again[k].bytes) == bytes(rows[k].bytes) for k in rows)


def test_image_stats_matches_numpy(spark):
    df = images_table(spark, 20, size=16)
    got = {r.image_id: r for r in image_stats(df).collect()}
    for i in [0, 5, 19]:
        px = image_pixels(i, 16).astype(np.float64)
        r = got[f"#{i}"]
        assert abs(r.mean_r - px[:, :, 0].mean()) < 1e-9
        assert abs(r.mean_b - px[:, :, 2].mean()) < 1e-9


def test_phash_and_resize(spark):
    df = images_table(spark, 10, size=16)
    ph = phash_images(df).collect()
    assert len(ph) == 10 and all(isinstance(r.ahash, int) for r in ph)
    rs = {r.image_id: r for r in resize_images(df, 8).collect()}
    for i in [0, 3]:
        r = rs[f"#{i}"]
        assert r.w == 8 and r.h == 8 and r.fmt == "raw"
        px = decode_image(bytes(r.bytes), "raw", 8, 8)
        full = image_pixels(i, 16)
        yi = (np.arange(8) * 16 // 8)
        assert (px == full[yi][:, yi]).all()


def test_unsupported_format_raises():
    # raw/png/jpeg/tiff decode for real; any other fmt is a loud
    # NotImplementedError naming it
    for fmt in ("exr", "webp", None):
        with pytest.raises(NotImplementedError, match=repr(fmt)):
            decode_image(b"v2.0", fmt, 4, 4)
    # truncated tiff: clean ValueError from the from-scratch decoder
    with pytest.raises(ValueError):
        decode_image(b"II*\x00", "tiff", 4, 4)
    # truncated jpeg: clean ValueError from the from-scratch decoder
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff", "jpeg", 4, 4)


def test_format_without_decoder_raises_from_every_operator(spark):
    """A row with a payload whose fmt has no decoder (a NULL fmt
    included) fails each image operator, naming the format: it is not a
    corrupt payload, so it never becomes a NULL row. A corrupt png row
    of the same frame, run without that row, still gives NULL."""
    from geomesa_sql_spark.ops import transcode_images

    px = image_pixels(1, 16)
    df = spark.createDataFrame(
        [
            ("ok", encode_png(px), "png", 16, 16),
            ("corrupt", encode_png(px)[:20], "png", 16, 16),
            ("webp", b"RIFF\x00\x00\x00\x00WEBPVP8L", "webp", 16, 16),
            ("nofmt", encode_png(px), None, 16, 16),
        ],
        "image_id string, bytes binary, fmt string, w int, h int",
    )
    ops = {
        "image_stats": image_stats,
        "phash_images": phash_images,
        "resize_images": lambda d: resize_images(d, 8),
        "transcode_images": lambda d: transcode_images(d, to="png"),
    }
    for name, op in ops.items():
        for bad, shown in (("webp", "'webp'"), ("nofmt", "None")):
            frame = df.filter(f"image_id IN ('ok', '{bad}')")
            with pytest.raises(Exception, match=f"NotImplementedError: image fmt {shown}"):
                op(frame).collect()
        # column 1 is each operator's first decoded output
        got = {r[0]: r[1] for r in op(df.filter("fmt = 'png'")).collect()}
        assert got["ok"] is not None and got["corrupt"] is None, name


def test_checkpoint_resume(spark, tmp_path):
    out = str(tmp_path / "run1")

    def unit(key):
        return (
            spark.range(100)
            .withColumn("k", F.lit(key))
            .withColumn("v", F.col("id") * 2)
        )

    keys = [f"c{i}" for i in range(6)]
    run = CheckpointedRun(out, plan_hash="planA", input_id="inputX")
    with pytest.raises(RuntimeError):
        run.run(keys, unit, fail_after=3)  # simulated kill mid-job
    assert len(run.completed_keys()) == 3

    run2 = CheckpointedRun(out, plan_hash="planA", input_id="inputX")
    results = run2.run(keys, unit)
    assert sum(1 for r in results if r.skipped) == 3  # no recompute
    assert sum(1 for r in results if not r.skipped) == 3
    total = spark.read.parquet(f"{out}/part=*").count()
    assert total == 600
    m = run2.metrics()
    assert m["units"] == 6 and m["rows"] == 600

    # plan change invalidates lineage → everything recomputes
    run3 = CheckpointedRun(out, plan_hash="planB", input_id="inputX")
    assert run3.completed_keys() == set()


def test_checkpoint_resume_spatial_pipeline(spark, sf_dir, tmp_path):
    """North-rule integration: the spatial pipeline partitioned by
    coarse cell, killed mid-job, resumes skipping completed cells and
    produces exactly the un-checkpointed full-job result."""
    from geomesa_sql_spark.cells.column import zorder_cell_col
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points
    from geomesa_sql_spark.join import spatial_join
    from geomesa_sql_spark.join.spatial import point_side, wkb_side
    from geomesa_sql_spark.tiles import assign_tiles

    pts = (
        orders_points(spark, sf_dir)
        .select("o_orderkey", "lon", "lat")
        .withColumn("coarse", zorder_cell_col("lon", "lat", 1))
    )
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")

    def unit(key):
        slice_ = pts.filter(F.col("coarse") == int(key)).drop("coarse")
        j = spatial_join(
            slice_, polys, point_side("lon", "lat"), wkb_side("poly"),
            predicate="intersects", res=6, broadcast=True,
        )
        return (
            assign_tiles(j, zoom=6, with_hilbert=False)
            .groupBy("n_nationkey", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    keys = [str(r[0]) for r in pts.select("coarse").distinct().collect()]
    out = str(tmp_path / "cells")
    run = CheckpointedRun(out, plan_hash="sj-v1", input_id=sf_dir)
    with pytest.raises(RuntimeError):
        run.run(keys, unit, fail_after=max(1, len(keys) // 2))
    resumed = CheckpointedRun(out, plan_hash="sj-v1", input_id=sf_dir)
    results = resumed.run(keys, unit)
    assert any(r.skipped for r in results) and any(not r.skipped for r in results)

    got = (
        spark.read.parquet(f"{out}/part=*")
        .groupBy("n_nationkey", "tile_x", "tile_y")
        .agg(F.sum("n").alias("n"))
    )
    whole = (
        assign_tiles(
            spatial_join(
                pts.drop("coarse"), polys, point_side("lon", "lat"),
                wkb_side("poly"), predicate="intersects", res=6, broadcast=True,
            ),
            zoom=6, with_hilbert=False,
        )
        .groupBy("n_nationkey", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    key_of = lambda df: sorted(tuple(r) for r in df.collect())
    assert key_of(got) == key_of(whole)


def test_null_payload_rows_survive(spark):
    """test_null_data parity (PrepareTestDataStore.scala:62-80) for the
    multimodal ops: a null bytes row yields null features, not a crash."""
    from pyspark.sql import types as T

    rows = [("ok", None, 8, 8, "raw", "c", 1, 0.0, 0.0)]
    good = images_table(spark, 4, size=8)
    schema = good.schema
    nulled = spark.createDataFrame(
        [("#null", None, 8, 8, "raw", "cap", 0, 0.0, 0.0)], schema
    )
    df = good.unionByName(nulled)
    stats = image_stats(df).collect()
    assert len(stats) == 5
    nr = [r for r in stats if r["image_id"] == "#null"][0]
    assert nr["mean_r"] is None and nr["luma_bucket"] is None
    ph = {r["image_id"]: r["ahash"] for r in phash_images(df).collect()}
    assert ph["#null"] is None and ph["#0"] is not None
    rz = {r["image_id"]: r["bytes"] for r in resize_images(df, 4).collect()}
    assert rz["#null"] is None and rz["#0"] is not None


def test_tile_mosaic_payload_discipline(spark):
    """Per-tile mosaic: representative = min image_id per tile (pandas
    oracle); and the groupBy shuffle never carries the binary payload
    (no Exchange in the plan lists 'bytes')."""
    from geomesa_sql_spark.io.fixtures import images_table
    from geomesa_sql_spark.io.images import decode_raw
    from geomesa_sql_spark.tiles import assign_tiles, tile_mosaic

    imgs = images_table(spark, 300, size=16)
    out = tile_mosaic(imgs, zoom=3, thumb=4)
    rows = out.collect()
    assert len(rows) > 0

    # oracle: min image_id per tile from the assignment alone
    want = {}
    for r in assign_tiles(imgs, zoom=3, with_hilbert=False).select(
        "tile_x", "tile_y", "image_id"
    ).collect():
        k = (r.tile_x, r.tile_y)
        if k not in want or r.image_id < want[k]:
            want[k] = r.image_id
    got = {(r.tile_x, r.tile_y): r.image_id for r in rows}
    assert got == want
    # thumbnails decode to 4x4x3 and px_sum matches the payload
    import numpy as np

    for r in rows[:5]:
        px = decode_raw(bytes(r.bytes), 4, 4)
        assert px.shape == (4, 4, 3)
        assert int(px.astype(np.int64).sum()) == r.px_sum

    # payload discipline: no shuffle Exchange carries 'bytes'
    plan = out._jdf.queryExecution().executedPlan().toString()
    for chunk in plan.split("Exchange")[1:]:
        header = chunk.split("\n", 1)[0]
        assert "bytes" not in header, header


def test_phash_tiny_and_corrupt_images_survive(spark):
    """Review r3: sub-8px images crashed the phash reshape and a
    truncated blob killed the task — both must survive as NULL rows
    (the 'corrupt image must not kill a 100 TB pass' contract)."""
    from geomesa_sql_spark.io.images import encode_png
    from geomesa_sql_spark.ops import image_stats, phash_images

    ok_px = image_pixels(1, 16)
    tiny_px = image_pixels(2, 16)[:4, :16]  # h=4 < 8
    rows = [
        ("ok", bytearray(encode_png(ok_px)), "png", 16, 16),
        ("tiny", bytearray(encode_png(tiny_px)), "png", 16, 4),
        ("trunc", bytearray(encode_png(ok_px)[:20]), "png", 16, 16),
        ("null", None, "png", 16, 16),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int"
    )
    got = {r.image_id: r.ahash for r in phash_images(df).collect()}
    assert got["ok"] is not None
    assert got["tiny"] is None and got["trunc"] is None and got["null"] is None
    st = {r.image_id: r.mean_r for r in image_stats(df).collect()}
    assert st["ok"] is not None and st["trunc"] is None

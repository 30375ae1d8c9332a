"""End-to-end training-data pipeline over the image+caption table:

    synthesize → near-dup removal (phash) → caption-quality gate →
    spatial join vs polygon zones → Hilbert tile assignment →
    per-coarse-cell checkpointed write → kill → resume → verify

One test, the whole story: every stage is an engine operator, the
payload invariant holds at the end (decoded pixels exact vs the
generator, captions equal), and the resumed run recomputes nothing it
already finished.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_sql_spark.ckpt import CheckpointedRun
from geomesa_sql_spark.cells.column import zorder_cell_col
from geomesa_sql_spark.io.fixtures import image_pixels, images_table, nation_squares
from geomesa_sql_spark.io.images import decode_image, psnr
from geomesa_sql_spark.join import spatial_join
from geomesa_sql_spark.join.spatial import point_side, wkb_side
from geomesa_sql_spark.ops import phash_images, quality_score
from geomesa_sql_spark.tiles import assign_tiles


def test_full_pipeline_with_resume(spark, sf_dir, tmp_path):
    imgs = images_table(spark, 400, size=16)
    # plant exact-duplicate payloads under new ids (same pixels ⇒ same ahash)
    dupes = imgs.limit(40).withColumn(
        "image_id", F.concat(F.lit("dup_"), F.col("image_id"))
    )
    corpus = imgs.unionByName(dupes)

    # 1. near-dup removal by perceptual hash: keep min image_id per ahash
    hashed = corpus.join(phash_images(corpus), on="image_id")
    keep = hashed.groupBy("ahash").agg(F.min("image_id").alias("image_id"))
    deduped = corpus.join(keep.select("image_id"), on="image_id", how="left_semi")
    n_dedup = deduped.count()
    assert n_dedup < corpus.count()  # the planted duplicates collapsed

    # 2. caption-quality gate (JVM column ops)
    gated = quality_score(deduped, text_col="caption").filter(F.col("n_tokens") >= 5)
    assert gated.count() == n_dedup  # synthetic captions all pass

    # 3-5. geo join + tiles + checkpointed write, partitioned by coarse cell
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")
    staged = gated.withColumn(
        "coarse", zorder_cell_col("lon", "lat", 1)
    )
    staged.cache()

    def unit(key):
        part = staged.filter(F.col("coarse") == int(key)).drop("coarse")
        j = spatial_join(
            part.select("image_id", "caption", "bytes", "fmt", "w", "h", "lon", "lat"),
            polys, point_side("lon", "lat"), wkb_side("poly"),
            predicate="intersects", res=4, broadcast=True,
            how="left", left_key="image_id",
        )
        return assign_tiles(j, zoom=6)

    keys = sorted(str(r[0]) for r in staged.select("coarse").distinct().collect())
    out = str(tmp_path / "pipeline")
    run = CheckpointedRun(out, plan_hash="pipe-v1", input_id="imgs400")
    with pytest.raises(RuntimeError):
        run.run(keys, unit, fail_after=max(1, len(keys) // 2))  # kill mid-job
    results = CheckpointedRun(out, plan_hash="pipe-v1", input_id="imgs400").run(
        keys, unit
    )
    assert any(r.skipped for r in results)  # resume skipped completed cells

    final = spark.read.parquet(f"{out}/part=*")
    # every deduped row survives exactly once per matched zone (LEFT join)
    assert final.select("image_id").distinct().count() == n_dedup

    # 6. payload invariant at the end of the pipeline
    # (BASELINE.json: decoded-pixel PSNR ≥ 40 dB — exact here — and
    # caption equality)
    sample = final.filter(~F.col("image_id").startswith("dup_")).limit(25).collect()
    assert len(sample) > 0
    for r in sample:
        i = int(r.image_id[1:])
        px = decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
        assert psnr(px, image_pixels(i, 16)) == float("inf")
        assert r.caption.startswith(f"caption {i:06d} ")
    # tile assignment well-formed
    assert final.filter(
        (F.col("tile_x") < 0) | (F.col("tile_x") > 63)
        | (F.col("tile_y") < 0) | (F.col("tile_y") > 63)
    ).count() == 0
    staged.unpersist()

"""Multi-executor correctness: the full image pipeline (Arrow decode →
cell-encoded broadcast spatial join → Hilbert tiles → rollup) must
produce IDENTICAL results under ``local-cluster[2,2,M]`` — two real
separate executor JVMs, code shipped via ``--py-files``, shuffle blocks
fetched between processes, one Python worker pool per executor — as
under single-JVM ``local[4]``. This is the north rule's "runs via
spark-submit --py-files on multi-executor clusters" as a correctness
gate, not just the BENCH/EXECUTORS.md throughput evidence: every stage
(pandas-UDF decode, torrent broadcast of the polygon side, cell-join
shuffle, partial aggregation) crosses a process boundary that
single-JVM local mode never exercises.

Runs spark-submit in subprocesses because one Python process can hold
only one SparkContext (the suite's shared session would conflict).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_JOB = """
import json, os, sys
from pyspark.sql import functions as F

from geomesa_sql_spark import get_spark
from geomesa_sql_spark.io.fixtures import nation_squares
from geomesa_sql_spark.join import spatial_join
from geomesa_sql_spark.join.spatial import point_side, wkb_side
from geomesa_sql_spark.ops import image_stats
from geomesa_sql_spark.tiles import assign_tiles
from bench import _bench_images_path

spark = get_spark("lc_smoke", master=os.environ["SPARK_GRAFT_MASTER"])
img_path = _bench_images_path(spark, 3000, size=16, fmt="png")
imgs = spark.read.parquet(img_path)
feats = image_stats(imgs, carry=("lon", "lat"))
polys = nation_squares(spark, os.environ["SPARK_GRAFT_SF_DIR"]).select(
    "n_nationkey", "poly")
j = spatial_join(feats, polys, point_side("lon", "lat"),
                 wkb_side("poly"), predicate="intersects", res=6,
                 broadcast=True)
t = (assign_tiles(j, zoom=8)
     .groupBy("n_nationkey", "tile_id")
     .agg(F.count(F.lit(1)).alias("n")))
rows = sorted((int(r.n_nationkey), int(r.tile_id), int(r.n))
              for r in t.collect())
print("LCRESULT " + json.dumps({"n_rows": len(rows), "rows": rows[:50],
                                "total": sum(r[2] for r in rows)}))
spark.stop()
"""


def _submit(master: str, cpus: int, script: str, zpath: str, sf_dir: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER=master,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_DRIVER_MEM="4g",
    )
    out = subprocess.run(
        [shutil.which("spark-submit") or "spark-submit",
         "--master", master, "--driver-memory", "4g",
         "--py-files", zpath, script],
        env=env, capture_output=True, text=True, timeout=900, check=True,
    )
    for line in out.stdout.splitlines():
        if line.startswith("LCRESULT "):
            return json.loads(line[len("LCRESULT "):])
    raise AssertionError(
        f"no result line from {master}:\n{out.stdout[-1500:]}\n{out.stderr[-1500:]}"
    )


def _pyfiles_zip() -> str:
    tools_dir = os.path.join(REPO, "tools")
    sys.path.insert(0, tools_dir)
    try:
        from bench_scaling import build_pyfiles_zip
    finally:
        sys.path.remove(tools_dir)
    return build_pyfiles_zip()


def test_pipeline_matches_local_mode(tmp_path, sf_dir):
    zpath = _pyfiles_zip()
    script = tmp_path / "lc_job.py"
    script.write_text(_JOB)

    got_local = _submit("local[4]", 4, str(script), zpath, sf_dir)
    got_lc = _submit("local-cluster[2,2,2048]", 4, str(script), zpath, sf_dir)

    assert got_local["n_rows"] > 0
    assert got_lc == got_local


_CKPT_JOB = """
import json, os
from pyspark.sql import functions as F

from geomesa_sql_spark import get_spark
from geomesa_sql_spark.cells.column import zorder_cell_col
from geomesa_sql_spark.ckpt import CheckpointedRun
from geomesa_sql_spark.io.fixtures import nation_squares, orders_points
from geomesa_sql_spark.join import spatial_join
from geomesa_sql_spark.join.spatial import point_side, wkb_side
from geomesa_sql_spark.tiles import assign_tiles

spark = get_spark("lc_ckpt", master=os.environ["SPARK_GRAFT_MASTER"])
sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
out = os.environ["LCCKPT_DIR"]
pts = (orders_points(spark, sf_dir)
       .select("o_orderkey", "lon", "lat")
       .withColumn("coarse", zorder_cell_col("lon", "lat", 1)))
polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")

def unit(key):
    s = pts.filter(F.col("coarse") == int(key)).drop("coarse")
    j = spatial_join(s, polys, point_side("lon", "lat"), wkb_side("poly"),
                     predicate="intersects", res=6, broadcast=True)
    return (assign_tiles(j, zoom=6, with_hilbert=False)
            .groupBy("n_nationkey", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n")))

keys = sorted(str(r[0]) for r in pts.select("coarse").distinct().collect())
fail_after = int(os.environ.get("LCCKPT_FAIL_AFTER", "0")) or None
run = CheckpointedRun(out, plan_hash="sj-lc-v1", input_id=sf_dir)
results = run.run(keys, unit, fail_after=fail_after)  # raises on kill

got = (spark.read.parquet(f"{out}/part=*")
       .groupBy("n_nationkey", "tile_x", "tile_y")
       .agg(F.sum("n").alias("n")))
whole = (assign_tiles(
            spatial_join(pts.drop("coarse"), polys, point_side("lon", "lat"),
                         wkb_side("poly"), predicate="intersects", res=6,
                         broadcast=True),
            zoom=6, with_hilbert=False)
         .groupBy("n_nationkey", "tile_x", "tile_y")
         .agg(F.count(F.lit(1)).alias("n")))
k = lambda df: sorted(tuple(int(v) for v in r) for r in df.collect())
print("LCCKPT " + json.dumps({
    "skipped": sum(1 for r in results if r.skipped),
    "ran": sum(1 for r in results if not r.skipped),
    "match": k(got) == k(whole),
}))
spark.stop()
"""


def test_ckpt_resume_across_processes_multi_executor(tmp_path, sf_dir):
    """North-rule kill-resume under the real multi-executor shape: the
    first spark-submit DIES mid-run (nonzero exit after half the cells)
    under local-cluster[2,2,2048]; a brand-new driver process + fresh
    executor JVMs resume from the per-partition manifest, skip every
    completed cell, and the assembled output equals an un-checkpointed
    full run — per-partition lineage surviving process death, not just
    an in-process exception."""
    zpath = _pyfiles_zip()
    script = tmp_path / "lc_ckpt_job.py"
    script.write_text(_CKPT_JOB)
    ckpt_dir = str(tmp_path / "cells")
    master = "local-cluster[2,2,2048]"

    def submit(fail_after: int | None):
        env = dict(
            os.environ,
            SPARK_GRAFT_MASTER=master,
            SPARK_GRAFT_CPUS="4",
            SPARK_GRAFT_SF_DIR=sf_dir,
            LCCKPT_DIR=ckpt_dir,
            LCCKPT_FAIL_AFTER=str(fail_after or 0),
        )
        return subprocess.run(
            [shutil.which("spark-submit") or "spark-submit",
             "--master", master, "--driver-memory", "4g",
             "--py-files", zpath, str(script)],
            env=env, capture_output=True, text=True, timeout=900,
        )

    first = submit(fail_after=2)
    assert first.returncode != 0  # the process really died
    second = submit(fail_after=None)
    assert second.returncode == 0, second.stderr[-1500:]
    line = next(l for l in second.stdout.splitlines() if l.startswith("LCCKPT "))
    res = json.loads(line[len("LCCKPT "):])
    assert res["skipped"] == 2 and res["ran"] > 0
    assert res["match"] is True

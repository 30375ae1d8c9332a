"""Substage profiling harness (guide §1.4) — NOT the frozen bench.

Isolates the expensive bench keys into their component stages with
noop-sink timing so optimization targets the stage that actually costs,
not the one that looks expensive. Prints one JSON line.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
     SPARK_GRAFT_CPUS   (default 32)
     SPARK_GRAFT_PROFILE (comma list: dbscan,minhash,mvtwkb,knn,sjoin,
                          exif,pyudf,icebergprune,icebergcommit —
                          default all)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pandas as _pd  # noqa: F401  (pandas-UDF hint resolution)

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from geomesa_sql_spark import get_spark  # noqa: E402


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def act(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    which = set(
        os.environ.get(
            "SPARK_GRAFT_PROFILE",
            "dbscan,minhash,mvtwkb,knn,sjoin,exif,pyudf,icebergprune,"
            "icebergcommit",
        ).split(",")
    )
    spark = get_spark("bench_extra", master=f"local[{cpus}]")
    sc = spark.sparkContext
    out: dict[str, float] = {}

    def timed(key: str, fn, repeats: int = 3, warm: int = 1):
        for _ in range(warm):
            fn()
        best = float("inf")
        for _ in range(repeats):
            sc.setJobDescription(key)
            best = min(best, act(fn))
            sc.setJobDescription(None)
        out[key] = round(best, 3)

    if "dbscan" in which:
        from geomesa_sql_spark.io.fixtures import cluster_points
        from geomesa_sql_spark.ops.cluster import (
            _assemble,
            _compute_local,
            _validated_pts,
            dbscan,
        )

        cpts = cluster_points(spark, sf_dir)
        for tag, kw in (
            ("planar", dict(eps=0.5, min_pts=5)),
            ("sphere", dict(eps=60_000.0, min_pts=5, metric="sphere")),
        ):
            pts, eps, s = _validated_pts(
                cpts, "o_orderkey", "x", "y",
                kw["eps"], 5, None, kw.get("metric", "planar"),
            )
            timed(f"dbscan_{tag}_local",
                  lambda: noop(_compute_local(pts, s, eps, 5)))
            local = _compute_local(pts, s, eps, 5)
            timed(f"dbscan_{tag}_assemble",
                  lambda: _assemble(local, 25).count())
            timed(f"dbscan_{tag}_full",
                  lambda: dbscan(cpts, "o_orderkey", "x", "y", **kw).count())

    if "minhash" in which:
        from geomesa_sql_spark.ops import lsh_near_dup_pairs
        from geomesa_sql_spark.ops.dedup import minhash_signatures

        docs_path = "/tmp/spark_graft_bench/docs_" + os.path.basename(
            sf_dir.rstrip("/")
        )
        if os.path.exists(f"{docs_path}/_SUCCESS"):
            docs = spark.read.parquet(docs_path)
        else:
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
                cpus
            )
            docs = docs.localCheckpoint(eager=True)
        dup = docs.withColumn("doc_id", F.col("doc_id") + 10_000_000).withColumn(
            "text", F.concat(F.col("text"), F.lit(" zzz"))
        )
        u = docs.unionByName(dup)
        timed("minhash_sigs", lambda: noop(
            minhash_signatures(u, "text", "doc_id", 64, 3)))
        timed("minhash_pairs", lambda: lsh_near_dup_pairs(
            u, "text", "doc_id", jaccard_threshold=0.6).count())

    if "mvtwkb" in which:
        from geomesa_sql_spark.geom.model import box as _box
        from geomesa_sql_spark.geom.wkb import geom_to_wkb as _g2w
        from geomesa_sql_spark.io.fixtures import orders_points
        from geomesa_sql_spark.ops import render_mvt, render_mvt_wkb

        pts_b = orders_points(spark, sf_dir)

        @F.pandas_udf("binary")
        def _bx(lon: _pd.Series, lat: _pd.Series) -> _pd.Series:
            return _pd.Series(
                [
                    _g2w(_box(a - 0.2, b - 0.2, a + 0.2, b + 0.2))
                    for a, b in zip(lon, lat)
                ],
                dtype=object,
            )

        wkb_src = pts_b.select(
            F.col("o_orderkey").alias("gid"),
            _bx(
                F.greatest(F.lit(-179.5), F.least(F.lit(179.5), F.col("lon"))),
                F.greatest(F.lit(-89.5), F.least(F.lit(89.5), F.col("lat"))),
            ).alias("geom"),
        ).localCheckpoint(eager=True)
        timed("mvt_wkb_full",
              lambda: render_mvt_wkb(wkb_src, zoom=6, id_col="gid").count())
        # stage: envelope+fanout only (no encode) — reuse internals
        from geomesa_sql_spark.ops import vector_tiles as _vt

        def fan_only():
            from geomesa_sql_spark.tiles.assign import lat_tile_col, lon_tile_col
            n = 1 << 6

            @F.pandas_udf("minx double, miny double, maxx double, maxy double")
            def _env(wb: _pd.Series) -> _pd.DataFrame:
                from geomesa_sql_spark.geom.wkb import geom_from_wkb
                rows = []
                for b in wb:
                    if b is None:
                        rows.append((None, None, None, None))
                        continue
                    try:
                        rows.append(geom_from_wkb(bytes(b)).envelope())
                    except Exception:
                        rows.append((None, None, None, None))
                return _pd.DataFrame(
                    rows, columns=["minx", "miny", "maxx", "maxy"])

            env = wkb_src.select("gid", "geom", _env("geom").alias("_e")).select(
                "gid", "geom", "_e.minx", "_e.miny", "_e.maxx", "_e.maxy")
            fan = (
                env.withColumn("tile_x", lon_tile_col("minx", n))
                .withColumn("tile_y", lat_tile_col("miny", n))
            )
            return noop(fan.select("tile_x", "tile_y", "gid"))
        timed("mvt_wkb_env_stage", fan_only)
        timed("mvt_points", lambda: render_mvt(pts_b, zoom=6).count())

    if "knn" in which:
        from geomesa_sql_spark.io.fixtures import orders_points
        from geomesa_sql_spark.join.knn import knn_join_cells

        knn_pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
        knn_q = spark.range(10_000).select(
            F.col("id").alias("query_id"),
            ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("qx"),
            ((F.col("id") * 104729 % 1700) / 10.0 - 85.0).alias("qy"),
        )
        timed("knn_10k", lambda: knn_join_cells(knn_pts, knn_q, k=10).count())

    if "sjoin" in which:
        from geomesa_sql_spark.engine import Engine
        from geomesa_sql_spark.io.fixtures import nation_squares, orders_points
        from geomesa_sql_spark.join import spatial_join
        from geomesa_sql_spark.join.spatial import point_side, wkb_side

        pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
        polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")
        timed("sjoin_direct_res6_bcast", lambda: spatial_join(
            pts, polys, point_side("lon", "lat"), wkb_side("poly"),
            predicate="intersects", res=6, broadcast=True).count())
        timed("sjoin_direct_auto", lambda: spatial_join(
            pts, polys, point_side("lon", "lat"), wkb_side("poly"),
            predicate="intersects").count())
        eng = Engine(spark)
        eng.register_view("px_pts", pts)
        eng.register_view("px_polys", polys)
        timed("sjoin_sql_routed", lambda: eng.sql(
            "SELECT p.o_orderkey, s.n_nationkey FROM px_pts p JOIN px_polys s "
            "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)").count())

    if "exif" in which:
        from geomesa_sql_spark.ops import geotag_images, image_exif

        img_path = os.environ.get(
            "SPARK_GRAFT_IMG", "/tmp/spark_graft_bench/images_n600000_s8_p64"
        )
        if os.path.exists(f"{img_path}/_SUCCESS"):
            imgs = spark.read.parquet(img_path)
            timed("exif_geotag_only", lambda: noop(geotag_images(imgs)))
            timed("exif_roundtrip", lambda: image_exif(
                geotag_images(imgs)).agg(F.sum("exif_lon")).collect())

    if "pyudf" in which:
        # the fixed cost of one Python task: a 4-partition pandas-UDF
        # stage whose UDF imports the engine package, as every engine
        # UDF does, against the same query with the UDF left out
        @F.pandas_udf("long")
        def _plus1(v: _pd.Series) -> _pd.Series:
            import geomesa_sql_spark  # noqa: F401

            return v + 1

        ids = spark.range(0, 40_000, 1, 4)
        timed("python_stage_s", lambda: ids.select(F.sum(_plus1("id"))).collect(),
              repeats=7, warm=2)
        timed("jvm_stage_s", lambda: ids.select(F.sum(F.col("id") + 1)).collect(),
              repeats=7, warm=2)

    if "icebergprune" in which:
        # Iceberg data files one GeoTable bbox read plans, against the
        # table's total, on three layouts of the same points: z- and
        # s2-clustered (write_geo_iceberg) and key order as
        # Engine.create_table writes it; 16 files each
        import tempfile

        from geomesa_sql_spark.engine import Engine
        from geomesa_sql_spark.io.fixtures import orders_points
        from geomesa_sql_spark.io.iceberg import write_geo_iceberg
        from geomesa_sql_spark.io.iceberg_meta import IcebergTable
        from geomesa_sql_spark.plan.scan import GeoTable

        pts = orders_points(spark, sf_dir).select(
            F.col("o_orderkey").alias("image_id"), "lon", "lat")
        n = 16
        box = "POLYGON ((10 10, 40 10, 40 30, 10 30, 10 10))"
        with tempfile.TemporaryDirectory() as tmp:
            write_geo_iceberg(pts, f"{tmp}/z", partitions=n)
            write_geo_iceberg(pts, f"{tmp}/s2", res=10, partitions=n,
                              cell_system="s2")
            Engine(spark).create_table(
                "pts", f"{tmp}/input", pts.repartitionByRange(n, "image_id"))
            for tag in ("z", "s2", "input"):
                path = f"{tmp}/{tag}"
                data = {f["path"] for f in IcebergTable.load(path).plan_files()[0]}
                read = GeoTable(spark, path).where_spatial(
                    "intersects", box, x="lon", y="lat").df()
                kept = {"/" + p.split(":", 1)[-1].lstrip("/")
                        for p in read.inputFiles()}
                out[f"iceberg_bbox_{tag}_files_kept"] = len(kept & data)
                out[f"iceberg_bbox_{tag}_files_total"] = len(data)

    if "icebergcommit" in which:
        # per-statement cost of the Iceberg DML verbs on a 20k-row
        # Engine.create_table table: median Engine.sql wall time of
        # INSERT, UPDATE and DELETE and of Engine.compact, and the median
        # time of the metadata commit (iceberg_meta._commit) inside them
        import statistics
        import tempfile

        from geomesa_sql_spark.engine import Engine
        from geomesa_sql_spark.io import iceberg_meta as im

        rows = spark.range(20_000, numPartitions=8).select(
            F.col("id").alias("pid"),
            ((F.col("id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
            ((F.col("id") * 104729 % 17000) / 100.0 - 85.0).alias("lat"),
            (F.col("id") % 10).cast("int").alias("cat"),
            (F.col("id") % 1000 / 10.0).alias("val"),
        )
        commit_s: list[float] = []
        real_commit = im._commit

        def timed_commit(*a, **kw):
            t0 = time.perf_counter()
            try:
                return real_commit(*a, **kw)
            finally:
                commit_s.append(time.perf_counter() - t0)

        verbs = {
            "insert": "INSERT INTO pts SELECT pid + {off}, lon, lat, cat, val "
                      "FROM src WHERE pid % 200 = {k}",
            "update": "UPDATE pts SET lon = lon + 0.125 WHERE pid % 97 = {k}",
            "delete": "DELETE FROM pts WHERE pid % 89 = {k}",
        }
        wall: dict[str, list[float]] = {v: [] for v in (*verbs, "compact")}
        im._commit = timed_commit
        try:
            with tempfile.TemporaryDirectory() as tmp:
                eng = Engine(spark, fid_col="pid")
                eng.register_view("src", rows)
                eng.create_table("pts", f"{tmp}/pts", rows)
                commit_s.clear()
                for i in range(8):  # the first round warms up
                    for verb, sql in verbs.items():
                        q = sql.format(k=i, off=(i + 1) * 1_000_000)
                        wall[verb].append(act(lambda: eng.sql(q).collect()))
                    wall["compact"].append(act(lambda: eng.compact("pts")))
                    if i == 0:
                        commit_s.clear()
                        for ts in wall.values():
                            ts.clear()
        finally:
            im._commit = real_commit
        for verb, ts in wall.items():
            out[f"iceberg_{verb}_s"] = round(statistics.median(ts), 4)
        out["iceberg_commit_ms"] = round(statistics.median(commit_s) * 1e3, 2)

    print(json.dumps({"profile": out, "sf": sf_dir, "cpus": cpus}))


if __name__ == "__main__":
    main()

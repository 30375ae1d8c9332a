"""Differential tests for spatial filter / join / kNN / tiles.

Model: the reference's verifyResult (GeoMesaCalciteTestUtils.scala:34-39)
— run the optimized path and a brute-force oracle, compare row sets.
Oracles here are plain Column arithmetic (range predicates), which is
exactly what the driver's DuckDB gate does at sf0.01.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_sql_spark.io.fixtures import nation_squares, orders_points, supplier_points
from geomesa_sql_spark.join import knn_join, spatial_join
from geomesa_sql_spark.join.spatial import point_side, wkb_side
from geomesa_sql_spark.plan import spatial_filter
from geomesa_sql_spark.tiles import assign_tiles

PENTA = "POLYGON ((-40.0037 -20.0013, 30.0041 -45.0029, 80.0017 10.0023, 20.0031 60.0019, -55.0043 25.0037))"


def rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_spatial_filter_bbox_vs_oracle(spark, sf_dir):
    pts = orders_points(spark, sf_dir)
    got = spatial_filter(
        pts, "intersects", "POLYGON ((-10.005 -10.005, 50.005 -10.005, 50.005 40.005, -10.005 40.005, -10.005 -10.005))",
        x="lon", y="lat",
    )
    want = pts.filter(
        (F.col("lon") >= -10.005) & (F.col("lon") <= 50.005)
        & (F.col("lat") >= -10.005) & (F.col("lat") <= 40.005)
    )
    assert rows(got, ["o_orderkey"]) == rows(want, ["o_orderkey"])
    assert got.count() > 0


def test_spatial_filter_pentagon_vs_halfplane_oracle(spark, sf_dir):
    from geomesa_sql_spark.geom import geom_from_wkt

    pts = orders_points(spark, sf_dir)
    got = spatial_filter(pts, "intersects", PENTA, x="lon", y="lat")
    g = geom_from_wkt(PENTA)
    ring = g.coords[0]
    cond = F.lit(True)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        # CCW ring → inside = left of every edge
        cond = cond & (
            (F.lit(float(bx - ax)) * (F.col("lat") - float(ay))
             - F.lit(float(by - ay)) * (F.col("lon") - float(ax))) >= 0
        )
    want = pts.filter(cond)
    assert rows(got, ["o_orderkey"]) == rows(want, ["o_orderkey"])
    assert got.count() > 0


def test_spatial_filter_cell_prune_consistency(spark, sf_dir):
    """Pushdown path (cell column present) == no-pushdown oracle path."""
    from geomesa_sql_spark.io.layout import add_cell

    pts = add_cell(orders_points(spark, sf_dir))
    poly = "POLYGON ((-10.005 -10.005, 50.005 -10.005, 50.005 40.005, -10.005 40.005, -10.005 -10.005))"
    pruned = spatial_filter(pts, "intersects", poly, x="lon", y="lat",
                            cell_col="cell", data_res=12)
    brute = spatial_filter(pts, "intersects", poly, x="lon", y="lat", cell_col=None)
    assert rows(pruned, ["o_orderkey"]) == rows(brute, ["o_orderkey"])


def test_dwithin_filter(spark, sf_dir):
    pts = orders_points(spark, sf_dir)
    got = spatial_filter(pts, "dwithin", "POINT (10.005 10.005)", x="lon", y="lat",
                         distance=20.0)
    want = pts.filter(
        (F.col("lon") - 10.005) ** 2 + (F.col("lat") - 10.005) ** 2 <= 400.0
    )
    assert rows(got, ["o_orderkey"]) == rows(want, ["o_orderkey"])
    assert got.count() > 0


def _join_oracle(pts, polys):
    return pts.crossJoin(
        polys.select("n_nationkey", "pminx", "pminy", "pmaxx", "pmaxy")
    ).filter(
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )


@pytest.mark.parametrize("broadcast", [True, False])
def test_spatial_join_points_polys(spark, sf_dir, broadcast):
    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    polys = nation_squares(spark, sf_dir)
    got = spatial_join(
        pts, polys.select("n_nationkey", "poly"),
        point_side("lon", "lat"), wkb_side("poly"),
        predicate="intersects", res=6, broadcast=broadcast,
    )
    want = _join_oracle(pts, polys)
    assert rows(got, ["o_orderkey", "n_nationkey"]) == rows(want, ["o_orderkey", "n_nationkey"])
    assert got.count() > 0


def test_spatial_join_left_with_null_geom_quirk(spark, sf_dir):
    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    # poison some rows with null geometry
    pts = pts.withColumn(
        "lon", F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(F.col("lon"))
    )
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")
    got = spatial_join(
        pts, polys, point_side("lon", "lat"), wkb_side("poly"),
        predicate="intersects", res=6, broadcast=True, how="left", left_key="o_orderkey",
    )
    # quirk parity: null-geom left rows vanish even in LEFT join
    assert got.filter(F.col("lon").isNull()).count() == 0
    # matched + unmatched = all non-null-geom left rows
    n_left = pts.filter(F.col("lon").isNotNull()).count()
    assert got.select("o_orderkey").distinct().count() == n_left
    # unmatched rows have null right side
    assert got.filter(F.col("n_nationkey").isNull()).count() > 0


def test_spatial_join_wkb_wkb_dedup(spark, sf_dir):
    """Polygon×polygon: multi-cell covers must not duplicate pairs."""
    polys = nation_squares(spark, sf_dir)
    a = polys.select(F.col("n_nationkey").alias("ka"), F.col("poly").alias("pa"))
    b = polys.select(F.col("n_nationkey").alias("kb"), F.col("poly").alias("pb"))
    got = spatial_join(a, b, wkb_side("pa"), wkb_side("pb"),
                       predicate="intersects", res=5, broadcast=True)
    pairs = got.select("ka", "kb").collect()
    assert len(pairs) == len(set((r.ka, r.kb) for r in pairs)), "duplicate pairs emitted"
    # reflexive: every polygon intersects itself
    ref = {(r.ka, r.kb) for r in pairs}
    nk = [r.n_nationkey for r in polys.select("n_nationkey").collect()]
    assert all((k, k) in ref for k in nk)
    # oracle: envelope overlap (squares are their own envelopes)
    env = polys.select("n_nationkey", "pminx", "pminy", "pmaxx", "pmaxy")
    ea = env.toPandas().set_index("n_nationkey")
    want = set()
    for i in ea.index:
        for j in ea.index:
            if (ea.pminx[i] <= ea.pmaxx[j] and ea.pminx[j] <= ea.pmaxx[i]
                    and ea.pminy[i] <= ea.pmaxy[j] and ea.pminy[j] <= ea.pmaxy[i]):
                want.add((i, j))
    assert ref == want


def test_spatial_join_dwithin_points(spark, sf_dir):
    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    sup = supplier_points(spark, sf_dir).select("s_suppkey", "slon", "slat")
    got = spatial_join(
        pts, sup, point_side("lon", "lat"), point_side("slon", "slat"),
        predicate="dwithin", distance=5.0, res=5, broadcast=True,
    )
    want = pts.crossJoin(sup).filter(
        (F.col("lon") - F.col("slon")) ** 2 + (F.col("lat") - F.col("slat")) ** 2 <= 25.0
    )
    assert rows(got, ["o_orderkey", "s_suppkey"]) == rows(want, ["o_orderkey", "s_suppkey"])
    assert got.count() > 0


def test_knn_vs_bruteforce(spark, sf_dir):
    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    queries = [(1, 0.0, 0.0), (2, 100.0, 50.0)]
    got = knn_join(pts, queries, k=5, x="lon", y="lat")
    pdf = pts.toPandas()
    for qid, qx, qy in queries:
        d = np.hypot(pdf.lon - qx, pdf.lat - qy)
        order = sorted(zip(d, pdf.o_orderkey))[:5]
        want = [k for _, k in order]
        g = (got.filter(F.col("query_id") == qid).orderBy("rank")
             .select("o_orderkey").toPandas().o_orderkey.tolist())
        assert g == want, qid


def test_tiles_vs_floor_oracle(spark, sf_dir):
    pts = orders_points(spark, sf_dir)
    z = 6
    got = assign_tiles(pts, z)
    want = pts.withColumn(
        "ex", F.floor((F.col("lon") + 180.0) / 360.0 * (1 << z))
    ).withColumn("ey", F.floor((90.0 - F.col("lat")) / 180.0 * (1 << z)))
    g = rows(got, ["o_orderkey", "tile_x", "tile_y"])
    w = [
        (k, max(0, min((1 << z) - 1, ex)), max(0, min((1 << z) - 1, ey)))
        for k, ex, ey in rows(want, ["o_orderkey", "ex", "ey"])
    ]
    assert g == sorted(w)
    # hilbert tile_id bijective with (tile_x, tile_y)
    n_pairs = got.select("tile_x", "tile_y").distinct().count()
    n_ids = got.select("tile_id").distinct().count()
    assert n_pairs == n_ids


def test_invert_tiles_and_envelope_roundtrip(spark, sf_dir):
    """The raster→vector back-edge (late r4): hilbert_d2xy from the
    tile_id alone recovers (tile_x, tile_y) for every assigned tile;
    the tile envelope (pure Column arithmetic) contains each member
    point under closed bounds; ST_TileEnvelope matches the PostGIS
    Web-Mercator closed forms."""
    from geomesa_sql_spark.functions import register_all
    from geomesa_sql_spark.tiles import assign_tiles, invert_tiles, tile_envelope

    z = 6
    t = assign_tiles(orders_points(spark, sf_dir), z)
    inv = invert_tiles(
        t.select("tile_id", "tile_x", "tile_y").distinct(), z, out=("ix", "iy")
    )
    assert inv.filter(
        (F.col("ix") != F.col("tile_x")) | (F.col("iy") != F.col("tile_y"))
    ).count() == 0

    env = tile_envelope(t, z)
    outside = env.filter(
        ~((F.col("lon") >= F.col("tminx")) & (F.col("lon") <= F.col("tmaxx"))
          & (F.col("lat") >= F.col("tminy")) & (F.col("lat") <= F.col("tmaxy")))
    )
    assert outside.count() == 0

    # envelope → WKB re-enters the ST_ surface (vector side of the
    # handoff): rebuilt polygon areas match the grid cell size
    register_all(spark)
    env.limit(20).createOrReplaceTempView("tile_env_v")
    areas = spark.sql(
        """SELECT ST_Area(ST_MakeEnvelope(tminx, tminy, tmaxx, tmaxy)) AS a
           FROM tile_env_v"""
    ).collect()
    cell = (360.0 / (1 << z)) * (180.0 / (1 << z))
    assert all(abs(r.a - cell) < 1e-9 for r in areas)

    # ST_TileEnvelope: PostGIS Web-Mercator closed forms
    A = 20037508.342789244
    row = spark.sql(
        """SELECT ST_XMin(ST_TileEnvelope(0, 0, 0)) AS x0,
                  ST_YMax(ST_TileEnvelope(0, 0, 0)) AS y0,
                  ST_XMin(ST_TileEnvelope(2, 1, 1)) AS x2,
                  ST_YMax(ST_TileEnvelope(2, 1, 1)) AS y2,
                  ST_TileEnvelope(2, 4, 0) IS NULL AS oob
        """
    ).first()
    assert abs(row.x0 + A) < 1e-6 and abs(row.y0 - A) < 1e-6
    assert abs(row.x2 - (-A + A / 2)) < 1e-6
    assert abs(row.y2 - (A - A / 2)) < 1e-6
    assert row.oob is True


def test_knn_adaptive_matches_bruteforce(spark, sf_dir):
    """Scale-path kNN (expanding-radius prune) ≡ brute force, including
    a probe in an empty region that forces multiple expansion rounds."""
    from geomesa_sql_spark.io.fixtures import orders_points
    from geomesa_sql_spark.join import knn_join
    from geomesa_sql_spark.join.knn import knn_join_adaptive

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    queries = [(1, 0.0, 0.0), (2, 100.0, 50.0), (3, 179.9, 89.9)]
    brute = knn_join(pts, queries, k=7)
    adaptive = knn_join_adaptive(pts, queries, k=7, r0=0.5)
    key = lambda df: sorted(
        (r["query_id"], r["rank"], r["o_orderkey"]) for r in df.collect()
    )
    assert key(adaptive) == key(brute)


def test_salted_join_under_adversarial_clustering(spark, sf_dir):
    """SURVEY §7.3.2 hard part: every point lands in ONE res-6 cell
    (city-center hotspot). The salted repartition path must (a) return
    exactly the broadcast path's result and (b) actually split the hot
    cell across salt shards."""
    import pyspark.sql.functions as F

    from geomesa_sql_spark.io.fixtures import nation_squares
    from geomesa_sql_spark.join import spatial_join
    from geomesa_sql_spark.join.spatial import (
        _CELL,
        _SALT,
        _cells_for_side,
        point_side,
        wkb_side,
    )

    n = 30_000
    # all points inside a ~0.2° blob → one res-6 cell (cell ≈ 5.6°)
    pts = (
        spark.range(n)
        .select(
            F.col("id").alias("pid"),
            (F.lit(10.0) + (F.col("id") % 100) / 500.0).alias("lon"),
            (F.lit(10.0) + ((F.col("id") * 7) % 100) / 500.0).alias("lat"),
        )
    )
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted = spatial_join(
            pts, polys, point_side("lon", "lat"), wkb_side("poly"),
            predicate="intersects", res=6, broadcast=False,
            salt=8, hot_cell_threshold=1_000,
        )
        ref = spatial_join(
            pts, polys, point_side("lon", "lat"), wkb_side("poly"),
            predicate="intersects", res=6, broadcast=True,
        )
        key = lambda df: sorted(
            (r["pid"], r["n_nationkey"]) for r in df.collect()
        )
        assert key(salted) == key(ref)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # the hot cell really is one cell, and salting spreads it 8 ways
    cells = _cells_for_side(pts, point_side("lon", "lat"), 6, 0.0, 256)
    assert cells.select(_CELL).distinct().count() == 1
    hot = int(cells.first()[_CELL])
    shards = (
        cells.withColumn(
            _SALT, F.pmod(F.xxhash64("pid"), F.lit(8))
        )
        .groupBy(_CELL, _SALT)
        .count()
    )
    counts = [r["count"] for r in shards.collect()]
    assert len(counts) == 8 and max(counts) < n  # spread, not one shard


def test_right_full_join_fallback(spark, sf_dir):
    """RIGHT/FULL are never *optimized* by the spatial-join rule
    (EnumerableSpatialJoinRule.scala:43-44) but the reference still
    answers them through the enumerable fallback (SpatialJoinTest
    .scala:54-60) — assert our anti-join-padded answers match a plain
    Spark bbox join (exact for axis-aligned squares)."""
    pts = (
        orders_points(spark, sf_dir)
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "lon", "lat")
    )
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly", "pminx",
                                                 "pminy", "pmaxx", "pmaxy")
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    for how in ("right", "full"):
        got = spatial_join(
            pts, polys, point_side("lon", "lat"), wkb_side("poly"),
            predicate="intersects", how=how,
            left_key="o_orderkey", right_key="n_nationkey",
        ).select("o_orderkey", "n_nationkey")
        want = pts.join(polys, bbox, how).select("o_orderkey", "n_nationkey")
        nkey = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
        assert sorted(map(tuple, got.collect()), key=nkey) == sorted(
            map(tuple, want.collect()), key=nkey
        )
    with pytest.raises(ValueError, match="right_key"):
        spatial_join(pts, polys, point_side("lon", "lat"), wkb_side("poly"),
                     predicate="intersects", how="right")


def test_spatial_join_expression_operands(spark, sf_dir):
    """Reference parity: join operands may be one-side *expressions*
    (SpatialJoinTest.scala:45-47 joins on ST_INTERSECTS(ST_Buffer(
    a.pt, 2), b.geom)). Here the left operand is a Column expression —
    a point shifted east by 1° — and the oracle is the same join with
    the shift materialized by hand."""
    pts = (
        orders_points(spark, sf_dir)
        .filter(F.col("o_orderkey") <= 4000)
        .select("o_orderkey", "lon", "lat")
    )
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")
    got = spatial_join(
        pts, polys,
        point_side(F.col("lon") + F.lit(1.0), "lat"),
        wkb_side("poly"),
        predicate="intersects", res=6, broadcast=True,
    ).select("o_orderkey", "n_nationkey")
    want = spatial_join(
        pts.withColumn("lon2", F.col("lon") + F.lit(1.0)), polys,
        point_side("lon2", "lat"), wkb_side("poly"),
        predicate="intersects", res=6, broadcast=True,
    ).select("o_orderkey", "n_nationkey")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert not any(c.startswith("__gsj_") for c in got.columns)


def test_knn_adaptive_empty_queries(spark, sf_dir):
    """ADVICE r01: empty query set returns an empty frame with the
    output schema instead of IndexError."""
    from geomesa_sql_spark.join import knn_join_adaptive

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    out = knn_join_adaptive(pts, [], k=3)
    assert out.count() == 0
    assert {"query_id", "dist", "rank"} <= set(out.columns)


def test_knn_adaptive_empty_df_preserves_id_type(spark, sf_dir):
    from geomesa_sql_spark.join import knn_join_adaptive

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    qdf = spark.createDataFrame([], "query_id string, qx double, qy double")
    out = knn_join_adaptive(pts, qdf, k=3)
    assert out.count() == 0
    assert dict(out.dtypes)["query_id"] == "string"


def test_incremental_pyramid_equals_full_rebuild(spark, sf_dir):
    """merge_pyramids(base, delta) must be indistinguishable from a
    full build over base ∪ delta — for additive (sum) AND order-stat
    (min/max) measures. This is the invariant that makes append-only
    pyramid maintenance safe at scale."""
    from geomesa_sql_spark.tiles import build_pyramid, merge_pyramids, tile_stats

    pts = assign_tiles(orders_points(spark, sf_dir), zoom=6, with_hilbert=False)
    aggs = {"n_rows": "sum", "min_key": "min", "max_key": "max"}

    def stats(df):
        return df.groupBy("tile_x", "tile_y").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )

    base = pts.filter(F.col("o_orderkey") % 4 != 0)
    delta = pts.filter(F.col("o_orderkey") % 4 == 0)
    inc = merge_pyramids(
        build_pyramid(stats(base), zoom=6, min_zoom=3, agg_cols=aggs),
        build_pyramid(stats(delta), zoom=6, min_zoom=3, agg_cols=aggs),
        agg_cols=aggs,
    )
    full = build_pyramid(stats(pts), zoom=6, min_zoom=3, agg_cols=aggs)
    cols = ["zoom", "tile_x", "tile_y", "n_rows", "min_key", "max_key"]
    assert rows(inc, cols) == rows(full, cols)
    # every zoom level present, each 1/4 the parent tile count or less
    per_zoom = {r["zoom"]: r["n"] for r in
                full.groupBy("zoom").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sorted(per_zoom) == [3, 4, 5, 6]
    for z in (4, 5, 6):
        assert per_zoom[z - 1] <= per_zoom[z]


def test_knn_cells_matches_bruteforce_10k_queries(spark, sf_dir):
    """r3: the cell-join kNN (large-query-set path) is exact — parity
    with brute force at 10k query points, including queries far
    outside the data extent (straggler ring escalation)."""
    from geomesa_sql_spark.io.fixtures import orders_points
    from geomesa_sql_spark.join import knn_join, knn_join_adaptive
    from geomesa_sql_spark.join.knn import knn_join_cells

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    queries = spark.range(10_000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("qx"),
        ((F.col("id") * 104729 % 1700) / 10.0 - 85.0).alias("qy"),
    )
    k = 3
    brute = knn_join(pts, queries, k=k)
    cells = knn_join_cells(pts, queries, k=k)

    def key(df):
        return sorted(
            (r.query_id, r.rank, r.o_orderkey, round(r.dist, 9))
            for r in df.collect()
        )

    assert key(cells) == key(brute)
    # the adaptive front door dispatches 10k DataFrame queries here
    auto = knn_join_adaptive(pts, queries, k=k)
    assert key(auto) == key(brute)


def test_knn_cells_world_edge_queries(spark):
    """Review r3: queries in the far world corner with all points in
    the opposite corner must still get their k neighbours (the old
    coverage test compared the ring DIAMETER to the world width and
    accepted edge queries while their candidate cells were outside
    the ring — silently returning zero rows)."""
    from geomesa_sql_spark.join import knn_join
    from geomesa_sql_spark.join.knn import knn_join_cells

    pts = spark.createDataFrame(
        [(i, 170.0 + 0.1 * (i % 10), 80.0 + 0.1 * (i // 10))
         for i in range(50)],
        "o_orderkey long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(0, -179.0, -84.0), (1, -178.5, -83.5)],
        "query_id long, qx double, qy double",
    )
    got = knn_join_cells(pts, queries, k=3)
    want = knn_join(pts, queries, k=3)

    def key(df):
        return sorted(
            (r.query_id, r.rank, r.o_orderkey, round(r.dist, 9))
            for r in df.collect()
        )

    assert key(got) == key(want)
    assert got.count() == 6


def test_spatial_join_large_left_small_right_no_cover_crash(spark):
    """Review r3: a wkb LEFT side with polygons much larger than the
    right side's extent used to crash (res picked from the right side
    only; the left covers blew the raise-don't-truncate cell cap).
    The res cap from BOTH sides keeps it running and exact."""
    from geomesa_sql_spark.geom.model import box
    from geomesa_sql_spark.geom.wkb import geom_to_wkb
    from geomesa_sql_spark.join import spatial_join
    from geomesa_sql_spark.join.spatial import point_side, wkb_side

    # 5 big polygons (up to 40 deg wide) vs a tight point cluster
    polys = spark.createDataFrame(
        [(i, bytearray(geom_to_wkb(box(-20.0 + i, -20.0, 20.0 + i, 20.0))))
         for i in range(5)],
        "poly_id long, poly binary",
    )
    pts = spark.createDataFrame(
        [(j, 0.001 * j, 0.001 * j) for j in range(100)],
        "pt_id long, lon double, lat double",
    )
    out = spatial_join(
        polys, pts, wkb_side("poly"), point_side("lon", "lat"),
        predicate="contains",
    )
    # every point is inside every polygon (cluster near origin)
    assert out.count() == 500


def test_spatial_join_semi_anti_null_geom(spark, sf_dir, tmp_path):
    """r3: how='left_semi'/'left_anti' — and a NULL-geometry left row
    never matches, so it is excluded from semi and KEPT in anti
    (SQL's NULL-predicate semantics for [NOT] EXISTS)."""
    from geomesa_sql_spark.geom.model import box
    from geomesa_sql_spark.geom.wkb import geom_to_wkb
    from geomesa_sql_spark.join import spatial_join
    from geomesa_sql_spark.join.spatial import point_side, wkb_side

    polys = spark.createDataFrame(
        [(1, bytearray(geom_to_wkb(box(0.0, 0.0, 10.0, 10.0))))],
        "pid long, poly binary",
    )
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 50.0, 50.0), (3, None, None)],
        "kid long, x double, y double",
    )
    semi = spatial_join(
        pts, polys, point_side("x", "y"), wkb_side("poly"),
        predicate="intersects", how="left_semi", left_key="kid",
    )
    anti = spatial_join(
        pts, polys, point_side("x", "y"), wkb_side("poly"),
        predicate="intersects", how="left_anti", left_key="kid",
    )
    assert sorted(r.kid for r in semi.collect()) == [1]
    assert sorted(r.kid for r in anti.collect()) == [2, 3]
    assert semi.columns == pts.columns  # left columns only


@pytest.mark.parametrize("distance,res", [(1e-05, 16), (2.5, 6)])
def test_dwithin_point_cover_equals_cover_envelopes(spark, distance, res):
    """The planar DWithin point cover (SQL text: typed-literal expansion,
    grid snap, two explodes) yields exactly ``cover_envelopes`` of each
    expanded box on a seeded sample; world-edge rows hit the clamp."""
    from geomesa_sql_spark.cells import cover_envelopes
    from geomesa_sql_spark.join.spatial import _CELL, _cells_for_side

    rng = np.random.default_rng(7)
    n = 2000
    x = np.concatenate([rng.uniform(-180.0, 180.0, n - 4), [-180.0, 180.0, 179.99, -179.99]])
    y = np.concatenate([rng.uniform(-90.0, 90.0, n - 4), [-90.0, 90.0, 89.99, -89.99]])
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n), "x": x, "y": y}), "id long, x double, y double"
    )
    got = _cells_for_side(df, point_side("x", "y"), res, distance, 4096).select("id", _CELL)
    got = sorted(tuple(r) for r in got.collect())
    idx, cells = cover_envelopes(
        x - distance, y - distance, x + distance, y + distance, res, max_cells_per_row=4096
    )
    want = sorted(zip(idx.tolist(), cells.tolist()))
    assert len(want) > n
    assert got == want


def test_point_dwithin_cover_over_cap_raises(spark):
    """A point×point DWithin whose per-row cover exceeds
    ``max_cells_per_row`` at a forced res fails loudly — the cap is
    folded into the consumed sequence bound, so Catalyst cannot prune
    it — instead of truncating the cover."""
    a = spark.createDataFrame([(1, 10.0, 10.0)], "ia long, xa double, ya double")
    b = spark.createDataFrame([(2, 11.0, 11.0)], "ib long, xb double, yb double")
    j = spatial_join(
        a, b, point_side("xa", "ya"), point_side("xb", "yb"),
        predicate="dwithin", distance=5.0, res=10, max_cells_per_row=256,
    )
    with pytest.raises(Exception, match="envelope cover exceeds cap 256"):
        j.collect()
    ok = spatial_join(
        a, b, point_side("xa", "ya"), point_side("xb", "yb"),
        predicate="dwithin", distance=5.0, res=4, max_cells_per_row=256,
    )
    assert [tuple(r) for r in ok.select("ia", "ib").collect()] == [(1, 2)]

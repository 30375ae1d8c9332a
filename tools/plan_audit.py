"""Generate BENCH/PLANS.md: explain('formatted') for the plans that
matter at 100 TB, each annotated with the invariant it demonstrates and
mechanically ASSERTED before writing (a wrong plan fails this script,
so the artifact can't go stale silently).

Run: python tools/plan_audit.py   (quick — plans only, no data jobs)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _fmt(df) -> str:
    return _stable_ids(df._sc._jvm.PythonSQLUtils.explainString(  # same as explain("formatted")
        df._jdf.queryExecution(), "formatted"
    ))


def _stable_ids(plan: str) -> str:
    """Renumber expression ids (``lon#123``) and exchange plan ids
    (``plan_id=45``) in order of first appearance: the session hands
    out fresh ones per run, and an unchanged plan set must rewrite
    PLANS.md byte for byte."""
    for pattern in (r"(#)(\d+)", r"(plan_id=)(\d+)"):
        seen: dict[str, int] = {}
        plan = re.sub(
            pattern,
            lambda m: f"{m.group(1)}{seen.setdefault(m.group(2), len(seen))}",
            plan,
        )
    return plan


def main() -> int:
    import os

    from pyspark.sql import functions as F

    from geomesa_sql_spark import get_spark
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points
    from geomesa_sql_spark.io.layout import (
        tile_partition_filter,
        write_geo_table,
        write_tiled,
    )
    from geomesa_sql_spark.join import spatial_join
    from geomesa_sql_spark.join.spatial import point_side, wkb_side
    from geomesa_sql_spark.plan.scan import GeoTable

    spark = get_spark("plan_audit", master="local[8]")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sections: list[tuple[str, str, str]] = []

    # 1. broadcast spatial join: point side stays JVM (no ArrowEvalPython
    # below the join), polygon cover rides the broadcast side
    pts = orders_points(spark, sf).select("o_orderkey", "lon", "lat")
    polys = nation_squares(spark, sf).select("n_nationkey", "poly")
    joined = spatial_join(
        pts, polys, point_side("lon", "lat"), wkb_side("poly"),
        predicate="intersects", res=6, broadcast=True,
    ).select("o_orderkey", "n_nationkey")
    plan = _fmt(joined)
    assert "BroadcastHashJoin" in plan, plan
    # the probe (point) subtree renders with ':' branch markers in the
    # tree block — it must contain no Python/Arrow stage
    probe_lines = [
        ln for ln in plan.split("\n\n")[0].splitlines()
        if ln.lstrip().startswith(":")
    ]
    assert probe_lines and not any("ArrowEvalPython" in ln for ln in probe_lines), (
        "point-side cell encode must be JVM Column, not a Python UDF")
    sections.append((
        "Broadcast spatial join (point × polygon)",
        "The 10^12-row point side never crosses into Python below the "
        "join: cell encode is a JVM bit-interleave expression "
        "(cells/column.py), so the probe side stays in whole-stage "
        "codegen; the polygon cover (pandas UDF) runs on the broadcast "
        "side only; the vectorized refine evaluates above the join.",
        plan,
    ))

    # 1b. geodesic (dwithin_sphere) join: no Python stage at all — the
    # per-row lon-radius cover is a JVM Generate over sequence() and the
    # haversine refine a JVM Column (ASIN/SIN/COS visible in the plan)
    centers = nation_squares(spark, sf).select("n_nationkey", "cx", "cy")
    gj = spatial_join(
        pts, centers, point_side("lon", "lat"), point_side("cx", "cy"),
        predicate="dwithin_sphere", distance=500_000.0, broadcast=True,
    ).select("o_orderkey", "n_nationkey")
    plan = _fmt(gj)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.split("\n\n")[0].count("ArrowEvalPython") == 0, (
        "dwithin_sphere must run no Python stage (JVM cover and refine)")
    assert "BatchEvalPython" not in plan, plan
    assert "ASIN" in plan.upper(), (
        "haversine refine must be a JVM Column expression in the plan")
    sections.append((
        "Geodesic DWithin join (metres, point × point)",
        "The metres-radius join keeps the refine in whole-stage codegen "
        "(pure-Column haversine, geom/geodesic.py); the per-row "
        "longitude-radius cell cover is a JVM sequence/explode, so no "
        "Python stage runs at all, and the 25-row POI side broadcasts.",
        plan,
    ))

    # 2. big-big path: both sides repartition on the cell key; no
    # broadcast exchange of the big side, no distinct after refine
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        other = pts.selectExpr("o_orderkey as id_b", "lon as lon_b", "lat as lat_b")
        sj = spatial_join(
            pts, other, point_side("lon", "lat"), point_side("lon_b", "lat_b"),
            predicate="dwithin", distance=0.02, res=12, broadcast=False,
        )
        plan = _fmt(sj)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Deduplicate" not in plan and "HashAggregate" not in plan.split(
            "Join"
        )[0], "refpoint dedup must not add an aggregate/distinct shuffle"
        sections.append((
            "Big×big DWithin self-join (repartition path)",
            "Both sides shuffle once on the cell key (the 1000-executor "
            "shape); pair dedup is the reference-point filter — no "
            "distinct() shuffle after the join.",
            plan,
        ))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # 3. spatial filter over the cell-clustered layout: PushedFilters
    # carries the cell ranges + bbox to the parquet scan
    geo = "/tmp/spark_graft_bench/plan_audit_geo"
    if not os.path.exists(f"{geo}/_SUCCESS"):
        write_geo_table(pts, geo)
    rect = ("POLYGON ((-10.005 -10.005, 50.005 -10.005, 50.005 40.005, "
            "-10.005 40.005, -10.005 -10.005))")
    flt = (
        GeoTable(spark, geo)
        .where_spatial("intersects", rect, x="lon", y="lat")
        .select("o_orderkey")
        .df()
    )
    plan = _fmt(flt)
    assert "PushedFilters:" in plan and "cell" in plan, plan
    sections.append((
        "Spatial filter pushdown (cell-clustered layout)",
        "The rectangle compiles to cell ranges + lon/lat bounds that "
        "reach the scan as PushedFilters → row-group/file pruning "
        "(BENCH shows 10/32 row groups read for this box).",
        plan,
    ))

    # 4. tile-partitioned layout: bbox prunes at the PARTITION level
    tiled = "/tmp/spark_graft_bench/plan_audit_tiled"
    if not os.path.exists(tiled):
        write_tiled(pts, tiled, zoom=3)
    tp = spark.read.parquet(tiled).filter(
        tile_partition_filter(-10.005, -10.005, 50.005, 40.005, zoom=3)
    )
    plan = _fmt(tp)
    assert "PartitionFilters: [" in plan and "tile_p" in plan, plan
    sections.append((
        "Tile-partitioned scan (raster handoff layout)",
        "A bbox over write_tiled data prunes whole tile directories at "
        "planning time (PartitionFilters on the hive partition column), "
        "before any parquet footer is opened.",
        plan,
    ))

    # 5. SQL-text spatial predicate: sargable bbox reaches the scan and
    # the exact predicate runs over the coordinate doubles — plain
    # comparisons for a rectangle (no Python), ONE kernel eval for a
    # pentagon, no per-row ST_MakePoint / ST_GeomFromText WKB either way
    from geomesa_sql_spark.engine import Engine

    eng = Engine(spark)
    eng.register_table("audit_pts", geo)
    penta = ("POLYGON ((-40.0037 -20.0013, 30.0041 -45.0029, 80.0017 10.0023, "
             "20.0031 60.0019, -55.0043 25.0037))")
    for lit, n_eval, title, note in (
        (rect, 0, "SQL-text spatial predicate, rectangle (Engine.sql rewrite)",
         "ST_Within(ST_MakePoint(lon, lat), <rectangle>) in SQL text becomes "
         "a sargable bbox conjunction (PushedFilters on lon/lat) plus the "
         "strict-interior comparisons: no Python eval node at all — the "
         "SpatialFilterRule analog."),
        (penta, 1, "SQL-text spatial predicate, pentagon (Engine.sql rewrite)",
         "A non-rectangular literal keeps the sargable bbox and evaluates "
         "the exact predicate as ONE ArrowEvalPython over the coordinate "
         "columns (ST_PointPredicate: vectorized point-in-polygon, literal "
         "parsed once per worker) — no per-row point WKB encode, literal "
         "WKB re-emit or generic relate."),
    ):
        q = eng.sql(
            "SELECT o_orderkey FROM audit_pts WHERE ST_Within(ST_MakePoint(lon, lat), "
            f"ST_GeomFromText('{lit}'))"
        )
        plan = _fmt(q)
        assert "PushedFilters:" in plan and "GreaterThanOrEqual(lon" in plan, plan
        tree = plan.split("\n\n")[0]
        assert tree.count("ArrowEvalPython") == n_eval, plan
        assert "BatchEvalPython" not in plan, plan
        assert "ST_MakePoint" not in plan and "ST_GeomFromText" not in plan, plan
        sections.append((title, note, plan))

    # 6. cell kNN (large query sets): pure equi-join rounds, no
    # cartesian anywhere, partial top-k inside the rank window
    from geomesa_sql_spark.join.knn import knn_join_cells

    knn_q = spark.range(2000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("qx"),
        ((F.col("id") * 104729 % 1700) / 10.0 - 85.0).alias("qy"),
    )
    kc = knn_join_cells(pts, knn_q, k=3, max_rounds=1, checkpoint=False)
    plan = _fmt(kc)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    sections.append((
        "Cell kNN round (10k-query scale path)",
        "Queries replicate to their cell ring and candidates arrive via "
        "a plain (ccx, ccy) equi-join; the per-query rank window keeps "
        "Spark's partial top-k (WindowGroupLimit) so the query-keyed "
        "shuffle carries candidate survivors only. No nested-loop or "
        "cartesian operator anywhere.",
        plan,
    ))

    # 7. SQL-text LEFT spatial join: routed through the keyed outer
    # path (Spark would reject the UDF ON clause for outer joins)
    eng2 = Engine(spark, fid_col="o_orderkey")
    pdir = "/tmp/plan_audit_pts"
    ndir = "/tmp/plan_audit_nsq"
    pts.write.mode("overwrite").parquet(pdir)
    polys.write.mode("overwrite").parquet(ndir)
    eng2.register_table("audit_lp", pdir)
    eng2.register_table("audit_ln", ndir)
    lq = eng2.sql(
        "SELECT p.o_orderkey, s.n_nationkey FROM audit_lp p LEFT JOIN audit_ln s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
    )
    plan = _fmt(lq)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    sections.append((
        "SQL-text LEFT spatial join (router outer path)",
        "A LEFT OUTER spatial join in SQL text routes through the cell "
        "join, then one keyed left join of the left rows against its "
        "matches restores the unmatched ones (the inner join and its "
        "Python stages run once) — Spark "
        "itself rejects Python-UDF ON clauses for outer joins, so "
        "without the router this query ERRORS rather than degrades.",
        plan,
    ))

    # 8. raster fan-out: covered tiles expand JVM-side (sequence/explode
    # Generators), never through a Python stage, over the tiny info frame
    from geomesa_sql_spark.io.fixtures import geotiff_table
    from geomesa_sql_spark.ops import raster_info, raster_tiles, render_tiles

    gdir = "/tmp/plan_audit_rasters"
    geotiff_table(spark, 64).write.mode("overwrite").parquet(gdir)
    info = raster_info(spark.read.parquet(gdir))
    rt = raster_tiles(info, zoom=6)
    plan = _fmt(rt)
    assert "Generate" in plan and "explode" in plan, plan
    # exactly ONE Python stage (the header parse); the explode itself
    # is JVM codegen (count in the tree block — details repeat nodes)
    tree = plan.split("\n\n")[0]
    assert tree.count("ArrowEvalPython") + tree.count("MapInPandas") == 1, plan
    sections.append((
        "Raster covered-tile fan-out (raster_tiles)",
        "GeoTIFF headers parse once in a single Arrow stage "
        "(raster_info — no pixel decompression), then the covered-tile "
        "fan-out is pure JVM sequence/explode over the tiny info frame: "
        "payload bytes never enter the explode, and the FLOOR tile law "
        "is the same whole-stage-codegen arithmetic assign_tiles uses.",
        plan,
    ))

    # 9. vector->raster render: pixel-level partial aggregation BEFORE
    # any wide exchange; payload bytes are born in the last stage
    pts2 = spark.range(0, 100_000).selectExpr(
        "CAST((id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon",
        "CAST((id * 104729) % 18000 AS DOUBLE) / 100.0 - 90.0 AS lat")
    rd = render_tiles(pts2, zoom=5, tile_px=16)
    plan = _fmt(rd)
    assert "partial_count" in plan, plan
    body = plan.split("\n\n")[0]
    assert body.count("MapInPandas") == 1, plan
    assert "FlatMapGroupsInPandas" not in body, plan
    assert "ArrowEvalPython" not in plan, plan
    sections.append((
        "Vector→raster render (render_tiles)",
        "Points collapse to per-pixel counts with a map-side "
        "partial_count before the pixel-key exchange, the tile split is "
        "bit arithmetic on the shared global index, and the ONLY Python "
        "stage is the final per-tile grid assembly/GeoTIFF encode — ONE "
        "mapInPandas carry walk over tile-sorted partitions (r5: was "
        "per-tile applyInPandas, ~2 ms of dispatch per tile). Payload "
        "bytes are born in the last stage and never shuffle.",
        plan,
    ))

    # 10. vector tiles: quantization is whole-stage-codegen arithmetic,
    # ONE exchange on the tile key, and the only Python stage is the
    # per-tile MVT encode; payload bytes are born in the last stage
    from geomesa_sql_spark.ops import render_mvt

    mv = render_mvt(pts2, zoom=5, extent=4096)
    plan = _fmt(mv)
    body = plan.split("\n\n")[0]
    assert body.count("Exchange") == 1, plan
    assert body.count("MapInPandas") == 1, plan
    assert "FlatMapGroupsInPandas" not in body, plan
    assert "ArrowEvalPython" not in body, plan
    sections.append((
        "Vector tiles (render_mvt)",
        "Pixel quantization shares assign_tiles' FLOOR Column laws "
        "(whole-stage codegen), exactly one exchange keyed on the tile, "
        "and the single Python stage is ONE mapInPandas pass per "
        "partition walking sorted tile groups with a carry across Arrow "
        "batches (NOT per-tile applyInPandas — that costs ~2 ms of "
        "Python dispatch per tile, ~8 s over 4011 tiles at sf0.01). "
        "The MVT blob is born in the last stage, so payload bytes never "
        "ride a shuffle.",
        plan,
    ))

    # 10b. WKB vector tiles: envelope parse is the only Arrow stage,
    # covered-tile fan-out is JVM sequence/explode, ONE exchange on the
    # tile key, and the per-tile encode is the same mapInPandas carry
    # walk (r5: was per-group applyInPandas — the banned shape)
    import pandas as pd

    from geomesa_sql_spark.geom.model import box
    from geomesa_sql_spark.geom.wkb import geom_to_wkb
    from geomesa_sql_spark.ops import render_mvt_wkb

    rows = [
        (
            i,
            geom_to_wkb(
                box(
                    (i * 79.19) % 300.0 - 150.0,
                    (i * 10.4729) % 140.0 - 70.0,
                    (i * 79.19) % 300.0 - 149.0,
                    (i * 10.4729) % 140.0 - 69.0,
                )
            ),
        )
        for i in range(1000)
    ]
    shapes = spark.createDataFrame(
        pd.DataFrame(rows, columns=["gid", "geom"]), "gid long, geom binary"
    )
    mw = render_mvt_wkb(shapes, zoom=4, wkb="geom", id_col="gid")
    plan = _fmt(mw)
    body = plan.split("\n\n")[0]
    assert body.count("Exchange") == 1, plan
    assert body.count("MapInPandas") == 1, plan
    assert "FlatMapGroupsInPandas" not in body, plan
    assert body.count("ArrowEvalPython") == 1, plan  # envelope parse
    assert "Generate" in body, plan  # JVM explode fan-out
    sections.append((
        "WKB vector tiles (render_mvt_wkb)",
        "Geometry envelopes parse in ONE Arrow stage, the covered-tile "
        "fan-out is JVM sequence/explode on the shared FLOOR law, "
        "exactly one exchange keyed on the tile, and the per-tile "
        "decode+quantize+encode is the shared sorted mapInPandas carry "
        "walk (ops/tilewalk.py) — never per-group applyInPandas.",
        plan,
    ))

    # 11. S2 layout encode: one Arrow stage, NO shuffle of its own —
    # the column is a layout key (repartitionByRange/write sort), never
    # a raw join key (UDF-join-key rule)
    from geomesa_sql_spark.tiles import assign_s2_cells

    s2df = assign_s2_cells(pts2, level=12)
    plan = _fmt(s2df)
    body = plan.split("\n\n")[0]
    assert body.count("ArrowEvalPython") == 1, plan
    assert "Exchange" not in body, plan
    sections.append((
        "S2 cell encode (assign_s2_cells)",
        "The canonical S2 id needs the table-driven Hilbert walk, so "
        "encode is ONE Arrow-batched Python stage and nothing else — no "
        "exchange is introduced; downstream layout writers "
        "(write_geo_iceberg cell_system='s2') range-partition on the "
        "materialized column, so it is evaluated exactly once and never "
        "used as a raw UDF join key.",
        plan,
    ))

    # 12. EXIF bridge round-trip: stamp + parse are two chained NARROW
    # Arrow stages — the only exchange in the plan is the final scalar
    # aggregate; no per-group dispatch, and the binary payload never
    # rides a shuffle (the agg exchanges one partial sum row, not rows)
    from geomesa_sql_spark.io.fixtures import images_table
    from geomesa_sql_spark.ops import geotag_images, image_exif

    img_path = "/tmp/spark_graft_bench/plan_audit_exif"
    if not os.path.exists(f"{img_path}/_SUCCESS"):
        images_table(spark, 200, size=8, fmt="mixed", partitions=4).write.mode(
            "overwrite"
        ).parquet(img_path)
    imgs = spark.read.parquet(img_path)  # stored table, like production
    rt = image_exif(geotag_images(imgs)).agg(
        F.sum("exif_lon").alias("s")
    )
    plan = _fmt(rt)
    body = plan.split("\n\n")[0]
    assert body.count("MapInPandas") == 2, plan
    assert body.count("Exchange") == 1, plan  # scalar-agg exchange only
    assert "FlatMapGroupsInPandas" not in body, plan
    sections.append((
        "EXIF bridge round-trip (geotag_images → image_exif)",
        "Both directions of the image↔geospatial bridge chain as two "
        "narrow Arrow mapInPandas stages with no shuffle between them; "
        "the single exchange is the final scalar aggregate's one-row "
        "partial-sum exchange, so image payload bytes never ride a "
        "shuffle (CLAUDE.md payload discipline).",
        plan,
    ))

    out = REPO / "BENCH" / "PLANS.md"
    lines = [
        "# Plan audit — explain('formatted') of the plans that matter at 100 TB",
        "",
        "Generated by `python tools/plan_audit.py`; every claim below is",
        "ASSERTED by the generator, so this file cannot go stale silently.",
        "",
    ]
    for title, note, plan in sections:
        lines += [f"## {title}", "", note, "", "```", plan.rstrip(), "```", ""]
    out.write_text("\n".join(lines))
    print(f"wrote {out} ({len(sections)} plans, all assertions passed)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

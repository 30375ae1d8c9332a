"""SQL-surface parity: the reference exposes Calcite's fun=spatial ST_*
names over SQL (jdbc/Driver.scala:51-56, tests GeoMesaCalciteTestUtils
.scala:64,86); register_all gives spark.sql the same names backed by
the vectorized kernels."""

from pyspark.sql import functions as F

from geomesa_sql_spark.functions import register_all


def test_st_astext_geomfromtext_roundtrip(spark):
    register_all(spark)
    wkts = [
        "POINT (10.5 -3.25)",
        "LINESTRING (0 0, 1 1, 2 0)",
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
        "MULTIPOINT ((1 1), (2 2))",
    ]
    df = spark.createDataFrame([(w,) for w in wkts], "wkt string")
    df.createOrReplaceTempView("wkts")
    got = spark.sql(
        "SELECT wkt, ST_AsText(ST_GeomFromText(wkt)) AS rt FROM wkts"
    ).collect()
    for r in got:
        assert r.rt == r.wkt


def test_st_predicates_sql_vs_column(spark, sf_dir):
    from geomesa_sql_spark.io.fixtures import orders_points
    from geomesa_sql_spark.plan import spatial_filter

    register_all(spark)
    pts = orders_points(spark, sf_dir)
    pts.createOrReplaceTempView("pts_sql")
    poly = "POLYGON ((-10.005 -10.005, 50.005 -10.005, 50.005 40.005, -10.005 40.005, -10.005 -10.005))"
    via_sql = spark.sql(
        f"""SELECT o_orderkey FROM pts_sql
            WHERE ST_Within(ST_MakePoint(lon, lat), ST_GeomFromText('{poly}'))"""
    )
    via_col = spatial_filter(pts, "within", poly, x="lon", y="lat").select("o_orderkey")
    a = {r[0] for r in via_sql.collect()}
    b = {r[0] for r in via_col.collect()}
    assert a == b and len(a) > 0


def test_st_distance_envelope_sql(spark):
    register_all(spark)
    df = spark.sql(
        """SELECT ST_Distance(ST_GeomFromText('POINT (0 0)'),
                              ST_GeomFromText('POINT (3 4)')) AS d,
                  ST_Envelope(ST_GeomFromText(
                      'POLYGON ((1 2, 5 2, 5 9, 1 9, 1 2))')) AS env"""
    ).first()
    assert abs(df.d - 5.0) < 1e-12
    assert (df.env.minx, df.env.miny, df.env.maxx, df.env.maxy) == (1.0, 2.0, 5.0, 9.0)


def test_st_buffer_dwithin_equivalence(spark):
    """ST_Intersects(x, ST_Buffer(g, d)) ≡ ST_DWithin(x, g, d) up to the
    circle discretization — the reference's DWithin rewrite
    (RexNodeTranslator.scala:184-196)."""
    register_all(spark)
    d = 2.0
    # probes at distances straddling d from a point and from a polygon edge
    rows = [
        (0.0, 0.0, "POINT (0 0)"),
        (1.9, 0.0, "POINT (0 0)"),
        (0.0, 2.1, "POINT (0 0)"),
        (1.4, 1.4, "POINT (0 0)"),   # dist ~1.98, inside (within chord margin)
        (6.5, 0.5, "POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))"),   # 1.5 from edge
        (7.5, 0.5, "POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))"),   # 2.5 from edge
        (2.5, 2.5, "POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))"),   # interior
    ]
    df = spark.createDataFrame(rows, "px double, py double, g string")
    df.createOrReplaceTempView("buf_probe")
    got = spark.sql(
        f"""SELECT px, py,
                   ST_Intersects(ST_MakePoint(px, py),
                                 ST_Buffer(ST_GeomFromText(g), {d})) AS via_buffer,
                   ST_DWithin(ST_MakePoint(px, py), ST_GeomFromText(g), {d}) AS via_dwithin
            FROM buf_probe"""
    ).collect()
    for r in got:
        assert r.via_buffer == r.via_dwithin, (r.px, r.py)


def test_st_dwithin_variable_radius_vectorized(spark):
    """Per-row radii (a join on ST_DWithin(a, b, r.radius)) take the
    vectorized kernel path (r4 verdict #4: one relate_many call with a
    distance array, not a per-row loop re-decoding WKBs). Semantics:
    each row judged against ITS radius; NULL radius → NULL."""
    register_all(spark)
    # point at distance 5 from origin; radii straddle it per row
    rows = [(i, 3.0, 4.0, r) for i, r in enumerate(
        [4.9, 5.0, 5.1, 0.0, None, 100.0]
    )]
    df = spark.createDataFrame(rows, "id long, px double, py double, r double")
    df.createOrReplaceTempView("var_r")
    got = {
        r.id: r.hit
        for r in spark.sql(
            "SELECT id, ST_DWithin(ST_MakePoint(px, py), "
            "ST_GeomFromText('POINT (0 0)'), r) AS hit FROM var_r"
        ).collect()
    }
    assert got == {0: False, 1: True, 2: True, 3: False, 4: None, 5: True}
    # and the kernel accepts the array directly (the path the UDF takes)
    import numpy as np

    from geomesa_sql_spark.geom import kernel
    from geomesa_sql_spark.geom.model import point
    from geomesa_sql_spark.geom.wkb import geom_to_wkb

    a = [geom_to_wkb(point(3.0, 4.0))] * 4
    b = [geom_to_wkb(point(0.0, 0.0))] * 4
    res = kernel.relate_many(a, b, "dwithin", np.array([4.9, 5.0, np.nan, 6.0]))
    assert res.tolist() == [False, True, False, True]


def test_st_union_predicate_semantics(spark):
    """ST_Intersects(x, ST_Union(a, b)) ≡ intersects(x,a) OR intersects(x,b)
    — the only way the reference exercises ST_Union
    (SpatialJoinTest.scala:59)."""
    register_all(spark)
    got = spark.sql(
        """SELECT
             ST_Intersects(ST_MakePoint(1.0, 1.0),
                 ST_Union(ST_GeomFromText('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                          ST_GeomFromText('POINT (9 9)'))) AS in_a,
             ST_Intersects(ST_MakePoint(9.0, 9.0),
                 ST_Union(ST_GeomFromText('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                          ST_GeomFromText('POINT (9 9)'))) AS in_b,
             ST_Intersects(ST_MakePoint(5.0, 5.0),
                 ST_Union(ST_GeomFromText('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                          ST_GeomFromText('POINT (9 9)'))) AS in_neither"""
    ).first()
    assert got.in_a and got.in_b and not got.in_neither


def test_st_makeenvelope(spark):
    register_all(spark)
    r = spark.sql(
        """SELECT ST_AsText(ST_MakeEnvelope(1.0, 2.0, 3.0, 4.0)) AS wkt,
                  ST_Within(ST_MakePoint(2.0, 3.0),
                            ST_MakeEnvelope(1.0, 2.0, 3.0, 4.0)) AS inside"""
    ).first()
    assert r.wkt.startswith("POLYGON") and r.inside


def test_st_measures(spark):
    register_all(spark)
    r = spark.sql(
        """SELECT ST_Area(g) AS a, ST_Length(g) AS l, ST_NumPoints(g) AS np,
                  ST_GeometryType(g) AS t, ST_IsEmpty(g) AS e,
                  ST_XMin(g) AS x0, ST_YMax(g) AS y1,
                  ST_X(ST_Centroid(g)) AS cx, ST_Y(ST_Centroid(g)) AS cy
           FROM (SELECT ST_GeomFromText(
                 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS g)"""
    ).first()
    assert (r.a, r.l, r.np, r.t, r.e) == (16.0, 16.0, 5, "Polygon", False)
    assert (r.x0, r.y1) == (0.0, 4.0)
    assert (r.cx, r.cy) == (2.0, 2.0)
    # line: zero area, length-weighted centroid
    r2 = spark.sql(
        """SELECT ST_Area(g) AS a, ST_Length(g) AS l,
                  ST_X(ST_Centroid(g)) AS cx
           FROM (SELECT ST_GeomFromText('LINESTRING (0 0, 3 4)') AS g)"""
    ).first()
    assert (r2.a, r2.l, r2.cx) == (0.0, 5.0, 1.5)


def test_st_transform_roundtrip_and_column_fastpath(spark, sf_dir):
    """ST_Transform 4326<->3857: round-trip identity (to fp tolerance),
    agreement between the WKB UDF and the pure-Column fast path, and a
    known anchor (lon=180 -> x=20037508.342789244)."""
    from geomesa_sql_spark.functions import register_all
    from geomesa_sql_spark.functions.st import inverse_mercator_cols, mercator_cols
    from geomesa_sql_spark.io.fixtures import orders_points
    import pyspark.sql.functions as F

    register_all(spark)
    pts = orders_points(spark, sf_dir).filter(F.col("o_orderkey") <= 500).select(
        "o_orderkey", "lon", "lat"
    )
    mx, my = mercator_cols(F.col("lon"), F.col("lat"))
    ilon, ilat = inverse_mercator_cols(mx, my)
    rt = pts.select(
        "lon", "lat", mx.alias("mx"), my.alias("my"),
        ilon.alias("rlon"), ilat.alias("rlat"),
    )
    for r in rt.collect():
        assert abs(r.rlon - r.lon) < 1e-9 and abs(r.rlat - r.lat) < 1e-9
    # WKB UDF path agrees with the Column fast path
    pts.createOrReplaceTempView("merc_pts")
    both = spark.sql(
        """SELECT ST_X(ST_Transform(ST_MakePoint(lon, lat),
                                    'EPSG:4326', 'EPSG:3857')) AS ux,
                  ST_Y(ST_Transform(ST_MakePoint(lon, lat),
                                    'EPSG:4326', 'EPSG:3857')) AS uy,
                  lon, lat FROM merc_pts"""
    )
    fast = {
        (round(r.lon, 9), round(r.lat, 9)): (r.mx, r.my) for r in rt.collect()
    }
    for r in both.collect():
        cx, cy = fast[(round(r.lon, 9), round(r.lat, 9))]
        assert abs(r.ux - cx) < 1e-6 and abs(r.uy - cy) < 1e-6
    anchor = spark.sql(
        """SELECT ST_X(ST_Transform(ST_MakePoint(180.0D, 0.0D),
                                    'EPSG:4326', 'EPSG:3857')) AS x"""
    ).first()
    assert abs(anchor.x - 20037508.342789244) < 1e-6


def test_st_disjoint_envelopes_intersect(spark, sf_dir):
    """ST_Disjoint == NOT ST_Intersects (row-for-row, SQL three-valued
    on NULL), and ST_EnvelopesIntersect is implied by ST_Intersects
    but not conversely (bbox test is a superset)."""
    from geomesa_sql_spark.functions import register_all
    from geomesa_sql_spark.io.fixtures import orders_points
    import pyspark.sql.functions as F

    register_all(spark)
    orders_points(spark, sf_dir).filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey", "lon", "lat"
    ).createOrReplaceTempView("dj_pts")
    penta = (
        "POLYGON ((-40 -20, 30 -45, 80 10, 20 60, -55 25, -40 -20))"
    )
    rows = spark.sql(
        f"""SELECT ST_Intersects(ST_MakePoint(lon, lat),
                                 ST_GeomFromText('{penta}')) AS i,
                   ST_Disjoint(ST_MakePoint(lon, lat),
                               ST_GeomFromText('{penta}')) AS d,
                   ST_EnvelopesIntersect(ST_MakePoint(lon, lat),
                                         ST_GeomFromText('{penta}')) AS e
            FROM dj_pts"""
    ).collect()
    assert len(rows) > 100
    n_i = sum(r.i for r in rows)
    n_e = sum(r.e for r in rows)
    assert 0 < n_i < len(rows)
    for r in rows:
        assert r.d == (not r.i)
        if r.i:
            assert r.e  # intersects ⇒ envelopes intersect
    assert n_e > n_i  # and strictly more bbox hits than exact hits


def test_st_disjoint_null_is_null(spark):
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    r = spark.sql(
        """SELECT ST_Disjoint(CAST(NULL AS BINARY),
                              ST_MakePoint(1.0D, 2.0D)) AS d"""
    ).first()
    assert r.d is None


def test_st_makeline_points_linestring_surface(spark):
    """ST_MakeLine + ST_PointN/StartPoint/EndPoint/NumGeometries over
    constructed geometries, all through SQL text."""
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    r = spark.sql(
        """SELECT ST_AsText(ST_MakeLine(ST_MakePoint(0.0D, 1.0D),
                                        ST_MakePoint(2.0D, 3.0D))) AS wkt,
                  ST_X(ST_StartPoint(ST_MakeLine(ST_MakePoint(0.0D, 1.0D),
                                                 ST_MakePoint(2.0D, 3.0D)))) AS sx,
                  ST_Y(ST_EndPoint(ST_MakeLine(ST_MakePoint(0.0D, 1.0D),
                                               ST_MakePoint(2.0D, 3.0D)))) AS ey,
                  ST_X(ST_PointN(ST_MakeLine(ST_MakePoint(0.0D, 1.0D),
                                             ST_MakePoint(2.0D, 3.0D)), 2)) AS p2x,
                  ST_PointN(ST_MakeLine(ST_MakePoint(0.0D, 1.0D),
                                        ST_MakePoint(2.0D, 3.0D)), 3) AS oob,
                  ST_NumGeometries(ST_GeomFromText(
                      'MULTIPOINT ((1 1), (2 2), (3 3))')) AS ng,
                  ST_NumGeometries(ST_MakePoint(1.0D, 1.0D)) AS ng1,
                  ST_StartPoint(ST_MakePoint(1.0D, 1.0D)) AS sp_pt
        """
    ).first()
    assert r.wkt == "LINESTRING (0 1, 2 3)"
    assert r.sx == 0.0 and r.ey == 3.0 and r.p2x == 2.0
    assert r.oob is None           # PointN out of bounds -> NULL
    assert r.ng == 3 and r.ng1 == 1
    assert r.sp_pt is None         # StartPoint of non-linestring -> NULL


def test_st_affine_and_line_referencing(spark):
    """ST_Translate/Scale/Rotate, ST_Azimuth, ST_LineInterpolatePoint,
    ST_ClosestPoint against closed-form answers."""
    import math

    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    rows = spark.sql("""
      SELECT
        ST_AsText(ST_Translate(ST_GeomFromText('POINT (1 2)'), 10.0, -1.0)) AS tr,
        ST_AsText(ST_Scale(ST_GeomFromText('LINESTRING (0 0, 2 4)'), 2.0, 0.5)) AS sc,
        ST_AsText(ST_Rotate(ST_GeomFromText('POINT (1 0)'), radians(90.0))) AS ro,
        ST_Azimuth(ST_MakePoint(0.0D, 0.0D), ST_MakePoint(1.0D, 0.0D)) AS az_e,
        ST_Azimuth(ST_MakePoint(0.0D, 0.0D), ST_MakePoint(0.0D, 5.0D)) AS az_n,
        ST_Azimuth(ST_MakePoint(3.0D, 3.0D), ST_MakePoint(3.0D, 3.0D)) AS az_null,
        ST_AsText(ST_LineInterpolatePoint(
            ST_GeomFromText('LINESTRING (0 0, 10 0, 10 10)'), 0.75D)) AS li,
        ST_AsText(ST_ClosestPoint(
            ST_GeomFromText('LINESTRING (0 0, 10 0)'),
            ST_GeomFromText('POINT (3 5)'))) AS cp
    """).first()
    assert rows.tr == "POINT (11 1)"
    assert rows.sc == "LINESTRING (0 0, 4 2)"
    # rotate (1,0) by 90° CCW -> (0,1); tolerate float noise in text
    rx, ry = rows.ro.replace("POINT (", "").rstrip(")").split()
    assert abs(float(rx)) < 1e-12 and abs(float(ry) - 1.0) < 1e-12
    assert abs(rows.az_e - math.pi / 2) < 1e-12     # due east
    assert abs(rows.az_n - 0.0) < 1e-12             # due north
    assert rows.az_null is None
    assert rows.li == "POINT (10 5)"                # 0.75 of length 20
    assert rows.cp == "POINT (3 0)"                 # foot of perpendicular


def test_st_closest_point_segment_interior(spark):
    """ST_ClosestPoint where the true nearest pair involves a segment
    INTERIOR of B (ADVICE r2: old code scored candidates against B's
    vertices only) plus a proper crossing (distance 0 at a point that
    is neither an A vertex nor a B-vertex projection)."""
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    r = spark.sql("""
      SELECT
        ST_AsText(ST_ClosestPoint(
            ST_GeomFromText('LINESTRING (0 5, 5 1, 10 5)'),
            ST_GeomFromText('LINESTRING (0 0, 10 0)'))) AS vee,
        ST_AsText(ST_ClosestPoint(
            ST_GeomFromText('LINESTRING (0 0, 10 10)'),
            ST_GeomFromText('LINESTRING (0 10, 10 0)'))) AS crossing,
        ST_AsText(ST_ClosestPoint(
            ST_GeomFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'),
            ST_GeomFromText('POINT (10 2)'))) AS poly_edge
    """).first()
    assert r.vee == "POINT (5 1)"          # PostGIS/JTS answer, not (2.44 3.05)
    assert r.crossing == "POINT (5 5)"     # intersection point
    assert r.poly_edge == "POINT (4 2)"    # interior of polygon edge


def test_wkb_srid_accessors(spark):
    """VERDICT r2 missing #2: the WKB/SRID slice of Calcite's inherited
    fun=spatial surface (jdbc/Driver.scala:51-56) — GeomFromWKB
    round-trip, AsBinary, SRID get/set, Boundary, IsValid, Dimension."""
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    r = spark.sql("""
      SELECT
        ST_AsText(ST_GeomFromWKB(ST_AsBinary(
            ST_GeomFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')))) AS rt,
        ST_SRID(ST_GeomFromText('POINT (1 2)')) AS srid0,
        ST_SRID(ST_SetSRID(ST_GeomFromText('POINT (1 2)'), 4326)) AS srid4326,
        ST_AsText(ST_SetSRID(ST_GeomFromText('POINT (1 2)'), 4326)) AS tagged_wkt,
        ST_X(ST_GeomFromWKB(ST_SetSRID(ST_MakePoint(7.0D, 8.0D), 3857))) AS untag_x,
        ST_AsText(ST_Boundary(
            ST_GeomFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'))) AS pbound,
        ST_AsText(ST_Boundary(ST_GeomFromText('LINESTRING (0 0, 5 5)'))) AS lbound,
        ST_IsValid(ST_GeomFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) AS v_ok,
        ST_IsValid(ST_GeomFromText('POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))')) AS v_bowtie,
        ST_Dimension(ST_GeomFromText('POINT (0 0)')) AS d0,
        ST_Dimension(ST_GeomFromText('LINESTRING (0 0, 1 1)')) AS d1,
        ST_Dimension(ST_GeomFromText('POLYGON ((0 0, 1 0, 1 1, 0 0))')) AS d2,
        ST_GeomFromWKB(CAST('nonsense' AS BINARY)) AS bad
    """).first()
    assert r.rt == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert r.srid0 == 0 and r.srid4326 == 4326
    # the EWKB tag survives the whole pandas-UDF surface (decode skips it)
    assert r.tagged_wkt == "POINT (1 2)"
    assert r.untag_x == 7.0
    assert r.pbound == "LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)"
    assert r.lbound == "MULTIPOINT ((0 0), (5 5))"
    assert r.v_ok is True and r.v_bowtie is False
    assert (r.d0, r.d1, r.d2) == (0, 1, 2)
    assert r.bad is None


def test_st_relate_sql(spark):
    """ST_Relate (DE-9IM matrix) + ST_RelateMatch through SQL."""
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    r = spark.sql("""
      SELECT
        ST_Relate(ST_GeomFromText('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
                  ST_GeomFromText('POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))')) AS ovl,
        ST_Relate(ST_GeomFromText('LINESTRING (0 0, 10 0)'),
                  ST_GeomFromText('LINESTRING (5 -5, 5 5)')) AS crossing,
        ST_RelateMatch('212101212', 'T*T***T**') AS m_overlap,
        ST_RelateMatch('212101212', 'FF*FF****') AS m_disjoint,
        ST_Relate(ST_GeomFromText('POINT (1 2)'),
                  ST_GeomFromText('POINT (1 2)')) AS pt_eq
    """).first()
    assert r.ovl == "212101212"
    assert r.crossing == "0F1FF0102"
    assert r.m_overlap is True and r.m_disjoint is False
    assert r.pt_eq == "0FFFFFFF2"


def test_st_is_simple_sql(spark):
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    r = spark.sql("""
      SELECT ST_IsSimple(ST_GeomFromText('LINESTRING (0 0, 10 0)')) AS ok,
             ST_IsSimple(ST_GeomFromText('LINESTRING (0 0, 10 10, 10 0, 0 10)')) AS bow
    """).first()
    assert r.ok is True and r.bow is False


def test_st_relate_geometrycollection_null(spark):
    """DE-9IM is undefined for GeometryCollections (JTS RelateOp
    refuses them) — the SQL surface yields NULL, not an error."""
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    r = spark.sql("""
      SELECT ST_Relate(
        ST_GeomFromText('GEOMETRYCOLLECTION (POINT (1 1))'),
        ST_GeomFromText('POINT (1 1)')) AS m
    """).first()
    assert r.m is None


def test_calcite_fillin_predicates_and_accessors(spark):
    """r3 continuation: ST_Covers/CoveredBy/ContainsProperly derived
    from the DE-9IM matrix; typed FromText constructors; ring
    accessors; Z/3D honesty; ST_ReducePrecision; ST_PointOnSurface
    lies ON the geometry."""
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    poly = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    holed = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    row = spark.sql(f"""
        SELECT
          ST_Covers(ST_GeomFromText('{poly}'), ST_GeomFromText('POINT (0 2)')) AS cov_bnd,
          ST_Contains(ST_GeomFromText('{poly}'), ST_GeomFromText('POINT (0 2)')) AS cont_bnd,
          ST_CoveredBy(ST_GeomFromText('POINT (0 2)'), ST_GeomFromText('{poly}')) AS covby,
          ST_ContainsProperly(ST_GeomFromText('{poly}'), ST_GeomFromText('POINT (2 2)')) AS cp_in,
          ST_ContainsProperly(ST_GeomFromText('{poly}'), ST_GeomFromText('POINT (0 2)')) AS cp_bnd,
          ST_Covers(ST_GeomFromText('{poly}'), ST_GeomFromText('POINT (9 9)')) AS cov_out,
          ST_NumInteriorRing(ST_GeomFromText('{holed}')) AS nrings,
          ST_AsText(ST_ExteriorRing(ST_GeomFromText('{poly}'))) AS ext_ring,
          ST_AsText(ST_InteriorRingN(ST_GeomFromText('{holed}'), 1)) AS int_ring,
          ST_InteriorRingN(ST_GeomFromText('{poly}'), 1) AS no_ring,
          ST_Is3D(ST_MakePoint(1.0, 2.0)) AS is3d,
          ST_Z(ST_MakePoint(1.0, 2.0)) AS z,
          ST_GeometryTypeCode(ST_GeomFromText('{poly}')) AS tc,
          ST_X(ST_ReducePrecision(ST_MakePoint(1.234, 5.678), 0.1)) AS rpx,
          ST_Y(ST_ReducePrecision(ST_MakePoint(1.234, 5.678), 0.1)) AS rpy,
          ST_AsText(ST_PointFromText('POINT (1 2)')) AS pf,
          ST_PointFromText('{poly}') AS pf_bad,
          ST_AsText(ST_MPolyFromText('MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))')) AS mpf,
          ST_AsText(ST_PointOnSurface(ST_GeomFromText('{holed}'))) AS pos
    """).first()
    assert row.cov_bnd is True and row.cont_bnd is False  # boundary point
    assert row.covby is True
    assert row.cp_in is True and row.cp_bnd is False
    assert row.cov_out is False
    assert row.nrings == 1
    assert row.ext_ring.startswith("LINESTRING")
    assert row.int_ring.startswith("LINESTRING") and "4 4" in row.int_ring
    assert row.no_ring is None
    assert row.is3d is False and row.z is None
    assert row.tc == 3
    assert abs(row.rpx - 1.2) < 1e-12 and abs(row.rpy - 5.7) < 1e-12
    assert row.pf == "POINT (1 2)" and row.pf_bad is None
    assert row.mpf.startswith("MULTIPOLYGON")
    # point-on-surface of the holed polygon is strictly inside and
    # not in the hole
    within = spark.sql(f"""
        SELECT ST_ContainsProperly(ST_GeomFromText('{holed}'),
               ST_PointOnSurface(ST_GeomFromText('{holed}'))) AS ok
    """).first().ok
    assert within is True


def test_calcite_fillin_aggregates(spark):
    """r3 continuation: ST_Extent and ST_Collect work as SQL GROUP BY
    aggregates (grouped-agg pandas UDFs)."""
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    df = spark.sql("""
        SELECT CAST(id % 2 AS INT) AS grp,
               ST_MakePoint(CAST(id AS DOUBLE), CAST(id * 2 AS DOUBLE)) AS g
        FROM range(6)
    """)
    df.createOrReplaceTempView("agg_pts")
    rows = {
        r.grp: (r.ext, r.col)
        for r in spark.sql("""
            SELECT grp, ST_AsText(ST_Extent(g)) AS ext,
                   ST_AsText(ST_Collect(g)) AS col
            FROM agg_pts GROUP BY grp ORDER BY grp
        """).collect()
    }
    # grp 0: ids 0,2,4 -> x in [0,4], y in [0,8]
    assert rows[0][0] == "POLYGON ((0 0, 4 0, 4 8, 0 8, 0 0))"
    assert rows[0][1] == "MULTIPOINT ((0 0), (2 4), (4 8))"
    assert rows[1][0] == "POLYGON ((1 2, 5 2, 5 10, 1 10, 1 2))"


def test_shape_extras_octagon_minrect_diameter_snap(spark):
    """r3 continuation: ST_OctagonalEnvelope (bbox clipped by diagonal
    half-planes), ST_MinimumRectangle / ST_MinimumDiameter (rotating
    calipers over the hull — rotated inputs get the rotated answers),
    ST_Snap (vertex snapping)."""
    import math

    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    r = spark.sql("""
        SELECT
          ST_AsText(ST_OctagonalEnvelope(
            ST_GeomFromText('POLYGON ((0 0, 10 0, 5 10, 0 0))'))) AS oe,
          ST_AsText(ST_MinimumRectangle(
            ST_GeomFromText('MULTIPOINT ((0 0), (4 0), (4 2), (0 2))'))) AS mr,
          ST_AsText(ST_MinimumDiameter(
            ST_GeomFromText('MULTIPOINT ((0 0), (4 0), (4 2), (0 2))'))) AS md,
          ST_Length(ST_MinimumDiameter(
            ST_GeomFromText('MULTIPOINT ((0 0), (4 0), (4 2), (0 2))'))) AS mdl,
          ST_AsText(ST_Snap(ST_GeomFromText('LINESTRING (0.05 0.05, 3 3)'),
                            ST_GeomFromText('POINT (0 0)'), 0.1)) AS sn,
          ST_AsText(ST_Snap(ST_GeomFromText('LINESTRING (0.05 0.05, 3 3)'),
                            ST_GeomFromText('POINT (0 0)'), 0.01)) AS sn_far,
          ST_Area(ST_MinimumRectangle(
            ST_GeomFromText('MULTIPOINT ((0 0), (2 2), (3 1), (1 -1))'))) AS rot_area,
          ST_Length(ST_MinimumDiameter(
            ST_GeomFromText('MULTIPOINT ((0 0), (2 2), (3 1), (1 -1))'))) AS rot_w
    """).first()
    assert r.oe == "POLYGON ((0 0, 10 0, 10 5, 5 10, 0 5, 0 0))"
    assert r.mr == "POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))"
    assert abs(r.mdl - 2.0) < 1e-9  # min width of the 4x2 rectangle
    assert r.sn == "LINESTRING (0 0, 3 3)"
    assert r.sn_far == "LINESTRING (0.05 0.05, 3 3)"  # beyond tolerance
    # 45-degree rotated 2sqrt2 x sqrt2 rectangle: area 4, width sqrt2
    assert abs(r.rot_area - 4.0) < 1e-9
    assert abs(r.rot_w - math.sqrt(2.0)) < 1e-9


def test_calcite_fillin_geometry_n_rectangle(spark):
    register_all(spark)
    r = spark.sql(
        """SELECT
             ST_AsText(ST_GeometryN(ST_GeomFromText(
                 'MULTIPOINT ((1 1), (2 2), (3 3))'), 2)) AS p2,
             ST_AsText(ST_GeometryN(ST_GeomFromText('POINT (7 8)'), 1)) AS self1,
             ST_GeometryN(ST_GeomFromText('POINT (7 8)'), 2) AS oob,
             ST_IsRectangle(ST_GeomFromText(
                 'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))')) AS rect,
             ST_IsRectangle(ST_GeomFromText(
                 'POLYGON ((0 0, 4 0, 2 3, 0 0))')) AS tri,
             ST_IsRectangle(ST_GeomFromText(
                 'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0),
                           (1 1, 2 1, 2 2, 1 2, 1 1))')) AS holed,
             ST_NumInteriorRings(ST_GeomFromText(
                 'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0),
                           (1 1, 2 1, 2 2, 1 2, 1 1))')) AS nrings"""
    ).first()
    assert r.p2 == "POINT (2 2)"
    assert r.self1 == "POINT (7 8)"
    assert r.oob is None
    assert r.rect is True and r.tri is False and r.holed is False
    assert r.nrings == 1


def test_geojson_roundtrip(spark):
    register_all(spark)
    wkts = [
        "POINT (10.5 -3.25)",
        "LINESTRING (0 0, 1 1, 2 0)",
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
        "MULTIPOINT ((1 1), (2 2))",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
    ]
    df = spark.createDataFrame([(w,) for w in wkts], "wkt string")
    df.createOrReplaceTempView("gj_wkts")
    got = spark.sql(
        """SELECT wkt,
                  ST_AsGeoJSON(ST_GeomFromText(wkt)) AS gj,
                  ST_AsText(ST_GeomFromGeoJSON(
                      ST_AsGeoJSON(ST_GeomFromText(wkt)))) AS rt
           FROM gj_wkts"""
    ).collect()
    import json

    for r in got:
        assert r.rt == r.wkt
        obj = json.loads(r.gj)
        assert obj["type"] in (
            "Point", "LineString", "Polygon", "MultiPoint",
            "MultiLineString", "MultiPolygon", "GeometryCollection",
        )
    bad = spark.sql("SELECT ST_GeomFromGeoJSON('{not json') AS g").first()
    assert bad.g is None


def test_ewkt_ewkb_srid_roundtrip(spark):
    register_all(spark)
    r = spark.sql(
        """SELECT
             ST_AsEWKT(ST_GeomFromEWKT('SRID=4326;POINT (1 2)')) AS ewkt,
             ST_SRID(ST_GeomFromEWKT('SRID=4326;POINT (1 2)')) AS srid,
             ST_AsEWKT(ST_GeomFromText('POINT (1 2)')) AS plain,
             ST_SRID(ST_AsEWKB(ST_SetSRID(
                 ST_GeomFromText('POINT (3 4)'), 3857))) AS srid2,
             ST_AsText(ST_GeomFromEWKB(ST_SetSRID(
                 ST_GeomFromText('POINT (3 4)'), 3857))) AS txt2"""
    ).first()
    assert r.ewkt == "SRID=4326;POINT (1 2)"
    assert r.srid == 4326
    assert r.plain == "POINT (1 2)"
    assert r.srid2 == 3857
    assert r.txt2 == "POINT (3 4)"


def test_make_grid_and_grid_points(spark):
    register_all(spark)
    r = spark.sql(
        """SELECT
             ST_NumGeometries(ST_MakeGrid(ST_GeomFromText(
                 'POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))'), 2, 2)) AS ncells,
             ST_Area(ST_MakeGrid(ST_GeomFromText(
                 'POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))'), 2, 2)) AS area,
             ST_AsText(ST_MakeGridPoints(ST_GeomFromText(
                 'POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))'), 2, 1)) AS centers,
             ST_MakeGrid(ST_GeomFromText('POINT (1 1)'), 0, 3) AS degen"""
    ).first()
    assert r.ncells == 4
    assert abs(r.area - 8.0) < 1e-12
    assert r.centers == "MULTIPOINT ((1 1), (3 1))"
    assert r.degen is None


def test_calcite_fillin_final_names(spark):
    """r4: the last Calcite fun=spatial table names — closure/ring
    accessors (NULL for non-line types), ST_NPoints/ST_Perimeter/
    ST_CoordDim measures, ST_MakePolygon(shell), and the typed WKB
    constructors (VARBINARY twins of *FromText)."""
    from geomesa_sql_spark.functions import register_all

    register_all(spark)
    poly = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    ring = "LINESTRING (0 0, 3 0, 3 3, 0 0)"
    bowtie = "LINESTRING (0 0, 2 2, 0 2, 2 0, 0 0)"  # closed, self-crossing
    open_ls = "LINESTRING (0 0, 1 1)"
    row = spark.sql(f"""
        SELECT
          ST_IsClosed(ST_GeomFromText('{ring}')) AS closed,
          ST_IsClosed(ST_GeomFromText('{open_ls}')) AS open_l,
          ST_IsClosed(ST_GeomFromText('MULTILINESTRING ((0 0, 1 0, 0 0), (5 5, 6 5, 5 5))')) AS mclosed,
          ST_IsClosed(ST_GeomFromText('{poly}')) AS closed_poly,
          ST_IsRing(ST_GeomFromText('{ring}')) AS is_ring,
          ST_IsRing(ST_GeomFromText('{bowtie}')) AS bowtie_ring,
          ST_IsRing(ST_GeomFromText('{open_ls}')) AS open_ring,
          ST_IsRing(ST_GeomFromText('{poly}')) AS poly_ring,
          ST_NPoints(ST_GeomFromText('{poly}')) AS np_poly,
          ST_Perimeter(ST_GeomFromText('{poly}')) AS perim,
          ST_Perimeter(ST_GeomFromText('{open_ls}')) AS perim_line,
          ST_CoordDim(ST_GeomFromText('{poly}')) AS cdim,
          ST_AsText(ST_MakePolygon(ST_GeomFromText('{ring}'))) AS mkpoly,
          ST_MakePolygon(ST_GeomFromText('{open_ls}')) AS mkpoly_open,
          ST_AsText(ST_PointFromWKB(ST_AsBinary(ST_MakePoint(1.0, 2.0)))) AS pwkb,
          ST_PointFromWKB(ST_AsBinary(ST_GeomFromText('{poly}'))) AS pwkb_bad,
          ST_AsText(ST_LineFromWKB(ST_AsBinary(ST_GeomFromText('{open_ls}')))) AS lwkb,
          ST_AsText(ST_PolyFromWKB(ST_AsBinary(ST_GeomFromText('{poly}')))) AS plwkb,
          ST_IsClosed(CAST(NULL AS BINARY)) AS closed_null,
          ST_IsClosed(ST_GeomFromText('MULTILINESTRING EMPTY')) AS mls_empty
    """).first()
    assert row.closed is True and row.open_l is False
    assert row.mclosed is True
    # JTS: empty geometries are NOT closed (review r4c — all([]) was
    # vacuously true)
    assert row.mls_empty is False
    assert row.closed_poly is None  # defined only for (multi)linestrings
    assert row.is_ring is True
    assert row.bowtie_ring is False  # closed but not simple
    assert row.open_ring is False and row.poly_ring is None
    assert row.np_poly == 5  # ring-closure duplicate counted
    assert abs(row.perim - 16.0) < 1e-12
    assert row.perim_line == 0.0  # polygonal parts only
    assert row.cdim == 2
    assert row.mkpoly.startswith("POLYGON") and row.mkpoly_open is None
    assert row.pwkb == "POINT (1 2)" and row.pwkb_bad is None
    assert row.lwkb.startswith("LINESTRING")
    assert row.plwkb.startswith("POLYGON")
    assert row.closed_null is None


def _wkb_lit(wkt: str) -> tuple[str, str]:
    from geomesa_sql_spark.geom import geom_from_wkt
    from geomesa_sql_spark.geom.wkb import geom_to_wkb

    return ("BINARY", "X'" + geom_to_wkb(geom_from_wkt(wkt)).hex() + "'")


def _null_cases() -> dict:
    """Every per-row ST_/S2_ name with one valid argument row: (SQL
    type, literal) per position."""
    from geomesa_sql_spark.cells import s2

    pt, pt2 = _wkb_lit("POINT (1 2)"), _wkb_lit("POINT (3 5)")
    line = _wkb_lit("LINESTRING (0 0, 1 1, 2 0)")
    ring = _wkb_lit("LINESTRING (0 0, 3 0, 3 3, 0 0)")
    poly = _wkb_lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    poly2 = _wkb_lit("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
    holed = _wkb_lit(
        "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    )
    cut = _wkb_lit("LINESTRING (2 -1, 2 5)")
    multi = _wkb_lit("MULTIPOINT ((1 1), (2 2))")
    cell = ("BIGINT", f"{int(s2.lonlat_to_cell_id([1.0], [2.0], 10)[0])}L")

    def i(v):
        return ("INT", str(v))

    def d(v):
        return ("DOUBLE", f"{v!r}D")

    def s(v):
        return ("STRING", f"'{v}'")

    one_geom = {
        pt: "ST_AsText ST_AsWKT ST_X ST_Y ST_Z ST_SRID ST_AsEWKT ST_AsEWKB "
            "ST_GeomFromEWKB ST_GeomFromWKB ST_AsBinary ST_AsWKB "
            "ST_PointFromWKB ST_AsGeoJSON ST_Is3D ST_CoordDim",
        line: "ST_Length ST_LengthSphere ST_StartPoint ST_EndPoint "
              "ST_LineFromWKB ST_NumPoints ST_NPoints ST_IsSimple",
        ring: "ST_IsClosed ST_IsRing ST_MakePolygon",
        poly: "ST_Area ST_AreaSphere ST_PerimeterSphere ST_Perimeter "
              "ST_GeometryType ST_GeometryTypeCode ST_IsEmpty ST_XMin ST_YMin "
              "ST_XMax ST_YMax ST_ConvexHull ST_Centroid ST_Boundary "
              "ST_IsValid ST_Dimension ST_ExteriorRing ST_IsRectangle "
              "ST_PolyFromWKB ST_PointOnSurface ST_OctagonalEnvelope "
              "ST_MinimumRectangle ST_MinimumDiameter",
        holed: "ST_NumInteriorRing ST_NumInteriorRings",
        multi: "ST_NumGeometries",
    }
    cases = {n: [g] for g, names in one_geom.items() for n in names.split()}
    two_geoms = {
        (pt, pt2): "ST_Distance ST_DistanceSphere ST_Distance_Sphere "
                   "ST_DistanceSpheroid ST_Azimuth ST_MakeLine",
        (poly, poly2): "ST_Union ST_Intersection ST_Difference "
                       "ST_SymDifference ST_SymmetricDifference ST_Relate "
                       "ST_EnvelopesIntersect ST_Disjoint",
        (poly, pt): "ST_Covers ST_ContainsProperly",
        (pt, poly): "ST_CoveredBy",
        (line, pt): "ST_ClosestPoint",
        (poly, cut): "ST_Split",
    }
    cases.update(
        {n: list(gs) for gs, names in two_geoms.items() for n in names.split()}
    )
    cases.update({
        "ST_GeomFromText": [s("POINT (1 2)")],
        "ST_PointFromText": [s("POINT (1 2)")],
        "ST_LineFromText": [s("LINESTRING (0 0, 1 1)")],
        "ST_PolyFromText": [s("POLYGON ((0 0, 1 0, 1 1, 0 0))")],
        "ST_MPointFromText": [s("MULTIPOINT ((1 1), (2 2))")],
        "ST_MLineFromText": [s("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")],
        "ST_MPolyFromText": [s("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))")],
        "ST_GeomFromEWKT": [s("SRID=4326;POINT (1 2)")],
        "ST_GeomFromGeoJSON": [s('{"type": "Point", "coordinates": [1, 2]}')],
        "ST_RelateMatch": [s("FF1FF0102"), s("FF*FF****")],
        "ST_MakePoint": [d(1.0), d(2.0)],
        "ST_Point": [d(1.0), d(2.0)],
        "ST_MakeEnvelope": [d(0.0), d(0.0), d(1.0), d(1.0)],
        "ST_TileEnvelope": [i(2), i(1), i(1)],
        "ST_Buffer": [pt, d(1.0)],
        "ST_Simplify": [line, d(0.5)],
        "ST_ReducePrecision": [line, d(0.5)],
        "ST_LineInterpolatePoint": [line, d(0.5)],
        "ST_Translate": [poly, d(1.0), d(2.0)],
        "ST_Scale": [poly, d(2.0), d(3.0)],
        "ST_Rotate": [poly, d(1.0)],
        "ST_Snap": [line, pt, d(1.5)],
        "ST_DWithin": [pt, pt2, d(10.0)],
        "ST_DWithinSphere": [pt, pt2, d(1e6)],
        "ST_PointN": [line, i(2)],
        "ST_InteriorRingN": [holed, i(1)],
        "ST_GeometryN": [multi, i(1)],
        "ST_SetSRID": [poly, i(4326)],
        "ST_TransformSrid": [pt, i(3857)],
        "ST_Transform": [pt, s("EPSG:4326"), s("EPSG:3857")],
        "ST_MakeGrid": [poly, i(2), i(2)],
        "ST_MakeGridPoints": [poly, i(2), i(2)],
        "ST_AsMVTGeom": [poly, d(0.0), d(0.0), d(8.0), d(8.0), i(4096)],
        "S2_CellId": [d(1.0), d(2.0), i(10)],
        "S2_Covering": [poly, i(4)],
        "S2_Token": [cell],
        "S2_Level": [cell],
        "S2_CellCenter": [cell],
        "S2_Parent": [cell, i(5)],
        "S2_Contains": [cell, cell],
    })
    return cases


# Registered names outside the NULL table: the grouped aggregates skip
# NULL rows instead of answering per row; the relate predicates and
# ST_PointPredicate are the join-refine and rewrite kernels, where a
# NULL geometry or coordinate is False, not NULL (test_st_predicates_*,
# ST_PointPredicate's docstring); ST_Envelope returns a struct.
_NULL_TABLE_EXEMPT = {
    "st_unionaggr", "st_union_aggr", "st_extent", "st_collect",
    "st_intersects", "st_equals", "st_crosses", "st_contains",
    "st_overlaps", "st_touches", "st_within", "st_pointpredicate",
    "st_envelope",
}


def test_numeric_null_args_yield_null(spark):
    """One NULL table for the per-row ST_/S2_ surface. For every
    argument position a row with a NULL there shares one Arrow batch
    with the valid row: the NULL row gives NULL (Arrow delivers a NULL
    INT/DOUBLE as NaN, so an `is None` test let it through as a crash or
    an answer), and the valid row gives the value it gives alone."""
    register_all(spark)
    cases = _null_cases()
    registered = {
        f.name
        for f in spark.catalog.listFunctions()
        if f.name.startswith(("st_", "s2_"))
        and "UDFRegistration" in (f.className or "")
    }
    assert _NULL_TABLE_EXEMPT <= registered
    assert registered - _NULL_TABLE_EXEMPT == {n.lower() for n in cases}

    names = sorted(cases)
    alone = spark.sql(
        "SELECT " + ", ".join(
            f"{n}({', '.join(lit for _, lit in cases[n])}) AS c{k}"
            for k, n in enumerate(names)
        )
    ).first()
    for k, name in enumerate(names):
        args = cases[name]
        assert alone[k] is not None or name == "ST_Z", name
        rows = [
            f"({r}, " + ", ".join(
                f"CAST(NULL AS {t})" if j == r - 1 else lit
                for j, (t, lit) in enumerate(args)
            ) + ")"
            for r in range(len(args) + 1)
        ]
        cols = ", ".join(f"a{j}" for j in range(len(args)))
        got = dict(spark.sql(
            f"SELECT r, {name}({cols}) FROM (SELECT /*+ COALESCE(1) */ * "
            f"FROM VALUES {', '.join(rows)} AS t(r, {cols}))"
        ).collect())
        assert got == {0: alone[k], **{r: None for r in range(1, len(args) + 1)}}, name

    row = spark.sql("SELECT ST_TileEnvelope(-1, 0, 0) AS t_neg").first()
    assert row.t_neg is None


def test_st_dwithin_null_geom_constant_radius_is_null(spark):
    """r5 review: the constant-radius fast path returned False for a
    NULL geometry while the variable-radius path returns SQL NULL —
    the same row's result depended on which radii shared its Arrow
    batch. Both paths now yield NULL for NULL geometries."""
    register_all(spark)
    rows = [(0, 3.0, 4.0), (1, None, None)]
    df = spark.createDataFrame(rows, "id long, px double, py double")
    df.createOrReplaceTempView("null_geom_const_r")
    got = {
        r.id: r.hit
        for r in spark.sql(
            "SELECT id, ST_DWithin(ST_MakePoint(px, py), "
            "ST_GeomFromText('POINT (0 0)'), 6.0) AS hit "
            "FROM null_geom_const_r"
        ).collect()
    }
    assert got == {0: True, 1: None}

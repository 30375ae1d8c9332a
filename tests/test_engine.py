"""Engine facade (S7/S8 connection-surface analog) + metadata-stats
fast path (A1 analog: aggregates answered from parquet footers)."""

import pytest
from pyspark.sql import functions as F

from geomesa_sql_spark.engine import Engine
from geomesa_sql_spark.io.iceberg_meta import IcebergTable
from geomesa_sql_spark.io.stats import fast_count, fast_min_max


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = Engine(spark, fid_col="n_nationkey")
    e.register_table("nation_t", f"{sf_dir}/nation.parquet")
    e.register_table("region_t", f"{sf_dir}/region.parquet")
    return e


def test_catalog_metadata_without_execution(eng):
    assert eng.tables() == ["nation_t", "region_t"]
    fields = {f.name for f in eng.describe("nation_t").fields}
    assert {"n_nationkey", "n_name", "n_regionkey"} <= fields


def test_sql_with_spatial_functions(eng):
    got = eng.sql(
        """SELECT n_name FROM nation_t
           WHERE ST_Within(ST_MakePoint(CAST(n_nationkey AS DOUBLE), 0.5),
                           ST_GeomFromText('POLYGON ((-1 -1, 5.5 -1, 5.5 2, -1 2, -1 -1))'))"""
    )
    keys = {r[0] for r in eng.sql(
        "SELECT n_name FROM nation_t WHERE n_nationkey <= 5").collect()}
    assert {r[0] for r in got.collect()} == keys


def test_register_function(eng):
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def DOUBLE_IT(v: pd.Series) -> pd.Series:
        return v * 2

    eng.register_function("DOUBLE_IT", DOUBLE_IT)
    r = eng.sql("SELECT DOUBLE_IT(n_nationkey) AS d FROM nation_t ORDER BY d DESC")
    assert r.first()[0] == 48


def test_dml_roundtrip_via_engine(spark, sf_dir, tmp_path):
    e = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    e.create_table("nat", str(tmp_path / "nat"), base)
    # the one DML table format: an Iceberg dir, and no other format
    assert IcebergTable.is_iceberg_dir(str(tmp_path / "nat"))
    with pytest.raises(ValueError, match="unknown table format"):
        e.create_table("nat_s", str(tmp_path / "nat_s"), base, format="snapshot")
    n0 = e.df("nat").count()
    assert e.insert("nat", base.limit(3).withColumn(
        "n_nationkey", F.col("n_nationkey") + 100)) == 3
    assert e.update("nat", {"n_name": F.lower("n_name")},
                    F.col("n_nationkey") >= 100) == 3
    assert e.delete("nat", F.col("n_nationkey") >= 100) == 3
    assert e.df("nat").count() == n0
    # the SQL view tracks snapshot commits
    assert e.sql("SELECT COUNT(*) FROM nat").first()[0] == n0


def test_fast_count_and_min_max(spark, sf_dir):
    path = f"{sf_dir}/orders.parquet"
    df = spark.read.parquet(path)
    assert fast_count(path) == df.count()
    lo, hi = fast_min_max(path, "o_orderkey")
    r = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    assert (lo, hi) == (r[0], r[1])


def test_fast_min_max_absent_column(sf_dir):
    assert fast_min_max(f"{sf_dir}/orders.parquet", "nope") is None


def test_geotable_over_snapshot_table(spark, sf_dir, tmp_path):
    """Engine.table() resolves an Iceberg table to its current
    snapshot; the pushdown handle sees post-DML state."""
    e = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    e.create_table("natg", str(tmp_path / "natg"), base)
    e.delete("natg", F.col("n_regionkey") == 0)
    t = e.table("natg").where(F.col("n_nationkey") >= 0).select("n_nationkey")
    remaining = e.df("natg").count()
    assert t.df().count() == remaining < base.count()


def test_multi_table_sql_join(eng):
    """DriverTest.scala:89-149 parity shape: joining two registered
    tables purely through SQL."""
    got = eng.sql(
        """SELECT r.r_name, COUNT(*) AS n
           FROM nation_t n JOIN region_t r ON n.n_regionkey = r.r_regionkey
           GROUP BY r.r_name ORDER BY r.r_name"""
    ).collect()
    assert len(got) == 5 and sum(r.n for r in got) == 25


def test_sql_dml_statements(spark, sf_dir, tmp_path):
    """SQL-text DML parity (ModificationTest.scala:36-175 shapes):
    INSERT VALUES / partial columns / INSERT-SELECT, UPDATE SET..WHERE,
    DELETE WHERE — each returning a 1-row affected count."""
    e = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    e.create_table("natsql", str(tmp_path / "natsql"), base)
    n0 = base.count()

    r = e.sql("INSERT INTO natsql VALUES (900, 'ATLANTIS', 0)")
    assert r.first().affected == 1
    r = e.sql("INSERT INTO natsql (n_nationkey) VALUES (901)")
    assert r.first().affected == 1
    assert e.sql(
        "SELECT n_name FROM natsql WHERE n_nationkey = 901"
    ).first().n_name is None
    r = e.sql(
        "INSERT INTO natsql SELECT n_nationkey + 1000, n_name, n_regionkey "
        "FROM natsql WHERE n_nationkey < 5"
    )
    assert r.first().affected == 5

    r = e.sql("UPDATE natsql SET n_name = lower(n_name) WHERE n_regionkey = 1")
    hit = r.first().affected
    assert hit > 0
    assert e.sql(
        "SELECT COUNT(*) AS c FROM natsql WHERE n_regionkey = 1 AND n_name <> lower(n_name)"
    ).first().c == 0

    r = e.sql("DELETE FROM natsql WHERE n_nationkey >= 900")
    assert r.first().affected == 7
    assert e.sql("SELECT COUNT(*) AS c FROM natsql").first().c == n0

    # UPDATE of the FID column through SQL is rejected too
    import pytest as _pytest
    from geomesa_sql_spark.io.dml import FidUpdateError

    with _pytest.raises(FidUpdateError):
        e.sql("UPDATE natsql SET n_nationkey = 0")


def test_sql_dml_subquery_predicates(spark, sf_dir, tmp_path):
    """SQL-text UPDATE/DELETE with subquery WHERE predicates
    (VERDICT r3 missing #3; reference plans these through Calcite,
    ModificationTest.scala surface). The engine plans the predicate via
    spark.sql over the registered view and applies the matching-fid
    frame as a distributed semi/anti join — never a collected id list."""
    e = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    e.create_table("natsub", str(tmp_path / "natsub"), base)
    e.register_table("regsub", f"{sf_dir}/region.parquet")
    n0 = base.count()

    # UPDATE ... WHERE k IN (SELECT ...)
    exp = base.filter("n_regionkey IN (0, 1)").count()
    r = e.sql(
        "UPDATE natsub SET n_name = lower(n_name) WHERE n_regionkey IN "
        "(SELECT r_regionkey FROM regsub WHERE r_regionkey < 2)"
    )
    assert r.first().affected == exp
    assert (
        e.sql(
            "SELECT COUNT(*) AS c FROM natsub WHERE n_regionkey < 2 "
            "AND n_name <> lower(n_name)"
        ).first().c
        == 0
    )
    # rows outside the subquery's id set are untouched
    assert (
        e.sql(
            "SELECT COUNT(*) AS c FROM natsub WHERE n_regionkey >= 2 "
            "AND n_name = upper(n_name)"
        ).first().c
        == n0 - exp
    )

    # correlated EXISTS
    r = e.sql(
        "UPDATE natsub SET n_name = upper(n_name) WHERE EXISTS "
        "(SELECT 1 FROM regsub WHERE r_regionkey = n_regionkey)"
    )
    assert r.first().affected == n0

    # DELETE ... WHERE IN (SELECT ...)
    r = e.sql(
        "DELETE FROM natsub WHERE n_regionkey IN "
        "(SELECT r_regionkey FROM regsub WHERE r_name = 'ASIA')"
    )
    asia = base.filter("n_regionkey = 2").count()
    assert r.first().affected == asia

    # DELETE ... WHERE NOT EXISTS (correlated anti form)
    r = e.sql(
        "DELETE FROM natsub WHERE NOT EXISTS "
        "(SELECT 1 FROM regsub WHERE r_regionkey = n_regionkey "
        "AND r_regionkey <> 2)"
    )
    assert r.first().affected == 0  # region 2 rows already gone
    assert e.sql("SELECT COUNT(*) AS c FROM natsub").first().c == n0 - asia

    # a WHERE whose string literal merely CONTAINS '(select' stays on
    # the plain-Column path (literal masking guards the detector)
    r = e.sql("DELETE FROM natsub WHERE n_name = '(select me)'")
    assert r.first().affected == 0


def test_sql_update_set_scalar_subquery(spark, sf_dir, tmp_path):
    """SQL-text UPDATE with SET-side scalar subqueries (r4 verdict #8:
    these used to fail in F.expr). Planned via spark.sql over the
    registered view into a (fid, value) frame → distributed fid join;
    correlated forms resolve per target row; self-referencing
    subqueries see the PRE-update snapshot (ANSI semantics)."""
    e = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    e.create_table("natset", str(tmp_path / "natset"), base)
    e.register_table("regset", f"{sf_dir}/region.parquet")
    n0 = base.count()

    # uncorrelated scalar subquery, WHERE-restricted
    exp = base.filter("n_regionkey = 1").count()
    r = e.sql(
        "UPDATE natset SET n_regionkey = "
        "(SELECT MAX(r_regionkey) + 10 FROM regset) WHERE n_regionkey = 1"
    )
    assert r.first().affected == exp
    assert (
        e.sql("SELECT COUNT(*) AS c FROM natset WHERE n_regionkey = 14")
        .first().c == exp
    )
    # rows outside the WHERE untouched
    assert (
        e.sql("SELECT COUNT(*) AS c FROM natset WHERE n_regionkey = 1")
        .first().c == 0
    )

    # correlated scalar subquery mixed with a row column
    r = e.sql(
        "UPDATE natset SET n_name = concat(n_name, '/', "
        "(SELECT r_name FROM regset WHERE r_regionkey = n_regionkey % 5))"
    )
    assert r.first().affected == n0
    bad = e.sql(
        "SELECT COUNT(*) AS c FROM natset n JOIN regset r "
        "ON r.r_regionkey = n.n_regionkey % 5 "
        "WHERE n.n_name NOT LIKE concat('%/', r.r_name)"
    ).first().c
    assert bad == 0

    # self-referencing subquery evaluates against the pre-update rows
    e.create_table("natself", str(tmp_path / "natself"), base)
    r = e.sql(
        "UPDATE natself SET n_name = "
        "(SELECT MIN(n_name) FROM natself) WHERE n_regionkey = 0"
    )
    want = base.selectExpr("MIN(n_name) AS m").first().m
    got = e.sql(
        "SELECT DISTINCT n_name AS c FROM natself WHERE n_regionkey = 0"
    ).collect()
    assert [x.c for x in got] == [want]


def test_sql_update_where_inside_string_literal(spark, sf_dir, tmp_path):
    """ADVICE r01: the DML recognizer must split on the TOP-LEVEL WHERE
    only — a SET string literal containing the word WHERE used to bind
    the lazy regex early and produce a broken expression."""
    eng = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    eng.create_table("nw", str(tmp_path / "nw"), base)
    out = eng.sql(
        "UPDATE nw SET n_name = 'SOMEWHERE ELSE' WHERE n_nationkey = 3"
    )
    assert out.first()["affected"] == 1
    got = eng.df("nw").filter(F.col("n_nationkey") == 3).first()
    assert got["n_name"] == "SOMEWHERE ELSE"
    # subquery parens + WHERE-bearing literals in the WHERE clause itself
    out = eng.sql("DELETE FROM nw WHERE n_name = 'SOMEWHERE ELSE'")
    assert out.first()["affected"] == 1


def test_fast_min_max_string_column_falls_back(sf_dir):
    """Parquet writers may truncate string/binary footer statistics
    (no exactness flag exposed) — fast_min_max must decline those
    columns so the caller scans instead (ADVICE r01)."""
    assert fast_min_max(f"{sf_dir}/nation.parquet", "n_name") is None
    # numeric columns still take the footer fast path
    lo, hi = fast_min_max(f"{sf_dir}/nation.parquet", "n_nationkey")
    assert lo == 0 and hi == 24


def test_sql_spatial_predicate_pushdown(spark, sf_dir, tmp_path):
    """SQL-TEXT spatial pushdown (the SpatialFilterRule analog): an
    Engine.sql query with ST_Within(ST_MakePoint(lon,lat), <literal>)
    must (a) match the bare-UDF answer exactly and (b) reach the
    parquet scan as sargable range PushedFilters — Catalyst can never
    push the UDF itself."""
    from geomesa_sql_spark.engine import _rewrite_spatial_predicates
    from geomesa_sql_spark.io.fixtures import orders_points

    eng = Engine(spark)
    path = str(tmp_path / "pts")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(path)
    eng.register_table("pts", path)

    q = ("SELECT o_orderkey FROM pts WHERE ST_Within(ST_MakePoint(lon, lat), "
         "ST_GeomFromText('POLYGON ((0.0025 0.0025, 40.0025 0.0025, "
         "40.0025 30.0025, 0.0025 30.0025, 0.0025 0.0025))'))")
    got = eng.sql(q)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(lon" in plan, plan[:1500]
    bare = spark.sql(q)  # un-rewritten: bare UDF evaluation
    assert sorted(r[0] for r in got.collect()) == sorted(r[0] for r in bare.collect())

    # spellings the parser reads as the same call: backticked columns, a
    # double-quoted WKT, a comment and a newline inside the call, and
    # lower-case names
    rect = ("POLYGON ((0.0025 0.0025, 40.0025 0.0025, 40.0025 30.0025, "
            "0.0025 30.0025, 0.0025 0.0025))")
    for pred in (
        f"ST_Within(ST_MakePoint(`lon`, `lat`), ST_GeomFromText('{rect}'))",
        f'ST_Within(ST_MakePoint(lon, lat), ST_GeomFromText("{rect}"))',
        f"ST_Within(ST_MakePoint(lon, lat) /* pt */,\n ST_GeomFromText('{rect}'))",
        f"st_within(st_makepoint(lon, lat), st_geomfromtext('{rect}'))",
    ):
        qs = f"SELECT o_orderkey FROM pts WHERE {pred}"
        got_s = eng.sql(qs)
        plan_s = got_s._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThanOrEqual(lon" in plan_s, (pred, plan_s[:1500])
        assert "st_makepoint" not in plan_s.lower(), (pred, plan_s[:1500])
        assert sorted(r[0] for r in got_s.collect()) == sorted(
            r[0] for r in spark.sql(qs).collect()
        )

    # DWithin expands the envelope by the distance literal
    qd = ("SELECT o_orderkey FROM pts WHERE ST_DWithin(ST_MakePoint(lon, lat), "
          "ST_GeomFromText('POINT (10.005 10.005)'), 20.0)")
    gotd = eng.sql(qd)
    pland = gotd._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(lon,-9.995" in pland, pland[:1500]
    assert sorted(r[0] for r in gotd.collect()) == sorted(
        r[0] for r in spark.sql(qd).collect()
    )

    # rewrite is a no-op for non-literal/malformed geometry
    assert _rewrite_spatial_predicates(
        "SELECT 1 WHERE ST_Within(ST_MakePoint(a, b), ST_GeomFromText('NOPE'))"
    ) == "SELECT 1 WHERE ST_Within(ST_MakePoint(a, b), ST_GeomFromText('NOPE'))"


def test_sql_spatial_join_routed_to_cell_join(spark, sf_dir, tmp_path):
    """SQL-TEXT spatial join (the EnumerableSpatialJoinRule analog):
    Engine.sql plans 'FROM a JOIN b ON ST_Pred(...)' through the cell
    spatial join (BroadcastHashJoin on the cell key) instead of the
    cartesian BroadcastNestedLoop Spark builds for a UDF ON clause —
    and the answers match the exact bbox oracle."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1 = str(tmp_path / "p")
    p2 = str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("pts_j", p1)
    eng.register_table("nsq_j", p2)

    got = eng.sql(
        "SELECT p.o_orderkey, s.n_nationkey FROM pts_j p JOIN nsq_j s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan[:1500]

    pts = spark.read.parquet(p1)
    sq = spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = pts.join(sq, bbox).select("o_orderkey", "n_nationkey")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # flipped operand order: Contains(polygon, point) reorients to within
    got2 = eng.sql(
        "SELECT o_orderkey, n_nationkey FROM pts_j JOIN nsq_j "
        "ON ST_Contains(poly, ST_MakePoint(lon, lat))"
    )
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want.collect()))

    # DWithin + residual WHERE
    got3 = eng.sql(
        "SELECT o_orderkey, n_nationkey FROM pts_j JOIN nsq_j "
        "ON ST_DWithin(ST_MakePoint(lon, lat), poly, 3.0) "
        "WHERE o_orderkey <= 5000"
    )
    d2 = (
        F.pow(F.greatest(F.col("pminx") - F.col("lon"), F.lit(0.0),
                         F.col("lon") - F.col("pmaxx")), 2)
        + F.pow(F.greatest(F.col("pminy") - F.col("lat"), F.lit(0.0),
                           F.col("lat") - F.col("pmaxy")), 2)
    )
    want3 = (
        pts.filter(F.col("o_orderkey") <= 5000)
        .join(sq, d2 <= 9.0)
        .select("o_orderkey", "n_nationkey")
    )
    assert sorted(map(tuple, got3.collect())) == sorted(map(tuple, want3.collect()))


def test_sql_spatial_filter_flipped_args_pushdown(spark, sf_dir, tmp_path):
    """ST_Contains(<literal poly>, ST_MakePoint(x,y)) — the flipped
    argument order — also gains the sargable bbox conjunction."""
    from geomesa_sql_spark.io.fixtures import orders_points

    eng = Engine(spark)
    path = str(tmp_path / "fp")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(path)
    eng.register_table("fpts", path)
    q = ("SELECT o_orderkey FROM fpts WHERE ST_Contains("
         "ST_GeomFromText('POLYGON ((0.0025 0.0025, 40.0025 0.0025, "
         "40.0025 30.0025, 0.0025 30.0025, 0.0025 0.0025))'), "
         "ST_MakePoint(lon, lat))")
    got = eng.sql(q)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(lon" in plan, plan[:1500]
    assert sorted(r[0] for r in got.collect()) == sorted(
        r[0] for r in spark.sql(q).collect()
    )


def test_sql_spatial_join_aggregate_tails_routed(spark, sf_dir, tmp_path):
    """Aggregate select lists and GROUP BY / ORDER BY / LIMIT tails on
    a SQL-text spatial join now run ON TOP of the routed cell join (no
    BroadcastNestedLoopJoin anywhere in the plan), matching the answers
    of the routed pair query aggregated via the DataFrame API; tails
    the router still can't express (set ops, quoted literals) fall
    through to plain spark.sql unchanged."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1 = str(tmp_path / "p")
    p2 = str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select("n_nationkey", "poly").write.parquet(p2)
    eng.register_table("bpts", p1)
    eng.register_table("bnsq", p2)

    agg = eng.sql(
        "SELECT n_nationkey, count(*) AS n FROM bpts JOIN bnsq "
        "ON ST_Intersects(ST_MakePoint(lon, lat), poly) GROUP BY n_nationkey "
        "ORDER BY n DESC, n_nationkey LIMIT 5"
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]

    routed = eng.sql(
        "SELECT o_orderkey, n_nationkey FROM bpts JOIN bnsq "
        "ON ST_Intersects(ST_MakePoint(lon, lat), poly)"
    )
    want = (
        routed.groupBy("n_nationkey").count()
        .orderBy(F.col("count").desc(), "n_nationkey").limit(5)
    )
    assert [(r.n_nationkey, r.n) for r in agg.collect()] == [
        (r.n_nationkey, r["count"]) for r in want.collect()
    ]

    # HAVING over the group
    hav = eng.sql(
        "SELECT n_nationkey, count(*) AS n FROM bpts JOIN bnsq "
        "ON ST_Intersects(ST_MakePoint(lon, lat), poly) "
        "GROUP BY n_nationkey HAVING count(*) > 3"
    )
    want_h = {(r.n_nationkey, r["count"])
              for r in routed.groupBy("n_nationkey").count()
              .filter("count > 3").collect()}
    assert {(r.n_nationkey, r.n) for r in hav.collect()} == want_h

    # quoted literal in the tail: router must bail (keyword could hide
    # inside the string), plain spark.sql still answers correctly
    lit = eng.sql(
        "SELECT o_orderkey FROM bpts JOIN bnsq "
        "ON ST_Intersects(ST_MakePoint(lon, lat), poly) "
        "WHERE 'GROUP BY x' <> 'y' AND n_nationkey = 3"
    )
    want_l = routed.filter("n_nationkey = 3").select("o_orderkey")
    assert sorted(r.o_orderkey for r in lit.collect()) == sorted(
        r.o_orderkey for r in want_l.collect()
    )


def test_sql_rewrite_differential_sweep(spark, sf_dir, tmp_path):
    """Differential sweep of the SQL-text spatial rewrite: for a grid of
    geometries × predicates × argument orders, the rewritten query must
    return exactly the bare-UDF answer (the rewrite may only ADD a
    superset bbox, never change semantics)."""
    from geomesa_sql_spark.engine import _rewrite_spatial_predicates
    from geomesa_sql_spark.io.fixtures import orders_points

    eng = Engine(spark)
    path = str(tmp_path / "sw")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(path)
    eng.register_table("swp", path)

    geoms = [
        "POLYGON ((0.0025 0.0025, 40.0025 0.0025, 40.0025 30.0025, "
        "0.0025 30.0025, 0.0025 0.0025))",
        "POLYGON ((-40.0037 -20.0013, 30.0041 -45.0029, 80.0017 10.0023, "
        "20.0031 60.0019, -55.0043 25.0037))",
        "POINT (10.005 10.005)",
        "LINESTRING (-20.0025 -20.0025, 20.0025 20.0025)",
    ]
    cases = []
    for g in geoms:
        cases.append(f"ST_Intersects(ST_MakePoint(lon, lat), ST_GeomFromText('{g}'))")
        cases.append(f"ST_Within(ST_MakePoint(lon, lat), ST_GeomFromText('{g}'))")
        cases.append(f"ST_Contains(ST_GeomFromText('{g}'), ST_MakePoint(lon, lat))")
        cases.append(
            f"ST_DWithin(ST_MakePoint(lon, lat), ST_GeomFromText('{g}'), 12.5)"
        )
    for pred in cases:
        q = f"SELECT o_orderkey FROM swp WHERE {pred}"
        rewritten = _rewrite_spatial_predicates(q)
        got = sorted(r[0] for r in eng.sql(q).collect())
        bare = sorted(r[0] for r in spark.sql(q).collect())
        assert got == bare, f"rewrite changed semantics for: {pred}\n{rewritten}"


# literal geometries for the coordinate-kernel rewrite: a rectangle (plain
# comparisons), a polygon with a hole, a MultiPolygon, a point and a line
_LIT_RECT = "POLYGON ((-5 -5, 5 -5, 5 5, -5 5, -5 -5))"
_LIT_HOLED = "POLYGON ((0 0, 12 1, 10 10, 1 11, 0 0), (3 3, 6 3, 6 6, 3 6, 3 3))"
_LIT_MULTI = ("MULTIPOLYGON (((20 20, 30 20, 25 28, 20 20)), "
              "((40 40, 50 40, 50 50, 40 50, 40 40)))")
_LIT_POINT = "POINT (1 2)"
_LIT_LINE = "LINESTRING (-20 -20, -10 -12, -4 -12)"


def _literal_probe_points(spark):
    """Every vertex and edge midpoint of the literals, points inside
    and outside each (the hole too), a grid, and NULL lon / lat rows."""
    from geomesa_sql_spark.geom import geom_from_wkt

    pts = set()
    for wkt in (_LIT_RECT, _LIT_HOLED, _LIT_MULTI, _LIT_POINT, _LIT_LINE):
        g = geom_from_wkt(wkt)
        for x, y in g.all_coords().tolist():
            pts.add((x, y))
        for x0, y0, x1, y1 in g.segments().tolist():
            pts.add(((x0 + x1) / 2, (y0 + y1) / 2))
    pts |= {(4.5, 4.5), (2.0, 2.0), (25.0, 22.0), (45.0, 45.0), (1.0, 3.5),
            (-7.0, -12.0), (13.0, 5.0), (35.0, 35.0)}
    pts |= {(x * 2.5 - 25.0, y * 2.5 - 25.0) for x in range(33) for y in range(33)}
    rows = [(i, x, y) for i, (x, y) in enumerate(sorted(pts))]
    n = len(rows)
    rows += [(n, None, 1.0), (n + 1, 4.5, None), (n + 2, None, None),
             (n + 3, None, 45.0), (n + 4, 2.0, None)]
    return spark.createDataFrame(rows, "id long, lon double, lat double")


def test_sql_literal_predicates_match_bare_udfs(spark, tmp_path):
    """The literal-geometry rewrite REPLACES the three-UDF call with the
    coordinate kernel (or plain comparisons): in WHERE and in the SELECT
    list — where NULL vs False shows — every answer equals bare
    spark.sql's, over vertices, edge midpoints, a hole, a MultiPolygon,
    DWithin against polygon, point and line literals, and NULL coords."""
    from geomesa_sql_spark.engine import _rewrite_spatial_predicates

    eng = Engine(spark)
    path = str(tmp_path / "lit_pts")
    _literal_probe_points(spark).coalesce(1).write.parquet(path)
    eng.register_table("lit_pts", path)
    preds = []
    for g in (_LIT_RECT, _LIT_HOLED, _LIT_MULTI, _LIT_POINT, _LIT_LINE):
        pt, lit = "ST_MakePoint(lon, lat)", f"ST_GeomFromText('{g}')"
        preds += [
            f"ST_Intersects({pt}, {lit})",
            f"ST_Intersects({lit}, {pt})",
            f"ST_Within({pt}, {lit})",
            f"ST_Contains({lit}, {pt})",
            f"ST_DWithin({pt}, {lit}, 1.5)",
            f"ST_DWithin({lit}, {pt}, 2.75)",
        ]
    preds += [
        f"ST_Touches(ST_MakePoint(lon, lat), ST_GeomFromText('{_LIT_HOLED}'))",
        f"ST_Equals(ST_MakePoint(lon, lat), ST_GeomFromText('{_LIT_POINT}'))",
        # spellings the parser reads as the same call
        f"ST_Within(ST_MakePoint(`lon`, `lat`), ST_GeomFromText('{_LIT_HOLED}'))",
        f'ST_Contains(ST_GeomFromText("{_LIT_MULTI}"), ST_MakePoint(lon, lat))',
        f"ST_DWithin(ST_MakePoint(lon, lat) /* pt */,\n"
        f" ST_GeomFromText('{_LIT_LINE}'), 1.5)",
        f"st_intersects(st_geomfromtext('{_LIT_RECT}'), st_makepoint(lon, lat))",
    ]
    for pred in preds:
        # a bare expression is not a statement: the rewrite parses one
        rewritten = _rewrite_spatial_predicates(f"SELECT {pred}")
        assert "st_makepoint" not in rewritten.lower(), pred
    # one query per side and position: the WHERE forms as a UNION ALL
    # keyed by predicate, the SELECT-list forms as one column each
    where_q = " UNION ALL ".join(
        f"SELECT {k} AS k, id FROM lit_pts WHERE {p}" for k, p in enumerate(preds)
    )
    select_q = "SELECT id, " + ", ".join(
        f"{p} AS r{k}" for k, p in enumerate(preds)
    ) + " FROM lit_pts"
    for q in (where_q, select_q):
        got = sorted(map(tuple, eng.sql(q).collect()))
        want = sorted(map(tuple, spark.sql(q).collect()))
        diff = sorted(set(got) ^ set(want))[:10]
        assert got == want, f"answers changed; first differing rows: {diff}"


def test_sql_predicate_inside_string_literal_unchanged(spark):
    """A spatial call spelled inside a quoted string literal is data:
    the literal-geometry rewrite leaves it as spark.sql reads it, in
    either argument order, while a real call outside the literal in the
    same statement is still rewritten."""
    from geomesa_sql_spark.engine import _rewrite_spatial_predicates

    eng = Engine(spark)
    within = "ST_Within(ST_MakePoint(x, y), ST_GeomFromText('POINT (1 1)'))"
    contains = "ST_Contains(ST_GeomFromText('POINT (1 1)'), ST_MakePoint(x, y))"
    for call in (within, contains):
        q = f'SELECT "{call}" AS s'
        assert eng.sql(q).first()["s"] == call == spark.sql(q).first()["s"]
        q = (f'SELECT "{call}" AS s, {call} AS hit '
             "FROM VALUES (1.0D, 1.0D), (2.0D, 2.0D) AS t(x, y)")
        rewritten = _rewrite_spatial_predicates(q)
        assert rewritten.startswith(f'SELECT "{call}" AS s, (x IS NOT NULL')
        assert rewritten.count("ST_MakePoint") == 1, rewritten
        got = sorted(map(tuple, eng.sql(q).collect()))
        assert got == sorted(map(tuple, spark.sql(q).collect()))
        assert got == [(call, False), (call, True)]


def test_sql_literal_rewrite_degenerate_ring_not_rectangle(spark):
    """A zero-area back-and-forth ring has a rectangle's envelope and
    corner values but is no rectangle (ST_IsRectangle says False): the
    rewrite's exact test must answer as the relate UDF does, not with
    the envelope's comparisons."""
    ring = "POLYGON ((0 0, 1 0, 0 0, 0 1, 0 0))"
    q = ("SELECT x, y, "
         f"ST_Within(ST_MakePoint(x, y), ST_GeomFromText('{ring}')) AS w, "
         f"ST_Intersects(ST_MakePoint(x, y), ST_GeomFromText('{ring}')) AS i, "
         f"ST_IsRectangle(ST_GeomFromText('{ring}')) AS r "
         "FROM VALUES (0.5D, 0.5D), (0.5D, 0.0D), (0.0D, 0.5D), (2.0D, 2.0D) AS t(x, y)")
    got = sorted(map(tuple, Engine(spark).sql(q).collect()))
    assert got == sorted(map(tuple, spark.sql(q).collect()))
    assert [r[2:] for r in got] == [(False, True, False), (False, True, False),
                                    (False, False, False), (False, False, False)]


def test_sql_literal_rewrite_composes_with_routed_join(spark, sf_dir, tmp_path):
    """A literal-geometry predicate on a routed join's point side, in the
    WHERE clause and inside a CTE operand: the rewrite's text is made from
    the router's qualifier moves (``p.`` -> the view's name), so the join
    still routes (no fallback, no BroadcastNestedLoopJoin), the literal
    call is gone from the plan, and the rows equal plain spark.sql's."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select("n_nationkey", "poly").write.parquet(p2)
    eng.register_table("cmp_pts", p1)
    eng.register_table("cmp_nsq", p2)
    lit = ("ST_GeomFromText('POLYGON ((-40.0037 -20.0013, 30.0041 -45.0029, "
           "80.0017 10.0023, 20.0031 60.0019, -55.0043 25.0037))')")
    for q in (
        "SELECT p.o_orderkey, s.n_nationkey FROM cmp_pts p JOIN cmp_nsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        f"WHERE ST_Contains({lit}, ST_MakePoint(p.lon, p.lat))",
        f"WITH w AS (SELECT * FROM cmp_pts WHERE ST_Contains({lit}, "
        "ST_MakePoint(lon, lat))) SELECT p.o_orderkey, s.n_nationkey "
        "FROM w p JOIN cmp_nsq s ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)",
    ):
        got = eng.sql(q)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
        assert "ST_Contains" not in plan and "GreaterThanOrEqual(lon" in plan, plan[:1500]
        want = sorted(map(tuple, spark.sql(q).collect()))
        assert want and sorted(map(tuple, got.collect())) == want
        assert not eng.route_fallbacks


def test_sql_dml_where_gets_spatial_rewrite(spark, sf_dir, tmp_path):
    """DELETE ... WHERE ST_Contains(<literal>, ST_MakePoint(lon, lat))
    runs through the same rewrite as a SELECT: the affected count and
    the surviving rows equal the bare-UDF answer."""
    from geomesa_sql_spark.io.fixtures import orders_points

    penta = ("POLYGON ((-40.0037 -20.0013, 30.0041 -45.0029, 80.0017 10.0023, "
             "20.0031 60.0019, -55.0043 25.0037))")
    pred = f"ST_Contains(ST_GeomFromText('{penta}'), ST_MakePoint(lon, lat))"
    src = orders_points(spark, sf_dir).select(
        F.col("o_orderkey").alias("image_id"), "lon", "lat"
    )
    src.createOrReplaceTempView("dml_src")
    want_gone = {r[0] for r in spark.sql(f"SELECT image_id FROM dml_src WHERE {pred}").collect()}
    want_left = {r[0] for r in spark.sql("SELECT image_id FROM dml_src").collect()} - want_gone
    assert want_gone and want_left

    eng = Engine(spark)
    eng.create_table("dml_pts", str(tmp_path / "dml_pts"),
                     src.withColumn("g", F.expr("ST_MakePoint(lon, lat)")))
    n = eng.sql(f"DELETE FROM dml_pts WHERE {pred}").collect()[0][0]
    assert n == len(want_gone)
    assert {r[0] for r in eng.sql("SELECT image_id FROM dml_pts").collect()} == want_left

    # spellings the parser reads as the same call, one box each: every
    # one reaches the delete as coordinate comparisons, no ST_MakePoint
    from unittest import mock

    def box(x0, y0, x1, y1):
        return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"

    shaped = " OR ".join([
        f"ST_Within(ST_MakePoint(`lon`, `lat`), ST_GeomFromText('{box(0, 0, 40, 30)}'))",
        f'ST_Within(ST_MakePoint(lon, lat), ST_GeomFromText("{box(-90, -60, -50, -20)}"))',
        f"ST_Contains(ST_GeomFromText('{box(100, 20, 140, 60)}') /* poly */,\n"
        "  ST_MakePoint(lon, lat))",
        f"st_within(st_makepoint(lon, lat), st_geomfromtext('{box(-170, 50, -130, 85)}'))",
    ])
    left = spark.sql(f"SELECT image_id FROM dml_src WHERE NOT ({pred})")
    want_gone = {r[0] for r in left.filter(F.expr(shaped)).collect()}
    assert want_gone
    with mock.patch.object(Engine, "delete", autospec=True,
                           side_effect=Engine.delete) as delete:
        n = eng.sql(f"DELETE FROM dml_pts WHERE {shaped}").collect()[0][0]
    where = str(delete.call_args.args[2])
    assert "lon >=" in where and "st_makepoint" not in where.lower(), where
    assert n == len(want_gone)
    want_left -= want_gone
    assert {r[0] for r in eng.sql("SELECT image_id FROM dml_pts").collect()} == want_left

    # the SET list takes the 2-arg ST_Transform rename too
    n = eng.sql("UPDATE dml_pts SET g = ST_Transform(g, 3857) "
                "WHERE image_id % 2 = 0").collect()[0][0]
    assert n == sum(1 for k in want_left if k % 2 == 0)
    got = {r[0]: (r[1], r[2]) for r in eng.sql(
        "SELECT image_id, ST_SRID(g), ST_X(g) FROM dml_pts").collect()}
    want = {r[0]: (r[1], r[2]) for r in spark.sql(
        "SELECT image_id, ST_SRID(ST_TransformSrid(g, 3857)), "
        "ST_X(ST_Transform(g, 'EPSG:4326', 'EPSG:3857')) FROM "
        "(SELECT image_id, ST_MakePoint(lon, lat) AS g FROM dml_src) "
        "WHERE image_id % 2 = 0").collect()}
    assert {k: v for k, v in got.items() if k % 2 == 0} == {
        k: want[k] for k in want_left if k % 2 == 0}
    assert {s for k, (s, _) in got.items() if k % 2} <= {0, 4326}


def test_sql_right_join_not_silently_inner(spark, sf_dir, tmp_path):
    """Review r2: 'RIGHT JOIN' must never be captured as a table alias
    and planned as an INNER spatial join (silent row loss). The router
    must not fire; Spark itself then rejects the UDF ON clause loudly."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select("n_nationkey", "poly").write.parquet(p2)
    eng.register_table("rpts", p1)
    eng.register_table("rnsq", p2)
    q = ("SELECT o_orderkey, n_nationkey FROM rpts RIGHT JOIN rnsq "
         "ON ST_Intersects(ST_MakePoint(lon, lat), poly)")
    assert eng._route(q) is None
    with pytest.raises(Exception, match="(?i)udf|outer"):
        eng.sql(q).collect()


def test_sql_self_join_ambiguity_falls_through(spark, sf_dir, tmp_path):
    """Self-joins where both tables carry the operand columns are
    ambiguous for the router — it must return None (spark.sql then
    answers via BNLJ), not raise AMBIGUOUS_REFERENCE."""
    from geomesa_sql_spark.io.fixtures import orders_points

    eng = Engine(spark)
    p1 = str(tmp_path / "p")
    orders_points(spark, sf_dir).filter(F.col("o_orderkey") <= 300).select(
        "o_orderkey", "lon", "lat"
    ).write.parquet(p1)
    eng.register_table("selfp", p1)
    q = ("SELECT a.o_orderkey, b.o_orderkey FROM selfp a JOIN selfp b "
         "ON ST_DWithin(ST_MakePoint(a.lon, a.lat), "
         "ST_MakePoint(b.lon, b.lat), 20.0)")
    assert eng._route(q) is None
    got = eng.sql(q).count()
    assert got > 0  # plain spark.sql answered it


def test_sql_join_qualified_residual_where(spark, sf_dir, tmp_path):
    """Alias-qualified residual WHERE references resolve (qualifiers
    stripped like the select list)."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("qpts", p1)
    eng.register_table("qnsq", p2)
    got = eng.sql(
        "SELECT p.o_orderkey, s.n_nationkey FROM qpts p JOIN qnsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        "WHERE p.o_orderkey <= 5000 AND s.n_nationkey >= 2"
    )
    pts = spark.read.parquet(p1)
    sq = spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = (
        pts.join(sq, bbox)
        .filter((F.col("o_orderkey") <= 5000) & (F.col("n_nationkey") >= 2))
        .select("o_orderkey", "n_nationkey")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_dml_backslash_escaped_quote(spark, sf_dir, tmp_path):
    """Backslash-escaped quotes inside literals must not fool the
    split between the SET value and the WHERE condition."""
    eng = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    eng.create_table("nesc", str(tmp_path / "nesc"), base)
    out = eng.sql(
        "UPDATE nesc SET n_name = 'IT\\'S WHERE IT HIDES' WHERE n_nationkey = 4"
    )
    assert out.first()["affected"] == 1
    assert eng.df("nesc").filter(F.col("n_nationkey") == 4).first()["n_name"] \
        == "IT'S WHERE IT HIDES"


def test_describe_and_table_for_views(spark, sf_dir):
    eng = Engine(spark)
    eng.register_view("v_orders", spark.read.parquet(f"{sf_dir}/orders.parquet"))
    assert "o_orderkey" in eng.describe("v_orders").names
    assert "v_orders" in eng.tables()
    with pytest.raises(ValueError, match="view"):
        eng.table("v_orders")
    with pytest.raises(ValueError, match="unknown"):
        eng.describe("nope")


def test_sql_left_spatial_join_routed(spark, sf_dir, tmp_path):
    """VERDICT r2 #1: a SQL-text LEFT spatial join routes through the
    cell join (no BroadcastNestedLoopJoin — Spark would REJECT the
    Python-UDF ON clause for an outer join outright) and matches the
    bbox left-join oracle."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark, fid_col="o_orderkey")
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("lpts", p1)
    eng.register_table("lnsq", p2)

    got = eng.sql(
        "SELECT p.o_orderkey, s.n_nationkey FROM lpts p LEFT JOIN lnsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]

    pts = spark.read.parquet(p1)
    sq = spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = pts.join(sq, bbox, "left").select("o_orderkey", "n_nationkey")
    assert sorted(
        map(tuple, got.collect()), key=lambda t: (t[0], t[1] is None, t[1])
    ) == sorted(
        map(tuple, want.collect()), key=lambda t: (t[0], t[1] is None, t[1])
    )
    # every left row preserved at least once
    assert got.select("o_orderkey").distinct().count() == pts.count()


def test_sql_left_spatial_join_needs_key_warns(spark, sf_dir, tmp_path, caplog):
    """LEFT route without a usable unique key bails WITH a warning
    naming the cartesian/rejection fallback (VERDICT r2 #1c)."""
    import logging

    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)  # fid_col='image_id' — not a column of either table
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select("n_nationkey", "poly").write.parquet(p2)
    eng.register_table("wpts", p1)
    eng.register_table("wnsq", p2)
    q = ("SELECT o_orderkey, n_nationkey FROM wpts LEFT JOIN wnsq "
         "ON ST_Intersects(ST_MakePoint(lon, lat), poly)")
    with caplog.at_level(logging.WARNING, logger="geomesa_sql_spark.engine"):
        assert eng._route(q) is None
    assert any("NOT routed" in r.message and "unique key" in r.message
               for r in caplog.records)

    # r3 continuation: constant string literals in the select list now
    # ROUTE (the old blanket quote bail is gone — matching runs on
    # masked text and the requalifier skips literal content)
    q2 = ("SELECT o_orderkey, 'x' AS tag FROM wpts JOIN wnsq "
          "ON ST_Intersects(ST_MakePoint(lon, lat), poly)")
    routed = eng._route(q2)
    assert routed is not None
    rows = routed.collect()
    assert rows and all(r.tag == "x" for r in rows)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_router_fallbacks_counted_once(spark, sf_dir, tmp_path):
    """Each spatial shape the router leaves to plain spark.sql counts
    exactly once in Engine.route_fallbacks, keyed by its reason; a
    routed statement counts nothing."""
    from collections import Counter

    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)  # fid_col='image_id' — not a column of either table
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).filter(F.col("o_orderkey") <= 500).select(
        "o_orderkey", "lon", "lat"
    ).write.parquet(p1)
    nation_squares(spark, sf_dir).select("n_nationkey", "poly").write.parquet(p2)
    eng.register_table("fbpts", p1)
    eng.register_table("fbnsq", p2)
    on = "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"

    eng.sql(f"SELECT p.o_orderkey FROM fbpts p JOIN fbnsq s {on}").collect()
    assert eng.route_fallbacks == Counter()
    assert eng._route(f"SELECT p.o_orderkey FROM fbpts p LEFT JOIN fbnsq s {on}") is None
    assert eng.route_fallbacks == Counter({"LEFT spatial join needs a unique key": 1})
    # through Engine.sql: the plain spark.sql fallback answers, counted once
    q = (f"SELECT p.o_orderkey FROM fbpts p JOIN fbnsq s {on} "
         "AND ST_DWithin(ST_MakePoint(p.lon, p.lat), s.poly, 1.0)")
    assert sorted(eng.sql(q).collect()) == sorted(spark.sql(q).collect())
    assert eng.route_fallbacks == Counter({
        "LEFT spatial join needs a unique key": 1,
        "second spatial predicate in the ON conjunction": 1,
    })


def test_router_bail_on_outer_semi_anti_raises(spark, sf_dir, tmp_path):
    """A LEFT JOIN or [NOT] EXISTS over tables without the fid_col key
    is a router bail that plain Spark SQL cannot plan (a Python UDF in
    the ON clause of an outer/semi/anti join): Engine.sql raises a
    ValueError naming the reason, counted once. An EXISTS whose spatial
    call has a literal operand has nothing to join: it is no routing
    candidate, counts no fallback and answers as plain Spark does."""
    from collections import Counter

    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)  # fid_col='image_id' — not a column of either table
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).filter(F.col("o_orderkey") <= 500).select(
        "o_orderkey", "lon", "lat"
    ).write.parquet(p1)
    nation_squares(spark, sf_dir).select("n_nationkey", "poly").write.parquet(p2)
    eng.register_table("bxpts", p1)
    eng.register_table("bxnsq", p2)
    call = "ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
    for q, why in (
        (f"SELECT p.o_orderkey, s.n_nationkey FROM bxpts p LEFT JOIN bxnsq s ON {call}",
         "LEFT spatial join needs a unique key"),
        (f"SELECT p.o_orderkey FROM bxpts p WHERE EXISTS (SELECT 1 FROM bxnsq s "
         f"WHERE {call})", "LEFT_SEMI spatial join needs a unique key"),
        (f"SELECT p.o_orderkey FROM bxpts p WHERE NOT EXISTS (SELECT 1 FROM bxnsq s "
         f"WHERE {call})", "LEFT_ANTI spatial join needs a unique key"),
    ):
        with pytest.raises(ValueError, match=why):
            eng.sql(q)
        assert eng.route_fallbacks[why] == 1
    square = "ST_GeomFromText('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')"
    q = (f"SELECT count(*) FROM bxpts p WHERE EXISTS (SELECT 1 FROM bxnsq s "
         f"WHERE ST_Intersects({square}, s.poly))")
    assert eng.sql(q).collect() == spark.sql(q).collect()
    assert sum(eng.route_fallbacks.values()) == 3
    assert eng.route_fallbacks == Counter({
        "LEFT spatial join needs a unique key": 1,
        "LEFT_SEMI spatial join needs a unique key": 1,
        "LEFT_ANTI spatial join needs a unique key": 1,
    })


def test_exists_with_literal_operand_is_not_a_join(spark, tmp_path, caplog):
    """``EXISTS (.. WHERE ST_Within(ST_MakePoint(a, b), <WKT literal>))``
    has nothing to join: the router leaves it alone (no fallback, no
    cartesian warning) and the rows equal plain spark.sql's. A
    correlated operand the router cannot plan still bails by name."""
    import logging
    from collections import Counter

    from geomesa_sql_spark.geom.model import box
    from geomesa_sql_spark.geom.wkb import geom_to_wkb

    eng = Engine(spark, fid_col="id")
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "q")
    spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 5.0, 5.0), (3, 0.2, 0.9), (4, None, 0.5)],
        "id long, a double, b double",
    ).write.parquet(p1)
    spark.createDataFrame(
        [(1, bytearray(geom_to_wkb(box(0, 0, 1, 1))))], "gid long, poly binary"
    ).write.parquet(p2)
    eng.register_table("lxp", p1)
    eng.register_table("lxq", p2)
    square = "ST_GeomFromText('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')"
    q = ("SELECT p.id FROM lxp p WHERE {}EXISTS (SELECT 1 FROM lxq s WHERE "
         f"ST_Within(ST_MakePoint(p.a, p.b), {square})) ORDER BY p.id")
    with caplog.at_level(logging.WARNING, logger="geomesa_sql_spark.engine"):
        got, got_not = (eng.sql(q.format(neg)).collect() for neg in ("", "NOT "))
    want = spark.sql(q.format("")).collect()
    assert got == want and [r.id for r in want] == [1, 3]
    # plain Spark fails the NOT EXISTS form with an internal error (a
    # Python UDF over outer columns in an anti join): its rows are the
    # complement of the EXISTS form's
    assert [r.id for r in got_not] == [2, 4]
    assert not eng.route_fallbacks
    assert not [r for r in caplog.records if "cartesian" in r.getMessage()]
    buffered = ("SELECT p.id FROM lxp p WHERE EXISTS (SELECT 1 FROM lxq s WHERE "
                "ST_Intersects(ST_Buffer(ST_MakePoint(p.a, p.b), 0.1), s.poly))")
    with pytest.raises(ValueError, match="operand shape"):
        eng.sql(buffered)
    assert eng.route_fallbacks == Counter(
        {"unsupported ST_ predicate or operand shape in ON": 1})


def test_sql_alias_qualified_operands_orient(spark, sf_dir, tmp_path):
    """Qualified geometry operands orient the join even when BOTH
    tables carry the operand column names (previously an ambiguity
    bail); answers match the bbox oracle."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    # both tables carry lon/lat; distinct key names for the select list
    orders_points(spark, sf_dir).filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey", "lon", "lat"
    ).write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey",
        F.col("pminx").alias("lon"), F.col("pminy").alias("lat"),
        "poly", "pminx", "pminy", "pmaxx", "pmaxy",
    ).write.parquet(p2)
    eng.register_table("apts", p1)
    eng.register_table("ansq", p2)

    got = eng.sql(
        "SELECT a.o_orderkey, b.n_nationkey FROM apts a JOIN ansq b "
        "ON ST_Intersects(ST_MakePoint(a.lon, a.lat), b.poly)"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    pts = spark.read.parquet(p1).select("o_orderkey", "lon", "lat")
    sq = spark.read.parquet(p2).select(
        "n_nationkey", "pminx", "pminy", "pmaxx", "pmaxy"
    )
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = pts.join(sq, bbox).select("o_orderkey", "n_nationkey")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_sql_spatial_join_chain_routed(spark, sf_dir, tmp_path):
    """r3: a multi-join chain whose FIRST join is spatial routes the
    spatial pair through the cell join and runs the remaining plain
    equi-joins as ordinary Spark SQL on top — no BNLJ anywhere; a
    SECOND spatial join in the chain routes over the first one's view."""
    import logging

    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2, p3 = (str(tmp_path / d) for d in ("p", "n", "r"))
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.parquet(p3)
    eng.register_table("cpts", p1)
    eng.register_table("cnsq", p2)
    eng.register_table("cnat", p3)

    got = eng.sql(
        "SELECT p.o_orderkey, s.n_nationkey, x.n_name "
        "FROM cpts p JOIN cnsq s ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        "JOIN cnat x ON s.n_nationkey = x.n_nationkey "
        "WHERE p.o_orderkey <= 5000"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]

    pts = spark.read.parquet(p1)
    sq = spark.read.parquet(p2)
    nat = spark.read.parquet(p3)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = (
        pts.join(sq, bbox).filter(F.col("o_orderkey") <= 5000)
        .join(nat, "n_nationkey")
        .select("o_orderkey", "n_nationkey", "n_name")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # second spatial join in the chain: routed over the first's view
    q2 = ("SELECT p.o_orderkey FROM cpts p "
          "JOIN cnsq s ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
          "JOIN cnsq t ON ST_Intersects(ST_MakePoint(p.lon, p.lat), t.poly)")
    routed2 = eng._route(q2)
    assert routed2 is not None
    assert sorted(map(tuple, routed2.collect())) == sorted(
        map(tuple, spark.sql(q2).collect())
    )


def test_sql_spatial_join_second_in_chain_routed(spark, sf_dir, tmp_path):
    """r3: a chain whose spatial join is NOT the first join routes too:
    the plain-join prefix runs as ordinary Spark SQL into a temp frame,
    which becomes the spatial join's left side — no BNLJ anywhere.
    Outer spatial joins after a prefix and duplicate-column prefixes
    bail with a warning."""
    import logging as _l

    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2, p3 = (str(tmp_path / d) for d in ("p", "n", "o"))
    orders_points(spark, sf_dir).select(
        F.col("o_orderkey").alias("pt_key"), "lon", "lat"
    ).write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    ).write.parquet(p3)
    eng.register_table("ppts", p1)
    eng.register_table("pnsq", p2)
    eng.register_table("pords", p3)

    got = eng.sql(
        "SELECT d.o_custkey, p.pt_key, s.n_nationkey "
        "FROM pords d JOIN ppts p ON d.o_orderkey = p.pt_key "
        "JOIN pnsq s ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        "WHERE p.pt_key <= 5000"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]

    pts = spark.read.parquet(p1)
    sq = spark.read.parquet(p2)
    ords = spark.read.parquet(p3)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = (
        ords.join(pts, F.col("o_orderkey") == F.col("pt_key"))
        .filter(F.col("pt_key") <= 5000)
        .join(sq, bbox)
        .select("o_custkey", "pt_key", "n_nationkey")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # no leaked engine-side prefix views
    assert not [v for v in eng._views if v.startswith("__gsj")]

    records = []
    h = _l.Handler()
    h.emit = lambda rec: records.append(rec.getMessage())
    lg = _l.getLogger("geomesa_sql_spark.engine")
    lg.addHandler(h)
    try:
        # outer spatial join after a prefix: bail (warned)
        assert eng._route(
            "SELECT d.o_custkey FROM pords d JOIN ppts p ON d.o_orderkey = p.pt_key "
            "LEFT JOIN pnsq s ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
        ) is None
        # duplicate column names in the prefix: bail (warned)
        assert eng._route(
            "SELECT p.lon FROM pords d JOIN pords e ON d.o_orderkey = e.o_orderkey "
            "JOIN pnsq s ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
        ) is None
    finally:
        lg.removeHandler(h)
    assert any("outer spatial join after a join-chain prefix" in r for r in records)
    assert any("duplicate column names" in r for r in records)


def test_sql_with_cte_spatial_join_routed(spark, sf_dir, tmp_path):
    """r3: a spatial join inside a WITH-clause CTE routes through the
    cell join (previously the whole query fell to plain spark.sql and
    its cartesian Python-UDF plan); CTEs chain (later bodies see
    earlier ones), the main SELECT plans over the routed views, and
    the temp views are dropped after the plan is captured. CTE names
    that shadow registered tables bail with a warning."""
    import logging as _l

    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("wpts", p1)
    eng.register_table("wnsq", p2)

    got = eng.sql(
        "WITH hits AS ("
        "SELECT p.o_orderkey, s.n_nationkey FROM wpts p JOIN wnsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
        "), agg AS ("
        "SELECT n_nationkey, COUNT(*) AS n FROM hits GROUP BY n_nationkey"
        ") SELECT * FROM agg ORDER BY n_nationkey"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]

    pts, sq = spark.read.parquet(p1), spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = (
        pts.join(sq, bbox).groupBy("n_nationkey").count()
        .orderBy("n_nationkey")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    # CTE views are session-transient: dropped once the plan is captured
    assert not spark.catalog.tableExists("hits")
    assert not spark.catalog.tableExists("agg")
    assert "hits" not in eng._views and "agg" not in eng._views

    records = []
    h = _l.Handler()
    h.emit = lambda rec: records.append(rec.getMessage())
    lg = _l.getLogger("geomesa_sql_spark.engine")
    lg.addHandler(h)
    try:
        assert eng._route(
            "WITH wpts AS (SELECT 1 AS one) SELECT o_orderkey FROM wpts p "
            "JOIN wnsq s ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
        ) is None
    finally:
        lg.removeHandler(h)
    assert any("operand column(s) missing" in r for r in records)


def test_sql_spatial_join_on_conjunct_residual(spark, sf_dir, tmp_path):
    """r3: `ON ST_Pred(...) AND <residual>` routes for INNER joins —
    the residual folds into the post-join WHERE (equivalent for inner
    joins) — and bails warned for OUTER joins, where an ON-residual is
    join-scoped and cannot be expressed as a filter."""
    import logging as _l

    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("qpts", p1)
    eng.register_table("qnsq", p2)

    got = eng.sql(
        "SELECT p.o_orderkey, s.n_nationkey FROM qpts p JOIN qnsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        "AND p.o_orderkey <= 5000 AND s.n_nationkey >= 3 "
        "WHERE p.o_orderkey >= 10"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]

    pts, sq = spark.read.parquet(p1), spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = (
        pts.filter((F.col("o_orderkey") <= 5000) & (F.col("o_orderkey") >= 10))
        .join(sq.filter(F.col("n_nationkey") >= 3), bbox)
        .select("o_orderkey", "n_nationkey")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    records = []
    h = _l.Handler()
    h.emit = lambda rec: records.append(rec.getMessage())
    lg = _l.getLogger("geomesa_sql_spark.engine")
    lg.addHandler(h)
    try:
        assert eng._route(
            "SELECT p.o_orderkey FROM qpts p LEFT JOIN qnsq s "
            "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
            "AND s.n_nationkey >= 3"
        ) is None
        assert eng._route(
            "SELECT p.o_orderkey FROM qpts p JOIN qnsq s "
            "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
            "AND ST_DWithin(ST_MakePoint(p.lon, p.lat), s.poly, 1.0)"
        ) is None
    finally:
        lg.removeHandler(h)
    assert any("OUTER spatial join" in r for r in records)
    assert any("second spatial predicate" in r for r in records)


def test_sql_spatial_join_de9im_predicates(spark, tmp_path):
    """r3: ST_Touches/Overlaps/Equals/Crosses route through the cell
    join (they all imply bbox intersection, so the cover prefilter is
    sound); results match a brute-force kernel.relate double loop, and
    reversed operand order works for the symmetric predicates."""
    from geomesa_sql_spark.geom.kernel import relate
    from geomesa_sql_spark.geom.model import box
    from geomesa_sql_spark.geom.wkb import geom_from_wkb, geom_to_wkb

    a_boxes = {i: box(2.0 * i, 0.0, 2.0 * i + 1.0, 1.0) for i in range(5)}
    b_boxes = {
        0: box(1.0, 0.0, 2.0, 1.0),       # touches A0 and A1
        1: box(0.5, 0.2, 0.8, 0.7),       # within A0
        2: box(0.5, -0.5, 2.5, 0.5),      # overlaps A0 and A1
        3: box(0.0, 0.0, 1.0, 1.0),       # equals A0
        4: box(10.0, 10.0, 11.0, 11.0),   # disjoint
    }
    eng = Engine(spark)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame(
        [(i, bytearray(geom_to_wkb(g))) for i, g in a_boxes.items()],
        "aid long, awkb binary",
    ).write.parquet(pa)
    spark.createDataFrame(
        [(i, bytearray(geom_to_wkb(g))) for i, g in b_boxes.items()],
        "bid long, bwkb binary",
    ).write.parquet(pb)
    eng.register_table("dta", pa)
    eng.register_table("dtb", pb)

    for pred, sql_pred in [
        ("touches", "ST_Touches"),
        ("overlaps", "ST_Overlaps"),
        ("equals", "ST_Equals"),
        ("crosses", "ST_Crosses"),
    ]:
        want = sorted(
            (ai, bi)
            for ai, ga in a_boxes.items()
            for bi, gb in b_boxes.items()
            if relate(ga, gb, pred)
        )
        got_df = eng.sql(
            f"SELECT aid, bid FROM dta JOIN dtb ON {sql_pred}(awkb, bwkb)"
        )
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, (pred, plan[:800])
        got = sorted((r.aid, r.bid) for r in got_df.collect())
        assert got == want, pred
        # symmetric predicates: reversed operand order, same pairs
        rev = sorted(
            (r.aid, r.bid)
            for r in eng.sql(
                f"SELECT aid, bid FROM dta JOIN dtb ON {sql_pred}(bwkb, awkb)"
            ).collect()
        )
        assert rev == want, f"{pred} reversed"
    # sanity: the fixture actually exercises every predicate
    assert relate(a_boxes[0], b_boxes[0], "touches")
    assert relate(a_boxes[0], b_boxes[2], "overlaps")
    assert relate(a_boxes[0], b_boxes[3], "equals")


def test_sql_spatial_filter_touches_equals_pushdown(spark, sf_dir, tmp_path):
    """r3: WHERE ST_Touches/ST_Equals against a literal geometry gains
    the sargable bbox conjunction (both imply the point lies in the
    envelope); results stay exact via the residual UDF call."""
    from geomesa_sql_spark.io.fixtures import orders_points

    eng = Engine(spark)
    path = str(tmp_path / "tp")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(path)
    eng.register_table("tpts", path)
    q = ("SELECT o_orderkey FROM tpts WHERE ST_Touches("
         "ST_GeomFromText('POLYGON ((0.0025 0.0025, 40.0025 0.0025, "
         "40.0025 30.0025, 0.0025 30.0025, 0.0025 0.0025))'), "
         "ST_MakePoint(lon, lat))")
    got = eng.sql(q)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(lon" in plan, plan[:1500]
    assert sorted(r[0] for r in got.collect()) == sorted(
        r[0] for r in spark.sql(q).collect()
    )
    q2 = ("SELECT o_orderkey FROM tpts WHERE ST_Equals("
          "ST_MakePoint(lon, lat), ST_GeomFromText('POINT (7.0025 3.0025)'))")
    got2 = eng.sql(q2)
    plan2 = got2._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(lon" in plan2, plan2[:1500]
    assert sorted(r[0] for r in got2.collect()) == sorted(
        r[0] for r in spark.sql(q2).collect()
    )


def test_sql_derived_table_spatial_join_routed(spark, sf_dir, tmp_path):
    """r3: a derived table feeding a spatial join routes — the
    subquery lifts into a transient view and the outer spatial join
    gets the cell plan; a spatial join INSIDE the derived table routes
    too when the outer query is plain."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("dpts", p1)
    eng.register_table("dnsq", p2)

    # derived table as the LEFT side of the spatial join
    got = eng.sql(
        "SELECT t.o_orderkey, s.n_nationkey "
        "FROM (SELECT o_orderkey, lon, lat FROM dpts WHERE o_orderkey <= 5000) t "
        "JOIN dnsq s ON ST_Intersects(ST_MakePoint(t.lon, t.lat), s.poly)"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    pts, sq = spark.read.parquet(p1), spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = (
        pts.filter(F.col("o_orderkey") <= 5000)
        .join(sq, bbox)
        .select("o_orderkey", "n_nationkey")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert not [v for v in eng._views if "_dt_" in v]  # no leaked views

    # spatial join INSIDE the derived table; plain aggregate outside
    got2 = eng.sql(
        "SELECT n_nationkey, COUNT(*) AS n FROM ("
        "SELECT p.o_orderkey, s.n_nationkey FROM dpts p JOIN dnsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
        ") h GROUP BY n_nationkey ORDER BY n_nationkey"
    )
    plan2 = got2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan2, plan2[:1500]
    want2 = (
        pts.join(sq, bbox).groupBy("n_nationkey").count().orderBy("n_nationkey")
    )
    assert [tuple(r) for r in got2.collect()] == [tuple(r) for r in want2.collect()]


def test_sql_spatial_exists_routed_semi_anti(spark, sf_dir, tmp_path):
    """r3: correlated spatial [NOT] EXISTS routes as a cell semi/anti
    join keyed on fid_col — the canonical point-in-any-polygon filter
    Spark cannot plan with a Python-UDF subquery. Residual AND
    conjuncts and tails run over the semi-joined view."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark, fid_col="o_orderkey")
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("epts", p1)
    eng.register_table("ensq", p2)

    pts, sq = spark.read.parquet(p1), spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    in_any = {r.o_orderkey for r in pts.join(sq, bbox).select("o_orderkey").collect()}
    all_keys = {r.o_orderkey for r in pts.collect()}

    got = eng.sql(
        "SELECT p.o_orderkey FROM epts p WHERE EXISTS ("
        "SELECT 1 FROM ensq s "
        "WHERE ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly))"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert {r.o_orderkey for r in got.collect()} == in_any
    # each matching point appears ONCE (semi, not inner)
    assert got.count() == len(in_any)

    got_anti = eng.sql(
        "SELECT p.o_orderkey FROM epts p WHERE NOT EXISTS ("
        "SELECT 1 FROM ensq s "
        "WHERE ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly))"
    )
    assert {r.o_orderkey for r in got_anti.collect()} == all_keys - in_any

    # residual conjunct + ORDER BY/LIMIT tail
    got3 = eng.sql(
        "SELECT p.o_orderkey FROM epts p WHERE EXISTS ("
        "SELECT 1 FROM ensq s "
        "WHERE ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)) "
        "AND p.o_orderkey <= 5000 ORDER BY p.o_orderkey LIMIT 7"
    )
    want3 = sorted(k for k in in_any if k <= 5000)[:7]
    assert [r.o_orderkey for r in got3.collect()] == want3


def test_sql_cte_with_spatial_exists_main(spark, sf_dir, tmp_path):
    """r3: every routable shape works at every nesting position — here
    a WITH query whose MAIN select is a correlated spatial EXISTS over
    a CTE-filtered table."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark, fid_col="o_orderkey")
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("xpts", p1)
    eng.register_table("xnsq", p2)

    got = eng.sql(
        "WITH few AS (SELECT o_orderkey, lon, lat FROM xpts "
        "WHERE o_orderkey <= 5000) "
        "SELECT f.o_orderkey FROM few f WHERE EXISTS ("
        "SELECT 1 FROM xnsq s "
        "WHERE ST_Intersects(ST_MakePoint(f.lon, f.lat), s.poly))"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    pts, sq = spark.read.parquet(p1), spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = {
        r.o_orderkey
        for r in pts.filter(F.col("o_orderkey") <= 5000)
        .join(sq, bbox).select("o_orderkey").collect()
    }
    assert {r.o_orderkey for r in got.collect()} == want


def test_sql_cte_with_wkt_literal_body_routes(spark, sf_dir, tmp_path):
    """r3: WKT literals inside CTE bodies no longer bail the WHOLE
    query out of routing — the splitter masks literal content; the
    body's own filter keeps the bbox rewrite and the main's spatial
    join still gets the cell plan."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("lpts2", p1)
    eng.register_table("lnsq2", p2)

    got = eng.sql(
        "WITH few AS ("
        "SELECT o_orderkey, lon, lat FROM lpts2 WHERE ST_Contains("
        "ST_GeomFromText('POLYGON ((0.0025 0.0025, 40.0025 0.0025, "
        "40.0025 30.0025, 0.0025 30.0025, 0.0025 0.0025))'), "
        "ST_MakePoint(lon, lat))"
        ") SELECT f.o_orderkey, s.n_nationkey FROM few f JOIN lnsq2 s "
        "ON ST_Intersects(ST_MakePoint(f.lon, f.lat), s.poly)"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]

    pts, sq = spark.read.parquet(p1), spark.read.parquet(p2)
    inside = pts.filter(
        (F.col("lon") >= 0.0025) & (F.col("lon") <= 40.0025)
        & (F.col("lat") >= 0.0025) & (F.col("lat") <= 30.0025)
    )
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = inside.join(sq, bbox).select("o_orderkey", "n_nationkey")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_sql_set_ops_with_spatial_branches(spark, sf_dir, tmp_path):
    """r3: top-level UNION/INTERSECT/EXCEPT whose branches contain
    spatial joins route per branch (no BNLJ), with the set-level
    ORDER BY/LIMIT applied to the combined frame; mixed operator
    families route with SQL's own precedence."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("upts", p1)
    eng.register_table("unsq", p2)

    got = eng.sql(
        "SELECT p.o_orderkey FROM upts p JOIN unsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        "AND p.o_orderkey <= 3000 "
        "UNION ALL "
        "SELECT p.o_orderkey FROM upts p JOIN unsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        "AND p.o_orderkey > 3000 "
        "ORDER BY o_orderkey LIMIT 50"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]

    pts, sq = spark.read.parquet(p1), spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = sorted(
        r.o_orderkey for r in pts.join(sq, bbox).select("o_orderkey").collect()
    )[:50]
    assert [r.o_orderkey for r in got.collect()] == want

    # UNION (distinct) dedupes across branches
    got2 = eng.sql(
        "SELECT p.o_orderkey FROM upts p JOIN unsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        "UNION "
        "SELECT p.o_orderkey FROM upts p JOIN unsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
    )
    all_match = {r.o_orderkey for r in pts.join(sq, bbox).select("o_orderkey").collect()}
    assert got2.count() == len(all_match)

    # mixed set-operator families: INTERSECT binds tighter, as in SQL
    q3 = ("SELECT p.o_orderkey FROM upts p JOIN unsq s "
          "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
          "UNION SELECT 1 INTERSECT SELECT 2")
    routed3 = eng._route(q3)
    assert routed3 is not None
    assert sorted(map(tuple, routed3.collect())) == sorted(
        map(tuple, spark.sql(q3).collect())
    )


def test_mask_literals_escapes():
    """The router's literal masker handles doubled-quote AND backslash
    escapes (Spark SQL accepts both), never leaks parens from inside a
    literal, and preserves length (spans map 1:1 onto the original)."""
    from geomesa_sql_spark.engine import _mask_literals

    for q in [
        "a 'x(y' b",
        "a 'it\\'s (' b",
        "a 'do''nt (' b",
        'x "i(d" y',
        "SELECT 'WHERE' AS w FROM t WHERE ST_X(g) > 0",
    ]:
        m = _mask_literals(q)
        assert len(m) == len(q)
    assert "(" not in _mask_literals("'x(y'")
    assert "(" not in _mask_literals("'it\\'s ('")
    assert "(" not in _mask_literals("'do''nt ('")
    assert _mask_literals("plain (text)") == "plain (text)"
    # keyword inside a literal is blanked; real keyword survives
    m = _mask_literals("SELECT 'WHERE' AS w FROM t WHERE x")
    assert "WHERE" in m and m.count("WHERE") == 1


def test_sql_set_ops_limit_offset_tail(spark, sf_dir, tmp_path):
    """r3b: a set-level LIMIT ... OFFSET tail is recognized and applied
    to the COMBINED frame (previously it stayed attached to the last
    branch, silently returning extra rows)."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark)
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat").write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        "n_nationkey", "poly", "pminx", "pminy", "pmaxx", "pmaxy"
    ).write.parquet(p2)
    eng.register_table("opts", p1)
    eng.register_table("onsq", p2)

    got = eng.sql(
        "SELECT p.o_orderkey FROM opts p JOIN onsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        "AND p.o_orderkey <= 3000 "
        "UNION ALL "
        "SELECT p.o_orderkey FROM opts p JOIN onsq s "
        "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) "
        "AND p.o_orderkey > 3000 "
        "ORDER BY o_orderkey LIMIT 10 OFFSET 5"
    )
    pts, sq = spark.read.parquet(p1), spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = sorted(
        r.o_orderkey for r in pts.join(sq, bbox).select("o_orderkey").collect()
    )[5:15]
    assert [r.o_orderkey for r in got.collect()] == want


def test_sql_spatial_exists_clashing_columns(spark, sf_dir, tmp_path):
    """r3b: tables sharing column names (here the fid itself) used to
    crash the EXISTS route with an ambiguous-reference analysis error;
    clashing right columns now rename away (the semi output carries
    left columns only)."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points

    eng = Engine(spark, fid_col="id")
    p1, p2 = str(tmp_path / "p"), str(tmp_path / "n")
    orders_points(spark, sf_dir).select(
        F.col("o_orderkey").alias("id"), "lon", "lat"
    ).write.parquet(p1)
    nation_squares(spark, sf_dir).select(
        F.col("n_nationkey").alias("id"), "poly",
        "pminx", "pminy", "pmaxx", "pmaxy",
    ).write.parquet(p2)
    eng.register_table("cxpts", p1)
    eng.register_table("cxnsq", p2)

    got = eng.sql(
        "SELECT p.id FROM cxpts p WHERE EXISTS ("
        "SELECT 1 FROM cxnsq s "
        "WHERE ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly))"
    )
    pts, sq = spark.read.parquet(p1), spark.read.parquet(p2)
    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    want = {r.id for r in pts.join(sq, bbox).select(pts.id).collect()}
    assert {r.id for r in got.collect()} == want

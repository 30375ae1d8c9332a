"""GeoTable/ScanSpec — the pushdown-accumulating scan handle (S1/S2
analog) vs its 'scannable' no-pushdown twin (S3: the reference's
correctness oracle, GeoMesaScannableTable.scala:29-44), plus the
rule-firing guards (no pushdown onto limited scans) and the cell-prune
plan assertion."""

import pytest
from pyspark.sql import functions as F

from geomesa_sql_spark.io.fixtures import orders_points
from geomesa_sql_spark.io.layout import write_geo_table
from geomesa_sql_spark.plan.scan import GeoTable

RECT = "POLYGON ((-10.005 -10.005, 50.005 -10.005, 50.005 40.005, -10.005 40.005, -10.005 -10.005))"


@pytest.fixture(scope="module")
def geo_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("geo") / "orders_geo")
    write_geo_table(
        orders_points(spark, sf_dir).select("o_orderkey", "o_totalprice", "lon", "lat"),
        path,
    )
    return path


def test_pushdown_vs_scannable_oracle(spark, geo_path):
    q = lambda pushdown: (
        GeoTable(spark, geo_path, pushdown=pushdown)
        .where_spatial("intersects", RECT, x="lon", y="lat")
        .where(F.col("o_totalprice") > 50000.0)
        .select("o_orderkey")
        .df()
    )
    fast = {r[0] for r in q(True).collect()}
    oracle = {r[0] for r in q(False).collect()}
    assert fast == oracle and len(fast) > 0


def test_cell_prune_reaches_scan(spark, geo_path):
    df = (
        GeoTable(spark, geo_path)
        .where_spatial("intersects", RECT, x="lon", y="lat")
        .select("o_orderkey")
        .df()
    )
    def pushed(frame):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters:" in plan, plan[:2000]
        # Spark truncates long metadata fields, so the closing bracket
        # may be cut off — slice up to the next field instead
        return plan.split("PushedFilters: [")[1].split("ReadSchema")[0]

    # the cell BETWEEN ranges must be pushed into the parquet scan
    assert "cell" in pushed(df)
    # scannable twin must NOT emit cell predicates
    plan_o = (
        GeoTable(spark, geo_path, pushdown=False)
        .where_spatial("intersects", RECT, x="lon", y="lat")
        .df()
    )
    assert "cell" not in pushed(plan_o)


def test_projection_cascade_and_guards(spark, geo_path):
    t = GeoTable(spark, geo_path).select("o_orderkey", "lon")
    t2 = t.select("o_orderkey")  # narrowing an existing projection is fine
    assert t2.df().columns == ["o_orderkey"]
    with pytest.raises(ValueError, match="not in projected set"):
        t2.select("lat")  # cascade parity: can't resurrect a pruned column
    limited = t.limit(10)
    with pytest.raises(ValueError, match="limited scan"):
        limited.where(F.col("o_orderkey") > 0)
    with pytest.raises(ValueError, match="already set"):
        limited.limit(5)


def test_offset_fetch(spark, geo_path):
    rows = GeoTable(spark, geo_path).select("o_orderkey").offset(5).limit(10).df()
    assert rows.count() == 10


def test_fid_range_not_pushed_quirk(spark, geo_path):
    """Quirk parity (FilterTest.scala:85-87 / SURVEY.md §5.3): the
    reference refuses to push a RANGE on __FID__ (only = / IN take the
    ID fast path) — the range must still be answered correctly ABOVE
    the scan. Here: a range on the row-identity column over the
    pushdown table matches the scannable twin exactly, and the pushed
    scan's parquet filters contain no o_orderkey range (the fid range
    stays in Spark's Filter node, not in our cell/ID pushdown)."""
    q = lambda pushdown: (
        GeoTable(spark, geo_path, pushdown=pushdown)
        .where(F.col("o_orderkey") < 500)
        .where_spatial("intersects", RECT, x="lon", y="lat")
        .select("o_orderkey")
        .df()
    )
    pushed, scannable = q(True), q(False)
    assert sorted(r[0] for r in pushed.collect()) == sorted(
        r[0] for r in scannable.collect()
    )
    # the spatial cell prune may reach the scan; the FID range must be
    # evaluated as a residual (present in the plan as a Filter)
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "o_orderkey" in plan


def test_write_tiled_partition_pruning(spark, sf_dir, tmp_path):
    """write_tiled lays the table out PARTITIONED BY coarse tile; a bbox
    query through tile_partition_filter must (a) return exactly the
    rows a plain bbox filter returns and (b) prune at the PARTITION
    level (PartitionFilters in the scan, fewer files read)."""
    from geomesa_sql_spark.io.layout import tile_partition_filter, write_tiled

    path = str(tmp_path / "tiled")
    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    write_tiled(pts, path, zoom=3)

    bbox = (-10.005, -10.005, 50.005, 40.005)
    t = spark.read.parquet(path)
    pruned = t.filter(tile_partition_filter(*bbox, zoom=3)).filter(
        (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
        & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])
    )
    want = pts.filter(
        (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
        & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])
    )
    assert sorted(r[0] for r in pruned.select("o_orderkey").collect()) == sorted(
        r[0] for r in want.select("o_orderkey").collect()
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "tile_p" in plan
    # the bbox covers a fraction of the world: the pruned scan must read
    # strictly fewer partition directories than exist
    import glob

    all_parts = len(glob.glob(f"{path}/tile_p=*"))
    hit_parts = {
        r.tile_p for r in pruned.select("tile_p").distinct().collect()
    }
    assert 0 < len(hit_parts) < all_parts


def test_geotable_honors_written_res(spark, sf_dir, tmp_path):
    """Review r3: a table written with a non-default cell resolution
    used to be scanned with the res-12 default, building prune ranges
    the stored cells could never fall in — rows inside the query
    envelope silently vanished. The layout metadata now travels with
    the table."""
    from geomesa_sql_spark.io.fixtures import orders_points
    from geomesa_sql_spark.io.layout import write_geo_table
    from geomesa_sql_spark.plan.scan import GeoTable

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    path = str(tmp_path / "geo8")
    write_geo_table(pts, path, res=8)

    rect = "POLYGON ((-50 -30, 40 -30, 40 35, -50 35, -50 -30))"
    got = (
        GeoTable(spark, path)
        .where_spatial("within", rect, x="lon", y="lat")
        .df()
        .count()
    )
    want = (
        GeoTable(spark, path, pushdown=False)
        .where_spatial("within", rect, x="lon", y="lat")
        .df()
        .count()
    )
    assert want > 0 and got == want


def test_where_spatial_on_iceberg_table_after_delete(spark, sf_dir, tmp_path):
    """Engine.table(name).where_spatial(...) on an Iceberg table reads
    the current snapshot with its deletes applied (it used to read the
    table directory as plain parquet: UNABLE_TO_INFER_SCHEMA), and a
    write_geo_iceberg layout prunes at its recorded resolution."""
    from geomesa_sql_spark.engine import Engine
    from geomesa_sql_spark.io.iceberg import write_geo_iceberg

    penta = ("POLYGON ((-40.0037 -20.0013, 30.0041 -45.0029, 80.0017 10.0023, "
             "20.0031 60.0019, -55.0043 25.0037))")
    pts = orders_points(spark, sf_dir).select(
        F.col("o_orderkey").alias("image_id"), "lon", "lat"
    )
    eng = Engine(spark)
    eng.create_table("ice_pts", str(tmp_path / "ice_pts"), pts, format="iceberg")
    assert eng.sql("DELETE FROM ice_pts WHERE image_id % 3 = 0").collect()[0][0] > 0

    got = eng.table("ice_pts").where_spatial("intersects", penta, x="lon", y="lat").df()
    want = eng.sql(
        "SELECT count(*) FROM ice_pts WHERE ST_Intersects(ST_MakePoint(lon, lat), "
        f"ST_GeomFromText('{penta}'))"
    ).collect()[0][0]
    assert want > 0 and got.count() == want
    assert got.filter("image_id % 3 = 0").count() == 0

    # df(), describe() and a routed join's operand read the frame the
    # DELETE registered: no Iceberg metadata reload per call
    from unittest import mock

    from geomesa_sql_spark.io.iceberg_meta import IcebergTable

    eng.register_view("ice_poly", spark.sql(
        f"SELECT 1 AS pid, ST_GeomFromText('{penta}') AS poly"))
    with mock.patch.object(IcebergTable, "load", wraps=IcebergTable.load) as load:
        eng.df("ice_pts")
        eng.describe("ice_pts")
        joined = eng.sql(
            "SELECT count(*) FROM ice_pts p JOIN ice_poly q "
            "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), q.poly)"
        ).collect()[0][0]
    assert (load.call_count, joined, eng.route_fallbacks) == (0, want, {})

    geo8 = str(tmp_path / "ice_geo8")
    write_geo_iceberg(pts, geo8, res=8)
    eng.register_table("ice_geo8", geo8)
    # one metadata load per bbox read: the handle reads no layout of its
    # own, the scan's file pruning loads the table once
    with mock.patch.object(IcebergTable, "load", wraps=IcebergTable.load) as load:
        got8 = eng.table("ice_geo8").where_spatial("within", penta, x="lon", y="lat")
        got8.df()
    assert load.call_count == 1
    want8 = GeoTable(spark, geo8, pushdown=False).where_spatial(
        "within", penta, x="lon", y="lat"
    )
    assert got8.df().count() == want8.df().count() > 0


def test_write_tiled_cell_order_survives_and_meta(spark, sf_dir, tmp_path):
    """Review r4o: a partitioned write REQUIRES ordering on the
    partition column — sorting by cell alone let Spark inject its own
    SortExec(tile_p) AFTER ours, scrambling cell order inside tile
    directories. Rows within each written file must now be
    non-decreasing in cell, _GEO_META.json must record the res, and a
    pre-existing cell column must raise."""
    import glob
    import json

    import pyarrow.parquet as pq
    import pytest as _pytest

    from geomesa_sql_spark.io.fixtures import orders_points
    from geomesa_sql_spark.io.layout import add_cell, write_tiled

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    path = str(tmp_path / "tiled_order")
    write_tiled(pts, path, zoom=3)
    meta = json.load(open(f"{path}/_GEO_META.json"))
    assert meta["res"] == 12 and meta["x"] == "lon"
    files = glob.glob(f"{path}/tile_p=*/part-*.parquet")
    assert files
    checked = 0
    for f in files[:10]:
        cells = pq.read_table(f, columns=["cell"]).column("cell").to_pylist()
        if len(cells) > 1:
            assert all(a <= b for a, b in zip(cells, cells[1:])), f
            checked += 1
    assert checked > 0
    with _pytest.raises(ValueError, match="already carries"):
        write_tiled(add_cell(pts, res=8), str(tmp_path / "t2"), zoom=3)

import numpy as np

from geomesa_sql_spark.cells import (
    cell_envelope,
    cover_envelope,
    cover_envelopes,
    hilbert_d2xy,
    hilbert_xy2d,
    lonlat_to_cell,
    lonlat_to_xy,
    morton_encode,
)
from geomesa_sql_spark.cells.curve import morton_decode, res_for_extent


def test_morton_roundtrip():
    rng = np.random.default_rng(42)
    x = rng.integers(0, 2**29, 1000)
    y = rng.integers(0, 2**29, 1000)
    z = morton_encode(x, y)
    xd, yd = morton_decode(z)
    assert (xd == x).all() and (yd == y).all()


def test_hilbert_bijective_small():
    res = 4
    n = 1 << res
    gx, gy = np.meshgrid(np.arange(n), np.arange(n))
    d = hilbert_xy2d(gx.ravel(), gy.ravel(), res)
    assert sorted(d.tolist()) == list(range(n * n))
    x2, y2 = hilbert_d2xy(d, res)
    assert (x2 == gx.ravel()).all() and (y2 == gy.ravel()).all()


def test_hilbert_locality():
    # consecutive d values are adjacent grid cells (the Hilbert property)
    res = 6
    d = np.arange((1 << res) ** 2)
    x, y = hilbert_d2xy(d, res)
    step = np.abs(np.diff(x)) + np.abs(np.diff(y))
    assert (step == 1).all()


def test_lonlat_grid_edges():
    x, y = lonlat_to_xy([-180.0, 0.0, 179.9999, 180.0], [-90.0, 0.0, 89.9999, 90.0], 10)
    assert x[0] == 0 and y[0] == 0
    assert x[1] == 512 and y[1] == 512
    assert x[3] == 1023 and y[3] == 1023  # clamped edge


def test_cover_envelope_contains_point_cell():
    res = 8
    cells = cover_envelope(10.0, 10.0, 12.0, 12.0, res)
    c = lonlat_to_cell([11.0], [11.0], res)[0]
    assert c in cells


def test_cover_envelopes_batch_matches_scalar():
    res = 7
    boxes = [(-10, -10, -5, -3), (0, 0, 0.5, 0.5), (100, 40, 103, 44)]
    minx, miny, maxx, maxy = map(np.array, zip(*boxes))
    rows, cells = cover_envelopes(minx, miny, maxx, maxy, res, max_cells_per_row=256)
    for i, b in enumerate(boxes):
        got = np.sort(cells[rows == i])
        want = cover_envelope(*b, res)
        assert (got == want).all(), i


def test_cell_envelope_roundtrip():
    res = 9
    c = lonlat_to_cell([37.5], [55.7], res)
    minx, miny, maxx, maxy = cell_envelope(c, res)
    assert minx[0] <= 37.5 < maxx[0]
    assert miny[0] <= 55.7 < maxy[0]


def test_res_for_extent():
    assert res_for_extent(360.0, 180.0) == 1
    assert 5 <= res_for_extent(10.0, 10.0) <= 6
    assert res_for_extent(1e-9, 1e-9) == 16


def test_zorder_col_matches_numpy():
    """The SQL-text encode (cells/column.py) is bit-identical to numpy,
    as one expression and as the spatial join's two-projection form."""
    import numpy as np

    from geomesa_sql_spark import get_spark
    from geomesa_sql_spark.cells import lonlat_to_cell
    from geomesa_sql_spark.cells.column import zorder_cell_col
    from geomesa_sql_spark.join.spatial import _CELL, _cells_for_side, point_side

    s = get_spark("cells-col", master="local[4]", shuffle_partitions=8)
    n = 20000
    df = s.range(n).selectExpr(
        "cast((id * 7919) % 36000 as double) / 100.0 - 180.0 as lon",
        "cast((id * 104729) % 18000 as double) / 100.0 - 90.0 as lat",
    )
    for res in (1, 6, 12, 20, 29, 31):
        got = (
            _cells_for_side(df, point_side("lon", "lat"), res, 0.0, 256)
            .withColumn("c", zorder_cell_col("lon", "lat", res))
            .orderBy("lon", "lat")
            .toPandas()
        )
        want = lonlat_to_cell(
            got["lon"].to_numpy(np.float64), got["lat"].to_numpy(np.float64), res
        )
        assert (got["c"].to_numpy(np.int64) == want).all(), res
        assert (got[_CELL].to_numpy(np.int64) == want).all(), res
    # world edges incl. the +180/+90 clamp
    edge = s.createDataFrame(
        [(-180.0, -90.0), (180.0, 90.0), (0.0, 0.0), (179.999999, 89.999999)],
        "lon double, lat double",
    )
    got = edge.withColumn("c", zorder_cell_col("lon", "lat", 12)).toPandas()
    want = lonlat_to_cell(got["lon"].to_numpy(), got["lat"].to_numpy(), 12)
    assert (got["c"].to_numpy(np.int64) == want).all()


def test_zorder_col_null_nan_huge_rows():
    """Edge rows of the JVM encode: its double→long floor saturates
    (±1e300 and ±inf → the clamp bounds), NaN floors to 0, and a NULL
    coordinate is skipped by LEAST/GREATEST (→ the top index). Pinned
    at every resolution the encode serves; the numpy grid snap must
    agree on every non-NULL row (a bare int64 cast would wrap 1e300 to
    INT64_MIN → index 0)."""
    from geomesa_sql_spark import get_spark
    from geomesa_sql_spark.cells import lonlat_to_cell, morton_encode
    from geomesa_sql_spark.cells.column import zorder_cell_col

    s = get_spark("cells-col", master="local[4]", shuffle_partitions=8)
    inf, nan = float("inf"), float("nan")
    rows = [(None, 10.0), (10.0, None), (nan, nan), (nan, 10.0),
            (1e300, -1e300), (-1e300, 1e300), (1e300, 1e300), (inf, -inf),
            (-180.0, 90.0), (180.0, -90.0), (180.0, 90.0), (0.0, 0.0)]
    df = s.createDataFrame(rows, "lon double, lat double")
    known = [r for r in rows if None not in r]
    lon, lat = (np.array([r[k] for r in known]) for k in (0, 1))
    for res in (1, 6, 12, 20, 29, 31):
        top = (1 << res) - 1

        def index(v, off, span):
            if v is None:
                return top
            if v != v:
                return 0
            return int(min(max(np.floor((v + off) / span * float(1 << res)), 0.0), top))

        got = [r["c"] for r in df.select(zorder_cell_col("lon", "lat", res).alias("c")).collect()]
        want = [int(morton_encode(np.array([index(x, 180.0, 360.0)]),
                                  np.array([index(y, 90.0, 180.0)]))[0])
                for x, y in rows]
        assert got == want, res
        got_known = [c for c, r in zip(got, rows) if None not in r]
        assert lonlat_to_cell(lon, lat, res).tolist() == got_known, res


def test_tile_partition_filter_matches_assign_tiles(spark):
    """Review r3: layout's scalar tile formula must stay bit-identical
    to assign_tiles' Column formula (partition pruning correctness
    depends on the two never drifting)."""
    import numpy as np

    from pyspark.sql import functions as F

    from geomesa_sql_spark.io.layout import tile_partition_filter
    from geomesa_sql_spark.tiles import assign_tiles

    zoom = 4
    pts = spark.createDataFrame(
        [(i, -180.0 + i * 7.3, -90.0 + (i * 3.7) % 180) for i in range(50)],
        "id long, lon double, lat double",
    )
    tiled = assign_tiles(pts, zoom=zoom, with_hilbert=False)
    n = 1 << zoom
    rows = tiled.select(
        "id", "lon", "lat",
        (F.col("tile_y") * n + F.col("tile_x")).alias("tile_p"),
    ).collect()
    for r in rows:
        # a 1-point bbox at the point must keep exactly its partition
        pred = tile_partition_filter(r.lon, r.lat, r.lon, r.lat, zoom=zoom)
        kept = spark.createDataFrame(
            [(r.tile_p,)], "tile_p long"
        ).filter(pred).count()
        assert kept == 1, (r.lon, r.lat, r.tile_p)
    import pytest as _pt
    with _pt.raises(ValueError, match="inverted bbox"):
        tile_partition_filter(170.0, 0.0, -170.0, 10.0)

"""ST_* scalar function surface.

The reference registers no scalar functions of its own — it enables
Calcite's built-in ``fun=spatial`` operator table at connect time
(jdbc/Driver.scala:51-56) and pushes the 7 relate predicates + DWithin
into GeoMesa filters (RexNodeTranslator.scala:170-196). Our surface:

- **Column fast paths** (JVM-side, whole-stage codegen, no Python):
  point-vs-point distance/DWithin, bbox tests — plain Column arithmetic.
- **Batch-vectorized pandas UDFs** (one kernel call per Arrow batch)
  on the hot paths: relate predicates, DWithin, point-vs-literal
  predicates, envelopes, point WKB, cell encoding, geodesic distances.
- **Per-row pandas UDFs** (an Arrow batch per call, a Python loop over
  its rows) for the rest of the Calcite surface, each declared through
  :func:`_rowwise`, the one place that owns the row loop, the NULL
  rule, WKB decode/encode and error-to-NULL mapping.
- **Arrow row UDFs** (``F.udf(..., useArrow=True)``), the only non-pandas
  UDFs here, for the S2 helpers that take an int64 cell id: a pandas UDF
  would turn a batch holding a NULL id into float64 and lose bits above
  2^53.
- ``register_all(spark)`` exposes the UDF forms to ``spark.sql`` under
  their Calcite names (ST_Intersects, ST_AsText, ...), so the SQL
  surface of the reference keeps working.
"""

from __future__ import annotations

import functools
import json
import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_sql_spark.cells import lonlat_to_cell
from geomesa_sql_spark.geom import geom_from_wkb, geom_from_wkt, geom_to_wkt
from geomesa_sql_spark.geom import kernel, model
from geomesa_sql_spark.geom.geojson import geom_from_geojson, geom_to_geojson
from geomesa_sql_spark.geom.model import Geom
from geomesa_sql_spark.geom.wkb import geom_to_ewkb, geom_to_wkb, wkb_srid

RELATE_PREDICATES = (
    "intersects",
    "equals",
    "crosses",
    "contains",
    "overlaps",
    "touches",
    "within",
)


# --------------------------------------------------------------- WKB helpers


def _point_wkb_array(x: np.ndarray, y: np.ndarray) -> list:
    """Vectorized WKB point encoding: one (n, 21) byte matrix, sliced."""
    n = len(x)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1:5] = np.array([1, 0, 0, 0], dtype=np.uint8)
    buf[:, 5:13] = np.asarray(x, dtype="<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.asarray(y, dtype="<f8").view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    return [raw[i * 21 : (i + 1) * 21] for i in range(n)]


@F.pandas_udf(T.BinaryType())
def st_point_wkb(x: pd.Series, y: pd.Series) -> pd.Series:
    """ST_MakePoint / ST_Point over lon/lat columns → WKB. NULL (or
    NaN — Arrow's NULL encoding for numeric batches) coords → NULL,
    PostGIS parity, instead of POINT (nan nan)."""
    xs = x.to_numpy(dtype=np.float64)
    ys = y.to_numpy(dtype=np.float64)
    vals = _point_wkb_array(xs, ys)
    bad = np.isnan(xs) | np.isnan(ys)
    if bad.any():
        vals = [None if m else v for v, m in zip(vals, bad)]
    return pd.Series(vals, dtype=object)


def _decode_series(wkb: pd.Series) -> list:
    cache: dict[bytes, Geom] = {}
    out = []
    for b in wkb:
        if b is None:
            out.append(None)
            continue
        key = bytes(b)
        g = cache.get(key)
        if g is None:
            g = cache[key] = geom_from_wkb(key)
        out.append(g)
    return out


# ------------------------------------------------- predicates: WKB vs WKB


def st_predicate_wkb(pred: str, a: Column, b: Column, distance: float | None = None) -> Column:
    """Pairwise relate predicate over two WKB columns (pandas UDF)."""
    pred_l = pred.lower()

    @F.pandas_udf(T.BooleanType())
    def _udf(wa: pd.Series, wb: pd.Series) -> pd.Series:
        return pd.Series(kernel.relate_many(list(wa), list(wb), pred_l, distance))

    return _udf(a, b)


def point_literal_predicate(
    pred: str, x: np.ndarray, y: np.ndarray, g: Geom, distance=None
) -> np.ndarray:
    """Exact ``ST_<pred>(POINT(x, y), g)`` over coordinate arrays — the
    one kernel call behind every point-vs-literal-geometry predicate
    (st_predicate_point_cols and the SQL rewrite target
    ``ST_PointPredicate``). Equal, row for row, to the relate UDF over
    ``ST_MakePoint`` WKB: intersects is the per-part point kernel the
    relate path itself uses, within an areal literal is the strict
    point-in-polygon, DWithin is the point-to-geometry distance; every
    other case runs the pairwise relate. ``distance`` may be a per-row
    array. NaN coordinates (Arrow's NULL) → False."""
    pred = pred.lower()
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if pred == "dwithin":
        with np.errstate(invalid="ignore"):
            return kernel.points_to_geom_dist(x, y, g) <= distance
    if pred == "intersects":
        return kernel.points_intersect_geom(x, y, g)
    parts = g.flatten()
    if pred == "within" and parts and all(p.type == model.POLYGON for p in parts):
        # purely areal only: a mixed collection has dimension 2 too, but
        # points_in_polygon rejects its non-polygon parts (review r3)
        return kernel.points_in_polygon(x, y, g, boundary="exclude")
    out = np.zeros(len(x), dtype=bool)
    ok = ~(np.isnan(x) | np.isnan(y))
    if ok.any():
        wkb = geom_to_wkb(g)
        pts = _point_wkb_array(x[ok], y[ok])
        out[ok] = kernel.relate_many(pts, [wkb] * len(pts), pred, distance)
    return out


def st_predicate_point_cols(
    pred: str, x: Column, y: Column, geom: Geom | str, distance: float | None = None
) -> Column:
    """Relate predicate: point from lon/lat columns vs a *literal* geometry.

    The hot path for filters like ``ST_Within(pt, <polygon literal>)``
    (reference: FilterTest.scala:193-227). Rectangles and DWithin
    against a point become pure Column predicates (JVM codegen,
    parquet-pushable); everything else is one vectorized kernel call
    per Arrow batch (:func:`point_literal_predicate`).
    """
    g = geom_from_wkt(geom) if isinstance(geom, str) else geom
    pred_l = pred.lower()
    if pred_l == "dwithin" and g.type == model.POINT:
        gx, gy = float(g.coords[0]), float(g.coords[1])
        return (x - gx) * (x - gx) + (y - gy) * (y - gy) <= float(distance) ** 2

    if _jts_is_rectangle(g) and pred_l in ("within", "intersects", "contains", "coveredby"):
        minx, miny, maxx, maxy = g.envelope()
        if pred_l == "within":
            # JTS: a point on the boundary is NOT within — strict interior
            return (x > minx) & (x < maxx) & (y > miny) & (y < maxy)
        if pred_l == "contains":  # point contains rectangle: impossible
            return F.lit(False)
        return (x >= minx) & (x <= maxx) & (y >= miny) & (y <= maxy)

    @F.pandas_udf(T.BooleanType())
    def _kernel(px: pd.Series, py: pd.Series) -> pd.Series:
        return pd.Series(
            point_literal_predicate(
                pred_l, px.to_numpy(np.float64), py.to_numpy(np.float64), g, distance
            )
        )

    return _kernel(x, y)


def point_predicate_sql(
    pred: str, x: str, y: str, g: Geom, wkt: str, distance: float | None = None
) -> str | None:
    """SQL text of the exact ``ST_<pred>(ST_MakePoint(x, y), g)`` over
    the coordinate columns — the SQL-text twin of
    :func:`st_predicate_point_cols`, emitted by Engine.sql's rewrite:
    a rectangle with intersects/within and DWithin against a point are
    plain comparisons (no UDF); every other literal is one
    ``ST_PointPredicate`` call. None: the bbox alone is exact
    (intersects a rectangle). Literals carry the ``D`` suffix so the
    arithmetic is DOUBLE whatever the column type, as ST_MakePoint's is."""
    if pred == "dwithin" and g.type == model.POINT:
        gx, gy = float(g.coords[0]), float(g.coords[1])
        return (
            f"(({x} - ({gx!r}D)) * ({x} - ({gx!r}D)) + ({y} - ({gy!r}D)) * "
            f"({y} - ({gy!r}D)) <= ({float(distance) ** 2!r}D))"
        )
    if _jts_is_rectangle(g) and pred in ("within", "intersects"):
        if pred == "intersects":
            return None
        minx, miny, maxx, maxy = g.envelope()
        return (
            f"{x} > ({minx!r}D) AND {x} < ({maxx!r}D) AND "
            f"{y} > ({miny!r}D) AND {y} < ({maxy!r}D)"
        )
    dist = "" if distance is None else f", {float(distance)!r}D"
    return f"ST_PointPredicate('{pred}', {x}, {y}, '{wkt}'{dist})"


def st_distance_point_cols(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Planar point-point distance, pure Column arithmetic (codegen)."""
    return F.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))


_MERC_R = 6378137.0  # WGS84 spherical-mercator radius (EPSG:3857)


def mercator_cols(lon: Column, lat: Column) -> tuple[Column, Column]:
    """EPSG:4326 → EPSG:3857 (web mercator) as pure Column arithmetic —
    the CRS hop every slippy-tile pipeline makes; JVM codegen, no UDF.
    Spherical formulas (the 3857 contract): x = R·λ, y = R·ln(tan(π/4+φ/2))."""
    import math

    x = lon * F.lit(_MERC_R * math.pi / 180.0)
    y = F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / F.lit(2.0))) * F.lit(_MERC_R)
    return x, y


def inverse_mercator_cols(x: Column, y: Column) -> tuple[Column, Column]:
    """EPSG:3857 → EPSG:4326 (inverse web mercator), Column arithmetic."""
    import math

    lon = x / F.lit(_MERC_R * math.pi / 180.0)
    lat = (F.atan(F.exp(y / F.lit(_MERC_R))) - F.lit(math.pi / 4.0)) * F.lit(
        360.0 / math.pi
    )
    return lon, lat


def utm_cols(lon: Column, lat: Column, epsg: int | str) -> tuple[Column, Column]:
    """EPSG:4326 → a UTM zone as pure Column arithmetic (whole-stage
    codegen, no Python) — the JVM fast path for reprojection of POINT
    columns at the 100 TB scale, same Krüger series as geom/crs.py
    (which stays the WKB-geometry/pandas path). ``epsg`` is any UTM
    code resolve_crs accepts (32601-32760, 26901-26923).

    The expression tree is a few hundred nodes (fixed-degree series,
    two reuse stages — not a carry chain), well inside janino limits.
    COMPOSITION CAVEAT (the CLAUDE.md deep-tree rule): feeding these
    Columns into further expression-heavy stages (e.g.
    inverse_utm_cols of utm_cols output) multiplies the subtree per
    reference — one extra level is fine (~45k nodes, tested), but
    stage a projection (``df.select(e.alias("e"), ...)``) before
    composing more. Agreement with the numpy path is asserted to
    1e-6 m in tests.
    """
    import math

    from geomesa_sql_spark.geom.crs import _kruger_coeffs, resolve_crs

    crs = resolve_crs(epsg if isinstance(epsg, str) else f"EPSG:{epsg}")
    if crs is None or crs.kind != "utm":
        raise ValueError(f"utm_cols: {epsg!r} is not a supported UTM code")
    rect_a, alpha, _, _ = _kruger_coeffs(crs.f)
    big_a = crs.a * rect_a
    e2 = crs.f * (2.0 - crs.f)
    es = math.sqrt(e2)
    phi = F.radians(lat)
    dlam = F.radians(lon - F.lit(crs.lon0))
    sphi = F.sin(phi)
    t = F.sinh(F.atanh(sphi) - F.lit(es) * F.atanh(F.lit(es) * sphi))
    xi_p = F.atan2(t, F.cos(dlam))
    eta_p = F.asinh(F.sin(dlam) / F.sqrt(t * t + F.cos(dlam) * F.cos(dlam)))
    xi, eta = xi_p, eta_p
    for j in range(4):
        w = 2.0 * (j + 1)
        xi = xi + F.lit(alpha[j]) * F.sin(F.lit(w) * xi_p) * F.cosh(F.lit(w) * eta_p)
        eta = eta + F.lit(alpha[j]) * F.cos(F.lit(w) * xi_p) * F.sinh(F.lit(w) * eta_p)
    k0a = 0.9996 * big_a
    return F.lit(500000.0) + F.lit(k0a) * eta, F.lit(crs.n0) + F.lit(k0a) * xi


def inverse_utm_cols(x: Column, y: Column, epsg: int | str) -> tuple[Column, Column]:
    """UTM zone → EPSG:4326 lon/lat as pure Column arithmetic (inverse
    of :func:`utm_cols`; round-trips close <1e-9° in tests)."""
    from geomesa_sql_spark.geom.crs import _kruger_coeffs, resolve_crs

    crs = resolve_crs(epsg if isinstance(epsg, str) else f"EPSG:{epsg}")
    if crs is None or crs.kind != "utm":
        raise ValueError(f"inverse_utm_cols: {epsg!r} is not a supported UTM code")
    rect_a, _, beta, delta = _kruger_coeffs(crs.f)
    k0a = 0.9996 * crs.a * rect_a
    xi = (y - F.lit(crs.n0)) / F.lit(k0a)
    eta = (x - F.lit(500000.0)) / F.lit(k0a)
    xi_p, eta_p = xi, eta
    for j in range(4):
        w = 2.0 * (j + 1)
        xi_p = xi_p - F.lit(beta[j]) * F.sin(F.lit(w) * xi) * F.cosh(F.lit(w) * eta)
        eta_p = eta_p - F.lit(beta[j]) * F.cos(F.lit(w) * xi) * F.sinh(F.lit(w) * eta)
    chi = F.asin(F.sin(xi_p) / F.cosh(eta_p))
    phi = chi
    for j in range(4):
        phi = phi + F.lit(delta[j]) * F.sin(F.lit(2.0 * (j + 1)) * chi)
    lon = F.lit(crs.lon0) + F.degrees(F.atan2(F.sinh(eta_p), F.cos(xi_p)))
    return lon, F.degrees(phi)


def st_cell(
    x: str | Column, y: str | Column, res: int, curve: str = "hilbert"
) -> Column:
    """Space-filling-curve cell id of lon/lat columns.

    Z-order over column NAMES compiles to one JVM SQL expression
    (cells/column.py); Hilbert needs the data-dependent rotation loop →
    pandas UDF, which also serves Z-order over Column expressions (the
    SQL-text encode cannot embed a Column; same bits either way).
    """
    if curve == "zorder" and isinstance(x, str) and isinstance(y, str):
        from geomesa_sql_spark.cells.column import zorder_cell_col

        return zorder_cell_col(x, y, res)

    @F.pandas_udf(T.LongType())
    def _cell(px: pd.Series, py: pd.Series) -> pd.Series:
        return pd.Series(
            lonlat_to_cell(px.to_numpy(np.float64), py.to_numpy(np.float64), res, curve)
        )

    return _cell(x, y)


# ------------------------------------------------- batch-vectorized UDFs


def _geodesic_points(wa: pd.Series, wb: pd.Series):
    """Decode two WKB series into (lon1, lat1, lon2, lat2) float64
    arrays with NaN for NULLs — shared by the geography measures.
    Geodesic distance between extended geometries needs a closest-pair
    geodesic solver (GeographicLib territory), so non-points raise
    loudly rather than silently measuring centroids."""
    n = len(wa)
    out = np.full((4, n), np.nan)
    for col, series in ((0, wa), (2, wb)):
        for i, g in enumerate(_decode_series(series)):
            if g is None:
                continue
            if g.type != model.POINT:
                raise NotImplementedError(
                    "geodesic distance is defined for POINT inputs; got "
                    f"{g.type} (use ST_Centroid/ST_ClosestPoint first, "
                    "or the planar ST_Distance)"
                )
            out[col, i] = g.coords[0]
            out[col + 1, i] = g.coords[1]
    return out[0], out[1], out[2], out[3]


@F.pandas_udf(T.DoubleType())
def _st_distance_sphere(wa: pd.Series, wb: pd.Series) -> pd.Series:
    from geomesa_sql_spark.geom.geodesic import sphere_distance

    return pd.Series(sphere_distance(*_geodesic_points(wa, wb)))


@F.pandas_udf(T.DoubleType())
def _st_distance_spheroid(wa: pd.Series, wb: pd.Series) -> pd.Series:
    from geomesa_sql_spark.geom.geodesic import spheroid_distance

    return pd.Series(spheroid_distance(*_geodesic_points(wa, wb)))


@F.pandas_udf(T.BooleanType())
def _st_dwithin_sphere(wa: pd.Series, wb: pd.Series,
                       meters: pd.Series) -> pd.Series:
    """Scalar ST_DWithinSphere(a, b, metres): the enumerable fallback
    for SQL shapes the point x point join router bails on. NULL inputs
    (incl. NaN-delivered distance, per the Arrow NULL-int/double rule)
    yield SQL NULL, not False."""
    from geomesa_sql_spark.geom.geodesic import sphere_distance

    d = sphere_distance(*_geodesic_points(wa, wb))
    m = meters.to_numpy(np.float64)
    ok = np.isfinite(d) & np.isfinite(m)
    out = pd.array(d <= m, dtype="boolean")
    out[~ok] = None
    return pd.Series(out, dtype="boolean")


@functools.lru_cache(maxsize=64)
def _literal_geom(wkt: str) -> Geom:
    return geom_from_wkt(wkt)


@F.pandas_udf(T.BooleanType())
def _st_point_predicate(
    pred: pd.Series, x: pd.Series, y: pd.Series, wkt: pd.Series, *distance: pd.Series
) -> pd.Series:
    """ST_PointPredicate(pred, x, y, wkt[, distance]) — the target of
    Engine.sql's literal-geometry rewrite: ``ST_<pred>(ST_MakePoint(x,
    y), ST_GeomFromText(wkt)[, distance])`` as one kernel call over the
    coordinate doubles (no per-row WKB, the literal parsed once per
    worker). Same answers as that call, NULLs included: NULL x/y is
    False, except for dwithin, where NULL x/y/distance is NULL like
    ST_DWithin's. A NULL predicate name or WKT gives NULL."""
    xs = x.to_numpy(np.float64, na_value=np.nan)
    ys = y.to_numpy(np.float64, na_value=np.nan)
    d = distance[0].to_numpy(np.float64, na_value=np.nan) if distance else None
    out = pd.array(np.zeros(len(xs), dtype=bool), dtype="boolean")
    keys = pd.DataFrame({"p": pred, "w": wkt})
    for (p, w), rows in keys.groupby(["p", "w"], sort=False).indices.items():
        p = p.lower()
        res = point_literal_predicate(
            p, xs[rows], ys[rows], _literal_geom(w), None if d is None else d[rows]
        )
        res = pd.array(res, dtype="boolean")
        if p == "dwithin":
            res[np.isnan(xs[rows]) | np.isnan(ys[rows]) | np.isnan(d[rows])] = pd.NA
        out[rows] = res
    out[(pred.isna() | wkt.isna()).to_numpy()] = pd.NA
    return pd.Series(out)


def _envelope_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("minx", T.DoubleType()),
            T.StructField("miny", T.DoubleType()),
            T.StructField("maxx", T.DoubleType()),
            T.StructField("maxy", T.DoubleType()),
        ]
    )


@F.pandas_udf(_envelope_schema())
def st_envelope_wkb(wkb: pd.Series) -> pd.DataFrame:
    # batched (r6): uniform-layout WKB reduces in one numpy pass per
    # length group, per-row reader fallback otherwise — bit-identical
    # values, strict on malformed like the former decode
    from geomesa_sql_spark.geom.wkb import wkb_envelopes

    env = wkb_envelopes(wkb.to_numpy(), strict=True)
    return pd.DataFrame(
        {
            "minx": env[:, 0],
            "miny": env[:, 1],
            "maxx": env[:, 2],
            "maxy": env[:, 3],
        }
    )


# ------------------------------------------------------ per-row UDF builder

# argument kinds of a _rowwise UDF
_GEOM, _WKB, _TEXT, _NUM, _INT = "geom", "wkb", "text", "num", "int"


def _column(kind: str, s: pd.Series) -> list:
    """One argument column as row values, None where the row is NULL."""
    if kind == _GEOM:
        return _decode_series(s)
    if kind == _WKB:
        return [None if b is None else bytes(b) for b in s]
    if kind == _TEXT:
        return [None if v is None else str(v) for v in s]
    # Arrow delivers a NULL INT or DOUBLE as NaN in a float64 series,
    # so `is None` would let it through
    conv = int if kind == _INT else float
    return [None if pd.isna(v) else conv(v) for v in s]


def _rowwise(return_type, *kinds: str, null_on: tuple = (), memo: bool = False):
    """Declare a per-row ST_ function as a pandas UDF:
    ``_rowwise(T.BinaryType(), _GEOM, _NUM)(f)`` over ``f(g, d)`` is the
    UDF ``(wkb, d) -> wkb``. Every per-row UDF of the SQL surface is
    declared here, so this is the one place that decides:

    - **NULL**: a row with a NULL in any argument gives NULL and never
      reaches ``f``. Numeric kinds (``_NUM``, ``_INT``) test
      ``pd.isna``; binary and text kinds (``_GEOM``, ``_WKB``,
      ``_TEXT``) test ``is None``.
    - **Decoding**: ``_GEOM`` arguments go through the per-batch
      :func:`_decode_series` cache; ``_WKB`` arrives as bytes, ``_TEXT``
      as str, ``_NUM`` as float and ``_INT`` as int.
    - **Encoding**: a returned Geom is encoded with ``geom_to_wkb``;
      bytes and every other value pass through unchanged; None is NULL.
    - **Errors**: an exception whose type is in ``null_on`` makes that
      row NULL; any other exception fails the task.
    - ``memo``: compute each distinct argument row once per batch. The
      row is the dict key, so only the hashable kinds (all but
      ``_GEOM``) may be memoized.
    """

    def build(fn):
        def call(args):
            try:
                r = fn(*args)
                return geom_to_wkb(r) if isinstance(r, Geom) else r
            except null_on:
                return None

        @F.pandas_udf(return_type)
        def udf(*cols: pd.Series) -> pd.Series:
            seen: dict = {}

            def row(args):
                if any(a is None for a in args):
                    return None
                if not memo:
                    return call(args)
                if args not in seen:
                    seen[args] = call(args)
                return seen[args]

            return pd.Series(
                [row(args) for args in zip(*map(_column, kinds, cols))], dtype=object
            )

        return udf

    return build


# ---------------------------------------------------------- per-row helpers


def _map_coords(g: Geom, fn) -> Geom:
    if g.type == model.POINT:
        return Geom(model.POINT, fn(g.coords.reshape(1, 2))[0])
    if g.type == model.LINESTRING:
        return Geom(model.LINESTRING, fn(g.coords))
    if g.type == model.POLYGON:
        return Geom(model.POLYGON, [fn(r) for r in g.coords])
    return Geom(g.type, [_map_coords(p, fn) for p in g.coords])


@functools.lru_cache(maxsize=64)
def _crs_fn(src: str, dst: str):
    """ST_Transform's coordinate function for one CRS pair, built once
    per worker. Every supported pair — 4326/4269 geographic, 3857 web
    mercator, UTM zones (geom/crs.py's Krüger-series table, the codes
    migrating data actually lives in) — resolves through ONE
    implementation, transform_fn, chaining non-trivial pairs through
    geographic degrees (one source of truth keeps the oracle hash gates
    honest). Unsupported codes raise loudly — the reference gets
    arbitrary CRS from proj4j, which this engine does not ship."""
    from geomesa_sql_spark.geom.crs import supported_crs_table, transform_fn

    fn = transform_fn(src, dst)
    if fn is None:
        raise NotImplementedError(
            f"ST_Transform {src}->{dst}; supported: {supported_crs_table()}"
        )
    return fn


def _de9im(a: Geom, b: Geom) -> str:
    from geomesa_sql_spark.geom.de9im import de9im

    return de9im(a, b)


def _is_simple(g: Geom) -> bool:
    from geomesa_sql_spark.geom.de9im import is_simple

    return is_simple(g)


def _overlay(op: str, a: Geom, b: Geom) -> Geom:
    from geomesa_sql_spark.geom.overlay import overlay

    return overlay(a, b, op)


def _of_type(g: Geom, want: str) -> Geom | None:
    # typed constructors: NULL when the decoded type is not the
    # requested one (H2GIS semantics)
    return g if g.type == want else None


def _nth_point(g: Geom, n: int) -> Geom | None:
    """1-based nth vertex of a LineString (None otherwise) — the
    PostGIS/Calcite ST_PointN contract."""
    if g.type != model.LINESTRING:
        return None
    pts = g.all_coords()
    if n < 1 or n > len(pts):
        return None
    return Geom(model.POINT, pts[n - 1])


def _rotation(theta: float):
    # PostGIS ST_Rotate rotates about the origin, angle in radians CCW
    ct, st_ = np.cos(theta), np.sin(theta)
    m = np.array([[ct, -st_], [st_, ct]])
    return lambda c: c @ m.T


def _closed_parts(g: Geom) -> bool | None:
    # boundary-closure accessor (H2GIS/Calcite: defined for
    # LINESTRING/MULTILINESTRING, NULL for every other type)
    if g.type == model.LINESTRING:
        parts = [g]
    elif g.type == model.MULTILINESTRING:
        parts = g.flatten()
    else:
        return None
    if not parts:
        # JTS MultiLineString.isClosed(): empty -> false, not
        # vacuously true
        return False
    return all(
        len(p.coords) > 1 and bool(np.all(p.coords[0] == p.coords[-1]))
        for p in parts
    )


def _jts_is_rectangle(g: Geom) -> bool:
    # JTS isRectangle: a single polygon, no holes, 4 corners, every
    # vertex on the envelope corner set and all 4 corners present.
    # Structural (exact comparisons on STORED coordinates) — a
    # computed-area equality would be float-brittle for cells whose
    # shoelace sum rounds differently from (dx * dy).
    if g.type != model.POLYGON or len(g.coords) != 1:
        return False
    ring = np.asarray(g.coords[0], dtype=np.float64)
    if len(ring) != 5:
        return False
    x0, y0, x1, y1 = g.envelope()
    if x0 == x1 or y0 == y1:
        return False
    on_corner = np.isin(ring[:, 0], (x0, x1)) & np.isin(ring[:, 1], (y0, y1))
    if not on_corner.all():
        return False
    corners = {(x, y) for x, y in ring[:-1]}
    if corners != {(x0, y0), (x1, y0), (x1, y1), (x0, y1)}:
        return False
    # consecutive vertices must differ in exactly one ordinate
    # (rules out the bowtie vertex order)
    dx = ring[1:, 0] != ring[:-1, 0]
    dy = ring[1:, 1] != ring[:-1, 1]
    return bool((dx ^ dy).all())


def _grid_cells(g: Geom, nx: int, ny: int):
    # Calcite grid makers: divide a geometry's envelope into nx x ny cells
    x0, y0, x1, y1 = g.envelope()
    if nx < 1 or ny < 1 or x0 > x1 or y0 > y1:
        return None
    return np.linspace(x0, x1, nx + 1), np.linspace(y0, y1, ny + 1)


def _hull_pts(g: Geom) -> np.ndarray:
    h = kernel.convex_hull(g)
    if h.type == model.POLYGON:
        return h.coords[0][:-1]
    if h.type == model.LINESTRING:
        return h.coords
    if h.type == model.POINT:
        return h.coords.reshape(1, 2)
    return np.empty((0, 2))


def _clip_halfplane(poly: list, a: float, b: float, c: float) -> list:
    # Sutherland–Hodgman: keep a*x + b*y <= c
    out: list = []
    n = len(poly)
    for i in range(n):
        p, q = poly[i], poly[(i + 1) % n]
        pin = a * p[0] + b * p[1] <= c + 1e-12
        qin = a * q[0] + b * q[1] <= c + 1e-12
        if pin:
            out.append(p)
        if pin != qin:
            t = (c - a * p[0] - b * p[1]) / (a * (q[0] - p[0]) + b * (q[1] - p[1]))
            out.append((p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1])))
    return out


def _caliper_frames(h: np.ndarray):
    e = np.roll(h, -1, axis=0) - h
    ln = np.hypot(e[:, 0], e[:, 1])
    keep = ln > 0
    d = e[keep] / ln[keep][:, None]
    # anchors stay aligned with the FILTERED edges (zero-length
    # edges may drop anywhere, not just at the tail)
    return d, np.stack([-d[:, 1], d[:, 0]], axis=1), h[keep]


# ------------------------------------------------------ per-row functions


@_rowwise(T.DoubleType(), _GEOM)
def _st_area_sphere(g: Geom) -> float:
    """Geodesic polygon area (m², authalic sphere, great-circle edges
    — geom/geodesic.sphere_geom_area; exact van Oosterom–Strackee
    solid angles). Non-areal geometries → 0.0."""
    from geomesa_sql_spark.geom.geodesic import sphere_geom_area

    return sphere_geom_area(g)


@_rowwise(T.DoubleType(), _GEOM)
def _st_perimeter_sphere(g: Geom) -> float:
    """Geodesic perimeter/length (m, mean-sphere haversine edge sums —
    geom/geodesic.sphere_geom_perimeter)."""
    from geomesa_sql_spark.geom.geodesic import sphere_geom_perimeter

    return sphere_geom_perimeter(g)


@_rowwise(T.BinaryType(), _GEOM, _GEOM)
def _union(a: Geom, b: Geom) -> Geom:
    # dissolving union via the overlay kernel (JTS OverlayOp
    # parity); GeometryCollection operands — which JTS rejects —
    # fall back to the predicate-equivalent collection union
    try:
        return _overlay("union", a, b)
    except ValueError:
        return kernel.union_geom(a, b)


@_rowwise(T.BinaryType(), _GEOM, _GEOM, null_on=(ValueError,))
def _split(a: Geom, b: Geom) -> Geom:
    from geomesa_sql_spark.geom.overlay import split_geom

    return split_geom(a, b)  # ValueError: unsupported dimension pair


@_rowwise(T.BinaryType(), _INT, _INT, _INT)
def _tile_envelope(z: int, x: int, y: int) -> Geom | None:
    # PostGIS ST_TileEnvelope(zoom, x, y): Web-Mercator XYZ tile
    # bounds in EPSG:3857 (the PostGIS default grid — y grows
    # south, origin top-left at (-A, A) with A = pi * 6378137)
    A = 20037508.342789244
    if not 0 <= z <= 30:
        return None
    n = 1 << z
    if not (0 <= x < n and 0 <= y < n):
        return None
    size = 2.0 * A / n
    return model.box(-A + x * size, A - (y + 1) * size, -A + (x + 1) * size, A - y * size)


@_rowwise(T.BinaryType(), _WKB, _TEXT, _TEXT)
def _transform(b: bytes, src: str, dst: str) -> bytes | Geom:
    """ST_Transform(geom, 'EPSG:s', 'EPSG:d'), through :func:`_crs_fn`."""
    if src == dst:
        return b
    return _map_coords(geom_from_wkb(b), _crs_fn(src, dst))


@_rowwise(T.BooleanType(), _GEOM, _GEOM)
def _envelopes_intersect(ga: Geom, gb: Geom) -> bool:
    a, b = ga.envelope(), gb.envelope()
    return a[0] <= b[2] and b[0] <= a[2] and a[1] <= b[3] and b[1] <= a[3]


@_rowwise(T.DoubleType(), _GEOM, _GEOM)
def _azimuth(a: Geom, b: Geom) -> float | None:
    """North-based clockwise azimuth in radians between two points
    (PostGIS ST_Azimuth); NULL for coincident points."""
    if a.type != model.POINT or b.type != model.POINT:
        return None
    dx = float(b.coords[0] - a.coords[0])
    dy = float(b.coords[1] - a.coords[1])
    if dx == 0.0 and dy == 0.0:
        return None
    return float(np.arctan2(dx, dy) % (2.0 * np.pi))


@_rowwise(T.BinaryType(), _GEOM, _NUM)
def _line_interpolate(g: Geom, f: float) -> Geom | None:
    """Point at ``f`` ∈ [0,1] of a LineString's length
    (PostGIS ST_LineInterpolatePoint)."""
    if g.type != model.LINESTRING:
        return None
    f = min(max(f, 0.0), 1.0)
    pts = g.coords
    seg = np.diff(pts, axis=0)
    ln = np.hypot(seg[:, 0], seg[:, 1])
    total = float(ln.sum())
    if total == 0.0:
        return Geom(model.POINT, pts[0].copy())
    target = f * total
    cum = np.concatenate([[0.0], np.cumsum(ln)])
    i = int(np.searchsorted(cum, target, side="right") - 1)
    i = min(i, len(seg) - 1)
    t = (target - cum[i]) / ln[i] if ln[i] > 0 else 0.0
    return Geom(model.POINT, pts[i] + t * seg[i])


@_rowwise(T.BinaryType(), _WKB, _INT)
def _transform_srid(b: bytes, dst: int) -> bytes:
    """ST_TransformSrid — the Calcite/PostGIS 2-arg ST_Transform
    idiom (Calcite's fun=spatial table exposes
    ST_Transform(geom, srid INT), the signature a migrating user
    writes): source CRS comes from the geometry's EWKB SRID tag
    (untagged = 4326), target from the integer arg; the result
    carries the target tag so chained transforms compose. Spark
    UDF names are single-arity, so Engine.sql rewrites 2-arg
    ST_Transform(g, n) call sites to this name; plain spark.sql
    users can call it directly."""
    src = wkb_srid(b) or 4326
    g = geom_from_wkb(b)
    if src != dst:
        g = _map_coords(g, _crs_fn(f"EPSG:{src}", f"EPSG:{dst}"))
    return geom_to_ewkb(g, dst)


@_rowwise(T.BooleanType(), _TEXT, _TEXT)
def _relate_match(m: str, p: str) -> bool | None:
    # PostGIS ST_RelateMatch(matrix, pattern): string-level
    if len(p) != 9 or len(m) != 9:
        return None
    for got, want in zip(m, p.upper()):
        if want == "*":
            continue
        if want == "T":
            if got == "F":
                return False
        elif got != want:
            return False
    return True


@_rowwise(T.BinaryType(), _GEOM)
def _make_polygon(g: Geom) -> Geom | None:
    """ST_MakePolygon(shell): closed LineString ring -> Polygon
    (single-arity form; holes variant not exposed — Spark UDF
    names are single-arity). NULL for non-LineString or unclosed
    input, mirroring the *FromText NULL-on-mismatch convention."""
    if (
        g.type != model.LINESTRING
        or len(g.coords) < 4
        or not bool(np.all(g.coords[0] == g.coords[-1]))
    ):
        return None
    return Geom(model.POLYGON, [g.coords])


@_rowwise(T.BinaryType(), _GEOM, _INT)
def _geometry_n(g: Geom, i: int) -> Geom | None:
    # JTS getGeometryN: 1-based DIRECT child of a multi/collection;
    # for a single geometry, n=1 returns the geometry itself
    if g.type in (
        model.MULTIPOINT, model.MULTILINESTRING, model.MULTIPOLYGON,
        model.GEOMETRYCOLLECTION,
    ):
        return g.coords[i - 1] if 1 <= i <= len(g.coords) else None
    return g if i == 1 else None


@_rowwise(T.StringType(), _WKB)
def _as_ewkt(b: bytes) -> str:
    s = wkb_srid(b)
    txt = geom_to_wkt(geom_from_wkb(b))
    return f"SRID={s};{txt}" if s else txt


@_rowwise(T.BinaryType(), _TEXT, null_on=(Exception,))
def _geom_from_ewkt(s: str) -> bytes:
    s = s.strip()
    srid = 0
    msrid = _re.match(r"(?i)^SRID\s*=\s*(\d+)\s*;\s*", s)
    if msrid:
        srid = int(msrid.group(1))
        s = s[msrid.end():]
    return geom_to_ewkb(geom_from_wkt(s), srid)


@_rowwise(T.BinaryType(), _GEOM, _INT, _INT)
def _make_grid(g: Geom, nx: int, ny: int) -> Geom | None:
    grid = _grid_cells(g, nx, ny)
    if grid is None:
        return None
    xs, ys = grid
    cells = [
        model.box(xs[i], ys[j], xs[i + 1], ys[j + 1])
        for j in range(len(ys) - 1)
        for i in range(len(xs) - 1)
    ]
    return Geom(model.MULTIPOLYGON, cells)


@_rowwise(T.BinaryType(), _GEOM, _INT, _INT)
def _make_grid_points(g: Geom, nx: int, ny: int) -> Geom | None:
    grid = _grid_cells(g, nx, ny)
    if grid is None:
        return None
    xs, ys = grid
    cx = (xs[:-1] + xs[1:]) / 2.0
    cy = (ys[:-1] + ys[1:]) / 2.0
    return Geom(model.MULTIPOINT, [model.point(x, y) for y in cy for x in cx])


@_rowwise(T.BinaryType(), _GEOM)
def _point_on_surface(g: Geom) -> Geom | None:
    from geomesa_sql_spark.geom.de9im import _interior_points

    if g.dimension() == 2:
        pts = _interior_points(g)  # guaranteed strictly interior
        return model.point(pts[0, 0], pts[0, 1]) if len(pts) else None
    if g.dimension() == 1:
        # a vertex ON the line (middle vertex of the first part)
        c = g.flatten()[0].coords
        v = c[len(c) // 2]
        return model.point(float(v[0]), float(v[1]))
    c = g.all_coords()
    return model.point(float(c[0, 0]), float(c[0, 1])) if len(c) else None


@_rowwise(T.BinaryType(), _GEOM, _NUM)
def _reduce_precision(g: Geom, s: float) -> Geom | None:
    if s <= 0.0:
        return None
    return _map_coords(g, lambda c: np.round(c / s) * s)


@_rowwise(T.BinaryType(), _GEOM)
def _octagonal_env(g: Geom) -> Geom | None:
    # octagonal envelope: the bbox clipped by the four diagonal
    # half-planes
    c = g.all_coords()
    if not len(c):
        return None
    x, y = c[:, 0], c[:, 1]
    poly = [
        (x.min(), y.min()), (x.max(), y.min()),
        (x.max(), y.max()), (x.min(), y.max()),
    ]
    s, d = x + y, x - y
    for a, b, cc in (
        (-1.0, -1.0, -float(s.min())), (1.0, 1.0, float(s.max())),
        (-1.0, 1.0, -float(d.min())), (1.0, -1.0, float(d.max())),
    ):
        poly = _clip_halfplane(poly, a, b, cc)
    uniq: list = []
    for p in poly:
        if not uniq or (abs(p[0] - uniq[-1][0]) > 1e-12
                        or abs(p[1] - uniq[-1][1]) > 1e-12):
            uniq.append(p)
    if len(uniq) >= 3:
        return model.polygon(np.asarray(uniq))
    if len(uniq) == 2:
        return Geom(model.LINESTRING, np.asarray(uniq))
    return model.point(*uniq[0]) if uniq else None


@_rowwise(T.BinaryType(), _GEOM)
def _min_rectangle(g: Geom) -> Geom:
    # rotating calipers over the convex hull
    h = _hull_pts(g)
    if len(h) < 3:
        # JTS degenerate contract: the hull itself
        return kernel.convex_hull(g)
    dirs, norms, _ = _caliper_frames(h)
    pd_ = h @ dirs.T   # (n_pts, n_edges) projections
    pn_ = h @ norms.T
    areas = (pd_.max(0) - pd_.min(0)) * (pn_.max(0) - pn_.min(0))
    bi = int(np.argmin(areas))
    d, n = dirs[bi], norms[bi]
    lo_d, hi_d = pd_[:, bi].min(), pd_[:, bi].max()
    lo_n, hi_n = pn_[:, bi].min(), pn_[:, bi].max()
    corners = np.array([
        d * lo_d + n * lo_n, d * hi_d + n * lo_n,
        d * hi_d + n * hi_n, d * lo_d + n * hi_n,
    ])
    return model.polygon(corners)


@_rowwise(T.BinaryType(), _GEOM)
def _min_diameter(g: Geom) -> Geom | None:
    h = _hull_pts(g)
    if len(h) == 0:
        return None
    if len(h) < 3:
        p = h[0]
        # width 0: the perpendicular segment degenerates to a
        # point on the line (JTS returns a 0-length segment)
        return Geom(model.LINESTRING, np.array([p, p]))
    dirs, norms, anchors = _caliper_frames(h)
    pn_ = h @ norms.T              # (n_pts, n_edges)
    base = np.einsum("ej,ej->e", anchors, norms)  # offset per edge
    dist = pn_ - base[None, :]
    widths = np.abs(dist).max(0)
    bi = int(np.argmin(widths))
    pi = int(np.abs(dist[:, bi]).argmax())
    far = h[pi]
    foot = far - dist[pi, bi] * norms[bi]
    return Geom(model.LINESTRING, np.array([foot, far]))


@_rowwise(T.BinaryType(), _GEOM, _GEOM, _NUM)
def _snap(a: Geom, b: Geom, t: float) -> Geom:
    # vertex snapping (JTS additionally snaps to segment
    # interiors; vertex-only is the documented subset here)
    targets = b.all_coords()

    def snap_coords(c: np.ndarray) -> np.ndarray:
        if not len(targets) or not len(c):
            return c
        d2 = ((c[:, None, :] - targets[None, :, :]) ** 2).sum(-1)
        j = d2.argmin(1)
        hit = d2[np.arange(len(c)), j] <= t * t
        c = c.copy()
        c[hit] = targets[j[hit]]
        return c

    return _map_coords(a, snap_coords)


@_rowwise(T.BinaryType(), _GEOM, _NUM, _NUM, _NUM, _NUM, _INT)
def _as_mvt_geom(g: Geom, x0: float, y0: float, x1: float, y1: float, e: int):
    # PostGIS ST_AsMVTGeom (no-clip form): geometry → tile-local
    # integer coordinates (y grows DOWN from the envelope top), the
    # SQL-surface twin of ops/vector_tiles quantization. Coordinates
    # may exceed [0, extent) — clipping is the renderer's job (the
    # same producer-clipping tradeoff io/mvt.py documents).
    if x1 <= x0 or y1 <= y0 or e < 1:
        return None
    sx = e / (x1 - x0)
    sy = e / (y1 - y0)

    def qc(c):
        cc = np.asarray(c, dtype=np.float64)
        out = np.empty_like(cc)
        out[..., 0] = np.floor((cc[..., 0] - x0) * sx)
        out[..., 1] = np.floor((y1 - cc[..., 1]) * sy)
        return out

    return _map_coords(g, qc)


@_rowwise(T.ArrayType(T.LongType()), _GEOM, _INT)
def _s2_covering(g: Geom, level: int) -> list:
    # S2_Covering(wkb, level): fixed-level S2 cells covering the
    # geometry's lon/lat envelope (array<long>) — the SQL building
    # block for user-side prune predicates (arrays_overlap /
    # array_contains against an s2-indexed column). Capped like
    # cells/s2.cover_rect: an oversized cover raises rather than
    # silently truncating (dropping cells would drop matches).
    from geomesa_sql_spark.cells import s2 as _s2

    x0, y0, x1, y1 = g.envelope()
    if x0 != x0:  # empty geometry
        return []
    x0, x1 = max(-180.0, x0), min(180.0, x1)
    y0, y1 = max(-90.0, y0), min(90.0, y1)
    return [int(c) for c in _s2.cover_rect(x0, y0, x1, y1, level)]


_TYPE_CODE = {
    model.POINT: 1, model.LINESTRING: 2, model.POLYGON: 3, model.MULTIPOINT: 4,
    model.MULTILINESTRING: 5, model.MULTIPOLYGON: 6, model.GEOMETRYCOLLECTION: 7,
}


def _interior_rings(g: Geom) -> int | None:
    return len(g.coords) - 1 if g.type == model.POLYGON else None


# one-argument geometry measures and accessors: name -> (type, f(g))
_GEOM_MEASURES = {
    "ST_AsText": (T.StringType(), geom_to_wkt),
    "ST_AsWKT": (T.StringType(), geom_to_wkt),
    "ST_AsGeoJSON": (T.StringType(), geom_to_geojson),
    "ST_X": (T.DoubleType(), lambda g: float(g.coords[0])),
    "ST_Y": (T.DoubleType(), lambda g: float(g.coords[1])),
    # planar 2D engine: Z/M are honestly absent, not silently zero
    "ST_Z": (T.DoubleType(), lambda g: None),
    "ST_Is3D": (T.BooleanType(), lambda g: False),
    "ST_CoordDim": (T.IntegerType(), lambda g: 2),
    "ST_Area": (T.DoubleType(), kernel.area),
    "ST_Length": (T.DoubleType(), kernel.length),
    # perimeter: boundary length of the polygonal parts; 0 otherwise
    "ST_Perimeter": (
        T.DoubleType(),
        lambda g: float(
            sum(kernel.length(p) for p in g.flatten() if p.type == model.POLYGON)
        ),
    ),
    # ST_NPoints counts every coordinate of any geometry (ring-closure
    # duplicates included), the count ST_NumPoints reports
    "ST_NumPoints": (T.IntegerType(), lambda g: len(g.all_coords())),
    "ST_NPoints": (T.IntegerType(), lambda g: len(g.all_coords())),
    "ST_NumGeometries": (T.IntegerType(), lambda g: len(g.flatten())),
    # Calcite/PostGIS both spell the interior-ring count with and
    # without the trailing S
    "ST_NumInteriorRing": (T.IntegerType(), _interior_rings),
    "ST_NumInteriorRings": (T.IntegerType(), _interior_rings),
    "ST_GeometryType": (T.StringType(), lambda g: g.type),
    "ST_GeometryTypeCode": (T.IntegerType(), lambda g: _TYPE_CODE.get(g.type)),
    "ST_Dimension": (T.IntegerType(), kernel.dimension),
    "ST_IsEmpty": (T.BooleanType(), lambda g: g.all_coords().size == 0),
    "ST_IsValid": (T.BooleanType(), kernel.is_valid),
    "ST_IsSimple": (T.BooleanType(), _is_simple),
    "ST_IsClosed": (T.BooleanType(), _closed_parts),
    "ST_IsRing": (
        T.BooleanType(),
        lambda g: (bool(_closed_parts(g)) and _is_simple(g))
        if g.type == model.LINESTRING
        else None,
    ),
    "ST_IsRectangle": (T.BooleanType(), _jts_is_rectangle),
    "ST_XMin": (T.DoubleType(), lambda g: g.envelope()[0]),
    "ST_YMin": (T.DoubleType(), lambda g: g.envelope()[1]),
    "ST_XMax": (T.DoubleType(), lambda g: g.envelope()[2]),
    "ST_YMax": (T.DoubleType(), lambda g: g.envelope()[3]),
    "ST_ConvexHull": (T.BinaryType(), kernel.convex_hull),
    "ST_Boundary": (T.BinaryType(), kernel.boundary),
    "ST_Centroid": (
        T.BinaryType(),
        lambda g: Geom(model.POINT, np.array(kernel.centroid(g), dtype=np.float64)),
    ),
    "ST_StartPoint": (T.BinaryType(), lambda g: _nth_point(g, 1)),
    "ST_EndPoint": (T.BinaryType(), lambda g: _nth_point(g, len(g.all_coords()))),
    "ST_ExteriorRing": (
        T.BinaryType(),
        lambda g: Geom(model.LINESTRING, g.coords[0])
        if g.type == model.POLYGON and len(g.coords)
        else None,
    ),
}


def register_all(spark: SparkSession) -> None:
    """Expose the ST_* surface to spark.sql under Calcite's names."""
    binary, boolean = T.BinaryType(), T.BooleanType()
    for name, (rtype, fn) in _GEOM_MEASURES.items():
        spark.udf.register(name, _rowwise(rtype, _GEOM)(fn))
    from_wkb = _rowwise(binary, _WKB, null_on=(Exception,))(geom_from_wkb)
    as_ewkb = _rowwise(binary, _WKB)(lambda b: geom_to_ewkb(geom_from_wkb(b), wkb_srid(b)))
    per_row = {
        # parse each distinct text once per batch
        "ST_GeomFromText": _rowwise(binary, _TEXT, memo=True)(geom_from_wkt),
        "ST_GeomFromGeoJSON": _rowwise(binary, _TEXT, null_on=(Exception,))(
            lambda s: geom_from_geojson(json.loads(s))
        ),
        "ST_GeomFromEWKT": _geom_from_ewkt,
        # validate + canonicalize to little-endian 2D WKB (accepts
        # big-endian and EWKB-with-SRID input; NULL on undecodable
        # bytes); geometry columns ARE WKB, so AsBinary strips any
        # EWKB SRID tag
        "ST_GeomFromWKB": from_wkb,
        "ST_AsBinary": from_wkb,
        "ST_AsWKB": from_wkb,
        # the stored buffer IS (E)WKB, already carrying its SRID tag
        # when one was set; round-trip through the decoder to normalize
        "ST_AsEWKB": as_ewkb,
        "ST_GeomFromEWKB": as_ewkb,
        "ST_AsEWKT": _as_ewkt,
        "ST_SRID": _rowwise(T.IntegerType(), _WKB)(wkb_srid),
        # tag the top-level header PostGIS-EWKB-style. geom_from_wkb
        # round-trips the tag, so tagged geometries stay usable across
        # the whole pandas-UDF surface; the JVM point fast paths
        # (cells/column.py) expect plain 21-byte point WKB and are
        # documented to take untagged input
        "ST_SetSRID": _rowwise(binary, _GEOM, _INT)(geom_to_ewkb),
        "ST_Transform": _transform,
        "ST_TransformSrid": _transform_srid,
        "ST_Distance": _rowwise(T.DoubleType(), _GEOM, _GEOM)(kernel.distance),
        "ST_AreaSphere": _st_area_sphere,
        "ST_LengthSphere": _st_perimeter_sphere,
        "ST_PerimeterSphere": _st_perimeter_sphere,
        "ST_MakeEnvelope": _rowwise(binary, _NUM, _NUM, _NUM, _NUM)(model.box),
        "ST_TileEnvelope": _tile_envelope,
        # dissolve costs tens of ms per geometry — buffer each distinct
        # (wkb, d) once per batch (joins repeat the small side's rows)
        "ST_Buffer": _rowwise(binary, _WKB, _NUM, memo=True)(
            lambda b, d: kernel.buffer_geom(geom_from_wkb(b), d)
        ),
        "ST_Simplify": _rowwise(binary, _GEOM, _NUM)(kernel.simplify),
        "ST_Union": _union,
        "ST_Split": _split,
        "ST_EnvelopesIntersect": _envelopes_intersect,
        "ST_MakeLine": _rowwise(binary, _GEOM, _GEOM)(
            lambda a, b: Geom(
                model.LINESTRING, np.concatenate([a.all_coords(), b.all_coords()])
            )
        ),
        "ST_MakePolygon": _make_polygon,
        "ST_PointN": _rowwise(binary, _GEOM, _INT)(_nth_point),
        "ST_GeometryN": _geometry_n,
        "ST_InteriorRingN": _rowwise(binary, _GEOM, _INT)(
            lambda g, i: Geom(model.LINESTRING, g.coords[i])
            if g.type == model.POLYGON and 1 <= i < len(g.coords)
            else None
        ),
        # affine transforms (PostGIS-parity names)
        "ST_Translate": _rowwise(binary, _GEOM, _NUM, _NUM)(
            lambda g, dx, dy: _map_coords(g, lambda c: c + np.array([dx, dy]))
        ),
        "ST_Scale": _rowwise(binary, _GEOM, _NUM, _NUM)(
            lambda g, sx, sy: _map_coords(g, lambda c: c * np.array([sx, sy]))
        ),
        "ST_Rotate": _rowwise(binary, _GEOM, _NUM)(
            lambda g, theta: _map_coords(g, _rotation(theta))
        ),
        "ST_Azimuth": _azimuth,
        "ST_LineInterpolatePoint": _line_interpolate,
        # point of A nearest to B (PostGIS ST_ClosestPoint, A-side):
        # candidates on A scored by their TRUE distance to B
        "ST_ClosestPoint": _rowwise(binary, _GEOM, _GEOM)(
            lambda a, b: Geom(model.POINT, kernel.closest_point(a, b))
        ),
        # PostGIS arity split: ST_Relate(a, b) -> the 9-char DE-9IM
        # matrix; NULL for a GeometryCollection (JTS RelateOp parity)
        "ST_Relate": _rowwise(T.StringType(), _GEOM, _GEOM, null_on=(ValueError,))(_de9im),
        "ST_RelateMatch": _relate_match,
        "ST_MakeGrid": _make_grid,
        "ST_MakeGridPoints": _make_grid_points,
        "ST_PointOnSurface": _point_on_surface,
        "ST_ReducePrecision": _reduce_precision,
        "ST_OctagonalEnvelope": _octagonal_env,
        "ST_MinimumRectangle": _min_rectangle,
        "ST_MinimumDiameter": _min_diameter,
        "ST_Snap": _snap,
        "ST_AsMVTGeom": _as_mvt_geom,
        "S2_Covering": _s2_covering,
    }
    # boolean overlay constructors (geom/overlay.py — Calcite inherits
    # these from JTS OverlayOp via jdbc/Driver.scala:51-56; NULL on
    # GeometryCollection operands, which JTS rejects too)
    for name, op in (
        ("ST_Intersection", "intersection"),
        ("ST_Difference", "difference"),
        ("ST_SymDifference", "symdifference"),
        ("ST_SymmetricDifference", "symdifference"),  # PostGIS alias
    ):
        per_row[name] = _rowwise(binary, _GEOM, _GEOM, null_on=(ValueError,))(
            functools.partial(_overlay, op)
        )
    # derived DE-9IM predicates; matrix index layout:
    # 0..8 = II IB IE BI BB BE EI EB EE
    for name, check in (
        ("ST_Covers", lambda m: m[6] == "F" and m[7] == "F"
         and any(m[i] != "F" for i in (0, 1, 3, 4))),
        ("ST_CoveredBy", lambda m: m[2] == "F" and m[5] == "F"
         and any(m[i] != "F" for i in (0, 1, 3, 4))),
        ("ST_ContainsProperly", lambda m: m[0] != "F" and m[3] == "F"
         and m[4] == "F" and m[6] == "F" and m[7] == "F"),
    ):
        per_row[name] = _rowwise(boolean, _GEOM, _GEOM, null_on=(ValueError,))(
            lambda a, b, check=check: check(_de9im(a, b))
        )
    # typed constructors from WKT and their VARBINARY twins (Calcite
    # fun=spatial table): NULL on unparsable input or another type
    for suffix, want in (
        ("Point", model.POINT), ("Line", model.LINESTRING), ("Poly", model.POLYGON),
        ("MPoint", model.MULTIPOINT), ("MLine", model.MULTILINESTRING),
        ("MPoly", model.MULTIPOLYGON),
    ):
        per_row[f"ST_{suffix}FromText"] = _rowwise(binary, _TEXT, null_on=(Exception,))(
            lambda s, want=want: _of_type(geom_from_wkt(s), want)
        )
        if suffix in ("Point", "Line", "Poly"):
            per_row[f"ST_{suffix}FromWKB"] = _rowwise(binary, _WKB, null_on=(Exception,))(
                lambda b, want=want: _of_type(geom_from_wkb(b), want)
            )
    for name, udf in per_row.items():
        spark.udf.register(name, udf)

    # ---- batch-vectorized UDFs (one kernel call per Arrow batch) and
    # their SQL names; each handles NULL itself
    spark.udf.register("ST_MakePoint", st_point_wkb)
    spark.udf.register("ST_Point", st_point_wkb)
    # geography measures (geom/geodesic.py — PostGIS names; the planar
    # ST_Distance above keeps the reference's JTS Cartesian contract)
    spark.udf.register("ST_DistanceSphere", _st_distance_sphere)
    spark.udf.register("ST_Distance_Sphere", _st_distance_sphere)
    spark.udf.register("ST_DistanceSpheroid", _st_distance_spheroid)
    spark.udf.register("ST_DWithinSphere", _st_dwithin_sphere)
    spark.udf.register("ST_Envelope", st_envelope_wkb)
    for pred in RELATE_PREDICATES:

        def _make(p: str):
            @F.pandas_udf(T.BooleanType())
            def _udf(wa: pd.Series, wb: pd.Series) -> pd.Series:
                return pd.Series(kernel.relate_many(list(wa), list(wb), p))

            return _udf

        spark.udf.register(f"ST_{pred.capitalize()}", _make(pred))

    @F.pandas_udf(T.BooleanType())
    def _dwithin(wa: pd.Series, wb: pd.Series, d: pd.Series) -> pd.Series:
        # per-ROW distance (review r3: the batch previously reused row
        # 0's radius for all 8192 rows); constant literals still hit
        # the vectorized path below because the values are equal
        uniq = pd.unique(d.dropna())
        if len(uniq) == 1 and not d.isna().any():
            # same NULL contract as the variable path below: a NULL
            # geometry yields SQL NULL, not False — otherwise the same
            # row's result would depend on which radii share its Arrow
            # batch (r5 review: batch-composition-dependent semantics)
            res = kernel.relate_many(list(wa), list(wb), "dwithin", float(uniq[0]))
            out = pd.Series(list(res), dtype=object)
            null = (wa.isna() | wb.isna()).to_numpy()
            out[null] = None
            return out
        # variable radii: ONE vectorized kernel call with the per-row
        # distance array (r4 verdict #4: the old per-row loop re-decoded
        # both WKBs every row); NULL geom/distance → SQL NULL
        dvals = d.to_numpy(dtype=np.float64, na_value=np.nan)
        res = kernel.relate_many(list(wa), list(wb), "dwithin", dvals)
        out = pd.Series(list(res), dtype=object)
        null = (wa.isna() | wb.isna() | d.isna()).to_numpy()
        out[null] = None
        return out

    spark.udf.register("ST_DWithin", _dwithin)
    spark.udf.register("ST_PointPredicate", _st_point_predicate)

    @F.pandas_udf(T.BooleanType())
    def _disjoint(wa: pd.Series, wb: pd.Series) -> pd.Series:
        # SQL three-valued: NULL geom → NULL (unlike the join-refine
        # kernel, where null is simply never a candidate)
        inter = kernel.relate_many(list(wa), list(wb), "intersects")
        return pd.Series(
            [
                None if a is None or b is None else not bool(i)
                for a, b, i in zip(wa, wb, inter)
            ],
            dtype=object,
        )

    spark.udf.register("ST_Disjoint", _disjoint)

    @F.pandas_udf(T.BinaryType())
    def _union_aggr(wkb: pd.Series) -> bytes:
        # grouped-agg dissolving union (Calcite's ST_UnionAggr /
        # PostGIS ST_Union(agg)); one overlay pass over the group's
        # pooled parts — isolated parts skip the splitting entirely
        from geomesa_sql_spark.geom import overlay as _ov

        geoms = [g for g in _decode_series(wkb) if g is not None]
        if not geoms:
            return None
        return geom_to_wkb(_ov.union_all(geoms))

    spark.udf.register("ST_UnionAggr", _union_aggr)
    spark.udf.register("ST_Union_Aggr", _union_aggr)  # Calcite spelling

    # aggregate functions (GROUPED_AGG pandas UDFs — usable in SQL
    # GROUP BY): ST_Extent = bbox of the group as an envelope polygon;
    # ST_Collect = Multi*/GeometryCollection of the group's geometries
    @F.pandas_udf(T.BinaryType())
    def _extent(wkb: pd.Series) -> bytes:
        from geomesa_sql_spark.geom.model import box as _box

        envs = [g.envelope() for g in _decode_series(wkb) if g is not None]
        if not envs:
            return None
        e = np.asarray(envs, dtype=np.float64)
        return geom_to_wkb(
            _box(float(e[:, 0].min()), float(e[:, 1].min()),
                 float(e[:, 2].max()), float(e[:, 3].max()))
        )

    spark.udf.register("ST_Extent", _extent)

    @F.pandas_udf(T.BinaryType())
    def _collect(wkb: pd.Series) -> bytes:
        geoms = [g for g in _decode_series(wkb) if g is not None]
        if not geoms:
            return None
        types = {g.type for g in geoms}
        multi_of = {
            model.POINT: model.MULTIPOINT,
            model.LINESTRING: model.MULTILINESTRING,
            model.POLYGON: model.MULTIPOLYGON,
        }
        if len(types) == 1 and (t := types.pop()) in multi_of:
            return geom_to_wkb(Geom(multi_of[t], geoms))
        return geom_to_wkb(Geom(model.GEOMETRYCOLLECTION, geoms))

    spark.udf.register("ST_Collect", _collect)

    # ----- S2 cell surface (cells/s2.py — the north rule's H3/S2
    # index, exposed to SQL text like the rest of the fun=spatial
    # names; BigQuery/DuckDB-spatial use the same S2_* convention)
    @F.pandas_udf(T.LongType())
    def _s2_cellid(lon: pd.Series, lat: pd.Series, level: pd.Series) -> pd.Series:
        from geomesa_sql_spark.cells import s2 as _s2

        lo = lon.to_numpy(np.float64)
        la = lat.to_numpy(np.float64)
        lv = level.to_numpy()
        bad = pd.isna(lon) | pd.isna(lat) | pd.isna(level)
        # levels are near-always a constant literal: one vectorized
        # call per distinct level in the batch
        out = np.zeros(len(lo), dtype=np.int64)
        for l_ in np.unique(lv[~bad.to_numpy()]):
            m = (lv == l_) & ~bad.to_numpy()
            out[m] = _s2.lonlat_to_cell_id(lo[m], la[m], int(l_))
        res = pd.Series(out).astype("Int64")
        res[bad.to_numpy()] = None
        return res

    spark.udf.register("S2_CellId", _s2_cellid)

    # S2_Token/S2_Level take an int64 CELL ID: a pandas UDF is wrong
    # here — one NULL in an Arrow batch converts the whole int64 series
    # to float64, silently losing bits above 2^53 and corrupting every
    # id in the batch (review r4n reproduced a wrong token). Arrow-
    # optimized row UDFs keep Python ints exact; these are metadata
    # helpers, never a hot path.
    def _s2_token_one(cid):
        if cid is None:
            return None
        from geomesa_sql_spark.cells import s2 as _s2

        return str(_s2.token(np.array([cid], dtype=np.int64))[0])

    spark.udf.register(
        "S2_Token", F.udf(_s2_token_one, T.StringType(), useArrow=True)
    )

    def _s2_level_one(cid):
        if cid is None:
            return None
        from geomesa_sql_spark.cells import s2 as _s2

        return int(_s2.cell_level(np.array([cid], dtype=np.int64))[0])

    spark.udf.register(
        "S2_Level", F.udf(_s2_level_one, T.IntegerType(), useArrow=True)
    )

    # id-taking S2 family — Arrow row UDFs per the null-int rule above
    def _s2_parent_one(cid, level):
        if cid is None or level is None:
            return None
        from geomesa_sql_spark.cells import s2 as _s2

        arr = np.array([cid], dtype=np.int64)
        if not (0 <= level <= _s2.MAX_LEVEL) or int(
            _s2.cell_level(arr)[0]
        ) < level:
            return None  # coarser-than-requested cell: no such parent
        return int(_s2.parent_id(arr, int(level))[0])

    spark.udf.register(
        "S2_Parent", F.udf(_s2_parent_one, T.LongType(), useArrow=True)
    )

    def _s2_contains_one(a, b):
        if a is None or b is None:
            return None
        from geomesa_sql_spark.cells import s2 as _s2

        return bool(
            _s2.contains_id(
                np.array([a], dtype=np.int64), np.array([b], dtype=np.int64)
            )[0]
        )

    spark.udf.register(
        "S2_Contains", F.udf(_s2_contains_one, T.BooleanType(), useArrow=True)
    )

    def _s2_center_one(cid):
        if cid is None:
            return None
        from geomesa_sql_spark.cells import s2 as _s2
        from geomesa_sql_spark.geom.model import point as _point

        lon, lat = _s2.cell_center_lonlat(np.array([cid], dtype=np.int64))
        return geom_to_wkb(_point(float(lon[0]), float(lat[0])))

    # WKB point: the center re-enters the ST_* surface (ST_X/ST_Y/
    # distance/joins) like every other geometry producer
    spark.udf.register(
        "S2_CellCenter", F.udf(_s2_center_one, T.BinaryType(), useArrow=True)
    )

"""Spatial filter pushdown: predicate → cell-range prune + refine.

The analog of the reference's filter pipeline: GeoMesaFilterRule splits
a condition into conjuncts and pushes the translatable ones into the
scan as ECQL, which GeoMesa executes as Z-index range scans
(rules/GeoMesaFilterRule.scala:31-81, RexNodeTranslator.scala:170-196);
the untranslatable remainder stays above as a residual filter.

Spark-side shape of the same idea, for a table laid out by
``io.layout.write_geo_table`` (lon/lat doubles + ``cell`` Z-order
column, files range-partitioned and sorted by cell):

1. envelope → coarse cover cells → contiguous Z-order ranges at the
   data resolution → ``cell BETWEEN lo AND hi OR ...`` — a plain
   Column predicate Catalyst pushes into the parquet scan, pruning
   row groups (and, with cell-partitioned layouts, whole files) by
   footer min/max stats. This is the ECQL/Z-index analog.
2. lon/lat bbox prefilter — also storage-pushable, and cheap JVM-side.
3. exact refine (vectorized kernel UDF) only when the geometry is not
   a rectangle — the residual-filter analog. The refine re-checks the
   full predicate, so cover false positives never leak.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geomesa_sql_spark.cells import cover_envelope
from geomesa_sql_spark.cells.curve import res_for_extent
from geomesa_sql_spark.functions.st import (
    _jts_is_rectangle,
    st_predicate_point_cols,
    st_predicate_wkb,
)
from geomesa_sql_spark.geom import geom_from_wkt
from geomesa_sql_spark.geom.model import Geom
from geomesa_sql_spark.geom.wkb import geom_to_wkb
from geomesa_sql_spark.io.layout import DEFAULT_DATA_RES


def cell_prune_ranges(
    minx: float, miny: float, maxx: float, maxy: float, data_res: int, max_ranges: int = 64
) -> list[tuple[int, int]]:
    """Envelope → merged [lo, hi] ranges over the Z-order ``cell`` column.

    Cover at a coarse resolution (picked so ≤ ~max_ranges cells), then
    expand each coarse cell c to its Z-range at data_res:
    [c << 2k, ((c+1) << 2k) - 1] — Z-order children of a cell are a
    contiguous block. Adjacent ranges are merged.
    """
    width = max(maxx - minx, 1e-12)
    height = max(maxy - miny, 1e-12)
    coarse = min(data_res, res_for_extent(width / 4, height / 4, max_res=data_res))
    while True:
        cells = cover_envelope(minx, miny, maxx, maxy, coarse)
        k = 2 * (data_res - coarse)
        los = cells.astype(np.int64) << k
        his = ((cells.astype(np.int64) + 1) << k) - 1
        ranges: list[tuple[int, int]] = []
        for lo, hi in zip(los.tolist(), his.tolist()):
            if ranges and lo == ranges[-1][1] + 1:
                ranges[-1] = (ranges[-1][0], hi)
            else:
                ranges.append((lo, hi))
        # max_ranges is now ENFORCED (review r3: it was documented but
        # never read) — coarsen until the predicate stays bounded
        if len(ranges) <= max_ranges or coarse <= 1:
            return ranges
        coarse -= 1


def _ranges_predicate(cell_col: str, ranges: list[tuple[int, int]]) -> Column:
    pred = None
    for lo, hi in ranges:
        c = F.col(cell_col).between(lo, hi)
        pred = c if pred is None else (pred | c)
    return pred if pred is not None else F.lit(True)


def pred_envelope(
    predicate: str, g: Geom, distance: float | None = None
) -> tuple[list[tuple[float, float]], float, float]:
    """``(x segments, ylo, yhi)``: a box every point that
    ``ST_<predicate>(point, g[, distance])`` keeps lies in. The
    envelope of ``g``, padded by the distance for ``dwithin``. For
    ``dwithin_sphere`` (``g`` a POINT, distance in metres) the cap's
    conservative degree box — the proven over-cover of
    geom/geodesic.sphere_deg_bounds — split into two longitude segments
    when it spills past ±180, since the haversine metric wraps."""
    if predicate != "dwithin_sphere":
        pad = float(distance) if predicate == "dwithin" else 0.0
        minx, miny, maxx, maxy = g.envelope()
        return [(minx - pad, maxx + pad)], miny - pad, maxy + pad
    from geomesa_sql_spark.geom import model
    from geomesa_sql_spark.geom.geodesic import sphere_deg_bounds

    if g.type != model.POINT:
        raise NotImplementedError(
            "dwithin_sphere needs a POINT literal (geodesic distance to "
            "an extended geometry is undefined here — buffer+intersects "
            "or the planar dwithin cover those)"
        )
    cx, cy = float(g.coords[0]), float(g.coords[1])
    dlat_a, dlon_a = sphere_deg_bounds(np.array([cy]), float(distance))
    dlat, dlon = float(np.atleast_1d(dlat_a)[0]), float(dlon_a[0])
    lo, hi = cx - dlon, cx + dlon
    if dlon >= 180.0:
        segs = [(-180.0, 180.0)]
    elif lo < -180.0:
        segs = [(-180.0, hi), (lo + 360.0, 180.0)]
    elif hi > 180.0:
        segs = [(lo, 180.0), (-180.0, hi - 360.0)]
    else:
        segs = [(lo, hi)]
    return segs, max(cy - dlat, -90.0), min(cy + dlat, 90.0)


def spatial_filter(
    df: DataFrame,
    predicate: str,
    geom: str | Geom,
    x: str | None = None,
    y: str | None = None,
    wkb: str | None = None,
    distance: float | None = None,
    cell_col: str | None = "cell",
    data_res: int | None = DEFAULT_DATA_RES,
) -> DataFrame:
    """Filter rows by ``ST_<predicate>(row_geometry, literal geom)``.

    Point rows: pass ``x``/``y`` lon-lat columns. WKB rows: pass
    ``wkb``. Set ``cell_col=None`` to disable cell pruning (the
    "scannable"-table oracle mode, GeoMesaScannableTable.scala:29-44).
    """
    g = geom_from_wkt(geom) if isinstance(geom, str) else geom
    pred = predicate.lower()
    if pred == "dwithin_sphere" and (x is None or y is None):
        raise NotImplementedError(
            "dwithin_sphere filters point rows (x/y lon-lat columns); "
            "for WKB rows use the scalar ST_DWithinSphere UDF"
        )
    segs, ylo, yhi = pred_envelope(pred, g, distance)

    out = df
    # 1. cell-range prune (storage-level, analog of the Z-index scan)
    if cell_col is not None and cell_col in df.columns and data_res is not None:
        ranges = [r for lo, hi in segs
                  for r in cell_prune_ranges(lo, ylo, hi, yhi, data_res)]
        out = out.filter(_ranges_predicate(cell_col, ranges))

    if x is None:
        if wkb is None:
            raise ValueError("need x/y or wkb")
        lit = F.lit(bytearray(geom_to_wkb(g)))
        return out.filter(st_predicate_wkb(pred, F.col(wkb), lit, distance))

    # 2. bbox prefilter on the coordinate columns (parquet-pushable)
    box = None
    for lo, hi in segs:
        c = (F.col(x) >= lo) & (F.col(x) <= hi)
        box = c if box is None else (box | c)
    out = out.filter(box & (F.col(y) >= ylo) & (F.col(y) <= yhi))
    # 3. exact refine, skipped when the bbox IS the exact predicate
    if pred == "dwithin_sphere":
        from geomesa_sql_spark.geom.geodesic import sphere_distance_cols

        cx, cy = (F.lit(float(v)) for v in g.coords[:2])
        return out.filter(
            sphere_distance_cols(F.col(x), F.col(y), cx, cy) <= float(distance))
    if not (_jts_is_rectangle(g) and pred in ("intersects", "coveredby")):
        out = out.filter(st_predicate_point_cols(pred, F.col(x), F.col(y), g, distance))
    return out

"""ScanSpec / GeoTable — the pushdown-accumulating table handle.

Mirrors the reference's two-layer scan design:
- ``ScanSpec`` ≈ ``GeoMesaQueryParams`` (GeoMesaQueryParams.scala:27-34):
  the entire pushed-down scan state — filters, projection, offset/fetch.
- ``GeoTable`` ≈ ``GeoMesaLogicalTableScan`` with its cascading
  mutators withFilter/withProject/withLimit
  (nodes/GeoMesaLogicalTableScan.scala:46-96): each call folds another
  pushdown into the spec; ``df()`` compiles the spec to a DataFrame in
  the canonical order scan → cell-prune → filter → project → limit;
  an Iceberg scan also prunes data files by the spatial predicates
  (``_iceberg_read``). Catalyst turns the relational parts into
  parquet-level pushdowns (PushedFilters / ReadSchema in .explain()).

The reference guards against pushing onto aggregated/limited scans
(GeoMesaFilterRule.scala:76-78 etc.); here the same invariant is the
builder's method ordering — mutators raise once a limit is set.

The ``scannable`` twin (GeoMesaScannableTable.scala:29-44 — the
no-pushdown correctness oracle) is ``GeoTable(..., pushdown=False)``:
filters run as residual predicates over a full scan (every Iceberg
data file planned) without cell pruning; differential tests compare.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_sql_spark.geom import geom_from_wkt
from geomesa_sql_spark.io.iceberg_meta import IcebergTable
from geomesa_sql_spark.plan.filter import (
    _ranges_predicate, cell_prune_ranges, pred_envelope, spatial_filter)


@dataclass(frozen=True)
class SpatialPred:
    predicate: str
    geom_wkt: str
    x: str | None = None
    y: str | None = None
    wkb: str | None = None
    distance: float | None = None


@dataclass(frozen=True)
class ScanSpec:
    path: str
    filters: tuple[Any, ...] = ()          # Column (relational) | SpatialPred
    columns: tuple[str, ...] | None = None  # None = all
    offset: int = 0
    fetch: int | None = None
    cell_col: str | None = "cell"
    data_res: int | None = 12


def _table_res(path) -> int:
    """Cell resolution the table was WRITTEN with: read the layout
    metadata io.layout.write_geo_table drops next to the data (review
    r3 — a res=8 table scanned with the res-12 default built ranges
    the stored cells could never fall in, silently losing rows).
    Falls back to the shared default when absent. An Iceberg scan never
    reads this value: it prunes through ``_layout_ranges``, from the
    table metadata ``_iceberg_read`` loads."""
    import json as _json
    import os as _os

    from geomesa_sql_spark.io.layout import DEFAULT_DATA_RES

    meta = _os.path.join(path, "_GEO_META.json")
    try:
        with open(meta) as f:
            return int(_json.load(f)["res"])
    except (FileNotFoundError, KeyError, ValueError):
        return DEFAULT_DATA_RES


class GeoTable:
    """Pushdown-capable table handle over a parquet path or an on-disk
    Iceberg table directory."""

    def __init__(self, spark: SparkSession, path: str, spec: ScanSpec | None = None,
                 pushdown: bool = True):
        self.spark = spark
        if spec is None:
            spec = ScanSpec(path=path, data_res=_table_res(path))
        self.spec = spec
        self.pushdown = pushdown

    def _with(self, **kw) -> "GeoTable":
        return GeoTable(self.spark, self.spec.path, replace(self.spec, **kw), self.pushdown)

    def _check_mutable(self) -> None:
        if self.spec.fetch is not None or self.spec.offset:
            raise ValueError(
                "cannot push below a limited scan (parity: GeoMesaLimitRule.scala:53-54, "
                "GeoMesaTableScan.scala:63-64)"
            )

    def where(self, cond: Column) -> "GeoTable":
        self._check_mutable()
        return self._with(filters=self.spec.filters + (cond,))

    def where_spatial(
        self,
        predicate: str,
        geom_wkt: str,
        x: str | None = None,
        y: str | None = None,
        wkb: str | None = None,
        distance: float | None = None,
    ) -> "GeoTable":
        self._check_mutable()
        p = SpatialPred(predicate, geom_wkt, x, y, wkb, distance)
        return self._with(filters=self.spec.filters + (p,))

    def select(self, *cols: str) -> "GeoTable":
        self._check_mutable()
        if self.spec.columns is not None:
            # cascade like GeoMesaProjectRule: new[k] = old[proj[k]]
            missing = [c for c in cols if c not in self.spec.columns]
            if missing:
                raise ValueError(f"columns {missing} not in projected set")
        return self._with(columns=tuple(cols))

    def limit(self, n: int) -> "GeoTable":
        if self.spec.fetch is not None:
            raise ValueError("limit already set (no double-limit pushdown)")
        return self._with(fetch=n)

    def offset(self, n: int) -> "GeoTable":
        if self.spec.offset:
            raise ValueError("offset already set")
        if self.spec.fetch is not None:
            # df() compiles offset BELOW limit; accepting offset after
            # limit would silently reorder the two (review r3 — same
            # no-reorder contract as the other post-limit mutators)
            raise ValueError(
                "offset after limit would reorder semantics; "
                "set offset first"
            )
        return self._with(offset=n)

    def df(self) -> DataFrame:
        """Compile the accumulated spec to a DataFrame."""
        s = self.spec
        cell_col = s.cell_col if self.pushdown else None
        if IcebergTable.is_iceberg_dir(s.path):
            # the table's current snapshot, deletes applied — not its
            # directory as plain parquet (data + delete files + metadata)
            preds = [f for f in s.filters if isinstance(f, SpatialPred)]
            out = _iceberg_read(self.spark, s.path, preds if self.pushdown else [])
            cell_col = None  # _iceberg_read prunes by the table's own layout
        else:
            out = self.spark.read.parquet(s.path)
        for f in s.filters:
            if isinstance(f, SpatialPred):
                out = spatial_filter(
                    out,
                    f.predicate,
                    f.geom_wkt,
                    x=f.x,
                    y=f.y,
                    wkb=f.wkb,
                    distance=f.distance,
                    cell_col=cell_col,
                    data_res=s.data_res,
                )
            else:
                out = out.filter(f)
        if s.columns is not None:
            out = out.select(*s.columns)
        if s.offset:
            out = out.offset(s.offset)
        if s.fetch is not None:
            out = out.limit(s.fetch)
        return out


def _layout_ranges(
    props: dict, segs: list[tuple[float, float]], ylo: float, yhi: float
) -> tuple[str, list[tuple[int, int]]] | None:
    """The ``write_geo_iceberg`` layout's cell column and its id ranges
    covering the box ``segs`` x [ylo, yhi]; None for any other table.
    Z-order ranges come from ``cell_prune_ranges`` at the written
    ``geo.cell.res``. An S2 covering is capped at that level: ranges
    from finer cells exclude the stored ids themselves (advice r4 —
    silent misses on bboxes small relative to the cell size). A box
    past the world edge gets no S2 ranges: S2 wraps an out-of-range
    longitude, so a clamped cover could miss its row."""
    if "geo.cell.res" not in props:
        return None
    res = int(props["geo.cell.res"])
    if props.get("geo.cell.system", "z") != "s2":
        return "cell", [r for lo, hi in segs
                        for r in cell_prune_ranges(lo, ylo, hi, yhi, res)]
    if ylo < -90.0 or yhi > 90.0 or any(lo < -180.0 or hi > 180.0 for lo, hi in segs):
        return None
    from geomesa_sql_spark.cells.s2 import cover_rect_ranges

    return "s2_cell", [r for lo, hi in segs for r in cover_rect_ranges(
        lo, ylo, hi, yhi, max_cells=64, max_level=res)]


def _iceberg_read(spark: SparkSession, path: str, preds: list[SpatialPred]) -> DataFrame:
    """Read an Iceberg table with manifest-level file pruning by the
    spatial predicates' point boxes (``pred_envelope``): each data file
    must overlap the first predicate's range of each x and y column
    and, on a ``write_geo_iceberg`` table whose layout encodes those
    same columns, its cell ranges. The cell ranges also filter rows, so
    row-group pruning works on the cell-sorted files. Predicates over
    WKB rows bound nothing here; ``preds=[]`` plans every file."""
    t = IcebergTable.load(path)
    props = t.metadata.get("properties", {})
    names = {f["name"] for f in t.schema_fields()}
    bounds: dict[str, list] = {}
    cell_col = None
    for p in preds:
        if p.x is None or p.y is None:
            continue
        segs, ylo, yhi = pred_envelope(
            p.predicate.lower(), geom_from_wkt(p.geom_wkt), p.distance)
        want = {p.x: segs, p.y: [(ylo, yhi)]}
        layout = _layout_ranges(props, segs, ylo, yhi) if (p.x, p.y) == (
            props.get("geo.x"), props.get("geo.y")) else None
        if layout is not None:
            cell_col, want[layout[0]] = layout
        for name, ranges in want.items():
            if name in names:  # ANDed predicates: any one of them bounds
                bounds.setdefault(name, ranges)
    out = t.read(spark, bounds=bounds)
    if cell_col in bounds:
        out = out.filter(_ranges_predicate(cell_col, bounds[cell_col]))
    return out

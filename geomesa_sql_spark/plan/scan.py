"""ScanSpec / GeoTable — the pushdown-accumulating table handle.

Mirrors the reference's two-layer scan design:
- ``ScanSpec`` ≈ ``GeoMesaQueryParams`` (GeoMesaQueryParams.scala:27-34):
  the entire pushed-down scan state — filters, projection, offset/fetch.
- ``GeoTable`` ≈ ``GeoMesaLogicalTableScan`` with its cascading
  mutators withFilter/withProject/withLimit
  (nodes/GeoMesaLogicalTableScan.scala:46-96): each call folds another
  pushdown into the spec; ``df()`` compiles the spec to a DataFrame in
  the canonical order scan → cell-prune → filter → project → limit, and
  Catalyst turns the relational parts into parquet-level pushdowns
  (PushedFilters / ReadSchema in .explain()).

The reference guards against pushing onto aggregated/limited scans
(GeoMesaFilterRule.scala:76-78 etc.); here the same invariant is the
builder's method ordering — mutators raise once a limit is set.

The ``scannable`` twin (GeoMesaScannableTable.scala:29-44 — the
no-pushdown correctness oracle) is ``GeoTable(..., pushdown=False)``:
filters run as residual predicates over a full scan with cell pruning
disabled; differential tests compare both paths.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_sql_spark.io.iceberg_meta import IcebergTable
from geomesa_sql_spark.plan.filter import spatial_filter


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


def _table_res(path) -> int | None:
    """Cell resolution the table was WRITTEN with: read the layout
    metadata io.layout.write_geo_table drops next to the data (review
    r3 — a res=8 table scanned with the res-12 default built ranges
    the stored cells could never fall in, silently losing rows).
    Falls back to the shared default when absent. An Iceberg table
    reads ``geo.cell.res`` from its properties; None (no cell pruning)
    when it has none or an S2 layout."""
    import json as _json
    import os as _os

    from geomesa_sql_spark.io.layout import DEFAULT_DATA_RES

    if IcebergTable.is_iceberg_dir(path):
        # write_geo_iceberg keeps the layout in table properties; any
        # other Iceberg table's 'cell' column is not a known layout
        props = IcebergTable.load(path).metadata.get("properties", {})
        if props.get("geo.cell.system", "z") != "z" or "geo.cell.res" not in props:
            return None
        return int(props["geo.cell.res"])
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
        if IcebergTable.is_iceberg_dir(s.path):
            # the table's current snapshot, deletes applied — not its
            # directory as plain parquet (data + delete files + metadata)
            out = IcebergTable.load(s.path).read(self.spark)
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
                    cell_col=s.cell_col if self.pushdown else None,
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

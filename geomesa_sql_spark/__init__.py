"""geomesa_sql_spark — a PySpark-native spatial SQL + tiling engine.

A from-scratch re-expression of the query surface of
``bxkftechteam/geomesa-sql`` (an Apache Calcite adapter for GeoMesa
DataStores, see /root/reference) in idiomatic PySpark:

- DataFrame/SQL declarative plans; Catalyst does relational pushdown
  (filters, column pruning, limits) for free
  (reference: rules/GeoMesaFilterRule.scala, GeoMesaProjectRule.scala,
  GeoMesaLimitRule.scala — all re-expressed as plain DataFrame ops).
- Spatial predicates (ST_Contains/Within/Intersects/... , ST_DWithin)
  are evaluated by vectorized numpy kernels over WKB columns wrapped in
  pandas/Arrow UDFs (reference: Calcite's fun=spatial operator table,
  enabled at jdbc/Driver.scala:51-56).
- The spatial join (reference: nodes/EnumerableSpatialJoin.scala, an
  in-memory STRtree nested-loop) becomes a distributed cell-partitioned
  hash join: Hilbert/Z-order cell encoding → explode → broadcast or
  repartition-by-cell → vectorized refine → reference-point dedup.
- Tile assignment (Z-order/Hilbert) for raster↔vector handoff.
- Per-partition checkpoint manifests for resumable batch.

Nothing here links against the reference; geometry, cells and codecs are
pure numpy/stdlib (no shapely/h3/sedona in the environment).
"""

from geomesa_sql_spark import _zipcache  # noqa: F401  (per-task zip re-read, see module)
from geomesa_sql_spark.session import get_spark  # noqa: F401


def engine(spark=None, **kw):
    """Convenience: build an Engine (lazy import keeps bare
    ``import geomesa_sql_spark`` cheap)."""
    from geomesa_sql_spark.engine import Engine

    return Engine(spark or get_spark(), **kw)


__version__ = "0.1.0"

"""Geo table layout: the ingest-time analog of GeoMesa's Z-index.

The reference relies on GeoMesa writing features into Z2/XZ2-indexed
key space so pushed-down spatial filters become index range scans. Our
analog (SURVEY.md §7.1 step 3): every geo table gets a ``cell`` int64
Z-order column at a fixed ``data_res``; files are range-partitioned and
sorted by ``cell``, so
- parquet footer min/max stats on ``cell`` make the cell-range
  predicates from ``plan.filter`` prune row groups and whole files,
- a join repartitioned by coarse cell reads mostly-local data.

At Iceberg scale the same layout is ``PARTITIONED BY (bucket/truncate
(cell))`` + sorted writes; the DataFrame code is identical (TableIO
seam per SURVEY.md §1 — parquet locally, Iceberg when the runtime jar
is present).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_sql_spark.cells.column import zorder_cell_col

DEFAULT_DATA_RES = 12


def add_cell(
    df: DataFrame, x: str = "lon", y: str = "lat", res: int = DEFAULT_DATA_RES,
    col: str = "cell",
) -> DataFrame:
    """Add the Z-order ``cell`` column from lon/lat columns (JVM-side,
    whole-stage codegen — cells/column.py)."""
    return df.withColumn(col, zorder_cell_col(x, y, res))


def write_geo_table(
    df: DataFrame,
    path: str,
    x: str = "lon",
    y: str = "lat",
    res: int = DEFAULT_DATA_RES,
    partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a parquet geo table clustered by Z-order cell.

    ``repartitionByRange(cell)`` gives each output file a tight cell
    range (→ file-level pruning); ``sortWithinPartitions`` gives tight
    row-group stats within files (→ row-group pruning).
    """
    if "cell" in df.columns:
        raise ValueError(
            "df already carries a 'cell' column — write_geo_table cannot "
            "know what res it was encoded with, and recording the wrong "
            "res makes the pushdown scan silently drop every row (review "
            "r3b). Drop the column and let write_geo_table encode at "
            "`res`, or write with plain df.write.parquet and author "
            "_GEO_META.json yourself."
        )
    out = add_cell(df, x, y, res)
    n = partitions or out.sparkSession.sparkContext.defaultParallelism
    (
        out.repartitionByRange(n, F.col("cell"))
        .sortWithinPartitions("cell")
        .write.mode(mode)
        .parquet(path)
    )
    # record the layout res so scans prune at the resolution the cells
    # were actually encoded with (review r3; plan/scan.py reads this)
    import json as _json

    with open(f"{path.rstrip('/')}/_GEO_META.json", "w") as f:
        _json.dump({"res": int(res), "x": x, "y": y}, f)


def write_tiled(
    df: DataFrame,
    path: str,
    zoom: int = 4,
    x: str = "lon",
    y: str = "lat",
    mode: str = "overwrite",
    res: int = DEFAULT_DATA_RES,
) -> None:
    """Write a table PARTITIONED BY coarse tile (hive-style directories)
    — the raster↔vector handoff layout: a tile server (or a downstream
    raster stage) reads exactly the tile directories it touches, and a
    bbox query prunes at the PARTITION level before parquet footers are
    even opened (Spark partition pruning: `PartitionFilters` in explain).

    ``tile_p`` is tile_y·2^zoom + tile_x at the coarse ``zoom`` (default
    4 → ≤256 directories; at 100 TB pick zoom so a partition is
    ~10-100 GB). Within each partition, rows cluster by the fine Z-order
    ``cell`` (row-group pruning inside a tile, same as write_geo_table).
    """
    from geomesa_sql_spark.tiles import assign_tiles

    if "cell" in df.columns:
        # same r3b rule as write_geo_table: silently trusting a
        # pre-existing cell of unknown res makes plan/filter emit
        # res-12 range predicates against differently-scaled values —
        # pruning then silently DROPS matching rows (review r4o)
        raise ValueError(
            "df already carries a 'cell' column — drop it and let "
            "write_tiled encode at `res` (same rule as write_geo_table)"
        )
    n = 1 << zoom
    out = add_cell(df, x, y, res)
    out = (
        assign_tiles(out, zoom=zoom, x=x, y=y, with_hilbert=False)
        .withColumn("tile_p", F.col("tile_y") * n + F.col("tile_x"))
        .drop("tile_x", "tile_y")
    )
    (
        out.repartition(F.col("tile_p"))
        # sort by (tile_p, cell): a partitioned write REQUIRES ordering
        # on the partition column — sorting by cell alone made Spark
        # inject its own SortExec(tile_p) AFTER ours, destroying the
        # cell clustering inside each tile directory (review r4o);
        # leading with tile_p satisfies the required ordering so the
        # cell order survives into the row groups
        .sortWithinPartitions("tile_p", "cell")
        .write.mode(mode)
        .partitionBy("tile_p")
        .parquet(path)
    )
    import json as _json

    # record the encode res like write_geo_table (plan/scan reads it)
    with open(f"{path.rstrip('/')}/_GEO_META.json", "w") as f:
        _json.dump({"res": int(res), "x": x, "y": y}, f)


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    key: str,
    buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> DataFrame:
    """Bucketed layout: pay the shuffle ONCE at write time, then every
    equi-join or aggregation on ``key`` between same-bucketed tables
    plans with NO Exchange (Spark reads bucket files as pre-hashed
    partitions; ``sortBy`` keeps row groups key-clustered for stats
    pruning — Spark still re-sorts under a sort-merge join, since a
    bucket spanning several files has no global order, but that sort is
    per-partition and spill-free, not a shuffle). This is the persisted
    analog of the reference's
    attribute-index lookup join (GeoMesaIndexLookupJoinRule.scala:30-82
    — keys pre-organized in the store so the join never re-shuffles the
    big side): at 100 TB, fact tables keyed by ``image_id`` that are
    joined repeatedly — metadata enrich, dedup-group join-back, caption
    refresh — should live bucketed so only the delta side ever moves.

    Registers ``name`` in the session catalog (bucket metadata lives
    there, not in parquet); with the default in-memory catalog the
    registration lasts the session — re-register on a new session, or
    back the catalog with a metastore/Iceberg for durability. Returns
    the registered table's DataFrame.

    Both join sides must use the SAME bucket count (or a multiple, with
    ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``) and the join
    key must be the bucket key.
    """
    w = df.write.mode(mode).format("parquet").option("path", path)
    w = w.bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(name)
    return df.sparkSession.table(name)


def tile_partition_filter(
    minx: float, miny: float, maxx: float, maxy: float, zoom: int = 4
):
    """Partition-pruning predicate for a bbox over a write_tiled table:
    ``tile_p IN (covered coarse tiles)`` — a pure partition-column
    filter, so Spark prunes directories at planning time."""
    import numpy as np

    if minx > maxx or miny > maxy:
        raise ValueError(
            "tile_partition_filter: inverted bbox (antimeridian wrap is "
            "not supported — split the query into two bboxes)"
        )
    n = 1 << zoom
    tx0 = int(max(0, min(n - 1, np.floor((minx + 180.0) / 360.0 * n))))
    tx1 = int(max(0, min(n - 1, np.floor((maxx + 180.0) / 360.0 * n))))
    # tile_y grows north→south (slippy): maxy → smallest row
    ty0 = int(max(0, min(n - 1, np.floor((90.0 - maxy) / 180.0 * n))))
    ty1 = int(max(0, min(n - 1, np.floor((90.0 - miny) / 180.0 * n))))
    tiles = [
        ty * n + tx for ty in range(ty0, ty1 + 1) for tx in range(tx0, tx1 + 1)
    ]
    return F.col("tile_p").isin(tiles)

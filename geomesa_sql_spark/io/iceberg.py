"""Iceberg seam — same DataFrame code over an Iceberg catalog.

The graft input is specified as Iceberg tables (BASELINE.json
input_hint). Without the Iceberg runtime jar, an on-disk Iceberg table
directory is read by the engine's own format reader,
``io/iceberg_meta.IcebergTable.read`` (snapshots, manifest-bounds file
pruning, merge-on-read deletes); with the jar, a catalog identifier
reads through Spark's catalog — the ``TableIO`` seam of SURVEY.md
§1/§7. Nothing else in the engine changes: `GeoTable`, DML, layout and
the joins all operate on DataFrames. A bbox read with file pruning is
``plan/scan.GeoTable(...).where_spatial(...)``.

Production configuration (documented, import-try gated here):

    get_spark(extra_conf={
        "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.lake.type": "rest",         # or hive/hadoop
        "spark.sql.catalog.lake.uri": "...",
        "spark.jars.packages":
            "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>",
    })

Mapping of engine concepts onto Iceberg when active:
- ``write_geo_table`` layout  → ``ALTER TABLE ... WRITE ORDERED BY cell``
  (+ ``PARTITIONED BY truncate(cell, 1<<2k)``): identical row-group
  pruning semantics, plus manifest-level file pruning.
- ``IcebergDmlTable`` verbs   → the catalog's ``INSERT INTO``,
  ``MERGE INTO``/``DELETE FROM`` (copy-on-write or merge-on-read),
  ``VERSION AS OF`` time travel; locally the same verbs commit
  snapshots of an on-disk Iceberg dir (``io/iceberg_meta.py``).
- ``io.stats`` footer fast path → Iceberg manifests carry the same
  per-file column bounds; ``snapshot.summary['total-records']``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog is reachable on this session."""
    try:
        # py4j resolves packages lazily, so touching the attribute is
        # not enough — force real classloading
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(
    spark: SparkSession, name_or_path: str, **iceberg_kwargs
) -> DataFrame:
    """Catalog identifier (``cat.db.tbl``) when the Iceberg jar is
    active and the name is not a filesystem path; an on-disk Iceberg
    table directory through the from-scratch pure-Python format reader
    (``io/iceberg_meta.py`` — snapshot time travel via
    ``snapshot_id=``/``as_of_ms=``, manifest-bounds file pruning via
    ``bounds=``, v2 merge-on-read deletes applied); bare parquet path
    otherwise."""
    looks_like_path = "/" in name_or_path
    if not looks_like_path and iceberg_available(spark):
        if iceberg_kwargs:
            # spark.read.table cannot honor snapshot_id/as_of_ms/bounds
            # — silently returning current/full data would make a
            # time-travel query read the wrong snapshot (review r4m)
            raise ValueError(
                "read_table(catalog identifier): "
                f"{sorted(iceberg_kwargs)} are only supported for "
                "on-disk Iceberg table dirs; use SQL time-travel "
                "(VERSION AS OF) through the catalog instead"
            )
        return spark.read.table(name_or_path)
    from geomesa_sql_spark.io.iceberg_meta import IcebergTable

    if IcebergTable.is_iceberg_dir(name_or_path):
        return IcebergTable.load(name_or_path).read(spark, **iceberg_kwargs)
    if iceberg_kwargs:
        raise ValueError(
            f"read_table: {name_or_path!r} is not an Iceberg table dir — "
            f"{sorted(iceberg_kwargs)} cannot apply to bare parquet"
        )
    return spark.read.parquet(name_or_path)


def write_geo_iceberg(
    df: DataFrame,
    path: str,
    x: str = "lon",
    y: str = "lat",
    res: int = 12,
    partitions: int | None = None,
    cell_system: str = "z",
):
    """Cell-clustered Iceberg table: the GeoMesa-Z-index analog of
    ``io/layout.write_geo_table``, persisted as a real Iceberg v2
    table.

    The cell column is added, files are range-partitioned + sorted by
    it, so every data file gets a TIGHT cell range in its manifest
    entry — a bbox query (``GeoTable(spark, path).where_spatial(...)``)
    then prunes at the MANIFEST level, before any file footer (or even
    file listing) is touched. At 100 TB that means a spatial query's
    planning cost scales with files *matched*, not files *stored*;
    row-group pruning inside the surviving files still applies via the
    same sorted cell parquet stats. Layout metadata rides in table
    properties (the Iceberg home of `_GEO_META.json`).

    ``cell_system``: ``"z"`` (default) — the equirect Z-order ``cell``
    column, added JVM-side (cells/column.py); ``"s2"`` — the canonical
    S2 grid (cells/s2.py) at level ``res``, sphere-uniform cell areas
    (the right layout for polar/global imagery; Arrow-batched encode —
    a LAYOUT column evaluated once at write, so the UDF-join-key rule
    doesn't bite)."""
    from geomesa_sql_spark.io import iceberg_meta
    from geomesa_sql_spark.io.layout import add_cell

    cell_col = "cell" if cell_system == "z" else "s2_cell"
    if cell_col in df.columns:
        raise ValueError(
            f"df already carries a {cell_col!r} column — drop it and let "
            "write_geo_iceberg encode at `res` (same rule as "
            "write_geo_table, review r3b)"
        )
    if cell_system == "z":
        out = add_cell(df, x, y, res)
    elif cell_system == "s2":
        from geomesa_sql_spark.tiles import assign_s2_cells

        out = assign_s2_cells(df, level=res, x=x, y=y, out="s2_cell")
    else:
        raise ValueError(f"unknown cell_system {cell_system!r} (z|s2)")
    n = partitions or out.sparkSession.sparkContext.defaultParallelism
    from pyspark.sql import functions as F

    clustered = out.repartitionByRange(
        n, F.col(cell_col)
    ).sortWithinPartitions(cell_col)
    return iceberg_meta.create_table(
        clustered,
        path,
        properties={
            "geo.cell.res": str(res),
            "geo.x": x,
            "geo.y": y,
            "geo.cell.system": cell_system,
        },
    )

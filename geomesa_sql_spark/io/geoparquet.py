"""GeoParquet interop (OGC GeoParquet spec v1.0.0, public).

GeoParquet marks a parquet file as spatial with a ``geo`` JSON entry in
the footer's key-value metadata::

    {"version": "1.0.0", "primary_column": "<col>",
     "columns": {"<col>": {"encoding": "WKB",
                           "geometry_types": ["Polygon", ...],
                           "bbox": [minx, miny, maxx, maxy]}}}

This engine already carries geometry as WKB ``BinaryType`` columns
(geom/model.py), so interop is pure metadata — no payload transcoding.
The reference has no GeoParquet surface (GeoMesa's stores are
key-value); this closes the gap a migrating user hits first when their
downstream tools (GDAL/ogr2ogr, GeoPandas, DuckDB spatial, Sedona)
expect the standard marker.

Scale shape:
- WRITE: Spark writes the data files normally, then the footer
  metadata is attached in a second distributed pass — one task per
  file, each rewriting its ONE file with pyarrow (no shuffle, no
  driver collect). The per-file ``bbox`` and ``geometry_types`` are
  computed from that file's own rows in the same pass, so the standard
  metadata doubles as file-level pruning stats.
- READ: the ``geo`` entry is parsed from ONE footer on the driver
  (footer-only read); an optional query bbox prunes whole files by
  their footer bbox before Spark ever plans the scan — the GeoParquet
  analog of the Z-order row-group pruning in io/layout.py.

CRS: omitted on write per spec default (OGC:CRS84, lon/lat) — matching
the engine's 4326 convention (SURVEY.md §1.2).
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

GEO_VERSION = "1.0.0"
GEO_COVERING_VERSION = "1.1.0"  # covering (bbox column) is a 1.1 feature
_GEO_KEY = b"geo"


def _attach_geo_footer(file_path: str, geometry: str, covering: str | None = None) -> tuple:
    """Rewrite ONE parquet file with the ``geo`` footer entry added.

    Runs on an executor: reads the file, scans the geometry column once
    for bbox + geometry_types, rewrites via a per-attempt temp file +
    atomic os.replace (a killed task leaves the original file intact;
    a speculative duplicate attempt writes its own temp, so the last
    replace still installs a COMPLETE file). Files already carrying a
    ``geo`` footer are skipped — parquet data files are immutable, so
    their recorded bbox/types stay valid and appends stay O(new files),
    not O(table). Existing footer metadata (Spark's row metadata) and
    the original compression codec are preserved.
    """
    import tempfile

    import pyarrow.parquet as pq

    from geomesa_sql_spark.geom.wkb import geom_from_wkb

    # pass 1 (column-pruned): bbox + geometry_types. Footer key-value
    # metadata is part of the schema a ParquetWriter is constructed
    # with, so it must be known before the copy starts.
    pf = pq.ParquetFile(file_path)
    if _GEO_KEY in (pf.schema_arrow.metadata or {}):
        geo = json.loads((pf.schema_arrow.metadata)[_GEO_KEY])
        col = geo["columns"].get(geo["primary_column"], {})
        return (file_path, col.get("bbox"), col.get("geometry_types"))
    minx = miny = float("inf")
    maxx = maxy = float("-inf")
    gtypes: set[str] = set()
    for batch in pf.iter_batches(columns=[geometry]):
        for buf in batch.column(0):
            b = buf.as_py()
            if b is None:
                continue
            g = geom_from_wkb(bytes(b))
            gtypes.add(g.type)
            x0, y0, x1, y1 = g.envelope()
            if x0 == x0:  # skip empty-geometry NaN envelopes
                minx, miny = min(minx, x0), min(miny, y0)
                maxx, maxy = max(maxx, x1), max(maxy, y1)
    bbox = [minx, miny, maxx, maxy] if minx <= maxx else None
    col_meta = {"encoding": "WKB", "geometry_types": sorted(gtypes)}
    if bbox is not None:
        col_meta["bbox"] = bbox
    if covering is not None and covering in pf.schema_arrow.names:
        # GeoParquet 1.1 covering: point readers at the per-row bbox
        # struct so they can prune ROW GROUPS from parquet column stats
        col_meta["covering"] = {
            "bbox": {
                "xmin": [covering, "xmin"],
                "ymin": [covering, "ymin"],
                "xmax": [covering, "xmax"],
                "ymax": [covering, "ymax"],
            }
        }
    geo = {
        "version": GEO_COVERING_VERSION if "covering" in col_meta else GEO_VERSION,
        "primary_column": geometry,
        "columns": {geometry: col_meta},
    }
    schema = pf.schema_arrow
    existing = dict(schema.metadata or {})
    existing[_GEO_KEY] = json.dumps(geo).encode()
    schema = schema.with_metadata(existing)
    # keep whatever codec the session's parquet writer used (a zstd
    # table must not silently grow back into snappy)
    codec = "snappy"
    if pf.metadata.num_row_groups:
        codec = pf.metadata.row_group(0).column(0).compression.lower()
        if codec == "uncompressed":
            codec = "none"
    # pass 2: row-group-wise copy that PRESERVES the original row-group
    # boundaries — they carry the min/max stats granularity the writer
    # chose (and the covering column's row-group pruning depends on).
    # A row group of large binary payloads can decompress to several GB
    # (total_byte_size is the decompressed footprint), so groups past
    # the cap stream batch-wise instead: that SPLITS the oversized
    # group into smaller ones, which only tightens stats granularity
    # (pruning stays correct), and bounds peak memory either way.
    _RG_BYTES_CAP = 256 << 20
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(file_path),
        prefix=f".{os.path.basename(file_path)}.",
        suffix=".geo.tmp",
    )
    os.close(fd)
    try:
        with pq.ParquetWriter(tmp, schema, compression=codec) as w:
            plain = schema.remove_metadata()
            for rg in range(pf.metadata.num_row_groups):
                if pf.metadata.row_group(rg).total_byte_size <= _RG_BYTES_CAP:
                    w.write_table(pf.read_row_group(rg).cast(plain))
                else:
                    for batch in pf.iter_batches(row_groups=[rg]):
                        w.write_batch(batch.cast(plain))
        os.replace(tmp, file_path)
    finally:
        if os.path.exists(tmp):  # failed attempt: leave the original
            os.remove(tmp)
    # Hadoop's LocalFileSystem keeps a .<name>.crc sidecar from the
    # Spark write; it no longer matches the rewritten bytes and would
    # fail every subsequent Spark read with ChecksumException
    crc = os.path.join(
        os.path.dirname(file_path), f".{os.path.basename(file_path)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    return (file_path, bbox, sorted(gtypes))


def _data_files(path: str) -> list[str]:
    """All parquet data files under ``path``, including hive-style
    partition subdirectories (write_tiled layouts)."""
    files: list[str] = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        files.extend(
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    if not files:
        raise ValueError(f"no parquet data files under {path}")
    return sorted(files)


def write_geoparquet(
    df: DataFrame,
    path: str,
    geometry: str = "geom",
    mode: str = "overwrite",
    cluster: bool = False,
    partitions: int | None = None,
    covering: bool | str = True,
) -> None:
    """Write ``df`` as GeoParquet: plain distributed parquet write, then
    a distributed one-task-per-file footer pass (see module doc).

    ``cluster=True`` range-partitions rows by a Z-order cell of each
    geometry's envelope centroid before writing (the WKB analog of
    io/layout.write_geo_table). Spatially-random partitioning gives
    every file a world-spanning footer bbox — standard-metadata bbox
    pruning then prunes nothing; clustered files carry tight disjoint
    bboxes, so foreign GeoParquet readers (and ``read_geoparquet``'s
    bbox argument) skip most of a large table at file granularity.
    NULL-geometry rows sort together under cell NULL and stay readable.

    ``covering`` (default on; pass a string for a custom column name,
    False to disable) adds the GeoParquet 1.1 per-row bbox struct
    column (xmin/ymin/xmax/ymax doubles) and declares it in the footer
    ``covering`` entry. Parquet min/max column stats over those fields
    are what let ANY reader — this engine's ``read_geoparquet(bbox=...)``,
    DuckDB spatial, GDAL — skip whole ROW GROUPS inside multi-GB files,
    the pruning lever at 100 TB (file-level footer bboxes only skip
    whole files). Costs one envelope pass per batch, fused with the
    write. With ``cluster=True`` the sorted layout makes those
    per-row-group bboxes tight.
    """
    if geometry not in df.columns:
        raise ValueError(f"write_geoparquet: no column {geometry!r} in df")
    if dict(df.dtypes)[geometry] != "binary":
        raise ValueError(
            f"write_geoparquet: {geometry!r} must be a WKB BinaryType "
            "column (use ST_AsBinary / geom_to_wkb)"
        )
    cov_col: str | None = None
    if covering:
        cov_col = covering if isinstance(covering, str) else "bbox"
        if cov_col in df.columns:
            raise ValueError(
                f"write_geoparquet: covering column {cov_col!r} already "
                "exists — pass covering='<other name>' or covering=False"
            )
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        _bbox_schema = T.StructType(
            [
                T.StructField("xmin", T.DoubleType()),
                T.StructField("ymin", T.DoubleType()),
                T.StructField("xmax", T.DoubleType()),
                T.StructField("ymax", T.DoubleType()),
            ]
        )

        @F.pandas_udf(_bbox_schema)
        def _envelope(wkb: pd.Series) -> pd.DataFrame:
            import numpy as np

            from geomesa_sql_spark.geom.wkb import geom_from_wkb

            out = np.full((len(wkb), 4), np.nan)
            for i, b in enumerate(wkb):
                if b is None:
                    continue
                env = geom_from_wkb(bytes(b)).envelope()
                if env[0] == env[0]:  # empty geometry → NaN → null struct
                    out[i] = env
            pdf = pd.DataFrame(out, columns=["xmin", "ymin", "xmax", "ymax"])
            return pdf.where(pd.notna(pdf), None)

        df = df.withColumn(cov_col, _envelope(geometry))
    if cluster:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        n = partitions or df.sparkSession.sparkContext.defaultParallelism
        if covering:
            # the covering struct already holds every envelope — derive
            # the layout cell JVM-side from its center instead of a
            # second full WKB-decode UDF (review r4o: the old twin UDF
            # decoded every geometry again, and repartitionByRange's
            # sampling pass re-executed it a third time; a Column expr
            # makes that sampling re-evaluation a cheap JVM eval)
            from geomesa_sql_spark.cells.column import col_sql, zorder_cell_sql

            lo_hi = [col_sql(f"{cov_col}.{k}") for k in ("xmin", "xmax", "ymin", "ymax")]
            cell_expr = F.expr(zorder_cell_sql(
                f"({lo_hi[0]} + {lo_hi[1]}) / 2.0D", f"({lo_hi[2]} + {lo_hi[3]}) / 2.0D", 12
            ))
        else:
            from geomesa_sql_spark.cells.curve import lonlat_to_cell

            @F.pandas_udf(T.LongType())
            def _centroid_cell(wkb: pd.Series) -> pd.Series:
                import numpy as np

                from geomesa_sql_spark.geom.wkb import geom_from_wkb

                xs = np.full(len(wkb), np.nan)
                ys = np.full(len(wkb), np.nan)
                for i, b in enumerate(wkb):
                    if b is None:
                        continue
                    x0, y0, x1, y1 = geom_from_wkb(bytes(b)).envelope()
                    if x0 == x0:
                        xs[i] = (x0 + x1) / 2.0
                        ys[i] = (y0 + y1) / 2.0
                ok = ~np.isnan(xs)
                cells = np.zeros(len(wkb), dtype=np.int64)
                if ok.any():
                    cells[ok] = lonlat_to_cell(xs[ok], ys[ok], 12)
                return pd.Series(pd.array(cells, dtype="Int64")).mask(~ok)

            cell_expr = _centroid_cell(geometry)
        df = (
            df.withColumn("__gp_cell", cell_expr)
            .repartitionByRange(n, "__gp_cell")
            .sortWithinPartitions("__gp_cell")
            .drop("__gp_cell")
        )
    df.write.mode(mode).parquet(path)
    files = _data_files(path)
    sc = df.sparkSession.sparkContext
    # one partition per file: each executor rewrites only files local
    # to its task. LOCAL/shared-filesystem only: the footer-attach
    # rewrite uses os-level temp+rename — an object-store (s3://)
    # deployment needs a pyarrow.fs port of _attach_geo_footer
    # (documented limitation, review r4o)
    results = (
        sc.parallelize(files, len(files))
        .map(lambda f: _attach_geo_footer(f, geometry, cov_col))
        .collect()  # tiny: (path, bbox, types) per FILE, not per row
    )
    if len(results) != len(files):  # pragma: no cover - job-level guard
        raise RuntimeError("geo footer pass did not cover every file")


def geoparquet_meta(path: str) -> dict:
    """Parse the ``geo`` footer entry (footer-only read of one file)."""
    import pyarrow.parquet as pq

    f = _data_files(path)[0]
    md = pq.ParquetFile(f).schema_arrow.metadata or {}
    if _GEO_KEY not in md:
        raise ValueError(f"{path} is not GeoParquet (no 'geo' footer key)")
    return json.loads(md[_GEO_KEY])


def read_geoparquet(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float] | None = None,
) -> tuple[DataFrame, dict]:
    """Read a GeoParquet table → (DataFrame, geo metadata).

    With ``bbox=(minx, miny, maxx, maxy)``, whole files whose footer
    bbox is disjoint from the query bbox are dropped from the scan at
    planning time (footer-only reads on the driver — the same cost the
    parquet reader already pays for schema discovery). If the table
    declares a GeoParquet 1.1 ``covering`` bbox column, an
    interval-overlap filter on its fields is ALSO applied — Catalyst
    pushes those comparisons into the parquet reader, whose min/max
    column stats then skip non-overlapping ROW GROUPS inside each kept
    file (the pruning lever for multi-GB files; mirror of the cell
    layout's prune in io/layout.py). The covering filter is exact on
    envelopes, a superset of any intersects-family predicate — callers
    still apply the precise geometry predicate; rows with a null bbox
    (null/empty geometry) are retained.
    """
    import pyarrow.parquet as pq

    meta = geoparquet_meta(path)
    files = _data_files(path)
    if bbox is not None:
        qx0, qy0, qx1, qy1 = bbox
        col = meta["primary_column"]
        keep = []
        for f in files:
            md = pq.ParquetFile(f).schema_arrow.metadata or {}
            fb = (
                json.loads(md[_GEO_KEY])["columns"].get(col, {}).get("bbox")
                if _GEO_KEY in md
                else None
            )
            if (
                fb is None
                or fb[0] > fb[2]  # spec-legal antimeridian wrap: never prune
                or not (fb[2] < qx0 or fb[0] > qx1 or fb[3] < qy0 or fb[1] > qy1)
            ):
                keep.append(f)
        files = keep
    if not files:
        # preserve the schema for an empty result
        return spark.read.parquet(path).limit(0), meta
    # basePath keeps hive partition columns (write_tiled layouts) when
    # reading an explicit pruned file list
    out = spark.read.option("basePath", path).parquet(*files)
    if bbox is not None:
        cov = meta["columns"].get(meta["primary_column"], {}).get("covering")
        if cov and "bbox" in cov:
            from pyspark.sql import functions as F

            def _f(part: str) -> F.Column:
                return F.col(".".join(f"`{p}`" for p in cov["bbox"][part]))

            qx0, qy0, qx1, qy1 = bbox
            overlap = (
                (_f("xmin") <= qx1)
                & (_f("xmax") >= qx0)
                & (_f("ymin") <= qy1)
                & (_f("ymax") >= qy0)
            )
            # null covering (null/empty geometry) rows are retained —
            # exact predicates downstream decide their fate
            out = out.filter(overlap | _f("xmin").isNull())
    return out, meta

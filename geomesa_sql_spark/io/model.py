"""Calcite-model-file analog: declarative multi-schema catalogs.

The reference wires catalogs two ways (README.md:151-172,
geomesa-sql-core/src/test/resources/model-csv.yaml): a Calcite model
file (YAML/JSON) listing schemas — each either a DataStore-backed
custom schema whose tables are discovered, or an explicit table list
(the CSV test model) — with ``defaultSchema`` naming the one bare
table references resolve against; ``geomesa-sqlline -m model.yaml``
loads it at connect time.

Spark-first translation (no Calcite, no JDBC):

- the **default schema**'s tables register on the :class:`Engine`
  (temp views + router catalog), so bare names get the full SQL-text
  spatial planner;
- **other schemas** become real Spark databases in the session
  catalog, each table an EXTERNAL table (``CREATE TABLE .. USING
  <format> OPTIONS (path ..)``) — zero data copy, scans get the same
  parquet pushdown, and queries address them as ``schema.table``
  exactly like Calcite's qualified references;
- a schema's table set is *discovered* from a directory operand
  (``dir:`` — every ``<name>.parquet`` inside, the DataStore-discovery
  analog of GeoMesaSchema.scala:38-50) and/or declared inline
  (``tables:`` with a per-table ``file`` operand — the model-csv.yaml
  shape; ``.csv`` files read with header+schema inference).

Relative operand paths resolve against the model file's directory,
matching Calcite's file-adapter behavior.
"""

from __future__ import annotations

import json
import logging
import os
import re
from dataclasses import dataclass, field

from geomesa_sql_spark.io.iceberg_meta import IcebergTable

_LOG = logging.getLogger(__name__)

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


@dataclass
class TableSpec:
    name: str
    path: str
    fmt: str  # 'parquet' | 'csv' | 'iceberg' | 'geojsonl'


@dataclass
class SchemaSpec:
    name: str
    tables: list[TableSpec] = field(default_factory=list)


@dataclass
class ModelSpec:
    default_schema: str | None
    schemas: list[SchemaSpec]


# only unambiguous extensions are auto-claimed: a generic .jsonl/.ndjson
# may be plain (non-spatial) NDJSON, and parsing that as GeoJSON would
# silently produce an all-NULL table (review r3c) — declare those
# explicitly with `operand: {file: .., format: geojsonl}`
_GEOJSONL_EXTS = (".geojsonl", ".geojsons")


def _table_format(path: str) -> str:
    if os.path.isdir(path):
        # an on-disk Iceberg table dir vs a plain parquet directory
        return "iceberg" if IcebergTable.is_iceberg_dir(path) else "parquet"
    if path.endswith(".csv"):
        return "csv"
    if path.endswith(_GEOJSONL_EXTS):
        return "geojsonl"
    return "parquet"


def _check_name(name: str, what: str) -> str:
    # names are interpolated into CREATE DATABASE/TABLE statements —
    # restrict to identifier characters rather than trying to quote
    if not _NAME_RE.match(name or ""):
        raise ValueError(f"model {what} name {name!r} is not a plain identifier")
    return name


def load_model(path: str) -> ModelSpec:
    """Parse a Calcite-style model file (YAML or JSON by extension).

    Recognized keys: ``defaultSchema``; ``schemas`` (list) each with
    ``name``, optional ``operand.dir`` (discover ``*.parquet``),
    optional ``tables`` (list of ``{name, operand: {file|path}}``).
    Unknown keys (``version``, ``type``, ``factory``, DataStore params)
    are ignored — the model shape stays drop-in compatible with the
    reference's files, which carry Calcite factory class names we have
    no use for.
    """
    with open(path) as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml

        doc = yaml.safe_load(text)
    else:
        doc = json.loads(text)
    if not isinstance(doc, dict) or not isinstance(doc.get("schemas"), list):
        raise ValueError(f"model file {path!r} has no 'schemas' list")
    base = os.path.dirname(os.path.abspath(path))

    def _resolve(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(base, p)

    schemas: list[SchemaSpec] = []
    for s in doc["schemas"]:
        name = _check_name(s.get("name"), "schema")
        spec = SchemaSpec(name=name)
        operand = s.get("operand") or {}
        if "dir" in operand:
            d = _resolve(operand["dir"])
            if not os.path.isdir(d):
                raise ValueError(f"schema {name!r}: dir operand {d!r} is not a directory")
            for fn in sorted(os.listdir(d)):
                stem, ext = os.path.splitext(fn)
                if ext in (".parquet", *_GEOJSONL_EXTS) and _NAME_RE.match(stem):
                    p = os.path.join(d, fn)
                    spec.tables.append(TableSpec(stem, p, _table_format(p)))
        for t in s.get("tables") or []:
            tname = _check_name(t.get("name"), "table")
            top = t.get("operand") or {}
            p = top.get("file") or top.get("path")
            if not p:
                raise ValueError(f"table {name}.{tname}: no file/path operand")
            p = _resolve(p)
            fmt = top.get("format") or _table_format(p)
            if fmt not in ("parquet", "csv", "iceberg", "geojsonl"):
                raise ValueError(
                    f"table {name}.{tname}: unknown format {fmt!r}"
                )
            spec.tables.append(TableSpec(tname, p, fmt))
        seen: set[str] = set()
        for t in spec.tables:
            if t.name in seen:
                raise ValueError(f"schema {name!r} declares table {t.name!r} twice")
            seen.add(t.name)
        schemas.append(spec)
    if len({s.name for s in schemas}) != len(schemas):
        raise ValueError("duplicate schema names in model")
    default = doc.get("defaultSchema")
    if default is not None and default not in {s.name for s in schemas}:
        raise ValueError(f"defaultSchema {default!r} not among schemas")
    return ModelSpec(default_schema=default, schemas=schemas)


def apply_model(engine, path: str) -> ModelSpec:
    """Wire a model file into an Engine + its Spark session.

    Default-schema tables register on the engine (bare names, full
    router support; Iceberg tables keep their DML surface). Other
    schemas become Spark databases of external tables; Iceberg dirs
    there are rejected (a parquet external table over one would read
    its data files without the snapshot's manifests and deletes —
    register them in the default schema).
    Re-applying a model replaces prior definitions (CREATE OR REPLACE
    semantics via drop-first).
    """
    spec = load_model(path)
    spark = engine.spark
    default = spec.default_schema or (spec.schemas[0].name if spec.schemas else None)
    for schema in spec.schemas:
        if schema.name == default:
            for t in schema.tables:
                if t.fmt == "csv":
                    df = spark.read.csv(t.path, header=True, inferSchema=True)
                    engine.register_view(t.name, df)
                elif t.fmt == "geojsonl":
                    from geomesa_sql_spark.io.geojson import read_geojsonl

                    engine.register_view(t.name, read_geojsonl(spark, t.path))
                else:  # parquet or iceberg — Engine._read dispatches
                    engine.register_table(t.name, t.path)
            continue
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema.name}")
        for t in schema.tables:
            if t.fmt in ("iceberg", "geojsonl"):
                raise ValueError(
                    f"{schema.name}.{t.name}: {t.fmt} tables are only "
                    "supported in the default schema (they need the "
                    "Engine's reader, not a catalog external table)"
                )
            spark.sql(f"DROP TABLE IF EXISTS {schema.name}.{t.name}")
            # names are identifier-checked upstream; paths are free-form,
            # so escape embedded single quotes SQL-style
            opts = "path '{}'".format(t.path.replace("'", "''"))
            if t.fmt == "csv":
                opts += ", header 'true', inferSchema 'true'"
            spark.sql(
                f"CREATE TABLE {schema.name}.{t.name} USING {t.fmt} OPTIONS ({opts})"
            )
    _LOG.info(
        "model %s: %d schema(s), default=%s", path, len(spec.schemas), default
    )
    return spec


def drop_model(spark, spec: ModelSpec, default: str | None = None) -> None:
    """Remove the session-catalog side of an applied model (non-default
    databases). Temp views die with the session; external tables are
    metadata-only, so this never touches data files."""
    default = default or spec.default_schema or (
        spec.schemas[0].name if spec.schemas else None
    )
    for schema in spec.schemas:
        if schema.name != default:
            spark.sql(f"DROP DATABASE IF EXISTS {schema.name} CASCADE")

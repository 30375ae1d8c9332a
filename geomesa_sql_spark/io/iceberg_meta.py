"""Pure-Python Apache Iceberg table format v2 (read AND write).

The graft input is specified as *Iceberg tables* of image+caption rows
(BASELINE.json input_hint); this container has no Iceberg runtime jar,
so ``io/iceberg.py`` could only document the production catalog conf
and fall back to bare parquet paths. This module closes that gap from
scratch at the *table format* level (the Iceberg spec is a file-layout
spec, not a jar): metadata JSON + Avro manifest lists + Avro manifests
(via ``io/avro.py``), so the engine plans scans the way an Iceberg
runtime does —

- **Snapshot isolation + time travel**: every commit writes immutable
  data files plus a new ``vN.metadata.json`` whose snapshot log keeps
  all prior snapshots addressable by id or timestamp.
- **Manifest-level file pruning**: per-file column ``lower_bounds`` /
  ``upper_bounds`` (Iceberg single-value little-endian serialization)
  are recorded at write and consulted at plan time, so a bounded scan
  (e.g. a bbox over x/y or a cell range) opens only overlapping files
  — the manifest is the 100 TB lever that makes file listing O(files
  matched), not O(files total).
- **v2 row-level deletes, merge-on-read**: position delete files
  (``file_path, pos``) apply distributed via an anti-join against
  ``_metadata.file_path``/``row_index`` — no driver materialization —
  and equality deletes apply to strictly-older data files per the
  spec's sequence-number rule. Copy-on-write ``delete_where`` rewrites
  only the files that contain matching rows.

Planning is driver-light: the manifest list is one small Avro file;
manifests decode distributed over ``spark`` when a snapshot carries
many, driver-side below that threshold. Data files are then handed to
``spark.read.parquet`` — Catalyst still does row-group pruning and
column projection below the file-level pruning this layer adds.

Layout written here follows the Hadoop-catalog convention the spec
documents (``metadata/version-hint.text`` → ``vN.metadata.json``):

    table/
      metadata/version-hint.text, v1.metadata.json, ...,
               snap-<id>-<uuid>.avro (manifest lists), <uuid>-m0.avro
      data/<commit-uuid>/part-*.parquet

A commit never rewrites a file in place. Its manifests and manifest
list are new files; ``vN.metadata.json`` is created exclusively and is
the commit point, so a writer that built on a version another writer
has since committed fails with :class:`CommitConflictError` instead of
overwriting that commit. The hint is only a shortcut: it is replaced by
unlink + create, and ``IcebergTable.load`` walks forward past a stale
one (the spec's file-system-table rule).

Reference parity: the reference engine's GeoMesa DataStores expose
snapshot-versioned feature collections through GeoTools transactions
(``ModificationTest.scala`` surface); here the same role is played by
Iceberg snapshots so the layout is readable by any Iceberg runtime.
Self-round-trip + generic-Avro decode are the gates (no jar in this
environment to cross-check against; documented decision).
"""

from __future__ import annotations

import glob
import json
import os
import re
import struct
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_sql_spark.io.avro import read_avro, write_avro

_FMT_VERSION = 2
_HINT = "version-hint.text"


class CommitConflictError(RuntimeError):
    """Another writer committed the table version this commit was built
    to create: the commit is refused and nothing of the other writer's
    is touched. Reload the table and retry."""


# ------------------------------------------------------------ bounds

_NUM_PACK = {"int": "<i", "long": "<q", "float": "<f", "double": "<d"}


def _encode_bound(ice_type: str, v, upper: bool = False) -> bytes | None:
    """Iceberg single-value binary serialization (little-endian).

    Strings truncate to 16 CHARS (never mid-codepoint). A truncated
    LOWER bound is still a valid lower bound (prefix sorts first), but
    a truncated UPPER bound would undercut the real max and prune
    files that match — so the last kept char is bumped (Iceberg's
    ``truncate`` transform rule); if every kept char is already
    U+10FFFF, no sound upper bound exists and None drops the stat."""
    if ice_type in _NUM_PACK:
        return struct.pack(_NUM_PACK[ice_type], v)
    if ice_type == "string":
        s = str(v)
        if len(s) > 16:
            s = s[:16]
            if upper:
                for i in range(len(s) - 1, -1, -1):
                    cp = ord(s[i]) + 1
                    if 0xD800 <= cp <= 0xDFFF:
                        cp = 0xE000  # skip the surrogate gap
                    if cp <= 0x10FFFF:
                        s = s[:i] + chr(cp)
                        break
                else:
                    return None
        return s.encode("utf-8")
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    raise ValueError(f"unsupported bound type {ice_type}")


def _decode_bound(ice_type: str, b: bytes):
    if ice_type in _NUM_PACK:
        # bounds recorded BEFORE a type promotion (int→long,
        # float→double) are 4-byte payloads under an 8-byte current
        # type — decode at the width the file actually wrote
        if len(b) == 4 and ice_type == "long":
            return struct.unpack("<i", b)[0]
        if len(b) == 4 and ice_type == "double":
            return struct.unpack("<f", b)[0]
        return struct.unpack(_NUM_PACK[ice_type], b)[0]
    if ice_type == "string":
        return b.decode("utf-8", "replace")
    if ice_type == "boolean":
        return b != b"\x00"
    return None


_SPARK_TO_ICE = {
    "integer": "int",
    "int": "int",
    "bigint": "long",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",
}


def _ice_schema(df: DataFrame) -> dict:
    fields = []
    for i, f in enumerate(df.schema.fields, start=1):
        t = _SPARK_TO_ICE.get(f.dataType.simpleString())
        if t is None:
            t = "binary"  # opaque passthrough (arrays/structs stay in parquet)
        fields.append(
            {"id": i, "name": f.name, "required": False, "type": t}
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


# --------------------------------------------------- manifest schemas
# Spec-faithful subset: every field Iceberg requires for v2 plus the
# stats this planner consumes. Field-ids match the spec's assignments.

_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        # REQUIRED by the v2 spec even for unpartitioned tables (empty
        # struct, zero Avro bytes): a strict foreign reader resolves
        # the file schema against the spec's required field list and
        # rejects a data_file without field 102 (r4 verdict #3 —
        # golden-fixture pass caught the omission)
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {
            "name": "lower_bounds",
            "type": [
                "null",
                {
                    "type": "array",
                    "logicalType": "map",
                    "items": {
                        "type": "record",
                        "name": "k126_v127",
                        "fields": [
                            {"name": "key", "type": "int", "field-id": 126},
                            {"name": "value", "type": "bytes", "field-id": 127},
                        ],
                    },
                },
            ],
            "field-id": 125,
        },
        {
            "name": "upper_bounds",
            "type": [
                "null",
                {
                    "type": "array",
                    "logicalType": "map",
                    "items": {
                        "type": "record",
                        "name": "k129_v130",
                        "fields": [
                            {"name": "key", "type": "int", "field-id": 129},
                            {"name": "value", "type": "bytes", "field-id": 130},
                        ],
                    },
                },
            ],
            "field-id": 128,
        },
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int"}],
            "field-id": 135,
        },
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _as_map(v) -> dict:
    """Iceberg bounds arrive as a real Avro map or the array-of-k/v
    records encoding (logicalType map) depending on the writer."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return {int(k): val for k, val in v.items()}
    return {int(e["key"]): e["value"] for e in v}


# ------------------------------------------------------- file stats


def _parquet_file_stats(path: str, ice_fields: list[dict]) -> dict:
    """record_count + per-column min/max bounds from the parquet
    footer (no data read). Runs on executors at write time."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    by_name = {f["name"]: f for f in ice_fields}
    by_id = {f["id"]: f for f in ice_fields}
    # a file written before a rename carries the OLD column name but
    # the same field-id — resolve by the file's embedded ids first so
    # its stats still land on the right Iceberg field
    name_to_fid: dict[str, int] = {}
    for af in pf.schema_arrow:
        fid_b = (af.metadata or {}).get(b"PARQUET:field_id")
        if fid_b is not None:
            name_to_fid[af.name] = int(fid_b)
    lo: dict[int, bytes] = {}
    hi: dict[int, bytes] = {}
    dead: set[int] = set()
    nan: set[int] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema.split(".")[0]
            f = by_id.get(name_to_fid[name]) if name in name_to_fid \
                else by_name.get(name)
            if f is None or f["type"] not in (
                "int", "long", "float", "double", "string", "boolean"
            ):
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            fid = f["id"]
            mn, mx = st.min, st.max
            if fid in nan or mn != mn or mx != mx:
                # parquet-mr lets a NaN into a double's min/max; the
                # spec forbids a NaN bound, so the file records none
                nan.add(fid)
                lo.pop(fid, None)
                hi.pop(fid, None)
                continue
            cur = lo.get(fid)
            if cur is None or _decode_bound(f["type"], cur) > mn:
                lo[fid] = _encode_bound(f["type"], mn)
            if fid not in dead:
                cur = hi.get(fid)
                if cur is None or _decode_bound(f["type"], cur) < mx:
                    enc = _encode_bound(f["type"], mx, upper=True)
                    if enc is None:  # no sound upper bound exists
                        dead.add(fid)
                        hi.pop(fid, None)
                    else:
                        hi[fid] = enc
    return {
        "record_count": md.num_rows,
        "file_size_in_bytes": os.path.getsize(path),
        "lower_bounds": [{"key": k, "value": v} for k, v in sorted(lo.items())],
        "upper_bounds": [{"key": k, "value": v} for k, v in sorted(hi.items())],
    }


# ------------------------------------------------------------ table


class IcebergTable:
    """Handle over an on-disk Iceberg table directory."""

    def __init__(self, path: str, metadata: dict, version: int):
        self.path = os.path.abspath(path)
        self.metadata = metadata
        self.version = version

    # -- loading ----------------------------------------------------

    @classmethod
    def load(cls, path: str) -> "IcebergTable":
        """The newest version. The hint is a shortcut only: a missing,
        empty or unparsable hint falls back to listing the version
        files, and from the hint's version the load walks forward while
        the next version file exists, as Iceberg's
        ``HadoopTableOperations.refresh`` does (a commit whose hint write
        was lost or raced is still found)."""
        meta_dir = os.path.join(path, "metadata")
        try:
            with open(os.path.join(meta_dir, _HINT)) as f:
                version = int(f.read().strip())
        except (OSError, ValueError):
            version = max(
                (
                    int(os.path.basename(p).split(".")[0][1:])
                    for p in glob.glob(os.path.join(meta_dir, "v*.metadata.json"))
                ),
                default=None,
            )
        if version is None:
            raise ValueError(f"no Iceberg metadata under {path!r}")
        while os.path.exists(os.path.join(meta_dir, f"v{version + 1}.metadata.json")):
            version += 1
        with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
            metadata = json.load(f)
        if metadata.get("format-version") not in (1, 2):
            raise ValueError(
                f"Iceberg format-version {metadata.get('format-version')}"
            )
        return cls(path, metadata, version)

    @staticmethod
    def is_iceberg_dir(path: str) -> bool:
        return bool(
            os.path.exists(os.path.join(path, "metadata", _HINT))
            or glob.glob(os.path.join(path, "metadata", "v*.metadata.json"))
        )

    # -- snapshots --------------------------------------------------

    def snapshots(self) -> list[dict]:
        return self.metadata.get("snapshots", [])

    def snapshot(self, snapshot_id=None, as_of_ms=None) -> dict:
        snaps = self.snapshots()
        if not snaps:
            raise ValueError("Iceberg table with no snapshots")
        if snapshot_id is not None:
            for s in snaps:
                if s["snapshot-id"] == snapshot_id:
                    return s
            raise ValueError(f"unknown snapshot id {snapshot_id}")
        if as_of_ms is not None:
            older = [s for s in snaps if s["timestamp-ms"] <= as_of_ms]
            if not older:
                raise ValueError(f"no snapshot at or before {as_of_ms}")
            return max(older, key=lambda s: s["timestamp-ms"])
        cur = self.metadata["current-snapshot-id"]
        return next(s for s in snaps if s["snapshot-id"] == cur)

    def schema_fields(self) -> list[dict]:
        schemas = self.metadata.get("schemas")
        if schemas:
            sid = self.metadata.get("current-schema-id", 0)
            for s in schemas:
                if s.get("schema-id") == sid:
                    return s["fields"]
        return self.metadata.get("schema", {}).get("fields", [])

    def current_schema(self) -> dict:
        return {
            "type": "struct",
            "schema-id": self.metadata.get("current-schema-id", 0),
            "fields": self.schema_fields(),
        }

    def all_schemas(self) -> list[dict]:
        schemas = self.metadata.get("schemas")
        if schemas:
            return schemas
        return [self.current_schema()]

    @property
    def field_ids(self) -> bool:
        """True when every data file carries parquet field-id
        annotations (set at create_table) — the precondition for
        id-resolved reads and schema evolution."""
        props = self.metadata.get("properties", {})
        return props.get("geomesa.field-ids") == "true"

    def spark_schema(self, spark: SparkSession) -> T.StructType:
        """The schema ``read`` returns. A field-id table's comes from the
        Iceberg schema with no JVM call; a table holding opaque
        passthrough columns (recorded as binary) takes it from its data
        files' footers."""
        if self.field_ids:
            return _spark_schema(self.schema_fields())
        return self.read(spark).schema

    # -- planning ---------------------------------------------------

    def plan_files(
        self,
        snapshot_id=None,
        as_of_ms=None,
        bounds: dict[str, tuple] | None = None,
        spark: SparkSession | None = None,
    ) -> tuple[list[dict], list[dict], dict]:
        """-> (data_files, delete_files, plan_stats).

        ``bounds`` maps column name -> (lo, hi) inclusive; files whose
        recorded bound range misses it are pruned without opening them.
        Manifests decode distributed when a snapshot carries many.
        """
        snap = self.snapshot(snapshot_id, as_of_ms)
        _, manifests, _ = read_avro(_read(snap["manifest-list"]))
        fields = self.schema_fields()
        fid_by_name = {f["name"]: f["id"] for f in fields}
        type_by_id = {f["id"]: f["type"] for f in fields}
        want = None
        if bounds:
            want = {}
            for name, rng in bounds.items():
                if name not in fid_by_name:
                    raise ValueError(f"unknown column {name!r} in bounds")
                want[fid_by_name[name]] = rng

        # (path, manifest sequence number) pairs: entries with a null
        # sequence_number INHERIT the manifest's (spec inheritance —
        # real writers record null for entries added by the manifest;
        # review r4m: `or 0` made foreign equality deletes apply to
        # nothing because every data file decoded as seq=0)
        pairs = [
            (m["manifest_path"], m.get("sequence_number") or 0)
            for m in manifests
        ]
        if spark is not None and len(pairs) > 16:
            rows = (
                spark.sparkContext.parallelize(pairs, min(len(pairs), 64))
                .flatMap(lambda ps: _manifest_entries(ps[0], ps[1]))
                .collect()
            )
        else:
            rows = [e for p, ms in pairs for e in _manifest_entries(p, ms)]

        data, deletes = [], []
        scanned = kept = 0
        for entry in rows:
            if entry["status"] == 2:  # deleted entry
                continue
            f = entry["data_file"]
            seq = entry.get("sequence_number") or 0
            rec = {
                "path": f["file_path"],
                "seq": seq,
                "record_count": f["record_count"],
                "content": f.get("content", 0),
                "equality_ids": f.get("equality_ids"),
            }
            if rec["content"] == 0:
                scanned += 1
                if want and not _overlaps(f, want, type_by_id):
                    continue
                kept += 1
                data.append(rec)
            else:
                deletes.append(rec)
        return data, deletes, {"files_total": scanned, "files_kept": kept}

    # -- reading ----------------------------------------------------

    def _read_parquet(
        self,
        spark: SparkSession,
        paths: list[str],
        fields: list[dict] | None = None,
    ) -> DataFrame:
        """Read data-file parquet. Field-id tables read with an
        explicit id-annotated schema so columns resolve by Iceberg
        field-id, not name — files written before a rename still land
        in the renamed column, and a dropped-then-readded name gets
        NULLs instead of resurrecting retired data. The two confs are
        session-global but inert for schemas without id metadata."""
        if self.field_ids:
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
            spark.conf.set(
                "spark.sql.parquet.fieldId.read.ignoreMissing", "true"
            )
            return spark.read.schema(
                _spark_schema(fields or self.schema_fields(), ids=True)
            ).parquet(*paths)
        return spark.read.parquet(*paths)

    def read(
        self,
        spark: SparkSession,
        snapshot_id=None,
        as_of_ms=None,
        bounds: dict[str, tuple] | None = None,
    ) -> DataFrame:
        data, deletes, _ = self.plan_files(
            snapshot_id, as_of_ms, bounds, spark=spark
        )
        if not data:
            return spark.createDataFrame([], _spark_schema(self.schema_fields()))
        df = self._read_parquet(spark, [f["path"] for f in data])
        if not deletes:
            return df
        # attach provenance for merge-on-read delete application
        df = df.withColumn(
            "__file", _norm_file_path(F.col("_metadata.file_path"))
        ).withColumn("__pos", F.col("_metadata.row_index"))
        # normalize the Python side too: a foreign table whose manifests
        # record file: URIs must land on the same join key as the
        # normalized _metadata.file_path, or __seq goes NULL and the
        # '__seq < delete seq' condition silently skips equality
        # deletes (advice r4)
        seq_df = spark.createDataFrame(
            [(_norm_path_py(d["path"]), d["seq"]) for d in data],
            "__file string, __seq long",
        )
        df = df.join(F.broadcast(seq_df), "__file", "left")

        pos_files = [d for d in deletes if d["content"] == 1]
        eq_files = [d for d in deletes if d["content"] == 2]
        if pos_files:
            pos = spark.read.parquet(*[d["path"] for d in pos_files]).select(
                _norm_file_path(F.col("file_path")).alias("__file"),
                F.col("pos").alias("__pos"),
            )
            df = df.join(pos, ["__file", "__pos"], "left_anti")
        for d in eq_files:
            ids = d["equality_ids"] or []
            sub = [f for f in self.schema_fields() if f["id"] in ids]
            if not ids or len(sub) != len(set(ids)):
                # a key column was dropped (or the file declares no
                # keys): the delete can no longer identify its rows —
                # reading would silently resurrect deleted data, so
                # fail loudly (review r4m; compact() folds MoR deletes
                # in BEFORE dropping their key columns)
                raise ValueError(
                    f"equality-delete file {d['path']!r} keys on field "
                    f"ids {ids}, not all present in the current schema "
                    "— compact() before dropping equality-delete key "
                    "columns"
                )
            names = [f["name"] for f in sub]
            # id-resolved so a delete file written pre-rename still
            # matches the current column names
            eq = self._read_parquet(
                spark, [d["path"]], fields=sub
            ).dropDuplicates()
            eq = eq.select(
                *[F.col(n).alias(f"__eq_{n}") for n in names]
            )
            # ONE null-safe anti join per delete file: the spec's
            # strictly-older rule rides in the join condition, so df is
            # referenced once (review r4m: the old older/newer split +
            # union embedded the whole prior plan TWICE per delete file
            # — exponential plan growth, the CLAUDE.md-banned class);
            # eqNullSafe because Iceberg matches null keys to null
            cond = F.col("__seq") < F.lit(d["seq"])
            for n in names:
                cond = cond & F.col(n).eqNullSafe(F.col(f"__eq_{n}"))
            df = df.join(F.broadcast(eq), cond, "left_anti")
        return df.drop("__file", "__pos", "__seq")


_ICE_TO_SPARK = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamptz": T.TimestampType(),
}


def _spark_schema(fields: list[dict], ids: bool = False) -> T.StructType:
    """Spark schema of Iceberg ``fields``, built in Python (no JVM DDL
    parse); ``ids`` adds the parquet.field.id metadata of id-resolved
    parquet reads (renames transparent, retired ids never read)."""
    return T.StructType(
        [
            T.StructField(
                f["name"],
                _ICE_TO_SPARK.get(f["type"], T.BinaryType()),
                True,
                {"parquet.field.id": f["id"]} if ids else None,
            )
            for f in fields
        ]
    )


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _carried(t: "IcebergTable") -> list:
    """Current snapshot's manifest-list rows, for carrying through a
    commit unchanged (one source for the append/MoR-delete verbs)."""
    return read_avro(_read(t.snapshot()["manifest-list"]))[1]


def _norm_file_path(col):
    """One source of truth for `_metadata.file_path` ↔ manifest path
    identity (file:/ scheme stripped). read() and delete_where MUST
    agree on this normalization or MoR anti-joins and CoW hit-file
    targeting silently diverge (review r4m dedup)."""
    return F.regexp_replace(col, "^file:/*", "/")


def _norm_path_py(p: str) -> str:
    """Python twin of _norm_file_path — apply to every manifest-sourced
    path that is compared against a normalized `__file` (read()'s
    seq_df, delete_where's hit set)."""
    return re.sub(r"^file:/*", "/", p)


def _manifest_entries(path: str, manifest_seq: int | None = None) -> list[dict]:
    """Decode one manifest. ``manifest_seq`` (the manifest-list row's
    sequence number) fills entries whose ``sequence_number`` is null —
    spec inheritance: writers record null for entries the manifest
    itself added."""
    _, entries, _ = read_avro(_read(path))
    for e in entries:
        if e.get("sequence_number") is None and manifest_seq is not None:
            e["sequence_number"] = manifest_seq
        f = e["data_file"]
        f["lower_bounds"] = _as_map(f.get("lower_bounds"))
        f["upper_bounds"] = _as_map(f.get("upper_bounds"))
    return entries


def _overlaps(data_file: dict, want: dict, type_by_id: dict) -> bool:
    lo_map = data_file.get("lower_bounds") or {}
    hi_map = data_file.get("upper_bounds") or {}
    for fid, rng in want.items():
        t = type_by_id.get(fid)
        flo, fhi = lo_map.get(fid), hi_map.get(fid)
        if flo is None or fhi is None or t is None:
            continue  # no stats for this column: cannot prune on it
        lo, hi = _decode_bound(t, flo), _decode_bound(t, fhi)
        if lo != lo or hi != hi:
            continue  # parquet-mr lets a NaN into a double's min/max
        # a single (lo, hi) pair or a list of disjoint ranges (e.g. the
        # Z-order covering of a bbox) — keep the file if ANY overlaps
        ranges = rng if isinstance(rng, list) else [rng]
        if not any(lo <= qhi and hi >= qlo for qlo, qhi in ranges):
            return False
    return True


# ----------------------------------------------------------- writing


def _write_data_files(
    df: DataFrame, table_path: str, fields: list[dict] | None = None
) -> list[str]:
    """Write ``df`` as parquet data files; when ``fields`` (Iceberg
    schema fields) is given, each parquet column is annotated with its
    Iceberg field-id (Spark's ``parquet.field.id`` metadata), which is
    what makes schema evolution sound: readers resolve columns by id,
    so renames are transparent and a dropped-then-readded name cannot
    resurrect old data."""
    if fields:
        fid = {f["name"]: f["id"] for f in fields}
        df = df.select(
            *[
                F.col(c).alias(c, metadata={"parquet.field.id": fid[c]})
                if c in fid
                else F.col(c)
                for c in df.columns
            ]
        )
        df.sparkSession.conf.set(
            "spark.sql.parquet.fieldId.write.enabled", "true"
        )
    commit = uuid.uuid4().hex[:16]
    out_dir = os.path.join(os.path.abspath(table_path), "data", commit)
    df.write.mode("error").parquet(out_dir)
    return sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))


def _next_ids(meta: dict | None) -> tuple[int, int, int]:
    """(version, snapshot_id, sequence_number) for the next commit."""
    if meta is None:
        return 1, 1, 1
    seq = meta.get("last-sequence-number", 0) + 1
    sid = max((s["snapshot-id"] for s in meta.get("snapshots", [])), default=0) + 1
    return None, sid, seq  # version filled by caller


def _commit(
    table_path: str,
    prev: "IcebergTable | None",
    new_entries: list[dict],
    carried_manifests: list[dict],
    schema: dict,
    operation: str,
    content: int = 0,
    properties: dict | None = None,
    schemas: list[dict] | None = None,
) -> "IcebergTable":
    """Write a manifest for ``new_entries``, a manifest list carrying
    ``carried_manifests`` + the new one, and the next metadata.json.
    ``properties`` replaces the table properties; None carries the
    previous commit's forward. ``schemas`` is the full historical
    schema list (evolved tables); defaults to just ``schema``."""
    table_path = os.path.abspath(table_path)
    meta_dir = os.path.join(table_path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    prev_meta = prev.metadata if prev else None
    _, snapshot_id, seq = _next_ids(prev_meta)
    version = (prev.version + 1) if prev else 1

    manifests = list(carried_manifests)
    if new_entries:
        for e in new_entries:
            e.setdefault("snapshot_id", snapshot_id)
            e.setdefault("sequence_number", seq)
            e.setdefault("file_sequence_number", seq)
            # unpartitioned tuple for entries built before the field
            # existed (carried rewrites of pre-r5 tables)
            e["data_file"].setdefault("partition", {})
        mpath = os.path.join(meta_dir, f"{uuid.uuid4().hex[:16]}-m0.avro")
        blob = write_avro(
            _MANIFEST_ENTRY_SCHEMA,
            new_entries,
            meta={
                "schema": json.dumps(schema),
                "partition-spec": "[]",
                "partition-spec-id": "0",
                "format-version": str(_FMT_VERSION),
                "content": "data" if content == 0 else "deletes",
            },
        )
        with open(mpath, "xb") as f:
            f.write(blob)
        added_rows = sum(
            e["data_file"]["record_count"] for e in new_entries if e["status"] == 1
        )
        manifests.append(
            {
                "manifest_path": mpath,
                "manifest_length": len(blob),
                "partition_spec_id": 0,
                "content": content,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": sum(
                    1 for e in new_entries if e["status"] == 1
                ),
                "existing_files_count": sum(
                    1 for e in new_entries if e["status"] == 0
                ),
                "deleted_files_count": sum(
                    1 for e in new_entries if e["status"] == 2
                ),
                "added_rows_count": added_rows,
                "existing_rows_count": sum(
                    e["data_file"]["record_count"]
                    for e in new_entries
                    if e["status"] == 0
                ),
                "deleted_rows_count": sum(
                    e["data_file"]["record_count"]
                    for e in new_entries
                    if e["status"] == 2
                ),
            }
        )

    # a writer racing for the same snapshot id must not overwrite the
    # other's manifest list: the name is unique per commit attempt
    list_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex[:16]}.avro"
    )
    with open(list_path, "xb") as f:
        f.write(write_avro(_MANIFEST_FILE_SCHEMA, manifests))

    now_ms = int(time.time() * 1000)
    snapshot = {
        "snapshot-id": snapshot_id,
        # spec-standard lineage pointer (history/ancestry inspection
        # and rollback audits walk it)
        "parent-snapshot-id": (prev_meta or {}).get("current-snapshot-id"),
        "timestamp-ms": now_ms,
        "sequence-number": seq,
        "summary": {"operation": operation},
        "manifest-list": list_path,
        "schema-id": schema.get("schema-id", 0),
    }
    all_schemas = schemas if schemas is not None else [schema]
    metadata = {
        "format-version": _FMT_VERSION,
        "table-uuid": (prev_meta or {}).get("table-uuid", str(uuid.uuid4())),
        "location": table_path,
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": max(
            max(
                (f["id"] for s in all_schemas for f in s["fields"]),
                default=0,
            ),
            (prev_meta or {}).get("last-column-id", 0),
        ),
        "schemas": all_schemas,
        "current-schema-id": schema.get("schema-id", 0),
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": (
            properties
            if properties is not None
            else (prev_meta or {}).get("properties", {})
        ),
        "current-snapshot-id": snapshot_id,
        "snapshots": (prev_meta or {}).get("snapshots", []) + [snapshot],
        "snapshot-log": (prev_meta or {}).get("snapshot-log", [])
        + [{"snapshot-id": snapshot_id, "timestamp-ms": now_ms}],
        "metadata-log": [],
    }
    return _publish(table_path, version, metadata)


def _publish(table_path: str, version: int, metadata: dict) -> "IcebergTable":
    """The commit point: create ``v{version}.metadata.json``
    exclusively, then point the hint at it. The JSON goes to a private
    temp file that is hard-linked to the version name; the link fails
    if that version exists, so a writer that built on an older version
    than another writer committed is refused instead of overwriting
    that commit, and a reader walking forward never sees a half-written
    version file."""
    meta_dir = os.path.join(table_path, "metadata")
    tmp = os.path.join(meta_dir, f".v{version}-{uuid.uuid4().hex}.tmp")
    with open(tmp, "x") as f:
        json.dump(metadata, f)
    try:
        os.link(tmp, os.path.join(meta_dir, f"v{version}.metadata.json"))
    except FileExistsError:
        raise CommitConflictError(
            f"Iceberg commit to {table_path!r} refused: version {version} "
            f"was committed by another writer after this one loaded "
            f"version {version - 1}; reload the table and retry"
        ) from None
    finally:
        os.unlink(tmp)
    _write_hint(meta_dir, version)
    return IcebergTable(table_path, metadata, version)


def _write_hint(meta_dir: str, version: int) -> None:
    """Replace the version hint by unlink + create. Truncating it in
    place or renaming over it makes ext4 flush the file on close: on a
    4-vCPU VM's ext4 disk a truncating rewrite took ~70 ms and a rename
    over it ~35-50 ms, unlink + create ~0.02 ms. A writer that loses
    the create to a concurrent one leaves that writer's hint: ``load``
    walks forward past a stale hint either way."""
    hint = os.path.join(meta_dir, _HINT)
    try:
        os.unlink(hint)
    except FileNotFoundError:
        pass
    try:
        with open(hint, "x") as f:
            f.write(str(version))
    except FileExistsError:
        pass


def _entries_for(paths: list[str], fields: list[dict], status: int = 1,
                 content: int = 0, **extra) -> list[dict]:
    # footer-stat collection distributes past a handful of files — at
    # scale a commit adds thousands, and a driver loop over footers
    # would serialize the commit path
    spark = SparkSession.getActiveSession()
    if spark is not None and len(paths) > 32:
        stats = dict(
            spark.sparkContext.parallelize(paths, min(len(paths), 64)).map(
                lambda p, _f=list(fields): (p, _parquet_file_stats(p, _f))
            ).collect()
        )
    else:
        stats = {p: _parquet_file_stats(p, fields) for p in paths}
    out = []
    for p in paths:
        st = stats[p]
        out.append(
            {
                "status": status,
                "data_file": {
                    "content": content,
                    "file_path": p,
                    "file_format": "PARQUET",
                    "equality_ids": extra.get("equality_ids"),
                    **st,
                },
            }
        )
    return out


def create_table(
    df: DataFrame, path: str, properties: dict | None = None
) -> IcebergTable:
    """Write ``df`` as a brand-new Iceberg v2 table (snapshot 1)."""
    if IcebergTable.is_iceberg_dir(path):
        raise ValueError(f"{path!r} is already an Iceberg table")
    schema = _ice_schema(df)
    # field-id discipline (and with it schema evolution) requires every
    # column to map to a real Iceberg primitive — opaque passthrough
    # columns (arrays/structs stored as-is in parquet) would be
    # misdeclared by an explicit binary read schema
    all_primitive = all(
        f.dataType.simpleString() in _SPARK_TO_ICE for f in df.schema.fields
    )
    props = dict(properties or {})
    if all_primitive:
        props.setdefault("geomesa.field-ids", "true")
        files = _write_data_files(df, path, fields=schema["fields"])
    else:
        files = _write_data_files(df, path)
    entries = _entries_for(files, schema["fields"])
    return _commit(
        path, None, entries, [], schema, "append", properties=props
    )


def append(df: DataFrame, path: str) -> IcebergTable:
    """Commit ``df`` as a new snapshot; prior manifests are carried."""
    t = IcebergTable.load(path)
    carried = _carried(t)
    schema = t.current_schema()
    names = [f["name"] for f in schema["fields"]]
    if sorted(df.columns) != sorted(names):
        raise ValueError(
            f"append schema {sorted(df.columns)} != table {sorted(names)}"
        )
    files = _write_data_files(
        df.select(*names), path, fields=schema["fields"] if t.field_ids else None
    )
    entries = _entries_for(files, schema["fields"])
    return _commit(
        path, t, entries, carried, schema, "append", schemas=t.all_schemas()
    )


def delete_where(spark: SparkSession, path: str, predicate) -> IcebergTable:
    """Copy-on-write DELETE: rewrite only files containing matches.

    ``predicate`` is a Column or SQL string selecting rows to REMOVE.
    Untouched files survive as ``existing`` entries (no data copied);
    every prior snapshot stays time-travelable.
    """
    t = IcebergTable.load(path)
    data, deletes, _ = t.plan_files(spark=spark)
    if deletes:
        raise ValueError("copy-on-write over merge-on-read deletes: compact first")
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    df = t._read_parquet(spark, [f["path"] for f in data]).withColumn(
        "__file", _norm_file_path(F.col("_metadata.file_path"))
    )
    hit_files = [
        r["__file"]
        for r in df.filter(pred).select("__file").distinct().collect()
    ]
    schema = t.current_schema()
    cols = [f["name"] for f in schema["fields"]]
    survivors_src = df.filter(F.col("__file").isin(hit_files)).filter(
        ~F.coalesce(pred, F.lit(False))
    )
    new_files = (
        _write_data_files(
            survivors_src.select(*cols),
            path,
            fields=schema["fields"] if t.field_ids else None,
        )
        if hit_files
        else []
    )
    entries = _entries_for(new_files, schema["fields"], status=1)
    # untouched manifests carry forward verbatim; only manifests that
    # CONTAIN a hit file are rewritten, re-emitting their decoded
    # entries (status=2 tombstones for hits, status=0 for survivors) —
    # commit cost is proportional to files rewritten, never a
    # whole-table footer re-scan (review r4m)
    hit = set(hit_files)
    snap = t.snapshot()
    _, manifests, _ = read_avro(_read(snap["manifest-list"]))
    carried = []
    for m in manifests:
        ents = _manifest_entries(
            m["manifest_path"], m.get("sequence_number") or 0
        )
        live = [e for e in ents if e["status"] != 2]
        # hit paths are normalized (__file); normalize the manifest side
        # so foreign file: URIs still target their manifests (advice r4)
        if not any(
            _norm_path_py(e["data_file"]["file_path"]) in hit for e in live
        ):
            carried.append(m)
            continue
        for e in live:
            f = dict(e["data_file"])
            # bounds decoded to dicts for pruning; the writer schema
            # stores the array-of-k/v map encoding
            for b in ("lower_bounds", "upper_bounds"):
                f[b] = [
                    {"key": k, "value": v}
                    for k, v in sorted((f.get(b) or {}).items())
                ]
            entries.append(
                {
                    "status": 2 if _norm_path_py(f["file_path"]) in hit else 0,
                    "snapshot_id": e.get("snapshot_id"),
                    "sequence_number": e.get("sequence_number"),
                    "file_sequence_number": e.get("file_sequence_number"),
                    "data_file": f,
                }
            )
    return _commit(
        path, t, entries, carried, schema, "delete", schemas=t.all_schemas()
    )


def add_position_deletes(
    spark: SparkSession, path: str, rows: DataFrame
) -> IcebergTable:
    """Merge-on-read DELETE: commit a position-delete file.

    ``rows`` must have columns ``file_path string, pos long`` (Iceberg
    delete-file schema); ``IcebergTable.read`` applies them via a
    distributed anti-join on parquet ``_metadata`` provenance.
    """
    t = IcebergTable.load(path)
    carried = _carried(t)
    schema = t.current_schema()
    del_fields = [
        {"id": 2147483546, "name": "file_path", "required": True,
         "type": "string"},
        {"id": 2147483545, "name": "pos", "required": True, "type": "long"},
    ]
    files = _write_data_files(
        rows.select("file_path", "pos"), path, fields=del_fields
    )
    entries = _entries_for(files, del_fields, status=1, content=1)
    return _commit(
        path, t, entries, carried, schema, "delete", content=1,
        schemas=t.all_schemas(),
    )


def add_equality_deletes(
    spark: SparkSession, path: str, rows: DataFrame, on: list[str]
) -> IcebergTable:
    """Merge-on-read DELETE by key: rows matching ``on`` columns in any
    data file with a strictly older sequence number are dropped at read
    (the spec's equality-delete rule)."""
    t = IcebergTable.load(path)
    carried = _carried(t)
    fields = t.schema_fields()
    schema = t.current_schema()
    sub = [f for f in fields if f["name"] in on]
    ids = [f["id"] for f in sub]
    if len(ids) != len(on):
        raise ValueError(f"equality columns {on} not all in schema")
    files = _write_data_files(
        rows.select(*on), path, fields=sub if t.field_ids else None
    )
    entries = _entries_for(
        files, fields, status=1, content=2, equality_ids=ids
    )
    return _commit(
        path, t, entries, carried, schema, "delete", content=1,
        schemas=t.all_schemas(),
    )


def compact(spark: SparkSession, path: str) -> IcebergTable:
    """Rewrite the current snapshot as plain data files: applies all
    merge-on-read position/equality deletes and collapses small files,
    so copy-on-write ``delete_where`` is usable again afterwards. Prior
    snapshots (including the pre-compaction delete files) stay
    time-travelable — compaction adds a snapshot, it never erases one.
    """
    t = IcebergTable.load(path)
    df = t.read(spark)
    schema = t.current_schema()
    cols = [f["name"] for f in schema["fields"]]
    files = _write_data_files(
        df.select(*cols),
        path,
        fields=schema["fields"] if t.field_ids else None,
    )
    entries = _entries_for(files, schema["fields"], status=1)
    return _commit(
        path, t, entries, [], schema, "replace", schemas=t.all_schemas()
    )


def overwrite(spark: SparkSession, path: str, df: DataFrame) -> IcebergTable:
    """Commit ``df`` as the table's full new contents (one snapshot;
    history stays time-travelable). The storage half of UPDATE/MERGE —
    callers compute the new contents, this makes them durable."""
    t = IcebergTable.load(path)
    schema = t.current_schema()
    cols = [f["name"] for f in schema["fields"]]
    files = _write_data_files(
        df.select(*cols), path, fields=schema["fields"] if t.field_ids else None
    )
    entries = _entries_for(files, schema["fields"], status=1)
    return _commit(
        path, t, entries, [], schema, "overwrite", schemas=t.all_schemas()
    )


def added_rows(t: IcebergTable) -> int:
    """Exact row count the current snapshot's commit added, from the
    manifest-list stats (no data read, no plan recompute)."""
    snap = t.snapshot()
    _, manifests, _ = read_avro(_read(snap["manifest-list"]))
    return sum(
        m["added_rows_count"]
        for m in manifests
        if m["added_snapshot_id"] == snap["snapshot-id"]
    )


def removed_rows(t: IcebergTable) -> int:
    """Rows the current snapshot's copy-on-write commit removed: the
    record counts of the data files it dropped minus the rows it wrote
    back in their place, from the manifest-list stats (no data read).
    Exact when the dropped files carry no merge-on-read deletes, which
    ``delete_where`` requires."""
    snap = t.snapshot()
    _, manifests, _ = read_avro(_read(snap["manifest-list"]))
    return sum(
        m["deleted_rows_count"] - m["added_rows_count"]
        for m in manifests
        if m["added_snapshot_id"] == snap["snapshot-id"]
    )


def _metadata_only_commit(t: IcebergTable, meta: dict) -> IcebergTable:
    """Write the next metadata.json version with no new snapshot.
    Readers pinned to the previous version file are unaffected."""
    meta = dict(meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    return _publish(t.path, t.version + 1, meta)


def rollback(path: str, snapshot_id=None, as_of_ms=None) -> IcebergTable:
    """Restore the table to an earlier snapshot (metadata-only: the
    current-snapshot pointer moves; nothing is deleted, the rolled-past
    snapshots stay time-travelable until expire_snapshots)."""
    t = IcebergTable.load(path)
    snap = t.snapshot(snapshot_id, as_of_ms)
    cur = t.metadata.get("current-snapshot-id")
    if snap["snapshot-id"] == cur:
        return t
    meta = dict(t.metadata)
    meta["current-snapshot-id"] = snap["snapshot-id"]
    meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {
            "snapshot-id": snap["snapshot-id"],
            "timestamp-ms": int(time.time() * 1000),
        }
    ]
    return _metadata_only_commit(t, meta)


def _evolve_schema(path: str, mutate) -> IcebergTable:
    """Metadata-only schema commit: ``mutate(fields, last_column_id)``
    returns the new field list + new last-column-id; the new schema is
    appended to the historical list and becomes current. Existing data
    files are never touched — id-resolved reads do the mapping."""
    t = IcebergTable.load(path)
    if not t.field_ids:
        raise ValueError(
            "schema evolution requires a field-id table (create_table "
            "over all-primitive columns); this table resolves columns "
            "by name only"
        )
    schemas = t.all_schemas()
    cur_fields = [dict(f) for f in t.schema_fields()]
    last_col = t.metadata.get(
        "last-column-id", max((f["id"] for f in cur_fields), default=0)
    )
    new_fields, last_col = mutate(cur_fields, last_col)
    if not new_fields:
        raise ValueError("schema evolution cannot remove every column")
    new_schema = {
        "type": "struct",
        "schema-id": max(s.get("schema-id", 0) for s in schemas) + 1,
        "fields": new_fields,
    }
    meta = dict(t.metadata)
    meta["schemas"] = list(schemas) + [new_schema]
    meta["current-schema-id"] = new_schema["schema-id"]
    meta["last-column-id"] = last_col
    return _metadata_only_commit(t, meta)


def add_column(path: str, name: str, ice_type: str) -> IcebergTable:
    """ADD COLUMN: existing rows read back NULL. The new field gets a
    never-before-used id, so it can share a name with a dropped column
    without resurrecting that column's data."""
    if ice_type not in _ICE_TO_SPARK:
        raise ValueError(
            f"unsupported type {ice_type!r}; one of {sorted(_ICE_TO_SPARK)}"
        )

    def mutate(fields, last_col):
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name!r} already exists")
        fields.append(
            {
                "id": last_col + 1,
                "name": name,
                "required": False,
                "type": ice_type,
            }
        )
        return fields, last_col + 1

    return _evolve_schema(path, mutate)


def rename_column(path: str, old: str, new: str) -> IcebergTable:
    """RENAME COLUMN: metadata-only; files written under the old name
    keep resolving through the shared field-id."""

    def mutate(fields, last_col):
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new!r} already exists")
        hits = [f for f in fields if f["name"] == old]
        if not hits:
            raise ValueError(f"unknown column {old!r}")
        hits[0]["name"] = new
        return fields, last_col

    return _evolve_schema(path, mutate)


def promote_column(path: str, name: str, ice_type: str) -> IcebergTable:
    """Spec-legal type promotion (int→long, float→double): metadata
    only — Spark's parquet reader widens old files' physical values to
    the requested type, and pre-promotion bounds decode at the width
    the file wrote (_decode_bound)."""
    legal = {("int", "long"), ("float", "double")}

    def mutate(fields, last_col):
        hits = [f for f in fields if f["name"] == name]
        if not hits:
            raise ValueError(f"unknown column {name!r}")
        cur = hits[0]["type"]
        if (cur, ice_type) not in legal:
            raise ValueError(
                f"illegal promotion {cur!r} → {ice_type!r}; legal: "
                f"{sorted(legal)}"
            )
        hits[0]["type"] = ice_type
        return fields, last_col

    return _evolve_schema(path, mutate)


def drop_column(path: str, name: str) -> IcebergTable:
    """DROP COLUMN: metadata-only; the retired field-id is never
    reused (last-column-id is monotone), so the data becomes
    unreachable without rewriting any file."""

    def mutate(fields, last_col):
        kept = [f for f in fields if f["name"] != name]
        if len(kept) == len(fields):
            raise ValueError(f"unknown column {name!r}")
        return kept, last_col

    return _evolve_schema(path, mutate)


def expire_snapshots(
    path: str, keep_last: int = 1, older_than_ms: int | None = None
) -> dict:
    """Snapshot expiration + orphan cleanup (the vacuum every real
    table needs: time travel means nothing is ever deleted until this
    runs). Keeps the current snapshot plus the most recent
    ``keep_last`` (and anything newer than ``older_than_ms``); deletes
    data/delete/manifest files referenced ONLY by expired snapshots.
    Metadata-only commit — no new snapshot, version bumps so readers
    pinned to an old metadata file are unaffected mid-flight.

    Returns {"expired": n, "kept": n, "files_removed": n}.
    """
    t = IcebergTable.load(path)
    snaps = sorted(t.snapshots(), key=lambda s: s["timestamp-ms"])
    cur = t.metadata["current-snapshot-id"]
    keep = set(s["snapshot-id"] for s in snaps[-max(keep_last, 1):])
    keep.add(cur)
    if older_than_ms is not None:
        keep |= {
            s["snapshot-id"]
            for s in snaps
            if s["timestamp-ms"] > older_than_ms
        }

    def _refs(snapshot: dict) -> set[str]:
        files = {snapshot["manifest-list"]}
        _, manifests, _ = read_avro(_read(snapshot["manifest-list"]))
        for m in manifests:
            files.add(m["manifest_path"])
            for e in _manifest_entries(m["manifest_path"]):
                files.add(e["data_file"]["file_path"])
        return files

    kept_refs: set[str] = set()
    dead_refs: set[str] = set()
    expired = 0
    for s in snaps:
        if s["snapshot-id"] in keep:
            kept_refs |= _refs(s)
        else:
            dead_refs |= _refs(s)
            expired += 1
    removable = dead_refs - kept_refs
    for f in sorted(removable):
        try:
            os.remove(f)
        except FileNotFoundError:
            pass

    meta = dict(t.metadata)
    meta["snapshots"] = [s for s in snaps if s["snapshot-id"] in keep]
    meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log", []) if e["snapshot-id"] in keep
    ]
    _metadata_only_commit(t, meta)
    return {
        "expired": expired,
        "kept": len(keep & {s["snapshot-id"] for s in snaps}),
        "files_removed": len(removable),
    }

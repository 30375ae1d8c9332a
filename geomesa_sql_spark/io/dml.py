"""DML over the TableIO seam: INSERT / UPDATE / DELETE / MERGE as
Iceberg v2 snapshot commits.

Reference semantics re-expressed (SURVEY.md §2.9):
- ``GeoMesaPhysicalTableModify`` returns a single affected-row count and
  forbids updating ``__FID__`` (nodes/GeoMesaPhysicalTableModify.scala:93-95)
  → ``IcebergDmlTable.update`` raises on the FID column and all three
  verbs return exact affected counts.
- Insert honors user-provided FIDs, missing columns become nulls
  (modifier/GeoMesaSimpleFeatureInsert.scala:24-49, ModificationTest.scala:36-141)
  → ``insert`` aligns partial-column frames by name, null-filling.
- Update/delete buffer by FID then rewrite matching features
  (modifier/GeoMesaSimpleFeatureUpdate.scala:27-65, *Delete.scala:27-57)
  → copy-on-write snapshot rewrite keyed by the FID column.

The reference writes DML back into the store it reads from; here that
store is an on-disk Iceberg v2 table written by the pure-Python format
in ``io/iceberg_meta.py`` (readable by any Iceberg runtime). Every verb
is one Iceberg snapshot commit:

- INSERT = ``append``: new data files in a new manifest, prior
  manifests carried. No old data is read or rewritten — O(new rows).
- UPDATE/MERGE = copy-on-write ``overwrite``: the new contents are
  written as fresh data files and committed as the whole snapshot.
- DELETE with a Column predicate = ``delete_where``: only the files
  CONTAINING matches are rewritten; fid-frame and delete-all forms
  (and tables carrying merge-on-read delete files) take the full
  rewrite.
- Readers resolve the current snapshot once at ``read()``; a commit
  never mutates files a reader holds (snapshot isolation). Old
  snapshots stay readable via ``read(snapshot_id=...)`` (time travel).
"""

from __future__ import annotations

import os
import re as _re

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from geomesa_sql_spark.io import iceberg_meta as im
from geomesa_sql_spark.sqltree import _mask_literals


def _sub_outside_literals(pat: str, repl: str, text: str) -> str:
    """re.sub applied only OUTSIDE quoted string literals — qualifier
    rewrites must never touch 'a string mentioning s.something'
    (review r3): ``pat`` runs over the literal-masked text, and each
    match is replaced at the same position of ``text``."""
    out, pos = [], 0
    for m in _re.finditer(pat, _mask_literals(text)):
        out += [text[pos:m.start()], m.expand(repl)]
        pos = m.end()
    return "".join(out) + text[pos:]


class FidUpdateError(ValueError):
    """Parity with the reference: the row-identity column is immutable
    (nodes/GeoMesaPhysicalTableModify.scala:93-95)."""


class IcebergDmlTable:
    """An on-disk Iceberg v2 table taking INSERT / UPDATE / DELETE /
    MERGE / compaction, each verb one Iceberg snapshot commit
    (``io/iceberg_meta.py``)."""

    def __init__(self, spark: SparkSession, path: str, fid_col: str = "image_id"):
        self.spark = spark
        self.path = path.rstrip("/")
        self.fid_col = fid_col

    def _table(self) -> im.IcebergTable:
        return im.IcebergTable.load(self.path)

    def create(self, df: DataFrame) -> "IcebergDmlTable":
        im.create_table(df, self.path)
        return self

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """The current snapshot, or the one ``snapshot_id`` names
        (time travel)."""
        return self._table().read(self.spark, snapshot_id=snapshot_id)

    @property
    def columns(self) -> list[str]:
        return [f["name"] for f in self._table().schema_fields()]

    def insert(self, rows: DataFrame) -> int:
        """Append; missing columns null-filled, extra columns rejected.
        Returns affected-row count (ModificationTest.scala:36-141)."""
        schema = self._table().spark_schema(self.spark)
        cols = schema.fieldNames()
        extra = set(rows.columns) - set(cols)
        if extra:
            raise ValueError(f"unknown columns in INSERT: {sorted(extra)}")
        # Cast EVERY column to the table schema, not just null fills:
        # Calcite coerces INSERT rows to the table row type
        # (reference parity); without the cast a type-mismatched INSERT
        # (int literal into a double column) commits parquet files with
        # a different physical type and poisons every later read().
        try:
            aligned = rows.select(
                *[
                    (F.col(c) if c in rows.columns else F.lit(None))
                    .cast(schema[c].dataType)
                    .alias(c)
                    for c in cols
                ]
            )
            aligned.schema  # force analysis: reject non-castable types
        except Exception as ex:
            raise ValueError(
                f"INSERT rows not coercible to table schema: {ex}"
            ) from ex
        # the count is the commit's manifest stats, never a recompute
        # of a possibly non-deterministic ``rows`` plan
        return im.added_rows(im.append(aligned, self.path))

    def _hit_frame(self, fids: DataFrame) -> DataFrame:
        """Normalize a fid-frame ``where`` (the subquery-predicate path:
        Engine.sql plans ``WHERE k IN (SELECT ...)`` through spark.sql
        and hands down the matching row ids) to a distinct single-column
        frame keyed by the fid column. Consumed as a distributed
        semi/anti join — never a collected id list; Catalyst/AQE
        broadcasts it when small."""
        if self.fid_col not in self.columns:
            raise ValueError(
                f"subquery-predicate DML needs the row-identity column "
                f"{self.fid_col!r} on table {self.path!r}"
            )
        return fids.select(
            F.col(fids.columns[0]).alias(self.fid_col)
        ).distinct()

    def update(
        self,
        set_exprs: dict[str, Column | str],
        where: Column | DataFrame | None = None,
    ) -> int:
        """Copy-on-write UPDATE. ``set_exprs`` maps column → new value
        (Column, SQL string, or a DataFrame of ``(fid, value)`` — the
        planned form of a SET-side scalar subquery, applied as a
        distributed fid join; r4 verdict #8); ``where=None`` touches
        every row; a DataFrame ``where`` is a frame of affected fids
        (subquery predicates — see :meth:`_hit_frame`), applied as a
        left-join marker so the rewrite stays one distributed pass.

        The predicate is evaluated once per row into a hit column that
        both the rewrite and the affected count read; the count is an
        ``Observation`` over the rewrite's own input, so no separate
        count job runs. The observed node sits right under the rewrite's
        projection and never below a filter: an observation the
        optimizer prunes never reports, and ``Observation.get`` would
        wait forever."""
        if self.fid_col in set_exprs:
            raise FidUpdateError(
                f"cannot update row-identity column {self.fid_col!r}"
            )
        cols = self.columns
        unknown = set(set_exprs) - set(cols)
        if unknown:
            raise ValueError(f"unknown columns in UPDATE: {sorted(unknown)}")
        current = self.read()
        hit = "__dml_hit__"
        if isinstance(where, DataFrame):
            hits = self._hit_frame(where).withColumn(hit, F.lit(True))
            current = current.join(hits, self.fid_col, "left")
            cond = F.col(hit).isNotNull()
        else:
            cond = F.lit(True) if where is None else where
        exprs: dict[str, Column] = {}
        for k, v in set_exprs.items():
            if isinstance(v, DataFrame):
                # planned SET-side subquery: (fid, value) frame — join
                # on fid; rows outside the frame keep their old value
                # via the cond/otherwise below
                vcols = [c for c in v.columns if c != self.fid_col]
                if not vcols:
                    raise ValueError(
                        f"SET frame for {k!r} must carry a value "
                        f"column besides {self.fid_col!r}"
                    )
                vcol = vcols[0]
                # ANSI scalar-subquery semantics: a duplicate fid
                # would silently MULTIPLY the joined table rows in
                # the rewrite (r5 review) — fail like Spark's own
                # scalar subqueries do on >1 row. The cardinality
                # check folds into the CONSUMED value expression
                # (raise_error gating a consumed column, per the
                # CLAUDE.md rule) over ONE aggregation of the frame:
                # no extra eager job, no double evaluation of an
                # expensive SET subquery.
                agg = v.groupBy(self.fid_col).agg(
                    F.first(vcol).alias(f"__set_{k}"),
                    F.count(F.lit(1)).alias(f"__setn_{k}"),
                )
                current = current.join(agg, self.fid_col, "left")
                exprs[k] = F.when(
                    F.col(f"__setn_{k}") > 1,
                    F.raise_error(
                        f"SET frame for '{k}' has duplicate "
                        f"'{self.fid_col}' rows - one value per fid "
                        "(scalar-subquery semantics)"
                    ),
                ).otherwise(F.col(f"__set_{k}"))
            elif isinstance(v, str):
                exprs[k] = F.expr(v)
            else:
                exprs[k] = v
        obs = Observation()
        current = current.withColumn(hit, cond).observe(
            obs, F.count_if(F.col(hit)).alias("n")
        )
        updated = current.select(
            *[
                (
                    F.when(F.col(hit), exprs[c].cast(current.schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in exprs
                    else F.col(c)
                )
                for c in cols
            ]
        )
        im.overwrite(self.spark, self.path, updated)
        return int(obs.get["n"])

    def merge(
        self,
        source: DataFrame,
        on: str | None = None,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        set_exprs: dict[str, str] | None = None,
    ) -> tuple[int, int]:
        """MERGE INTO (upsert) keyed by ``on`` (default: the FID
        column). Matched target rows take the source's values for the
        columns the SOURCE PROVIDES (unprovided columns keep their
        target values — partial-row update, same alignment rule as
        INSERT); unmatched source rows insert with nulls for missing
        columns. ``when_matched``/``when_not_matched`` ∈
        {'update'/'insert', 'ignore'}. One copy-on-write commit —
        atomic, snapshot-isolated, time-travelable like every verb.
        Returns (n_updated, n_inserted).

        ``set_exprs`` (r3): an ANSI ``UPDATE SET`` list — {column:
        SQL expression}. When given, matched rows update ONLY those
        columns; each expression may reference the target row's
        columns by bare name and the source row's columns as
        ``src.<col>`` (``Engine.sql`` rewrites the USING alias to
        ``src`` before calling here). Inserts are unaffected.

        Beyond the reference (its Calcite surface has no MERGE); one
        Iceberg copy-on-write commit, the same shape as a catalog's
        ``MERGE INTO``.

        The source must be key-unique — ANSI MERGE raises on a target
        row matched by several source rows, and so does this."""
        key = on or self.fid_col
        if when_matched not in ("update", "ignore"):
            raise ValueError("when_matched must be 'update' or 'ignore'")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError("when_not_matched must be 'insert' or 'ignore'")
        cols = self.columns
        if key not in source.columns:
            raise ValueError(f"MERGE source lacks key column {key!r}")
        if set_exprs:
            if when_matched != "update":
                raise ValueError(
                    "set_exprs given with when_matched='ignore' — the SET "
                    "list would be silently dropped (review r3b)"
                )
            bad = set(set_exprs) - set(cols)
            if bad:
                raise ValueError(f"SET targets unknown columns: {sorted(bad)}")
            if key in set_exprs:
                raise ValueError("SET must not assign the MERGE key")
            # src.<col> references must exist on the SOURCE — otherwise
            # the __src_ rewrite surfaces later as an opaque
            # UNRESOLVED_COLUMN naming a mangled column (review r3b)
            for c, expr in set_exprs.items():
                # mark src.<col> tokens OUTSIDE literals only, then
                # collect the marked names — a string mentioning
                # 'src.x' must not be validated as a reference
                marked = _sub_outside_literals(
                    r"(?i)\bsrc\.(\w+)", "\x00\\1\x00", expr
                )
                refs = set(_re.findall("\x00(\\w+)\x00", marked))
                missing = refs - set(source.columns)
                if missing:
                    raise ValueError(
                        f"SET expression for {c!r} references source "
                        f"column(s) {sorted(missing)} not present on the "
                        "MERGE source"
                    )
        extra = set(source.columns) - set(cols)
        if extra:
            raise ValueError(f"unknown columns in MERGE source: {sorted(extra)}")
        current = self.read()
        # evaluate the (arbitrary, possibly non-deterministic) source
        # plan ONCE: the dup check, both join branches, both counts and
        # the committed write must all see the same rows (review r3 —
        # insert() already follows this discipline)
        source = source.localCheckpoint()

        dup = (
            source.filter(F.col(key).isNotNull())  # NULL keys match no
            # target row; ANSI MERGE just inserts them (review r3)
            .groupBy(key).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "MERGE source has duplicate keys — a target row would be "
                "updated by several source rows (ANSI MERGE cardinality "
                "violation)"
            )

        src_cols = [c for c in cols if c in source.columns]
        src = source.select(
            *[
                F.col(c).cast(current.schema[c].dataType).alias(f"__src_{c}")
                for c in src_cols
            ]
        ).withColumn("__matched", F.lit(True))

        # the validated source is small and key-unique — broadcast it
        # so the target's payload columns (bytes!) never ride a
        # sort-merge shuffle (CLAUDE.md payload-discipline invariant)
        joined = current.join(
            F.broadcast(src), current[key] == F.col(f"__src_{key}"), "left"
        )
        if when_matched == "update":
            if set_exprs:

                def _upd_col(c: str):
                    expr = _sub_outside_literals(
                        r"(?i)\bsrc\.", "__src_", set_exprs[c]
                    )
                    return (
                        F.when(F.col("__matched").isNotNull(), F.expr(expr))
                        .otherwise(F.col(c))
                        .cast(current.schema[c].dataType)
                        .alias(c)
                    )

                updated = joined.select(
                    *[
                        _upd_col(c) if c in set_exprs else F.col(c)
                        for c in cols
                    ]
                )
            else:
                updated = joined.select(
                    *[
                        (
                            F.when(
                                F.col("__matched").isNotNull(), F.col(f"__src_{c}")
                            ).otherwise(F.col(c)).alias(c)
                            if c in src_cols and c != key
                            else F.col(c)
                        )
                        for c in cols
                    ]
                )
            n_upd = int(current.join(
                F.broadcast(source.select(F.col(key).alias("__k"))),
                current[key] == F.col("__k"), "left_semi",
            ).count())
        else:
            updated = current
            n_upd = 0

        if when_not_matched == "insert":
            new_rows = source.join(
                current.select(F.col(key).alias("__k")),
                source[key] == F.col("__k"), "left_anti",
            )  # source is checkpointed: anti-join re-reads, not re-runs
            inserts = new_rows.select(
                *[
                    (F.col(c) if c in source.columns else F.lit(None))
                    .cast(current.schema[c].dataType)
                    .alias(c)
                    for c in cols
                ]
            )
            n_ins = int(new_rows.count())
            final = updated.unionByName(inserts)
        else:
            n_ins = 0
            final = updated

        im.overwrite(self.spark, self.path, final)
        return n_upd, n_ins

    def compact(self, target_files: int | None = None) -> int:
        """Rewrite the current snapshot (folding any merge-on-read
        delete files) into ``target_files`` parquet files (default:
        ceil(table bytes / 128 MB) — the classic small-files compaction
        after many appends). Data is unchanged (same rows, one commit);
        earlier snapshots stay readable. Returns the file count
        written."""
        import math as _math

        t = self._table()
        if target_files is None:
            data, _, _ = t.plan_files()
            nbytes = sum(os.path.getsize(d["path"]) for d in data)
            target_files = max(1, _math.ceil(nbytes / (128 << 20)))
        df = t.read(self.spark).repartition(int(target_files))
        t1 = im.overwrite(self.spark, self.path, df)
        data, _, _ = t1.plan_files()
        return len(data)

    def delete(self, where: Column | DataFrame | None = None) -> int:
        """DELETE; ``where=None`` empties the table. A Column predicate
        takes the file-targeted copy-on-write path (only files
        CONTAINING matches are rewritten — at scale a keyed DELETE
        touches a handful of files, not the table); a DataFrame
        ``where`` is a frame of affected fids (subquery predicates —
        see :meth:`_hit_frame`), applied as a left-anti join in a full
        rewrite, as is delete-all. The count comes from manifest stats
        (rows of the files dropped minus rows written back), so the
        (possibly non-deterministic) predicate is only ever evaluated
        in the commit itself (review r3) and no recount job runs; only
        a table carrying merge-on-read delete files counts its rows
        with a job, as its files' record counts include deleted rows."""
        if isinstance(where, Column):
            try:
                return im.removed_rows(im.delete_where(self.spark, self.path, where))
            except ValueError:
                # merge-on-read delete files present: CoW file targeting
                # is unsound there — fall back to the full rewrite
                pass
        t = self._table()
        current = t.read(self.spark)
        data, deletes, _ = t.plan_files(spark=self.spark)
        before = (int(current.count()) if deletes
                  else sum(f["record_count"] for f in data))
        if isinstance(where, DataFrame):
            remaining = current.join(
                self._hit_frame(where), self.fid_col, "left_anti"
            )
        else:
            cond = F.lit(True) if where is None else where
            remaining = current.filter(~cond | cond.isNull())
        t1 = im.overwrite(self.spark, self.path, remaining)
        return before - im.added_rows(t1)

"""Engine facade — the connection-surface analog.

The reference's user surface is a JDBC driver that wires a schema
factory, table map, and Calcite's spatial operator table into one
connection (jdbc/Driver.scala:37-122; model files README.md:151-172).
The Spark-native equivalent is this thin facade over a SparkSession:

    eng = Engine(spark)
    eng.register_table("imgs", "/data/imgs.parquet")   # schema entry
    eng.sql("SELECT ... WHERE ST_Within(...)")          # fun=spatial on
    eng.table("imgs").where_spatial(...).df()           # pushdown scan
    eng.register_function("MY_FN", fn)                  # UDF registry
    eng.insert("imgs", rows_df)                         # DML (§2.9)

Table names map to paths (parquet now, Iceberg identifiers when a
catalog is configured — the TableIO seam of SURVEY.md §1); DML verbs
delegate to the snapshot-commit machinery in io/dml.py when the path
is a SnapshotTable directory, else to plain parquet append.
"""

from __future__ import annotations

import logging
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_sql_spark.functions import register_all
from geomesa_sql_spark.io.dml import SnapshotTable, _sub_outside_literals
from geomesa_sql_spark.plan.scan import GeoTable


import re as _re


def _parse_dml(query: str):
    """Minimal DML statement recognizer. Returns None for SELECT-like
    text; otherwise (verb, table, body):
    - INSERT INTO t VALUES (...),(...) / INSERT INTO t SELECT ...
    - UPDATE t SET a = e1, b = e2 [WHERE cond]
    - DELETE FROM t [WHERE cond]
    - MERGE INTO t [a] USING s|(<subquery>) [b] ON key
      [WHEN MATCHED THEN UPDATE [SET col = expr, ...]]
      [WHEN NOT MATCHED THEN INSERT]
      (key-equality upsert: without a SET list, matched rows take the
      source's provided columns; WITH one (r3), only the SET columns
      update — expressions may mix target columns (bare or
      target-alias-qualified) with source columns (source-alias- or
      src.-qualified). Omitting both WHEN clauses means full upsert.
      Extra match predicates are not parsed — use Engine.merge.)
    Expressions inside SET/WHERE pass verbatim to Spark's expression
    parser (F.expr) — the same surface as the reference's Calcite SQL —
    except subquery-carrying clauses, which Engine.sql plans through
    spark.sql over the registered view instead: UPDATE/DELETE WHERE
    (IN/[NOT] EXISTS/scalar — see _where_arg) and UPDATE SET-side
    scalar subqueries (planned into a (fid, value) frame applied as a
    distributed fid join; correlated forms resolve against the target
    row like ANSI UPDATE, against the pre-update snapshot).
    """
    q = query.strip().rstrip(";")
    m = _re.match(
        r"(?is)^INSERT\s+INTO\s+(\w+)\s*(\([^)]*\))?\s*(VALUES\s+.*|SELECT\s+.*)$", q
    )
    if m:
        cols = None
        if m.group(2):
            cols = [c.strip() for c in m.group(2)[1:-1].split(",")]
        body = m.group(3)
        if body.upper().startswith("VALUES"):
            body = body[len("VALUES"):].strip()
        return ("insert", m.group(1), (cols, body))
    m = _re.match(
        r"(?is)^MERGE\s+INTO\s+(\w+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+USING\s+"
        r"(\w+|\([^()]*(?:\([^()]*\)[^()]*)*\))(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?\s+ON\s+(\w+)"
        r"(\s+WHEN\s+MATCHED\s+THEN\s+UPDATE"
        r"(?:\s+SET\s+(?P<set>.+?)(?=\s+WHEN\s+NOT\s+MATCHED|\s*$))?)?"
        r"(\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT)?\s*$",
        q,
    )
    if m:
        has_upd, has_ins = bool(m.group(6)), bool(m.group(8))
        if not has_upd and not has_ins:  # bare MERGE = full upsert
            has_upd = has_ins = True
        return (
            "merge",
            m.group(1),
            (m.group(3), m.group(5), has_upd, has_ins,
             m.group("set"), m.group(2), m.group(4)),
        )
    m = _re.match(r"(?is)^UPDATE\s+(\w+)\s+SET\s+(.*)$", q)
    if m:
        set_part, where = _split_top_level_where(m.group(2))
        return ("update", m.group(1), (set_part, where))
    m = _re.match(r"(?is)^DELETE\s+FROM\s+(\w+)(?:\s+(.*))?$", q)
    if m:
        rest = m.group(2)
        if rest is None:
            return ("delete", m.group(1), None)
        head, where = _split_top_level_where("__ " + rest)
        if head.strip() != "__" or where is None:
            return None  # junk between table name and WHERE
        return ("delete", m.group(1), where)
    return None


def _split_top_level_where(s: str) -> tuple[str, str | None]:
    """Split on the first WHERE at paren depth 0 outside quotes — a SET
    expression or string literal containing the word WHERE must not be
    cut (the lazy-regex version mis-split on the first ' WHERE ' text
    anywhere; ADVICE r01). Returns (head, where_clause | None)."""
    depth = 0
    quote = None
    i = 0
    n = len(s)
    while i < n:
        ch = s[i]
        if quote:
            if ch == "\\":  # backslash escape inside a literal
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and ch in "wW" and s[i : i + 5].upper() == "WHERE":
            before_ok = i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
            after = s[i + 5 : i + 6]
            after_ok = after == "" or not (after.isalnum() or after == "_")
            if before_ok and after_ok:
                return s[:i].rstrip(), s[i + 5 :].strip() or None
        i += 1
    return s, None


def _split_assignments(set_part: str):
    """Split 'a = e1, b = e2' on top-level commas (not inside parens
    or quotes)."""
    depth = 0
    quote = None
    start = 0
    parts = []
    skip = False
    for i, ch in enumerate(set_part):
        if skip:
            skip = False
            continue
        if quote:
            if ch == "\\":
                skip = True
            elif ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(set_part[start:i])
            start = i + 1
    parts.append(set_part[start:])
    for p in parts:
        col, expr = p.split("=", 1)
        yield col.strip(), expr.strip()


_SPATIAL_PRED_RE = _re.compile(
    r"(?is)ST_(Within|Intersects|Contains|DWithinSphere|DWithin|Touches"
    r"|Equals)\s*\(\s*"
    r"ST_MakePoint\s*\(\s*([A-Za-z_][\w.]*)\s*,\s*([A-Za-z_][\w.]*)\s*\)\s*,\s*"
    r"ST_GeomFromText\s*\(\s*'([^']+)'\s*\)\s*"
    r"(?:,\s*([0-9.eE+-]+)\s*)?\)"
)

# the flipped argument order — ST_Contains(<literal poly>, pt) is the
# most common containment spelling (FilterTest.scala uses both orders)
_SPATIAL_PRED_FLIP_RE = _re.compile(
    r"(?is)ST_(Within|Intersects|Contains|DWithinSphere|DWithin|Touches"
    r"|Equals)\s*\(\s*"
    r"ST_GeomFromText\s*\(\s*'([^']+)'\s*\)\s*,\s*"
    r"ST_MakePoint\s*\(\s*([A-Za-z_][\w.]*)\s*,\s*([A-Za-z_][\w.]*)\s*\)\s*"
    r"(?:,\s*([0-9.eE+-]+)\s*)?\)"
)


def _mask_literals(s: str) -> str:
    """Blank out quoted-literal CONTENT (keeping length and the quote
    chars) so paren-depth scans and keyword regexes can run over SQL
    that contains string literals — e.g. WKT in ST_GeomFromText('...').
    Handles doubled-quote escapes ('' and "")."""
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"":
            q = ch
            i += 1
            while i < n:
                if s[i] == "\\" and i + 1 < n:  # backslash escape
                    out[i] = out[i + 1] = " "
                    i += 2
                    continue
                if s[i] == q:
                    if i + 1 < n and s[i + 1] == q:  # doubled escape
                        out[i] = out[i + 1] = " "
                        i += 2
                        continue
                    break
                out[i] = " "
                i += 1
        i += 1
    return "".join(out)


def _has_routable_spatial(q: str) -> bool:
    """Entry hint for the CTE/derived-table routers: a spatial JOIN
    (``ON ST_*``) or a correlated spatial EXISTS anywhere in the text.
    Generous by design — the precise shape regexes still decide
    whether routing happens; this only gates whether the splitters
    engage at all."""
    if _re.search(r"(?i)\bON\s+ST_\w+\s*\(", q):
        return True
    return bool(
        _re.search(r"(?i)\bEXISTS\s*\(", q)
        and _re.search(r"(?i)\bWHERE\s+ST_\w+\s*\(", q)
    )


_TRANSFORM_NAME_RE = _re.compile(r"(?i)\bST_Transform\s*\(")


def _rewrite_two_arg_transform(query: str) -> str:
    """Calcite's fun=spatial operator table exposes the PostGIS-style
    ``ST_Transform(geom, srid INT)`` — source CRS from the geometry's
    own SRID tag. Spark UDF names are single-arity, so 2-arg call
    sites rewrite to ``ST_TransformSrid`` (functions/st.py) while this
    engine's explicit 3-arg form is left alone. Literal-masked,
    paren-aware (a comma inside a nested call or string never counts)."""
    masked = _mask_literals(query)
    out = query
    # right-to-left so the longer replacement never shifts earlier spans
    for m in reversed(list(_TRANSFORM_NAME_RE.finditer(masked))):
        open_i = m.end() - 1
        depth, commas, i, n = 0, 0, open_i, len(masked)
        while i < n:
            ch = masked[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            elif ch == "," and depth == 1:
                commas += 1
            i += 1
        if depth == 0 and commas == 1:
            out = (
                out[: m.start()]
                + _re.sub(
                    r"(?i)ST_Transform",
                    "ST_TransformSrid",
                    out[m.start() : m.end() - 1],
                    count=1,
                )
                + out[m.end() - 1 :]
            )
    return out


def _rewrite_spatial_predicates(query: str) -> str:
    """The SpatialFilterRule analog for SQL TEXT (reference:
    rules/GeoMesaSpatialFilterRule.scala translates RexNode ST_* calls
    into pushed GeoMesa filters). Spark's Catalyst cannot push a Python
    UDF predicate into a parquet scan, and the bare call costs three
    per-row Python UDFs (point WKB encode, literal WKB re-emit, relate).
    Each ``ST_Pred(ST_MakePoint(x, y), ST_GeomFromText('...'))`` call,
    in either argument order, is REPLACED by
    ``(bbox-range conjunction AND exact coordinate predicate)``:

    - the bbox ranges are plain column comparisons — sargable, so they
      reach the scan as PushedFilters (row-group/file pruning, and
      cell-range pruning on a write_geo_table layout);
    - the exact predicate runs over the coordinate doubles
      (functions/st.point_predicate_sql): plain comparisons for a
      rectangle with intersects/within and for DWithin against a POINT,
      otherwise one ``ST_PointPredicate`` kernel call per Arrow batch.
      Flipped ``Contains(literal, pt)`` maps to within.

    The answers equal the bare call's, NULLs included: a NULL
    coordinate gives False (and NULL for DWithin, whose bbox is ORed
    with the NULL test so it cannot turn that NULL into False).

    DWithin expands the envelope by the literal distance. Left as the
    bare call: unparseable WKT, the order where the point would have to
    contain the literal, and DWithinSphere (which gains only the bbox
    conjunction, ANDed with the original call).

    Also normalizes the Calcite 2-arg ST_Transform idiom first (see
    _rewrite_two_arg_transform).
    """
    query = _rewrite_two_arg_transform(query)

    def _rewrite(whole: str, pred: str, x: str, y: str, wkt: str,
                 dist: str | None, point_first: bool) -> str:
        from geomesa_sql_spark.functions.st import point_predicate_sql
        from geomesa_sql_spark.geom import geom_from_wkt

        p = pred.lower()
        # the order where the POINT would have to contain/cover the
        # other geometry gives no envelope shrink; leave the exact call
        if (point_first and p == "contains") or (not point_first and p == "within"):
            return whole
        try:
            g = geom_from_wkt(wkt)
            minx, miny, maxx, maxy = g.envelope()
            d = float(dist) if dist else None
        except Exception:
            return whole
        pad = d if (d is not None and p == "dwithin") else 0.0
        pad_y = pad
        if p == "dwithinsphere":
            # metres → conservative degrees (join/spatial's proven
            # over-cover). A cap that spills past ±180 or clamps at a
            # pole isn't one box — leave just the exact UDF call there
            # (plan/filter.spatial_filter handles those shapes fully).
            if d is None:
                return whole
            import numpy as _np

            from geomesa_sql_spark.join.spatial import _sphere_deg_bounds

            band_lat = max(abs(miny), abs(maxy))
            dlat, dlon = _sphere_deg_bounds(_np.array([band_lat]), d)
            pad_y = float(_np.atleast_1d(dlat)[0])
            pad = float(dlon[0])
            if (
                pad >= 180.0
                or minx - pad < -180.0
                or maxx + pad > 180.0
                or miny - pad_y < -90.0
                or maxy + pad_y > 90.0
            ):
                return whole
        bbox = (
            f"{x} >= {minx - pad!r} AND {x} <= {maxx + pad!r} AND "
            f"{y} >= {miny - pad_y!r} AND {y} <= {maxy + pad_y!r}"
        )
        op = "within" if p == "contains" else p  # point-first name
        if p == "dwithinsphere" or (d is None) == (op == "dwithin"):
            # no coordinate kernel (or an arity the bare call rejects
            # itself): keep the original call as the exact residual
            return f"({bbox} AND {whole})"
        exact = point_predicate_sql(op, x, y, g, wkt, d)
        if op == "dwithin":
            return f"((({bbox}) OR {x} IS NULL OR {y} IS NULL) AND {exact})"
        tail = "" if exact is None else f" AND {exact}"
        return f"({x} IS NOT NULL AND {y} IS NOT NULL AND {bbox}{tail})"

    def _sub(m: _re.Match) -> str:
        pred, x, y, wkt, dist = m.groups()
        return _rewrite(m.group(0), pred, x, y, wkt, dist, point_first=True)

    def _sub_flip(m: _re.Match) -> str:
        pred, wkt, x, y, dist = m.groups()
        return _rewrite(m.group(0), pred, x, y, wkt, dist, point_first=False)

    return _SPATIAL_PRED_FLIP_RE.sub(
        _sub_flip, _SPATIAL_PRED_RE.sub(_sub, query)
    )


_JOINWORDS = r"INNER\b|LEFT\b|RIGHT\b|FULL\b|CROSS\b|OUTER\b|NATURAL\b|SEMI\b|ANTI\b|JOIN\b"
_SPATIAL_JOIN_RE = _re.compile(
    r"(?is)^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+"
    r"(?P<t1>\w+)(?:\s+(?:AS\s+)?(?!" + _JOINWORDS + r")(?P<a1>\w+))?\s+"
    r"(?:(?P<jt>LEFT|RIGHT|FULL)(?:\s+OUTER)?\s+|INNER\s+)?JOIN\s+"
    r"(?P<t2>\w+)(?:\s+(?:AS\s+)?(?!ON\b)(?P<a2>\w+))?\s+"
    r"ON\s+(?P<on>ST_\w+\s*\([^()]*(?:\([^()]*\)[^()]*)*\))"
    r"(?P<rest>\s+.+?)?\s*;?\s*$"
)
_SPATIAL_EXISTS_RE = _re.compile(
    r"(?is)^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+"
    r"(?P<t1>\w+)(?:\s+(?:AS\s+)?(?!WHERE\b)(?P<a1>\w+))?\s+"
    r"WHERE\s+(?P<neg>NOT\s+)?EXISTS\s*\(\s*"
    r"SELECT\s+.+?\s+FROM\s+(?P<t2>\w+)(?:\s+(?:AS\s+)?(?!WHERE\b)(?P<a2>\w+))?\s+"
    r"WHERE\s+(?P<on>ST_\w+\s*\([^()]*(?:\([^()]*\)[^()]*)*\))\s*\)"
    r"(?P<rest>\s+.+?)?\s*;?\s*$"
)
_TAIL_RE = _re.compile(
    r"(?is)^\s*(?:WHERE\s+(?P<where>.+?))?"
    r"\s*(?:GROUP\s+BY\s+(?P<group>.+?))?"
    r"\s*(?:HAVING\s+(?P<having>.+?))?"
    r"\s*(?:ORDER\s+BY\s+(?P<order>.+?))?"
    r"\s*(?:LIMIT\s+(?P<limit>\d+))?\s*$"
)
_CHAIN_JOIN_RE = _re.compile(
    r"(?is)^\s*(?P<join>(?:(?:INNER|LEFT(?:\s+OUTER)?|RIGHT(?:\s+OUTER)?"
    r"|FULL(?:\s+OUTER)?)\s+)?JOIN\s+\w+(?:\s+(?:AS\s+)?\w+)?\s+ON\s+.+?)"
    r"(?=\s+(?:(?:INNER|LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?)?JOIN\s+"
    r"|\s+WHERE\s+|\s+GROUP\s+BY\s+|\s+HAVING\s+|\s+ORDER\s+BY\s+"
    r"|\s+LIMIT\s+|\s*$)"
)
_GEOM_ARG_RE = _re.compile(
    r"(?is)^ST_(?P<pred>Within|Intersects|Contains|DWithinSphere|DWithin"
    r"|Touches|Crosses|Overlaps|Equals)\s*\(\s*"
    r"(?P<g1>ST_MakePoint\s*\(\s*[\w.]+\s*,\s*[\w.]+\s*\)|[\w.]+)\s*,\s*"
    r"(?P<g2>ST_MakePoint\s*\(\s*[\w.]+\s*,\s*[\w.]+\s*\)|[\w.]+)\s*"
    r"(?:,\s*(?P<dist>[0-9.eE+-]+)\s*)?\)\s*$"
)


def _strip_qual(name: str) -> str:
    return name.rsplit(".", 1)[-1]


def _qual_of(name: str) -> str | None:
    """Alias/table qualifier of a column reference, if any."""
    return name.rsplit(".", 1)[0] if "." in name else None


_LOG = logging.getLogger(__name__)


class Engine:
    def __init__(self, spark: SparkSession, fid_col: str = "image_id"):
        self.spark = spark
        self.fid_col = fid_col
        self._tables: dict[str, str] = {}
        self._views: dict[str, DataFrame] = {}
        # one reusable temp-view slot for the SQL-text spatial-join
        # router (unique per Engine so two engines on one session don't
        # clobber each other's in-flight name)
        self._routed_view = f"__gsj_routed_{uuid.uuid4().hex[:8]}"
        register_all(spark)  # the fun=spatial analog, always on

    # ------------------------------------------------------------- catalog

    @classmethod
    def from_model(
        cls, spark: SparkSession, model_path: str, fid_col: str = "image_id"
    ):
        """Build an Engine from a Calcite-style model file — the
        ``geomesa-sqlline -m model.yaml`` analog (reference
        README.md:151-172). Default-schema tables register bare on the
        engine; other schemas become Spark databases of external
        tables addressed as ``schema.table`` (io/model.py)."""
        from geomesa_sql_spark.io.model import apply_model

        engine = cls(spark, fid_col=fid_col)
        engine.model = apply_model(engine, model_path)
        return engine

    def register_table(self, name: str, path: str) -> None:
        """Add a table to the schema and expose it to SQL (the analog of
        GeoMesaSchema's typeName → table map, GeoMesaSchema.scala:38-50)."""
        self._tables[name] = path
        self._read(path).createOrReplaceTempView(name)

    def register_view(self, name: str, df: DataFrame) -> None:
        """Register a DataFrame (not a path) as a queryable table — the
        analog of a Calcite view in the schema; visible to spark.sql and
        to the engine's SQL-text spatial planner."""
        self._views[name] = df
        df.createOrReplaceTempView(name)

    def tables(self) -> list[str]:
        """!table analog (metadata without execution)."""
        return sorted(set(self._tables) | set(self._views))

    def describe(self, name: str):
        """!describe analog: StructType without running a query."""
        if name in self._views:
            return self._views[name].schema
        if name not in self._tables:
            raise ValueError(f"unknown table {name!r}")
        return self._read(self._tables[name]).schema

    def _read(self, path: str) -> DataFrame:
        if os.path.exists(os.path.join(path, "_CURRENT")):
            return SnapshotTable(self.spark, path, self.fid_col).read()
        if os.path.exists(os.path.join(path, "metadata", "version-hint.text")):
            # on-disk Iceberg table dir → the pure-Python format reader
            # (snapshot isolation + v2 deletes applied); catalog-jar
            # identifiers don't reach here (they aren't paths)
            from geomesa_sql_spark.io.iceberg_meta import IcebergTable

            return IcebergTable.load(path).read(self.spark)
        return self.spark.read.parquet(path)

    # -------------------------------------------------------------- query

    def sql(self, query: str) -> DataFrame:
        """SELECT → Spark SQL; INSERT/UPDATE/DELETE on a registered
        snapshot table → snapshot commit returning a single-row
        affected-count frame, like the reference's executeUpdate
        (nodes/GeoMesaPhysicalTableModify.scala:129-143 returns the
        count as a 1-row result)."""
        dml = _parse_dml(query)
        if dml is None:
            routed = self._route_with_ctes(query)
            if routed is not None:
                return routed
            routed = self._route_select(query)
            if routed is not None:
                return routed
            return self.spark.sql(_rewrite_spatial_predicates(query))
        verb, table, body = dml
        if table not in self._tables:
            raise ValueError(f"unknown table {table!r} in DML")
        if verb == "insert":
            cols, src = body
            names = cols or self.describe(table).names
            if src.upper().startswith("SELECT"):
                rows = self.spark.sql(src).toDF(*names)
            else:
                rows = self.spark.sql(
                    f"SELECT * FROM (VALUES {src}) AS t({', '.join(names)})"
                )
            n = self.insert(table, rows)
        elif verb == "merge":
            src_ref, key, do_upd, do_ins, set_part, tgt_alias, src_alias = body
            if src_ref.startswith("("):
                source = self.spark.sql(src_ref[1:-1])
            elif src_ref in self._views:
                source = self._views[src_ref]
            elif src_ref in self._tables:
                source = self.df(src_ref)
            else:
                raise ValueError(f"unknown MERGE source {src_ref!r}")
            set_exprs = None
            if set_part:
                # normalize qualifiers: the USING alias/name -> 'src.'
                # (the convention io/dml.py's merge consumes); the
                # target alias/name is stripped (bare names = target).
                # Rewrites run OUTSIDE string literals only (review
                # r3); a target named/aliased 'src' would still collide
                # with the convention — refuse that loudly.
                if "src" in (table.lower(), (tgt_alias or "").lower()):
                    raise ValueError(
                        "a MERGE target named/aliased 'src' collides with "
                        "the source-qualifier convention — rename it or "
                        "use Engine.merge(set_exprs=...)"
                    )
                for q_ in filter(None, (src_alias, src_ref if _re.match(r"^\w+$", src_ref) else None)):
                    set_part = _sub_outside_literals(
                        rf"(?i)\b{_re.escape(q_)}\.", "src.", set_part
                    )
                for q_ in filter(None, (tgt_alias, table)):
                    set_part = _sub_outside_literals(
                        rf"(?i)\b{_re.escape(q_)}\.", "", set_part
                    )
                set_exprs = dict(_split_assignments(set_part))
            n_upd, n_ins = self.merge(
                table,
                source,
                on=key,
                when_matched="update" if do_upd else "ignore",
                when_not_matched="insert" if do_ins else "ignore",
                set_exprs=set_exprs,
            )
            n = n_upd + n_ins
        elif verb == "update":
            set_part, where = body
            if where is not None:
                where = _rewrite_spatial_predicates(where)
            exprs: dict = dict(_split_assignments(set_part))
            # SET-side scalar subqueries (r4 verdict #8): F.expr can't
            # plan them, so each such SET expression is planned by
            # spark.sql over the registered view — Spark's subquery
            # planner handles scalar/correlated forms for free — into a
            # (fid, value) frame that io/dml.py applies as a fid join
            where_sql = f" WHERE {where}" if where is not None else ""
            for i, (col_, ex) in enumerate(exprs.items()):
                if _re.search(r"(?is)\(\s*SELECT\b", _mask_literals(ex)):
                    exprs[col_] = self.spark.sql(
                        f"SELECT {self.fid_col}, ({ex}) AS __v{i} "
                        f"FROM {table}{where_sql}"
                    )
            n = self.update(table, exprs, self._where_arg(table, where))
        else:
            where = None if body is None else _rewrite_spatial_predicates(body)
            n = self.delete(table, self._where_arg(table, where))
        return self.spark.createDataFrame([(n,)], "affected bigint")

    def _where_arg(
        self, table: str, where: str | None
    ) -> Column | DataFrame | None:
        """DML WHERE text → planner argument. Plain predicates become a
        Column (F.expr, whole-stage codegen); predicates carrying a
        subquery (IN/NOT IN/[NOT] EXISTS/scalar) can't live in a Column,
        so they're planned by spark.sql over the registered view — where
        Spark's subquery planner (semi/anti join, ANSI NOT-IN nulls) is
        free — and handed down as the matching-fid frame that
        io/dml.py's update/delete consume as a distributed semi/anti
        join. The reference plans DML through the full Calcite planner
        so subqueries work there (ModificationTest.scala surface); this
        closes the SQL-text gap noted in VERDICT r3 (missing #3).
        ``where`` arrives already through _rewrite_spatial_predicates,
        like every SELECT's text."""
        if where is None:
            return None
        if _re.search(r"(?is)\(\s*SELECT\b", _mask_literals(where)):
            return self.spark.sql(
                f"SELECT {self.fid_col} FROM {table} WHERE {where}"
            )
        return F.expr(where)

    def _route_spatial_join(self, query: str) -> DataFrame | None:
        """The EnumerableSpatialJoinRule analog for SQL TEXT: a query of
        the canonical shape

            SELECT <cols> FROM t1 [a] [LEFT|RIGHT|FULL] JOIN t2 [b]
            ON ST_Pred(<geom of one side>, <geom of other side>[, dist])
            [WHERE <residual>]

        is planned through :func:`join.spatial_join` (cell cover +
        broadcast-or-repartition hash join + vectorized refine) instead
        of the cartesian BroadcastNestedLoop + UDF plan Spark would
        build for a Python-UDF ON clause (which Spark outright REJECTS
        for outer joins). LEFT/RIGHT/FULL route when the preserved
        side(s) carry the engine's ``fid_col`` as a unique key — the
        reference optimizes LEFT the same way
        (rules/EnumerableSpatialJoinRule.scala:43-44). Geometry
        operands: ``ST_MakePoint(x, y)`` or a bare WKB column;
        alias-qualified operands orient the join even when both tables
        carry same-named columns. Returns None when the query doesn't
        match; any bail after the query LOOKS spatial logs a warning
        naming the cartesian fallback.
        """
        qtext = query.strip()
        m = _SPATIAL_JOIN_RE.match(_mask_literals(qtext))
        if not m:
            return self._route_spatial_after_prefix(query)

        def _bail(why: str) -> None:
            _LOG.warning(
                "SQL-text spatial join NOT routed (%s) — falling back to "
                "plain spark.sql, which plans a Python-UDF ON clause as a "
                "cartesian BroadcastNestedLoopJoin (and rejects it for "
                "outer joins): %.200s",
                why,
                query,
            )

        g = _GEOM_ARG_RE.match(qtext[m.start("on"):m.end("on")])
        if not g:
            _bail("unsupported ST_ predicate or operand shape in ON")
            return None
        # literal handling: the shape regex matched MASKED text, so all
        # further keyword matching runs on the masked twin while slices
        # come from the original — and the alias requalifier below skips
        # literal content (_sub_outside_literals). The old blanket quote
        # bail (ADVICE r2) is gone: 'tag' constants in the select list
        # and literals in the tail are routable now.
        rest = qtext[m.start("rest"):m.end("rest")] if m.group("rest") else ""
        mrest = m.group("rest") or ""
        sel = qtext[m.start("sel"):m.end("sel")].strip()
        # conjunctive ON: `ON ST_Pred(...) AND <residual>` — for an
        # INNER join the residual is equivalent to a post-join WHERE,
        # so it folds into the tail below (the reference's rule splits
        # the RexCall conjunction the same way). Outer joins bail: an
        # ON-residual is join-scoped there, not a filter.
        on_resid = None
        am = _re.match(
            r"(?is)^\s*AND\s+(?P<cond>.+?)"
            r"(?=\s+(?:(?:INNER|LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?)?JOIN\s+"
            r"|\s+WHERE\s+|\s+GROUP\s+BY\s+|\s+HAVING\s+|\s+ORDER\s+BY\s+"
            r"|\s+LIMIT\s+|\s*$)",
            mrest,
        )
        if am:
            on_resid = rest[am.start("cond"):am.end("cond")].strip()
            if _re.search(r"(?i)\bST_\w+\s*\(", am.group("cond")):
                _bail("second spatial predicate in the ON conjunction")
                return None
            if (m.group("jt") or "inner").lower() != "inner":
                _bail(
                    "ON-clause residual conjunct on an OUTER spatial join "
                    "(join-scoped semantics can't be expressed as WHERE)"
                )
                return None
            rest = rest[am.end():]
            mrest = mrest[am.end():]
        # multi-join CHAINS: subsequent plain joins after the spatial
        # one peel off the front of the tail and run as ordinary Spark
        # SQL over the routed view (the Calcite planner keeps the other
        # LogicalJoins above its EnumerableSpatialJoin the same way); a
        # SECOND spatial join in the chain still bails.
        chain = ""
        while True:
            cm = _CHAIN_JOIN_RE.match(mrest)
            if not cm:
                break
            if _re.search(r"(?i)\bST_\w+\s*\(", cm.group("join")):
                _bail("second spatial join in the chain")
                return None
            chain += " " + rest[cm.start("join"):cm.end("join")].strip()
            rest = rest[cm.end():]
            mrest = mrest[cm.end():]
        if _re.search(r"(?i)\b(UNION|JOIN|INTERSECT|EXCEPT)\b", mrest):
            _bail("set-operation or unparseable join tail")
            return None
        tm = _TAIL_RE.match(mrest)
        if not tm or (tm.group("having") and not tm.group("group")):
            _bail("unparseable tail clauses")
            return None

        def tg(name: str) -> str | None:
            # tail clause text from the ORIGINAL string (the match ran
            # on the masked twin)
            return (
                rest[tm.start(name):tm.end(name)]
                if tm.group(name) is not None
                else None
            )
        t1, t2 = m.group("t1"), m.group("t2")
        known = set(self._tables) | set(self._views)
        if t1 not in known or t2 not in known:
            _bail("table(s) not registered with this Engine")
            return None
        if t1 == t2:
            # the routed joined frame would carry duplicate column names
            _bail("self-join (joined frame would have duplicate columns)")
            return None

        from geomesa_sql_spark.join import spatial_join
        from geomesa_sql_spark.join.spatial import GeomSide

        df1, df2 = self.df(t1), self.df(t2)

        def _side(arg: str) -> tuple[GeomSide, set[str], set[str]]:
            pm = _re.match(
                r"(?is)ST_MakePoint\s*\(\s*([\w.]+)\s*,\s*([\w.]+)\s*\)", arg
            )
            if pm:
                rx, ry = pm.group(1), pm.group(2)
                x, y = _strip_qual(rx), _strip_qual(ry)
                quals = {q for q in (_qual_of(rx), _qual_of(ry)) if q}
                return GeomSide(x=x, y=y), {x, y}, quals
            col = _strip_qual(arg)
            q = _qual_of(arg)
            return GeomSide(wkb=col), {col}, ({q} if q else set())

        side_a, cols_a, quals_a = _side(g.group("g1"))
        side_b, cols_b, quals_b = _side(g.group("g2"))
        pred = g.group("pred").lower()
        if pred == "dwithinsphere":
            pred = "dwithin_sphere"  # spatial_join's spelling
            if not (side_a.is_point and side_b.is_point):
                # the optimized path is point x point; the scalar
                # ST_DWithinSphere UDF still answers via plain spark.sql
                _bail("ST_DWithinSphere routes point x point only")
                return None
        dist = float(g.group("dist")) if g.group("dist") else None

        # orient: spatial_join evaluates pred(left_df_geom, right_df_geom)
        # with left_df = t1 as written in the FROM clause. Qualified
        # operands orient by their alias/table prefix; unqualified ones
        # by column membership (bailing when both orientations resolve).
        names1 = {t1, m.group("a1") or t1}
        names2 = {t2, m.group("a2") or t2}

        def _owner(quals: set[str]) -> int:
            if quals and quals <= names1:
                return 1
            if quals and quals <= names2:
                return 2
            return 0

        fa, fb = _owner(quals_a), _owner(quals_b)
        if (quals_a or quals_b) and not (fa or fb):
            _bail("geometry operand qualifier matches neither table")
            return None
        if fa and fb and fa == fb:
            _bail("both geometry operands qualify to the same table")
            return None
        if (fa, fb) in ((1, 2), (1, 0), (0, 2)):
            fwd, rev = True, False
        elif (fa, fb) in ((2, 1), (2, 0), (0, 1)):
            fwd, rev = False, True
        else:
            fwd = cols_a <= set(df1.columns) and cols_b <= set(df2.columns)
            rev = cols_b <= set(df1.columns) and cols_a <= set(df2.columns)
            if fwd and rev:
                _bail("ambiguous operand columns (both orientations resolve)")
                return None
        if fwd:
            left_side, right_side = side_a, side_b
            lcols, rcols = cols_a, cols_b
        elif rev:
            flip = {"contains": "within", "within": "contains"}
            pred = flip.get(pred, pred)
            left_side, right_side = side_b, side_a
            lcols, rcols = cols_b, cols_a
        else:
            _bail("operand columns don't split across the tables")
            return None
        if not (lcols <= set(df1.columns) and rcols <= set(df2.columns)):
            _bail("geometry operand column(s) missing from the joined tables")
            return None

        # outer joins: spatial_join restores unmatched rows via an
        # anti-join on a unique key of the preserved side(s)
        how = (m.group("jt") or "inner").lower()
        join_kw: dict = {}
        if how in ("left", "full") :
            if self.fid_col not in df1.columns:
                _bail(
                    f"{how.upper()} spatial join needs a unique key on "
                    f"{t1} (Engine fid_col={self.fid_col!r} is not a column)"
                )
                return None
            join_kw["left_key"] = self.fid_col
        if how in ("right", "full"):
            if self.fid_col not in df2.columns:
                _bail(
                    f"{how.upper()} spatial join needs a unique key on "
                    f"{t2} (Engine fid_col={self.fid_col!r} is not a column)"
                )
                return None
            join_kw["right_key"] = self.fid_col

        # residual/select references may be alias- or table-qualified;
        # the joined frame is unqualified, so strip the known prefixes
        quals = [q for q in (m.group("a1"), m.group("a2"), t1, t2) if q]
        def _unqual(expr: str, view: str) -> str:
            # requalify the routed pair's aliases to the VIEW (not bare
            # names — a chained join table may carry the same column
            # name, and a stripped reference would turn ambiguous);
            # literal content is skipped (a string mentioning "p." must
            # not be rewritten)
            for q in quals:
                expr = _sub_outside_literals(
                    rf"(?i)\b{_re.escape(q)}\.", f"{view}.", expr
                )
            return expr

        # overlapping column names: the join's refine stage and the tail
        # SQL reference columns by bare name over the joined frame, so
        # clashes are renamed out of the right side. Only the ON clause
        # may touch a clashing name — a select/tail reference to one
        # can't be rewritten faithfully, so it bails.
        clash = set(df1.columns) & set(df2.columns)
        if clash:
            body = _mask_literals(f"{sel} {chain} {on_resid or ''} {rest}")
            hit = [c for c in clash
                   if _re.search(rf"(?i)\b{_re.escape(c)}\b", body)]
            if hit:
                _bail(
                    f"select/tail references column(s) {hit} present in "
                    "BOTH tables"
                )
                return None
            ren = {c: f"__gsj_r_{c}" for c in clash}
            for old, new in ren.items():
                df2 = df2.withColumnRenamed(old, new)

            def _ren_side(s: GeomSide) -> GeomSide:
                if s.wkb:
                    return GeomSide(wkb=ren.get(s.wkb, s.wkb))
                return GeomSide(x=ren.get(s.x, s.x), y=ren.get(s.y, s.y))

            right_side = _ren_side(right_side)
            if "right_key" in join_kw:
                join_kw["right_key"] = ren.get(
                    join_kw["right_key"], join_kw["right_key"]
                )

        out = spatial_join(
            df1, df2, left_side, right_side, predicate=pred, distance=dist,
            how=how, **join_kw,
        )
        # arbitrary select lists (incl. aggregates) and GROUP BY /
        # HAVING / ORDER BY / LIMIT tails: run the REMAINDER of the
        # query as plain Spark SQL over a temp view of the optimized
        # join — our plan for the join, Catalyst's planning for the
        # tail (reference analog: the Calcite planner keeps the
        # Aggregate/Sort above its EnumerableSpatialJoin node).
        # Per-call unique name, DROPPED once the returned DataFrame has
        # captured its plan: a fixed per-Engine name raced concurrent
        # .sql() calls on one Engine (review r3), and never dropping
        # leaked a catalog entry per query (ADVICE r2).
        view = f"{self._routed_view}_{uuid.uuid4().hex[:8]}"
        out.createOrReplaceTempView(view)
        # chained plain joins keep their own table qualifiers; only the
        # routed pair's aliases are stripped (its columns live
        # unqualified on the view)
        sql = f"SELECT {_unqual(sel, view)} FROM {view}"
        if chain:
            sql += f" {_unqual(chain, view).strip()}"
        where_parts = [p for p in (on_resid, tg("where")) if p]
        if where_parts:
            sql += " WHERE " + " AND ".join(
                f"({_unqual(p, view)})" for p in where_parts
            )
        if tg("group"):
            sql += f" GROUP BY {_unqual(tg('group'), view)}"
        if tg("having"):
            sql += f" HAVING {_unqual(tg('having'), view)}"
        if tg("order"):
            sql += f" ORDER BY {_unqual(tg('order'), view)}"
        if tg("limit"):
            sql += f" LIMIT {tg('limit')}"
        try:
            return self.spark.sql(sql)
        except Exception as exc:  # AnalysisException: e.g. a stripped
            # reference is ambiguous because both tables carry the name
            _bail(f"tail failed to resolve over the joined frame: {exc}")
            return None
        finally:
            # the returned DataFrame captured its analyzed plan; the
            # view is only needed during spark.sql() above
            self.spark.catalog.dropTempView(view)

    def _route_with_ctes(self, query: str) -> DataFrame | None:
        """WITH-clause queries containing a spatial join: each CTE body
        is routed through the spatial planner (falling back to plain
        Spark SQL when it isn't a spatial join) and registered as a
        temp view under its CTE name; the main SELECT then plans over
        those views — itself routed if IT is the spatial part. Without
        this, a spatial join inside a CTE silently got the cartesian
        Python-UDF plan (the Calcite planner sees through CTEs because
        they're just LogicalProject subtrees by the time
        EnumerableSpatialJoinRule runs).

        Returns None (untouched plain path) when the query has no WITH
        clause or no ``ON ST_*(...)`` join anywhere; bails with a
        warning on shapes the splitter can't handle faithfully.
        """
        q = query.strip().rstrip(";").strip()
        if not _re.match(r"(?is)^WITH\b", q):
            return None
        if not _has_routable_spatial(q):
            return None  # nothing spatial: plain spark.sql handles WITH

        def _bail(why: str) -> None:
            _LOG.warning(
                "WITH-clause spatial join NOT routed (%s) — falling back "
                "to plain spark.sql, which plans a Python-UDF ON clause "
                "as a cartesian BroadcastNestedLoopJoin: %.200s",
                why,
                query,
            )

        mq = _mask_literals(q)  # literals blanked: WKT in a CTE body
        # must not confuse the paren/keyword scan (the bodies themselves
        # pass through VERBATIM, so their literals are safe)
        if _re.search(r"(?i)\bRECURSIVE\b", mq):
            _bail("WITH RECURSIVE")
            return None
        # split `WITH n1 AS (...), n2 AS (...) SELECT ...` by paren depth
        i = _re.match(r"(?is)^WITH\s+", q).end()
        ctes: list[tuple[str, str]] = []
        while True:
            nm = _re.match(r"(?is)(\w+)\s+AS\s*\(", mq[i:])
            if not nm:
                _bail("unparseable CTE definition")
                return None
            j = i + nm.end()  # position just past the opening paren
            depth, k = 1, j
            while k < len(q) and depth:
                if mq[k] == "(":
                    depth += 1
                elif mq[k] == ")":
                    depth -= 1
                k += 1
            if depth:
                _bail("unbalanced parens in CTE definition")
                return None
            ctes.append((nm.group(1), q[j:k - 1].strip()))
            cm = _re.match(r"(?is)\s*,\s*", q[k:])
            if not cm:
                main = q[k:].strip()
                break
            i = k + cm.end()
        if not _re.match(r"(?is)^SELECT\b", main):
            _bail("WITH body is not a SELECT")
            return None
        known = set(self._tables) | set(self._views)
        clash = [n for n, _ in ctes
                 if n in known or self.spark.catalog.tableExists(n)]
        if clash:
            _bail(f"CTE name(s) {clash} shadow existing tables/views")
            return None
        registered: list[str] = []
        try:
            for name, body in ctes:
                routed = self._route_select(body)
                df = (
                    routed
                    if routed is not None
                    else self.spark.sql(_rewrite_spatial_predicates(body))
                )
                self._views[name] = df
                df.createOrReplaceTempView(name)
                registered.append(name)
            routed = self._route_select(main)
            if routed is not None:
                return routed
            return self.spark.sql(_rewrite_spatial_predicates(main))
        finally:
            # every returned DataFrame captured its analyzed plan during
            # spark.sql()/routing above, so the views can go immediately
            for name in registered:
                del self._views[name]
                self.spark.catalog.dropTempView(name)

    def _route_select(self, query: str) -> DataFrame | None:
        """One SELECT routing attempt, most-specific shape first:
        top-level set operations (each branch recurses back through
        here), correlated spatial EXISTS, the spatial-join router
        (primary / chain-prefix), then derived-table lifting (whose
        rewritten query recurses back through here). CTE bodies and
        mains funnel through this too, so every routable shape works
        at every nesting position."""
        routed = self._route_set_ops(query)
        if routed is None:
            routed = self._route_spatial_exists(query)
        if routed is None:
            routed = self._route_spatial_join(query)
        if routed is None:
            routed = self._route_derived_tables(query)
        return routed

    def _route_set_ops(self, query: str) -> DataFrame | None:
        """Top-level UNION / INTERSECT / EXCEPT ([ALL]) whose branches
        contain spatial joins: each branch routes independently (plain
        branches run as ordinary Spark SQL), the results combine with
        the matching DataFrame set operation (positional columns —
        SQL's own semantics), and a set-level trailing ORDER BY/LIMIT
        applies to the combined frame. Mixed operator FAMILIES bail:
        SQL gives INTERSECT higher precedence than UNION/EXCEPT and
        this flat splitter cannot honor that.
        """
        q = query.strip().rstrip(";").strip()
        if not _has_routable_spatial(q):
            return None
        mq = _mask_literals(q)
        depths, d = [], 0
        for ch in mq:
            depths.append(d)
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
        setop_re = _re.compile(
            r"(?i)\b(UNION\s+ALL|UNION|INTERSECT\s+ALL|INTERSECT"
            r"|EXCEPT\s+ALL|EXCEPT)\b"
        )
        cuts = [
            (mm.start(), mm.end(), " ".join(mm.group(1).upper().split()))
            for mm in setop_re.finditer(mq)
            if depths[mm.start()] == 0
        ]
        if not cuts:
            return None

        def _bail(why: str) -> None:
            _LOG.warning(
                "set-operation spatial query NOT routed (%s) — falling "
                "back to plain spark.sql: %.200s",
                why,
                query,
            )

        families = {op.split()[0] for _, _, op in cuts}
        if len(families) > 1:
            _bail("mixed set-operator families (precedence not handled)")
            return None
        bounds = [0] + [c[0] for c in cuts] + [len(q)]
        branches = []
        for i in range(len(cuts) + 1):
            lo = bounds[i] if i == 0 else cuts[i - 1][1]
            hi = bounds[i + 1]
            branches.append((q[lo:hi].strip(), mq[lo:hi]))
        # set-level tail: trailing top-level ORDER BY / LIMIT belongs to
        # the whole set (a branch cannot carry its own without parens)
        last, mlast = branches[-1]
        tail_sql = ""
        tmm = _re.search(
            r"(?is)\s(ORDER\s+BY\s.+?"
            r"|LIMIT\s+\d+(?:\s+OFFSET\s+\d+)?"
            r"|OFFSET\s+\d+)\s*$",
            mlast,
        )
        if tmm:
            dlast, dd = [], 0
            for ch in mlast:
                dlast.append(dd)
                if ch == "(":
                    dd += 1
                elif ch == ")":
                    dd -= 1
            if dlast[tmm.start()] == 0:
                tail_sql = last[tmm.start():].strip()
                branches[-1] = (last[: tmm.start()].strip(), None)
        dfs = []
        for btext, _mb in branches:
            routed = self._route_select(btext)
            dfs.append(
                routed
                if routed is not None
                else self.spark.sql(_rewrite_spatial_predicates(btext))
            )
        try:
            out = dfs[0]
            for (_, _, op), nxt in zip(cuts, dfs[1:]):
                if op == "UNION ALL":
                    out = out.unionAll(nxt)
                elif op == "UNION":
                    out = out.unionAll(nxt).distinct()
                elif op == "INTERSECT":
                    out = out.intersect(nxt)
                elif op == "INTERSECT ALL":
                    out = out.intersectAll(nxt)
                elif op == "EXCEPT":
                    out = out.subtract(nxt)
                else:  # EXCEPT ALL
                    out = out.exceptAll(nxt)
        except Exception as exc:
            _bail(f"branch frames failed to combine: {exc}")
            return None
        if not tail_sql:
            return out
        view = f"{self._routed_view}_set_{uuid.uuid4().hex[:8]}"
        out.createOrReplaceTempView(view)
        try:
            return self.spark.sql(f"SELECT * FROM {view} {tail_sql}")
        except Exception as exc:
            _bail(f"set-level tail failed to resolve: {exc}")
            return None
        finally:
            self.spark.catalog.dropTempView(view)

    def _route_spatial_exists(self, query: str) -> DataFrame | None:
        """Correlated spatial [NOT] EXISTS — the canonical
        point-in-any-polygon filter:

            SELECT <cols> FROM t1 [a] WHERE [NOT] EXISTS (
                SELECT ... FROM t2 [b] WHERE ST_Pred(<correlated>)
            ) [AND <residual>] [tail]

        routes as ``spatial_join(how='left_semi'|'left_anti')`` keyed
        on the engine's ``fid_col`` — the cell join instead of the
        correlated Python-UDF subquery Spark cannot plan. The result
        carries t1's rows only, so the select list and tail run as
        plain Spark SQL over the semi-joined view.
        """
        qtext = query.strip()
        m = _SPATIAL_EXISTS_RE.match(_mask_literals(qtext))
        if not m:
            return None

        def _bail(why: str) -> None:
            _LOG.warning(
                "spatial EXISTS NOT routed (%s) — falling back to plain "
                "spark.sql on the correlated Python-UDF subquery: %.200s",
                why,
                query,
            )

        sel = qtext[m.start("sel"):m.end("sel")].strip()
        rest = qtext[m.start("rest"):m.end("rest")] if m.group("rest") else ""
        mrest = m.group("rest") or ""
        t1, t2 = m.group("t1"), m.group("t2")
        known = set(self._tables) | set(self._views)
        if t1 not in known or t2 not in known:
            _bail("table(s) not registered with this Engine")
            return None
        if t1 == t2:
            _bail("self-referential EXISTS")
            return None
        df1, df2 = self.df(t1), self.df(t2)
        if self.fid_col not in df1.columns:
            _bail(
                f"semi/anti spatial join needs a unique key on {t1} "
                f"(Engine fid_col={self.fid_col!r} is not a column)"
            )
            return None
        g = _GEOM_ARG_RE.match(qtext[m.start("on"):m.end("on")])
        if not g:
            _bail("unsupported ST_ predicate or operand shape")
            return None

        from geomesa_sql_spark.join import spatial_join
        from geomesa_sql_spark.join.spatial import GeomSide

        def _side(arg: str) -> tuple[GeomSide, set[str], set[str]]:
            pm = _re.match(
                r"(?is)ST_MakePoint\s*\(\s*([\w.]+)\s*,\s*([\w.]+)\s*\)", arg
            )
            if pm:
                rx, ry = pm.group(1), pm.group(2)
                x, y = _strip_qual(rx), _strip_qual(ry)
                quals = {q_ for q_ in (_qual_of(rx), _qual_of(ry)) if q_}
                return GeomSide(x=x, y=y), {x, y}, quals
            col = _strip_qual(arg)
            q_ = _qual_of(arg)
            return GeomSide(wkb=col), {col}, ({q_} if q_ else set())

        side_a, cols_a, quals_a = _side(g.group("g1"))
        side_b, cols_b, quals_b = _side(g.group("g2"))
        pred = g.group("pred").lower()
        if pred == "dwithinsphere":
            pred = "dwithin_sphere"  # spatial_join's spelling
            if not (side_a.is_point and side_b.is_point):
                # the optimized path is point x point; the scalar
                # ST_DWithinSphere UDF still answers via plain spark.sql
                _bail("ST_DWithinSphere routes point x point only")
                return None
        dist = float(g.group("dist")) if g.group("dist") else None
        names1 = {t1, m.group("a1") or t1}
        names2 = {t2, m.group("a2") or t2}

        def _owner(quals: set[str]) -> int:
            if quals and quals <= names1:
                return 1
            if quals and quals <= names2:
                return 2
            return 0

        fa, fb = _owner(quals_a), _owner(quals_b)
        if (quals_a or quals_b) and not (fa or fb):
            _bail("geometry operand qualifier matches neither table")
            return None
        if fa and fb and fa == fb:
            _bail("both geometry operands qualify to the same table")
            return None
        if (fa, fb) in ((1, 2), (1, 0), (0, 2)):
            fwd, rev = True, False
        elif (fa, fb) in ((2, 1), (2, 0), (0, 1)):
            fwd, rev = False, True
        else:
            fwd = cols_a <= set(df1.columns) and cols_b <= set(df2.columns)
            rev = cols_b <= set(df1.columns) and cols_a <= set(df2.columns)
            if fwd and rev:
                _bail("ambiguous operand columns (both orientations resolve)")
                return None
        if fwd:
            left_side, right_side = side_a, side_b
            lcols, rcols = cols_a, cols_b
        elif rev:
            flip = {"contains": "within", "within": "contains"}
            pred = flip.get(pred, pred)
            left_side, right_side = side_b, side_a
            lcols, rcols = cols_b, cols_a
        else:
            _bail("operand columns don't split across the tables")
            return None
        if not (lcols <= set(df1.columns) and rcols <= set(df2.columns)):
            _bail("geometry operand column(s) missing from the tables")
            return None

        # residual AND-conjunct + tail parse FIRST: an unparseable tail
        # must bail before the join's envelope-sample jobs run
        on_resid = None
        am = _re.match(r"(?is)^\s*AND\s+(?P<cond>.+?)"
                       r"(?=\s+GROUP\s+BY\s+|\s+HAVING\s+|\s+ORDER\s+BY\s+"
                       r"|\s+LIMIT\s+|\s*$)", mrest)
        if am:
            if _re.search(r"(?i)\bST_\w+\s*\(", am.group("cond")):
                _bail("second spatial predicate in the residual WHERE")
                return None
            on_resid = rest[am.start("cond"):am.end("cond")].strip()
            rest = rest[am.end():]
            mrest = mrest[am.end():]
        tm = _TAIL_RE.match(mrest)
        if not tm or tm.group("where"):
            _bail("unparseable tail clauses")
            return None

        def tg(name: str) -> str | None:
            return (
                rest[tm.start(name):tm.end(name)]
                if tm.group(name) is not None
                else None
            )

        # shared column names (geometry columns, a duplicated fid) make
        # the inner cell join ambiguous — the output carries only left
        # columns, so clashing RIGHT columns rename away unconditionally
        clash = set(df1.columns) & set(df2.columns)
        if clash:
            ren = {c: f"__gsj_r_{c}" for c in clash}
            for old_, new_ in ren.items():
                df2 = df2.withColumnRenamed(old_, new_)
            if right_side.wkb:
                right_side = GeomSide(wkb=ren.get(right_side.wkb, right_side.wkb))
            else:
                right_side = GeomSide(
                    x=ren.get(right_side.x, right_side.x),
                    y=ren.get(right_side.y, right_side.y),
                )

        how = "left_anti" if m.group("neg") else "left_semi"
        try:
            out = spatial_join(
                df1, df2, left_side, right_side, predicate=pred,
                distance=dist, how=how, left_key=self.fid_col,
            )
        except Exception as exc:
            _bail(f"semi/anti spatial join failed to build: {exc}")
            return None
        quals = [q_ for q_ in (m.group("a1"), t1) if q_]
        view = f"{self._routed_view}_ex_{uuid.uuid4().hex[:8]}"

        def _unq(expr: str) -> str:
            for q_ in quals:
                expr = _sub_outside_literals(
                    rf"(?i)\b{_re.escape(q_)}\.", f"{view}.", expr
                )
            return expr

        out.createOrReplaceTempView(view)
        sql = f"SELECT {_unq(sel)} FROM {view}"
        if on_resid:
            sql += f" WHERE {_unq(on_resid)}"
        if tg("group"):
            sql += f" GROUP BY {_unq(tg('group'))}"
        if tg("having"):
            sql += f" HAVING {_unq(tg('having'))}"
        if tg("order"):
            sql += f" ORDER BY {_unq(tg('order'))}"
        if tg("limit"):
            sql += f" LIMIT {tg('limit')}"
        try:
            return self.spark.sql(sql)
        except Exception as exc:
            _bail(f"tail failed to resolve over the semi-joined frame: {exc}")
            return None
        finally:
            self.spark.catalog.dropTempView(view)

    def _route_derived_tables(self, query: str) -> DataFrame | None:
        """Derived tables around a spatial join:

            SELECT ... FROM (SELECT ...) a JOIN shapes s ON ST_Pred(...)

        Each top-level ``FROM (subquery) alias`` / ``JOIN (subquery)
        alias`` block is lifted into a transient view (the body itself
        routed through the spatial planner when IT is the spatial
        part, plain Spark SQL otherwise — same treatment as CTE
        bodies), the block text is replaced by the view name + alias,
        and the rewritten query re-enters the router. Returns None
        when the query has no spatial join or no derived table; bails
        warned on quoted literals and alias-less subqueries.
        """
        q = query.strip().rstrip(";").strip()
        if not _has_routable_spatial(q):
            return None
        if not _re.search(r"(?i)\b(FROM|JOIN)\s*\(", q):
            return None

        def _bail(why: str) -> None:
            _LOG.warning(
                "derived-table spatial join NOT routed (%s) — falling "
                "back to plain spark.sql, which plans a Python-UDF ON "
                "clause as a cartesian BroadcastNestedLoopJoin: %.200s",
                why,
                query,
            )

        mq = _mask_literals(q)  # bodies pass through verbatim; only
        # the scanner needs literal-blind text
        out_parts: list[str] = []
        bodies: list[str] = []
        pos = 0
        for m in _re.finditer(r"(?i)\b(FROM|JOIN)\s*\(", mq):
            # only top-level blocks: depth 0 at the keyword
            if mq[:m.start()].count("(") != mq[:m.start()].count(")"):
                continue
            if m.start() < pos:
                continue  # inside a block already consumed
            depth, k = 1, m.end()
            while k < len(q) and depth:
                if mq[k] == "(":
                    depth += 1
                elif mq[k] == ")":
                    depth -= 1
                k += 1
            if depth:
                _bail("unbalanced parens in derived table")
                return None
            body = q[m.end():k - 1].strip()
            if not _re.match(r"(?is)^SELECT\b", body):
                _bail("non-SELECT parenthesized FROM item")
                return None
            am = _re.match(r"(?is)\s*(?:AS\s+)?(\w+)", q[k:])
            if not am or am.group(1).upper() in (
                "ON", "JOIN", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
                "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
            ):
                _bail("derived table without an alias")
                return None
            name = f"{self._routed_view}_dt_{uuid.uuid4().hex[:8]}"
            out_parts.append(q[pos:m.start()])
            # keep the user's alias; the view name replaces the block
            out_parts.append(f"{m.group(1)} {name}")
            bodies.append((name, body))
            pos = k  # alias text (q[k:]) stays in place
        if not bodies:
            return None
        out_parts.append(q[pos:])
        new_q = "".join(out_parts)
        registered: list[str] = []
        try:
            for name, body in bodies:
                routed = self._route_select(body)
                df = (
                    routed
                    if routed is not None
                    else self.spark.sql(_rewrite_spatial_predicates(body))
                )
                self._views[name] = df
                df.createOrReplaceTempView(name)
                registered.append(name)
            routed = self._route_select(new_q)
            if routed is not None:
                return routed
            return self.spark.sql(_rewrite_spatial_predicates(new_q))
        finally:
            for name in registered:
                del self._views[name]
                self.spark.catalog.dropTempView(name)

    def _route_spatial_after_prefix(self, query: str) -> DataFrame | None:
        """Spatial join as a NON-FIRST join in a multi-join chain:

            SELECT ... FROM t0 [a0] JOIN t1 [a1] ON <plain> [JOIN ...]
            JOIN tS [aS] ON ST_Pred(...) [more plain joins] [tail]

        The plain-join PREFIX runs as ordinary Spark SQL into a temp
        view; the query is rewritten with that view as the spatial
        join's left table and re-routed through the primary path, which
        applies the cell join plus the usual chain/tail handling (the
        Calcite planner fires EnumerableSpatialJoinRule on any matching
        LogicalJoin regardless of its position in the tree —
        rules/EnumerableSpatialJoinRule.scala:38-145). INNER spatial
        joins only: a 1:N prefix join can duplicate the engine's
        ``fid_col``, which would break the outer-join restore contract.

        The prefix frame is NOT cached: the spatial join's envelope
        sample re-executes it once before the join itself does —
        same contract as plain Spark SQL, which wouldn't cache a
        repeated subquery either; callers with an expensive prefix
        can register it as a view and route the spatial join alone.
        """
        q = query.strip().rstrip(";").strip()
        if not _re.search(r"(?i)\bON\s+ST_\w+\s*\(", q):
            return None  # no spatial join anywhere: stay silent

        def _bail(why: str) -> None:
            _LOG.warning(
                "SQL-text spatial join NOT routed (%s) — falling back to "
                "plain spark.sql, which plans a Python-UDF ON clause as a "
                "cartesian BroadcastNestedLoopJoin (and rejects it for "
                "outer joins): %.200s",
                why,
                query,
            )

        mq = _mask_literals(q)
        if _re.search(r"(?i)\b(UNION|INTERSECT|EXCEPT)\b", mq):
            return None
        sm = _re.match(r"(?is)^SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<body>.+)$", mq)
        if not sm:
            return None
        # slice the ORIGINAL text by the masked match's spans (literals
        # in prefix ON conditions are fine — the prefix runs verbatim)
        sel = q[sm.start("sel"):sm.end("sel")]
        body = q[sm.start("body"):sm.end("body")]
        mbody = mq[sm.start("body"):sm.end("body")]
        depths, d = [], 0
        for ch in mbody:
            depths.append(d)
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
        tail = ""
        tail_re = _re.compile(
            r"(?i)\s(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\s"
        )
        for tmm in tail_re.finditer(mbody):
            if depths[tmm.start()] == 0:
                tail = body[tmm.start():].strip()
                body = body[: tmm.start()]
                mbody = mbody[: tmm.start()]
                break
        if _re.search(r"(?i)\bSELECT\b", mbody):
            return None  # subquery in FROM — out of scope
        join_re = _re.compile(
            r"(?i)\b(?:(?:INNER|LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?)?JOIN\s"
        )
        starts = [j.start() for j in join_re.finditer(mbody) if depths[j.start()] == 0]
        if len(starts) < 2:
            return None  # ≤1 join is the primary path's territory
        segs, msegs, prev = [], [], 0
        for s0 in starts:
            segs.append(body[prev:s0].strip())
            msegs.append(mbody[prev:s0].strip())
            prev = s0
        segs.append(body[prev:].strip())
        msegs.append(mbody[prev:].strip())
        base, joins = segs[0], segs[1:]
        mjoins = msegs[1:]
        spatial_at = [
            i for i, jseg in enumerate(mjoins)
            if _re.search(r"(?i)\bST_\w+\s*\(", jseg)
        ]
        if len(spatial_at) != 1:
            if len(spatial_at) > 1:
                _bail("second spatial join in the chain")
            return None
        k = spatial_at[0]
        if k == 0:
            return None  # spatial-first failed the primary regex: bail quiet
        spatial_seg = joins[k]
        if _re.match(r"(?i)(LEFT|RIGHT|FULL)\b", spatial_seg):
            _bail(
                "outer spatial join after a join-chain prefix (the prefix "
                "can't guarantee a unique restore key)"
            )
            return None
        # collect prefix table/alias names; validate registration
        names, tabs = [], []
        bm = _re.match(r"(?i)^(\w+)(?:\s+(?:AS\s+)?(\w+))?$", base)
        if not bm:
            _bail("unparseable chain-prefix base table")
            return None
        names += [n for n in bm.groups() if n]
        tabs.append(bm.group(1))
        seg_re = _re.compile(
            r"(?i)^(?:(?:INNER|LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?)?JOIN\s+"
            r"(\w+)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?\s+ON\s+"
        )
        for jseg in joins[:k]:
            jm = seg_re.match(jseg)
            if not jm:
                _bail("unparseable join segment in the chain prefix")
                return None
            names += [n for n in jm.groups() if n]
            tabs.append(jm.group(1))
        known = set(self._tables) | set(self._views)
        missing = [t for t in tabs if t not in known]
        if missing:
            _bail(f"chain-prefix table(s) {missing} not registered")
            return None
        spm = seg_re.match(spatial_seg)
        if not spm:
            _bail("unparseable spatial join segment")
            return None
        lowered = {n.lower() for n in names}
        if lowered & {x.lower() for x in spm.groups() if x}:
            _bail("prefix alias collides with the spatial join's table/alias")
            return None
        pre_df = self.spark.sql(f"SELECT * FROM {base} {' '.join(joins[:k])}")
        if len(set(pre_df.columns)) != len(pre_df.columns):
            _bail("join-chain prefix produces duplicate column names")
            return None
        tmp = f"{self._routed_view}_pre_{uuid.uuid4().hex[:8]}"

        def rq(s: str) -> str:
            # literal-safe: a string mentioning "<alias>." is untouched
            for n_ in names:
                s = _sub_outside_literals(
                    rf"(?i)\b{_re.escape(n_)}\.", f"{tmp}.", s
                )
            return s

        new_q = f"SELECT {rq(sel)} FROM {tmp} {rq(spatial_seg)}"
        rest_joins = " ".join(joins[k + 1:])
        if rest_joins:
            new_q += f" {rq(rest_joins)}"
        if tail:
            new_q += f" {rq(tail)}"
        # _views registration only — the primary path resolves t1 via
        # Engine.df() (the DataFrame object), never the Spark catalog,
        # so no temp view is created for the prefix
        self._views[tmp] = pre_df
        try:
            # the rewritten query has the spatial join FIRST, so this
            # recursion terminates in the primary path (or its bails)
            return self._route_spatial_join(new_q)
        finally:
            del self._views[tmp]

    def table(self, name: str) -> GeoTable:
        """Pushdown-accumulating scan handle (§2.1 S1/S2); snapshot
        tables resolve to their current manifest's data dirs."""
        if name in self._views:
            raise ValueError(
                f"{name!r} is a registered view (no storage path) — "
                "pushdown scan handles need a parquet/snapshot table; "
                "use Engine.df() for the DataFrame"
            )
        if name not in self._tables:
            raise ValueError(f"unknown table {name!r}")
        path = self._tables[name]
        if os.path.exists(os.path.join(path, "_CURRENT")):
            st = SnapshotTable(self.spark, path, self.fid_col)
            m = st._load_manifest(st._current_version())
            return GeoTable(self.spark, tuple(m["dirs"]))
        return GeoTable(self.spark, path)

    def df(self, name: str) -> DataFrame:
        if name in self._views:
            return self._views[name]
        return self._read(self._tables[name])

    def register_function(self, name: str, fn) -> None:
        """UDF registry: name → pandas_udf / builder (the analog of
        Calcite's by-name SqlUserDefinedFunction matching,
        RexNodeTranslator.scala:106-117)."""
        self.spark.udf.register(name, fn)

    # ---------------------------------------------------------------- DML

    def _snapshot(self, name: str) -> SnapshotTable:
        path = self._tables[name]
        if os.path.exists(os.path.join(path, "_CURRENT")):
            return SnapshotTable(self.spark, path, self.fid_col)
        from geomesa_sql_spark.io.dml import IcebergDmlTable
        from geomesa_sql_spark.io.iceberg_meta import IcebergTable

        if IcebergTable.is_iceberg_dir(path):
            # on-disk Iceberg dirs take the same DML surface: every
            # verb commits a real Iceberg snapshot
            return IcebergDmlTable(self.spark, path, self.fid_col)
        raise ValueError(
            f"table {name!r} is not a snapshot or Iceberg table; "
            "create it with Engine.create_table"
        )

    def create_table(
        self, name: str, path: str, df: DataFrame, format: str = "snapshot"
    ) -> None:
        """Create a DML-capable table: ``format='snapshot'`` (the local
        manifest format) or ``'iceberg'`` (pure-Python Iceberg v2 —
        readable by any Iceberg runtime, schema-evolvable via
        io.iceberg_meta add/rename/drop_column)."""
        if format == "iceberg":
            from geomesa_sql_spark.io.dml import IcebergDmlTable

            IcebergDmlTable(self.spark, path, self.fid_col).create(df)
        elif format == "snapshot":
            SnapshotTable(self.spark, path, self.fid_col).create(df)
        else:
            raise ValueError(f"unknown table format {format!r}")
        self.register_table(name, path)

    def insert(self, name: str, rows: DataFrame) -> int:
        n = self._snapshot(name).insert(rows)
        self.register_table(name, self._tables[name])  # refresh view
        return n

    def update(self, name: str, set_exprs: dict[str, Column | str],
               where: Column | DataFrame | None = None) -> int:
        n = self._snapshot(name).update(set_exprs, where)
        self.register_table(name, self._tables[name])
        return n

    def delete(self, name: str, where: Column | DataFrame | None = None) -> int:
        n = self._snapshot(name).delete(where)
        self.register_table(name, self._tables[name])
        return n

    def merge(
        self,
        name: str,
        source: DataFrame,
        on: str | None = None,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        set_exprs: dict[str, str] | None = None,
    ) -> tuple[int, int]:
        n = self._snapshot(name).merge(
            source, on, when_matched, when_not_matched, set_exprs
        )
        self.register_table(name, self._tables[name])
        return n

    def compact(self, name: str, target_files: int | None = None) -> int:
        n = self._snapshot(name).compact(target_files)
        self.register_table(name, self._tables[name])
        return n

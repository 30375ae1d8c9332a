"""Distributed cell-partitioned spatial join.

Re-expresses the reference's ``EnumerableSpatialJoin``
(nodes/EnumerableSpatialJoin.scala:41-160 + EnumerableSpatialJoinEnumerator.scala:28-123),
which builds an in-memory JTS STRtree over the whole right side and
streams the left side through it single-threaded, as a Spark plan that
scales horizontally:

    encode both sides to space-filling-curve cells (vectorized UDF)
      → explode to (cell, row)
      → broadcast hash join if the right side is small,
        else repartition both sides by cell (AQE skew-join aware),
        with optional explicit salting for hot cells
      → vectorized refine with the full predicate (grouped point
        kernels / pairwise WKB kernels)
      → reference-point dedup (no distinct shuffle) for multi-cell rows

Semantics parity with the reference:
- INNER and LEFT optimized (EnumerableSpatialJoinRule.scala:43-44);
  RIGHT/FULL answered via the optimized INNER plan + key anti-join
  null-padding — the reference's enumerable-fallback semantics
  (SpatialJoinTest.scala:54-60) without its nested loop.
- DWithin = envelope expansion by ``distance`` before cell encoding,
  then full re-check (EnumerableSpatialJoinEnumerator.scala:80-84,106-109).
- **Null-geometry quirk**: a left row whose geometry is NULL emits
  nothing, even in a LEFT join (enumerator:80-91 — the null check
  encloses the null-padding branch). Same for right rows (null geoms
  are never indexed, :95-104).
- The refine step re-checks the *full* predicate on each candidate
  (enumerator:84), so cell-cover false positives never leak.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_sql_spark.cells import cover_envelopes, lonlat_to_cell
from geomesa_sql_spark.cells.column import (
    col_sql,
    double_sql,
    grid_sql,
    grid_xy_sql,
    interleave_sql,
)
from geomesa_sql_spark.cells.curve import res_for_extent
from geomesa_sql_spark.geom import kernel
from geomesa_sql_spark.geom.wkb import wkb_envelopes

_LOG = logging.getLogger(__name__)

_CELL = "__gsj_cell"
_SALT = "__gsj_salt"


@dataclass
class GeomSide:
    """How one join side carries geometry.

    point side: ``x``/``y`` lon-lat double columns (no WKB anywhere —
    the hot layout for the image+caption table whose points derive from
    phash/EXIF, FIXTURES.md F0).
    wkb side: ``wkb`` BinaryType column.

    Each slot takes a column NAME or an arbitrary ``Column`` expression
    (reference parity: spatial-join operands may be one-side expressions
    like ``ST_INTERSECTS(ST_Buffer(a.pt, 2), b.geom)`` —
    EnumerableSpatialJoinRule.scala:89-115, SpatialJoinTest.scala:45-47).
    Expressions are materialized to hidden columns before the join and
    dropped from the output.
    """

    x: str | Column | None = None
    y: str | Column | None = None
    wkb: str | Column | None = None

    @property
    def is_point(self) -> bool:
        return self.wkb is None

    def not_null(self) -> str:
        """SQL text: the side's geometry is present (name operands)."""
        if self.is_point:
            return f"{col_sql(self.x)} IS NOT NULL AND {col_sql(self.y)} IS NOT NULL"
        return f"{col_sql(self.wkb)} IS NOT NULL"


def point_side(x: str | Column, y: str | Column) -> GeomSide:
    return GeomSide(x=x, y=y)


def wkb_side(wkb: str | Column) -> GeomSide:
    return GeomSide(wkb=wkb)


def _materialize_side(
    df: DataFrame, side: GeomSide, prefix: str
) -> tuple[DataFrame, GeomSide]:
    """Project Column-expression operands to hidden (``__gsj_``) columns
    so the rest of the pipeline sees plain names; the output drop of
    ``__gsj_*`` removes them again."""
    if side.is_point:
        if isinstance(side.x, Column) or isinstance(side.y, Column):
            xn, yn = f"__gsj_{prefix}ex", f"__gsj_{prefix}ey"
            df = df.withColumn(
                xn, side.x if isinstance(side.x, Column) else F.col(side.x)
            ).withColumn(
                yn, side.y if isinstance(side.y, Column) else F.col(side.y)
            )
            side = GeomSide(x=xn, y=yn)
        return df, side
    if isinstance(side.wkb, Column):
        wn = f"__gsj_{prefix}ewkb"
        # Nondeterministic identity barrier (guide §4.4): the hidden
        # column is consumed by BOTH the cell-cover stage and the
        # post-join refine, and projection collapse re-inlines the
        # defining expression into every consumer — for a UDF operand
        # (ST_MakeEnvelope/ST_Buffer/...) that evaluated the geometry
        # expression 2-3x per probe row (two stacked ArrowEvalPython
        # nodes in the buffered-join plan). shuffle() is
        # nondeterministic, so the optimizer may not duplicate or
        # collapse this projection; on a 1-element array it is the
        # identity (NULL-preserving), and it stays pure JVM. Name
        # operands skip the barrier: a plain column reference cannot
        # be duplicated-evaluated.
        df = df.withColumn(
            wn, F.element_at(F.shuffle(F.array(side.wkb)), 1)
        )
        side = GeomSide(wkb=wn)
    return df, side


# Geodesic cover bounds (dwithin_sphere): the single source of truth
# for the cap-extent math is geom/geodesic.sphere_deg_bounds (r5
# review de-duplicated three copies). Re-exported under the old name
# for the engine/plan importers.
from geomesa_sql_spark.geom.geodesic import (  # noqa: E402
    COVER_RADIUS as _SPHERE_COVER_R,
)
from geomesa_sql_spark.geom.geodesic import (  # noqa: E402
    sphere_deg_bounds as _sphere_deg_bounds,
)


def _side_cols(right: bool) -> tuple[str, str, str]:
    """Hidden (cell, envelope min x, envelope min y) names of one side."""
    return (_CELL + "_r", "__gsj_rminx", "__gsj_rminy") if right else (
        _CELL, "__gsj_minx", "__gsj_miny")


def _explode_grid_cells(
    df: DataFrame, gx0: str, gx1: str, gy0: str, gy1: str, max_cells: int,
    cell: str,
) -> DataFrame:
    """Attach ``cell`` by exploding the [gx0..gx1]×[gy0..gy1] index
    rectangle (already-snapped int columns) into z-order cells. Two
    plain ``explode(sequence(...))`` generators over simple column
    refs — the bounds are computed ONCE per input row in the parent
    projection, never re-evaluated per generated element (the fused
    nested-``transform`` shape re-ran the whole bound subtree per
    cell and benchmarked 4× slower than the pandas cover it replaced).
    Covers above ``max_cells`` RAISE (never silently truncate); the
    raise is folded into a consumed sequence bound per the raise_error
    rule. The bound and index columns stay in the output: spatial_join
    drops every ``__gsj_`` column, and column pruning keeps them off
    the join."""
    gx0, gx1, gy0, gy1 = map(col_sql, (gx0, gx1, gy0, gy1))
    capped = (
        f"CASE WHEN ({gx1} - {gx0} + 1) * ({gy1} - {gy0} + 1) > {int(max_cells)} "
        f"THEN CAST(raise_error('envelope cover exceeds cap {int(max_cells)}; "
        "choose a coarser res for this join (res_for_extent)') AS BIGINT) "
        f"ELSE {gx1} END"
    )
    return (
        df.selectExpr("*", f"explode(sequence({gx0}, {capped})) AS __gsj_cx")
        .selectExpr("*", f"explode(sequence({gy0}, {gy1})) AS __gsj_cy")
        .selectExpr("*", f"{interleave_sql('__gsj_cx', '__gsj_cy')} AS {cell}")
    )


def _cells_for_side(
    df: DataFrame, side: GeomSide, res: int, expand: float, max_cells: int,
    sphere_m: float | None = None, right: bool = False,
) -> DataFrame:
    """Attach exploded cell column (+ envelope min corner for dedup),
    named by :func:`_side_cols`. The point paths are SQL text, one
    projection per step (cells/column.py: a Column tree costs hundreds
    of Py4J round trips per join build)."""
    cell, minx, miny = _side_cols(right)
    if side.is_point:
        x, y = col_sql(side.x), col_sql(side.y)
    if side.is_point and sphere_m is not None:
        # dwithin_sphere: per-ROW degree expansion (longitude radius
        # grows with |lat|) — the sphere side is the 10^12-row side of a
        # geography join, so the cover must not ride an ArrowEvalPython
        # stage (r6; the same rule that keeps the planar point encode in
        # cells/column.py). The cap bounds reuse sphere_deg_bounds_cols
        # (same formulas as the numpy twin; the cover is conservative by
        # construction — COVER_RADIUS under-states every radius by
        # ~0.3%, so libm-ulp drift cannot un-cover a true candidate, and
        # the haversine refine decides membership). The min-corner
        # columns are unused here — the point right side is single-cell,
        # so candidate pairs are already duplicate-free and refpoint
        # dedup never runs.
        from geomesa_sql_spark.geom.geodesic import sphere_deg_bounds_cols

        dlat, dlon = sphere_deg_bounds_cols(F.col(side.y), float(sphere_m))
        # the heavy cap-bound trig is evaluated once per input row, in
        # its own projection; nulls were filtered by the caller
        # (left_nn), so the least/greatest null-skip trap cannot fire
        lo, hi = f"({x} - `__gsj_dlon`)", f"({x} + `__gsj_dlon`)"
        full = "(`__gsj_dlon` >= 180.0D)"
        w, e = "(-180.0D)", "180.0D"
        # the haversine metric wraps at the antimeridian but a planar
        # box doesn't: a box spilling past ±180 contributes a SECOND
        # lon-disjoint segment re-entering from the other side (unless
        # it already spans everything) — so per-row cells stay
        # duplicate-free without a distinct. Segments ride ONE small
        # explode.
        seg_a = (
            f"named_struct('lo', CASE WHEN {full} THEN {w} ELSE GREATEST({lo}, {w}) END, "
            f"'hi', CASE WHEN {full} THEN {e} ELSE LEAST({hi}, {e}) END)"
        )
        seg_b = (  # NULL = no second segment
            f"CASE WHEN {lo} < {w} AND NOT {full} "
            f"THEN named_struct('lo', {lo} + 360.0D, 'hi', {e}) "
            f"WHEN {hi} > {e} AND NOT {full} "
            f"THEN named_struct('lo', {w}, 'hi', {hi} - 360.0D) END"
        )
        env = (
            df.withColumn("__gsj_dlon", dlon)
            .selectExpr(
                "*", f"{x} AS {minx}", f"{y} AS {miny}",
                f"GREATEST({y} - {double_sql(dlat)}, (-90.0D)) AS __gsj_ylo",
                f"LEAST({y} + {double_sql(dlat)}, 90.0D) AS __gsj_yhi",
                f"explode(filter(array({seg_a}, {seg_b}), s -> s IS NOT NULL)) AS __gsj_seg",
            )
            .selectExpr(
                "*",
                f"{grid_sql('`__gsj_seg`.`lo`', 180.0, 360.0, res)} AS __gsj_gx0",
                f"{grid_sql('`__gsj_seg`.`hi`', 180.0, 360.0, res)} AS __gsj_gx1",
                f"{grid_sql('`__gsj_ylo`', 90.0, 180.0, res)} AS __gsj_gy0",
                f"{grid_sql('`__gsj_yhi`', 90.0, 180.0, res)} AS __gsj_gy1",
            )
        )
        return _explode_grid_cells(
            env, "__gsj_gx0", "__gsj_gx1", "__gsj_gy0", "__gsj_gy1", max_cells, cell
        )
    if side.is_point and expand == 0.0:
        # JVM-side encode: the point side is the 10^12-row side; a
        # JVM expression keeps it in whole-stage codegen (and avoids
        # Catalyst double-evaluating a UDF join key via its inferred
        # not-null constraint) — see cells/column.py. The grid indices
        # get their own projection, like the cover paths' bounds: the
        # bit spread names each index 32 times, so over column refs the
        # expression is ~30x smaller to parse, analyse and compile than
        # with the snap inlined (same bits; CollapseProject keeps the
        # indices apart rather than copy a non-trivial expression)
        gx, gy = grid_xy_sql(x, y, res)
        return df.selectExpr(
            "*", f"{gx} AS __gsj_gx", f"{gy} AS __gsj_gy",
            f"{x} AS {minx}", f"{y} AS {miny}",
        ).selectExpr("*", f"{interleave_sql('__gsj_gx', '__gsj_gy')} AS {cell}")
    if side.is_point:
        # DWithin expansion of the point side: JVM cover (r6) — this is
        # the 10^12-row side of a dwithin join, the same no-Python rule
        # as the zero-expand z-order encode above
        d = double_sql(expand)
        env = df.selectExpr(
            "*", f"{x} - {d} AS {minx}", f"{y} - {d} AS {miny}",
            f"{grid_sql(f'{x} - {d}', 180.0, 360.0, res)} AS __gsj_gx0",
            f"{grid_sql(f'{x} + {d}', 180.0, 360.0, res)} AS __gsj_gx1",
            f"{grid_sql(f'{y} - {d}', 90.0, 180.0, res)} AS __gsj_gy0",
            f"{grid_sql(f'{y} + {d}', 90.0, 180.0, res)} AS __gsj_gy1",
        )
        return _explode_grid_cells(
            env, "__gsj_gx0", "__gsj_gx1", "__gsj_gy0", "__gsj_gy1", max_cells, cell
        )

    def _group_covers(
        minx: np.ndarray, miny: np.ndarray, maxx: np.ndarray, maxy: np.ndarray
    ) -> list[list[int]]:
        rows, cells = cover_envelopes(
            minx, miny, maxx, maxy, res, max_cells_per_row=max_cells
        )
        out: list[list[int]] = [[] for _ in range(len(minx))]
        for r, c in zip(rows.tolist(), cells.tolist()):
            out[r].append(c)
        return out

    # WKB side: ONE fused pandas UDF (decode → envelope → cover) instead
    # of chained envelope/cover UDFs — each ArrowEvalPython stage costs a
    # Python round-trip per batch, which dominates on broadcast builds
    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("cells", T.ArrayType(T.LongType())),
                T.StructField("minx", T.DoubleType()),
                T.StructField("miny", T.DoubleType()),
            ]
        )
    )
    def _env_cover(wkb: pd.Series) -> pd.DataFrame:
        from geomesa_sql_spark.geom.wkb import wkb_envelopes

        env = wkb_envelopes(wkb.to_numpy())  # strict, batched (r6)
        minx, miny, maxx, maxy = env[:, 0], env[:, 1], env[:, 2], env[:, 3]
        covers = _group_covers(minx - expand, miny - expand, maxx + expand, maxy + expand)
        return pd.DataFrame({"cells": covers, "minx": minx - expand, "miny": miny - expand})

    # ONE select consuming the struct (guide §4.4, r6): the former
    # withColumn/withColumn/explode/drop chain referenced the struct
    # column three times, and after projection collapse each reference
    # inlined the UDF call — Catalyst evaluated the decode→cover UDF
    # (and any UDF feeding it) TWICE per geometry, caught as two
    # stacked ArrowEvalPython nodes in the r06 headline before-plan.
    # The nondeterministic mark keeps the Generate's inferred
    # size/null filter from re-deriving the call a third time. Same
    # rows; on the repartition path this halves the Python work of a
    # large WKB side.
    env = df.withColumn("__gsj_ec", _env_cover.asNondeterministic()(side.wkb))
    return env.selectExpr(
        *map(col_sql, df.columns),
        f"`__gsj_ec`.`minx` AS {minx}",
        f"`__gsj_ec`.`miny` AS {miny}",
        f"explode(`__gsj_ec`.`cells`) AS {cell}",
    )


def _refine_predicate(
    joined: DataFrame,
    left: GeomSide,
    right: GeomSide,
    predicate: str,
    distance: float | None,
) -> Column:
    pred = predicate.lower()
    if left.is_point and right.is_point:
        lx, ly, rx, ry = map(col_sql, (left.x, left.y, right.x, right.y))
        if pred == "dwithin":
            dx, dy = f"({lx} - {rx})", f"({ly} - {ry})"
            return F.expr(
                f"{dx} * {dx} + {dy} * {dy} <= {double_sql(float(distance) ** 2)}"
            )
        if pred == "dwithin_sphere":
            # metres on the real earth: pure-Column haversine — the
            # refine stays in whole-stage codegen, zero Python
            from geomesa_sql_spark.geom.geodesic import sphere_distance_cols

            return sphere_distance_cols(
                F.col(left.x), F.col(left.y), F.col(right.x), F.col(right.y)
            ) <= float(distance)
        if pred in ("equals", "intersects", "contains", "within"):
            return F.expr(f"({lx} = {rx}) AND ({ly} = {ry})")
        if pred in ("touches", "crosses", "overlaps"):
            return F.expr("false")  # single points: never, per JTS
        # review r3: a typo used to return a silently EMPTY join here
        # while the wkb paths raise — fail loudly on both
        raise ValueError(f"unsupported spatial-join predicate {predicate!r}")
    if left.is_point or right.is_point:
        pt, other = (left, right) if left.is_point else (right, left)
        # reorient predicate: pred(left, right) with point on one side
        if left.is_point:
            eff = pred
        else:
            flip = {"contains": "within", "within": "contains"}
            eff = flip.get(pred, pred)

        @F.pandas_udf(T.BooleanType())
        def _ref(px: pd.Series, py: pd.Series, wkb: pd.Series) -> pd.Series:
            return pd.Series(
                kernel.relate_points_to_wkb(
                    px.to_numpy(np.float64), py.to_numpy(np.float64), list(wkb), eff, distance
                )
            )

        return _ref(pt.x, pt.y, other.wkb)

    @F.pandas_udf(T.BooleanType())
    def _rel(wa: pd.Series, wb: pd.Series) -> pd.Series:
        return pd.Series(kernel.relate_many(list(wa), list(wb), pred, distance))

    return _rel(left.wkb, right.wkb)


def spatial_join(
    left_df: DataFrame,
    right_df: DataFrame,
    left: GeomSide,
    right: GeomSide,
    predicate: str = "intersects",
    distance: float | None = None,
    how: str = "inner",
    res: int | None = None,
    broadcast: bool | None = None,
    broadcast_rows: int = 2_000_000,
    left_key: str | None = None,
    right_key: str | None = None,
    salt: int = 0,
    hot_cell_threshold: int = 5_000_000,
    max_cells_per_row: int = 256,
) -> DataFrame:
    """Spatial join of two DataFrames on a relate predicate.

    Parameters mirror the planner decisions the reference bakes into its
    rule/cost model (EnumerableSpatialJoinRule: INNER/LEFT only, literal
    DWithin distance) plus the distribution knobs a 1000-executor run
    needs: ``broadcast`` (small right side → broadcast hash join, no
    shuffle of the big side), ``salt`` (explicit hot-cell salting; AQE
    skew join already splits oversized partitions for the repartition
    path), ``res`` (cell resolution; default derived from a right-side
    envelope sample).

    ``how='left'`` requires ``left_key`` (a unique left column) and
    replicates the reference's null-geometry drop quirk.

    ``how='right'|'full'``: the reference never *optimizes* these —
    its rule fires for INNER/LEFT only (EnumerableSpatialJoinRule
    .scala:43-44) — but still *answers* them through the enumerable
    nested-loop fallback (SpatialJoinTest.scala:54-60) with plain SQL
    null semantics (no null-geometry drop quirk: unmatched rows
    null-pad per the join type). Here they reuse the optimized INNER
    plan and null-pad unmatched rows via key anti-joins — same answers
    as the reference's fallback without its O(n·m) nested loop.
    ``right_key`` (unique right column) is required for 'right'/'full';
    ``left_key`` additionally for 'full'.
    """
    pred = predicate.lower()
    if pred == "dwithin":
        if distance is None:
            raise ValueError("dwithin needs literal distance "
                             "(EnumerableSpatialJoinRule.scala:117-125)")
    if pred == "dwithin_sphere":
        # geography DWithin: ``distance`` is METRES on the mean sphere
        # (geom/geodesic.py), not planar degrees — the join a planetary
        # dataset actually wants ("images within 50 km of each POI").
        # v1 contract: point × point (geodesic point-to-polygon needs a
        # closest-pair geodesic solver; use the planar dwithin there).
        if distance is None:
            raise ValueError("dwithin_sphere needs a literal distance in metres")
        if not (left.is_point and right.is_point):
            raise NotImplementedError(
                "dwithin_sphere is point x point (lon/lat sides); got a "
                "WKB side — use the planar 'dwithin' for extended geometries"
            )
    if pred == "dwithin":
        expand = float(distance)
    elif pred == "dwithin_sphere":
        # degree-equivalent radius used ONLY for the res heuristic and
        # per-row cover caps (the factor 3 keeps rows up to ~|70°| lat
        # under the cap; per-row covers use their own exact bounds).
        # Correctness never depends on this nominal: an outlier row
        # whose cover exceeds max_cells raises with a res hint.
        expand = 3.0 * float(np.degrees(float(distance) / _SPHERE_COVER_R))
    else:
        expand = 0.0
    sphere_m = float(distance) if pred == "dwithin_sphere" else None

    left_df, left = _materialize_side(left_df, left, "l")
    right_df, right = _materialize_side(right_df, right, "r")

    if how in ("right", "full", "outer", "full_outer"):
        eff = "full" if how != "right" else "right"
        if right_key is None or (eff == "full" and left_key is None):
            raise ValueError(
                "how='right' requires right_key; how='full' requires "
                "left_key and right_key (used to null-pad unmatched rows)"
            )
        inner = spatial_join(
            left_df, right_df, left, right, predicate=pred,
            distance=distance, how="inner", res=res, broadcast=broadcast,
            broadcast_rows=broadcast_rows, salt=salt,
            hot_cell_threshold=hot_cell_threshold,
            max_cells_per_row=max_cells_per_row,
        )
        out = inner
        if eff in ("right", "full"):
            out = _pad_unmatched(out, right_df, right_key, inner)
        if eff == "full":
            out = _pad_unmatched(out, left_df, left_key, inner)
        return out
    if how in ("left_semi", "left_anti"):
        if left_key is None:
            raise ValueError(f"how={how!r} requires left_key")
        inner = spatial_join(
            left_df, right_df, left, right, predicate=pred,
            distance=distance, how="inner", res=res, broadcast=broadcast,
            broadcast_rows=broadcast_rows, salt=salt,
            hot_cell_threshold=hot_cell_threshold,
            max_cells_per_row=max_cells_per_row,
        )
        matched = inner.select(left_key).distinct()
        # null-geom left rows never match: excluded from semi, KEPT in
        # anti — matching SQL's NULL-predicate semantics for
        # [NOT] EXISTS(ST_Pred(NULL, ...))
        return left_df.join(matched, on=left_key, how=how)
    if how not in ("inner", "left"):
        raise ValueError(
            "spatial_join supports how='inner'|'left'|'right'|'full'|"
            "'left_semi'|'left_anti' (INNER/LEFT optimized per "
            "EnumerableSpatialJoinRule.scala:43-44; RIGHT/FULL answered "
            "like the reference's enumerable fallback, "
            "SpatialJoinTest.scala:54-60; semi/anti serve the "
            "[NOT] EXISTS correlated-subquery shape)"
        )

    # null-geom drop (both sides, both join types — reference quirk)
    left_nn = left_df.filter(left.not_null())
    right_nn = right_df.filter(right.not_null())

    if res is None:
        # ONE bounded envelope sample per non-point side serves both
        # the typical-extent estimate and the per-row cover caps —
        # the caps exist because the raise-don't-truncate cover applies
        # per ROW on both sides (review r3: a right side of points
        # picked a dense res that crashed the first left polygon wider
        # than ~sqrt(max_cells) cells)
        ext_r = None if right.is_point else _sample_extents(right_nn, right)
        ext_l = None if left.is_point else _sample_extents(left_nn, left)
        res = min(
            _estimate_res(ext_r, right, expand),
            _res_cap(ext_l, left, expand, max_cells_per_row),
            _res_cap(ext_r, right, 0.0, max_cells_per_row),
        )

    lc = _cells_for_side(
        left_nn, left, res, expand, max_cells_per_row, sphere_m=sphere_m
    )
    rc = _cells_for_side(right_nn, right, res, 0.0, max_cells_per_row, right=True)

    left_multi = (not left.is_point) or expand > 0.0
    right_multi = not right.is_point

    if broadcast is None:
        broadcast = _should_broadcast(right_df, broadcast_rows)

    join_cond = F.expr(f"{_CELL} = {_CELL}_r")
    if broadcast:
        joined = lc.join(F.broadcast(rc), join_cond)
    elif salt > 1:
        hot = _hot_cells(lc, hot_cell_threshold)
        if hot:
            lc = lc.withColumn(
                _SALT,
                F.when(
                    F.col(_CELL).isin(list(hot)),
                    # hash EVERY projected column: a constant first
                    # column previously put all hot-cell rows in one
                    # salt bucket (review r3 — salting became a pure
                    # replication pessimization)
                    F.pmod(F.xxhash64(*[F.col(c) for c in lc.columns]), F.lit(salt)),
                ).otherwise(F.lit(0)),
            )
            rc = rc.withColumn(
                "__gsj_nsalt",
                F.when(F.col(_CELL + "_r").isin(list(hot)), F.lit(salt)).otherwise(F.lit(1)),
            ).withColumn(
                _SALT, F.explode(F.sequence(F.lit(0), F.col("__gsj_nsalt") - 1))
            ).drop("__gsj_nsalt")
            joined = lc.repartition(_CELL, _SALT).join(
                rc.repartition(_CELL + "_r", _SALT),
                join_cond & (lc[_SALT] == rc[_SALT]),
            ).drop(_SALT)
        else:
            joined = lc.repartition(_CELL).join(
                rc.repartition(_CELL + "_r"), join_cond
            )
    else:
        joined = lc.join(rc, join_cond)

    refined = joined.filter(_refine_predicate(joined, left, right, pred, distance))

    if left_multi and right_multi:
        refined = refined.filter(_refpoint_keep(res))
    elif left_multi or right_multi:
        # single-cell side × multi-cell side: pair appears once per
        # shared cell; the single-cell side has exactly one cell, so at
        # most one shared cell exists → already duplicate-free.
        pass

    drop_cols = [c for c in refined.columns if c.startswith("__gsj_")]
    inner = refined.drop(*drop_cols)

    if how == "inner":
        return inner

    if left_key is None:
        raise ValueError("how='left' requires left_key")
    # every left row against the inner join's matches, so the cover
    # and refine UDFs run once (a union of the inner join with an
    # anti-join of its matched keys would run the inner join twice);
    # NULL-geometry left rows drop, being outside left_nn (reference
    # quirk)
    right_cols = [c for c in right_df.columns if not c.startswith("__gsj_")]
    return left_nn.join(
        inner.select(left_key, *right_cols), left_key, "left"
    ).select(inner.columns)


def _pad_unmatched(
    out: DataFrame, side_df: DataFrame, key: str, inner: DataFrame
) -> DataFrame:
    """Append ``side_df`` rows whose ``key`` never matched, null-padding
    every column the side doesn't carry (the outer-join half of the
    RIGHT/FULL fallback; plain SQL semantics, no null-geom quirk)."""
    side_cols = [c for c in side_df.columns if not c.startswith("__gsj_")]
    matched = inner.select(key).distinct()
    unmatched = side_df.select(*side_cols).join(matched, on=key, how="left_anti")
    for c in inner.columns:
        if c not in side_cols:
            unmatched = unmatched.withColumn(
                c, F.lit(None).cast(inner.schema[c].dataType)
            )
    return out.unionByName(unmatched.select(inner.columns))


def _refpoint_keep(res: int) -> Column:
    """Reference-point dedup: emit a candidate pair only in the cell
    containing the min corner of the two envelopes' intersection — each
    pair survives in exactly one cell, so no distinct() shuffle is
    needed (standard PBSM/GridJoin de-dup technique)."""

    @F.pandas_udf(T.BooleanType())
    def _keep(
        cell: pd.Series, lminx: pd.Series, lminy: pd.Series, rminx: pd.Series, rminy: pd.Series
    ) -> pd.Series:
        refx = np.maximum(lminx.to_numpy(np.float64), rminx.to_numpy(np.float64))
        refy = np.maximum(lminy.to_numpy(np.float64), rminy.to_numpy(np.float64))
        ref_cell = lonlat_to_cell(refx, refy, res)
        return pd.Series(cell.to_numpy(np.int64) == ref_cell)

    return _keep(_CELL, *_side_cols(False)[1:], *_side_cols(True)[1:])


def _sample_extents(df: DataFrame, side: GeomSide):
    """(mean_w, mean_h, max_w, max_h) of a 1000-row envelope sample —
    ONE bounded collect serves both the typical-extent estimate and
    the per-row cover cap."""
    blobs = [r[0] for r in df.select(side.wkb).limit(1000).collect()]
    if not blobs:
        return None
    # raw WKB decoded after the bounded collect: bit-identical to the
    # ST_Envelope UDF, without its Python-worker round trip per join plan
    env = wkb_envelopes(blobs, strict=True)
    ws = (env[:, 2] - env[:, 0]).tolist()
    hs = (env[:, 3] - env[:, 1]).tolist()
    return (
        float(np.mean(ws)), float(np.mean(hs)),
        float(max(ws)), float(max(hs)),
    )


def _estimate_res(ext, side: GeomSide, expand: float) -> int:
    """Pick cell resolution from sampled right-side envelope extents
    (``ext`` from :func:`_sample_extents`, or None for empty input)."""
    if side.is_point:
        # points have zero extent: resolution bounded by DWithin radius
        # (or a dense default for pure point-point joins)
        span = max(2 * expand, 0.01)
        return res_for_extent(span, span)
    if ext is None:
        return 8
    w = ext[0] + 2 * expand
    h = ext[1] + 2 * expand
    return res_for_extent(w, h)


def _res_cap(ext, side: GeomSide, expand: float, max_cells: int) -> int:
    """Coarsest resolution at which the LARGEST sampled envelope of
    this side still covers well under ``max_cells`` cells (the
    cover_envelopes cap raises rather than silently dropping cells).
    Sample-based, so a beyond-sample outlier can still trip the cap —
    that remains a loud error with a res hint, never silent loss."""
    if side.is_point and expand <= 0.0:
        return 32  # single-cell covers: no cap needed
    if side.is_point:
        w = h = 2.0 * expand
    elif ext is None:
        return 32
    else:
        w = ext[2] + 2 * expand
        h = ext[3] + 2 * expand
    k = max(int(max_cells ** 0.5) // 2, 2)  # 256 -> 8: cover <= ~81
    span = max(w, h, 1e-12) / k
    return res_for_extent(span, span)


def _should_broadcast(df: DataFrame, max_rows: int) -> bool:
    """Broadcast decision WITHOUT running a job: Catalyst's own plan
    statistics (sizeInBytes propagates from parquet file sizes through
    filters/projections — the same signal autoBroadcastJoinThreshold
    uses). The previous limit(n+1).count() probe was a scan-shaped job
    per join call (VERDICT r01 §wrong/next.8); at 100 TB an eager probe
    of the right side costs more than the decision is worth. Budget:
    ~100 bytes/row against ``max_rows``, capped at 1 GiB of broadcast
    build (executor-memory bound, matching Spark's own guidance)."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        # stats unavailable (e.g. foreign plan shapes): do NOT fall
        # back to a probe job — the zero-jobs invariant is the point
        # of this function (review r3); shuffle-join is the safe
        # default at scale and the caller can pass broadcast=True
        _LOG.warning(
            "spatial_join: plan statistics unavailable; defaulting to "
            "a shuffle join (pass broadcast=True to override)"
        )
        return False
    return size <= min(max_rows * 100, 1 << 30)


def _hot_cells(lc: DataFrame, threshold: int) -> set[int]:
    """Cells whose left-side row count exceeds the skew threshold,
    detected from a seeded SAMPLE of the cell column instead of a full
    extra pass (VERDICT r01 next.8): fraction sized so a truly-hot cell
    shows ≥ ~200 sampled rows (±~7% binomial noise — a borderline cell
    flipping is harmless, salting is an optimization not a correctness
    gate). The sampled scan is column-pruned to the cell key only."""
    fraction = min(1.0, 200.0 / max(threshold, 1))
    sampled = lc.select(_CELL)
    if fraction < 1.0:
        sampled = sampled.sample(fraction=fraction, seed=42)
    rows = (
        sampled.groupBy(_CELL)
        .count()
        .filter(F.col("count") > threshold * fraction)
        .select(_CELL)
        .collect()
    )
    return {r[_CELL] for r in rows}

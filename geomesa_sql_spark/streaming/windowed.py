"""Structured Streaming operators — engine extension.

The reference is strictly batch (SURVEY.md §2.8: request/response pull,
no watermarks/windows/state), so nothing here claims parity; these are
the streaming shapes a production deployment of this engine needs, on
Spark's own machinery:

- ``windowed_counts``: watermark + tumbling/sliding event-time window
  aggregation (late data beyond the watermark is dropped by Spark).
- ``stateful_running_totals``: custom per-key state via
  ``applyInPandasWithState`` — the template for stateful operators the
  built-ins can't express (running aggregates with custom eviction).
- ``run_available_now``: drain a source with the available-now trigger
  into a memory sink — batch-equivalent execution of the same plan,
  which is also how the tests oracle streaming results against plain
  ``groupBy`` on the same data.

At scale the source is a file/Kafka stream; here the parquet directory
source stands in (same DataFrame code — the TableIO seam again).
"""

from __future__ import annotations

import os
import uuid
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_events(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Open a parquet directory as a stream (one file = one microbatch
    unit; schema required by Structured Streaming file sources).

    Accepts a single-file path too (the driver's sf dirs hold one file
    per table): the file source only lists directories, so a file path
    becomes parent-dir + pathGlobFilter on the file name."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked event-time window aggregation.

    Output: window struct + keys + n + sum_value. Rows later than
    ``watermark`` behind the max seen event time are dropped — the
    standard late-data contract.
    """
    win = F.window(F.col(ts_col), window, slide or window)
    # watermarks require TIMESTAMP (LTZ); parquet NTZ casts exactly under
    # the engine's pinned UTC session timezone (SURVEY.md §1.2)
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *[F.col(k) for k in keys])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
    )


_RUN_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("total_n", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("v", T.DoubleType())]
)


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Per-key running totals with explicit state — the
    ``applyInPandasWithState`` template (custom stateful operator)."""

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"event_type": [key[0]], "total_n": [n], "total_value": [v]}
        )

    return (
        events.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            update, _RUN_SCHEMA, _STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
        )
    )


def run_available_now(
    stream_df: DataFrame, mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Drain the stream with the available-now trigger into a memory
    sink; returns the sink table. ``mode``: 'complete' for windowed
    aggregations, 'update' for applyInPandasWithState queries.

    CAVEAT (review r3): the memory sink APPENDS update-mode output, it
    does not upsert — a source that splits into several micro-batches
    leaves one row per key PER BATCH in the returned table (stale
    intermediates alongside finals). Consumers wanting only the final
    state per key should use :func:`drain_upsert` (dev/test scale) or
    :func:`drain_merge_into` (state lives in a snapshot table)."""
    name = name or f"sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def drain_upsert(
    stream_df: DataFrame, key_cols: list[str], mode: str = "update"
) -> DataFrame:
    """Available-now drain with true per-key UPSERT semantics.

    Each micro-batch's rows overwrite earlier rows sharing the same
    ``key_cols`` (within a batch the last emitted row wins), so a
    multi-batch update-mode drain returns exactly one final row per
    key — what ``run_available_now``'s appending memory sink cannot
    give. foreachBatch delivers batches to the driver in epoch order,
    which makes last-wins deterministic.

    Driver-side accumulation: the final state must fit on the driver —
    the SAME contract as the memory sink this replaces (dev/test
    drains). The production-scale upsert is :func:`drain_merge_into`,
    where state lives in a snapshot table and the driver holds
    nothing."""
    spark = stream_df.sparkSession
    schema = stream_df.schema
    # keyed Row store, not pandas: toPandas would turn a nullable long
    # column holding NULLs into float64/NaN, which the final
    # createDataFrame cannot cast back (review r3b). Rows keep Python
    # ints/None, round-tripping any schema exactly.
    state: dict = {}

    def _collect(bdf: DataFrame, _eid: int) -> None:
        for row in bdf.collect():  # epoch order; last write wins
            state[tuple(row[k] for k in key_cols)] = row

    q = (
        stream_df.writeStream.foreachBatch(_collect)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not state:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(list(state.values()), schema)


def drain_merge_into(
    stream_df: DataFrame,
    engine,
    table: str,
    on: str | None = None,
    mode: str = "update",
) -> DataFrame:
    """Available-now drain where every micro-batch MERGEs into a
    registered snapshot table (update-if-matched / insert-if-not, one
    atomic snapshot commit per batch — ``Engine.merge`` /
    io/dml.py). The production upsert sink: keyed state lives in the
    table, the driver holds nothing, and a crash between batches
    leaves a consistent snapshot to resume from. Returns the drained
    table's DataFrame."""

    def _merge(bdf: DataFrame, _eid: int) -> None:
        if bdf.isEmpty():
            return
        engine.merge(table, bdf, on=on)

    q = (
        stream_df.writeStream.foreachBatch(_merge)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return engine.df(table)


def stream_spatial_join(
    stream_points: DataFrame,
    static_polys: DataFrame,
    x: str,
    y: str,
    wkb: str,
    predicate: str = "intersects",
    res: int = 6,
    distance: float | None = None,
) -> DataFrame:
    """Stream-static spatial join: a stream of points against a static
    polygon set.

    Stateless on the stream side — JVM cell encode per micro-batch,
    broadcast hash join against the static side's exploded cell cover,
    vectorized refine — so it runs in append mode with no state store.
    (A stream-stream spatial join would need watermarked symmetric
    state; the geo-enrichment shape — events × zones — is stream-static
    in practice.)
    """
    from geomesa_sql_spark.join import spatial_join
    from geomesa_sql_spark.join.spatial import point_side, wkb_side

    return spatial_join(
        stream_points,
        static_polys,
        point_side(x, y),
        wkb_side(wkb),
        predicate=predicate,
        distance=distance,
        res=res,           # required: no sampling jobs on a stream
        broadcast=True,    # required: no count() probe on a stream
    )


def stream_stream_dwithin_join(
    left: DataFrame,
    right: DataFrame,
    distance: float,
    time_bound: str = "1 hour",
    x1: str = "lon",
    y1: str = "lat",
    x2: str = "lon2",
    y2: str = "lat2",
    ts1: str = "ts",
    ts2: str = "ts2",
    watermark: str = "2 hours",
    res: int | None = None,
    metric: str = "planar",
    max_lon_steps: int = 1024,
) -> DataFrame:
    """Stream-STREAM DWithin join: pairs of points from two live streams
    within ``distance`` of each other and within ``time_bound`` of each
    other's event time.

    Plan shape (everything JVM-side — a Python UDF anywhere near the
    symmetric state store would break codegen and double-evaluate):

    - pick ``res`` so one grid cell is at least ``distance`` tall/wide,
      then any qualifying pair is in the same or an adjacent cell;
    - LEFT explodes to its 3×3 neighbor cells via pure Column
      arithmetic (array+explode of shifted zorder encodes), RIGHT keeps
      its single home cell → the join key is cell equality, which gives
      Spark's symmetric hash state a proper partitioning key;
    - the refine (planar distance ≤ d) and the event-time bound ride
      the same join condition; watermarks on both sides let the state
      store evict (the standard stream-stream retention contract);
    - a pair shares at most ONE (left-neighbor = right-home) cell, so
      no post-join dedup is needed.

    The reference is strictly batch (SURVEY.md §2.8) — this is the
    engine-extension shape for live geo-correlation (e.g. two image
    streams matched by location+time).

    ``metric='sphere'``: ``distance`` is METRES on the mean sphere
    (geom/geodesic.py) and pairing means "within m metres on the real
    earth". Still 100% JVM: the latitude stays a ±1-cell band (cells
    are sized ≥ the metre radius's worst-case Δφ), but the LONGITUDE
    reach is per-row data-dependent — each left row explodes
    ``sequence(-k, k)`` lon steps where k = ceil(Δλ(φ)/cell width) from
    the shared cap bounds, with pmod wrap at ±180 (the haversine metric
    wraps; near-pole rows legitimately reach the whole lon row) and
    ``array_distinct`` so a wrapped cover can't double-match a pair.
    ``max_lon_steps`` bounds the per-row fan-out: a row needing more
    (tiny radius at extreme latitude) fails LOUDLY via assert_true
    folded into the consumed cell expression — coarsen ``res`` or
    pre-filter polar rows rather than silently exploding state.
    """
    from geomesa_sql_spark.cells.column import zorder_cell_col

    if metric == "sphere":
        import math

        from geomesa_sql_spark.geom.geodesic import COVER_RADIUS

        eff_dist = math.degrees(float(distance) / COVER_RADIUS)
    else:
        eff_dist = float(distance)
    if res is None:
        res = 0
        while (180.0 / (1 << (res + 1))) >= eff_dist and res < 16:
            res += 1
    cell_h = 180.0 / (1 << res)
    if cell_h < eff_dist:
        raise ValueError(
            f"res={res} gives {cell_h}° cells < the pair's max latitude "
            f"extent {eff_dist}°; adjacent-cell cover would miss pairs"
        )
    step_x = 360.0 / (1 << res)
    step_y = cell_h

    lf = left.withColumn(ts1, F.col(ts1).cast("timestamp")).withWatermark(
        ts1, watermark
    )
    rt = right.withColumn(ts2, F.col(ts2).cast("timestamp")).withWatermark(
        ts2, watermark
    )
    # neighbor cells via INTEGER grid shifts of the home cell, not by
    # shifting raw coordinates (review r4o: float rounding of
    # x1 + step_x at a cell boundary can land the shifted coordinate
    # one cell past the true neighbor, skipping the cell a qualifying
    # pair actually sits in — exact integer ±1 arithmetic cannot). The
    # home indices get their own projection and the neighbor cells are
    # SQL text over them (cells/column.py): the bit spread names its
    # input 32 times, so inlining the snap would copy it per neighbor.
    from geomesa_sql_spark.cells.column import (
        col_sql,
        grid_xy_sql,
        int_sql,
        interleave_sql,
    )

    gx, gy = grid_xy_sql(col_sql(x1), col_sql(y1), res)
    lf = lf.selectExpr("*", f"{gx} AS __ss_gx", f"{gy} AS __ss_gy")
    nmax = (1 << res) - 1

    def _clamp(c: str) -> str:
        return f"GREATEST(0, LEAST({nmax}, {c}))"

    def _gy(dy: int) -> str:
        return _clamp(f"__ss_gy + {int_sql(dy)}")

    if metric == "sphere":
        from geomesa_sql_spark.geom.geodesic import (
            sphere_deg_bounds_cols,
            sphere_distance_cols,
        )

        _, dlon_c = sphere_deg_bounds_cols(F.col(y1), float(distance))
        k_raw = F.ceil(dlon_c / F.lit(step_x)).cast("int")
        # full-wrap bound: half the row reaches everything via pmod.
        # least() SKIPS nulls (CLAUDE.md), so gate it: a NULL lat must
        # stay NULL (sequence(NULL) → explode drops the row), not
        # become a full-row explode
        k = F.when(
            k_raw.isNotNull(), F.least(k_raw, F.lit((1 << res) // 2))
        )
        # loud cap, folded into the consumed expression so Catalyst
        # can't prune the check (CLAUDE.md raise_error rule); NULL k
        # passes the assert (NULL-lat rows drop, they don't crash)
        k = F.when(
            F.assert_true(
                k.isNull() | (k <= F.lit(int(max_lon_steps))),
                f"dwithin_sphere stream join: a row needs more than "
                f"max_lon_steps={max_lon_steps} longitude cells at "
                f"res={res} — coarsen res or pre-filter polar rows",
            ).isNull(),
            k,
        )
        ring = ", ".join(
            interleave_sql(f"pmod(__ss_gx + dx, {1 << res})", _gy(dy))
            for dy in (-1, 0, 1)
        )
        cells = (
            "array_distinct(flatten(transform(sequence(-__ss_k, __ss_k), "
            f"dx -> array({ring}))))"
        )
        lf = lf.withColumn("__ss_k", k)
    else:
        cells = "array_distinct(array({}))".format(", ".join(
            interleave_sql(_clamp(f"__ss_gx + {int_sql(dx)}"), _gy(dy))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ))
    lf = lf.selectExpr("*", f"explode({cells}) AS __ss_cell").drop(
        "__ss_gx", "__ss_gy", "__ss_k"
    )
    rt = rt.withColumn("__ss_cell_r", zorder_cell_col(x2, y2, res))

    if metric == "sphere":
        space = sphere_distance_cols(
            F.col(x1), F.col(y1), F.col(x2), F.col(y2)
        ) <= F.lit(float(distance))
    else:
        ddx = F.col(x1) - F.col(x2)
        ddy = F.col(y1) - F.col(y2)
        space = ddx * ddx + ddy * ddy <= F.lit(float(distance) ** 2)
    cond = (
        (F.col("__ss_cell") == F.col("__ss_cell_r"))
        & space
        & (F.col(ts2) >= F.col(ts1) - F.expr(f"INTERVAL {time_bound}"))
        & (F.col(ts2) <= F.col(ts1) + F.expr(f"INTERVAL {time_bound}"))
    )
    return lf.join(rt, cond, "inner").drop("__ss_cell", "__ss_cell_r")


def streaming_exact_dedup(
    events: DataFrame,
    content_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup — the stream form of ops.dedup.exact_dedup.

    Spark-first: hash the content columns (JVM md5, same hash as the
    batch operator) and use the engine's own watermark-evicted
    deduplication state (``dropDuplicatesWithinWatermark``) rather than
    a hand-rolled stateful op — the state store holds one entry per
    distinct content hash seen within the watermark horizon, which is
    the standard bounded-state contract for streaming dedup (a
    duplicate arriving later than the watermark is the same late-data
    tradeoff every watermarked operator makes). Emits the FIRST arrival
    of each distinct content (batch exact_dedup keeps min-key instead —
    both keep exactly one representative per content group).
    """
    from geomesa_sql_spark.ops.dedup import content_hash_col

    out = (
        events.withColumn("__h", content_hash_col(content_cols))
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
    )
    if hasattr(out, "dropDuplicatesWithinWatermark"):
        out = out.dropDuplicatesWithinWatermark(["__h"])
    else:  # older Spark: unbounded dedup state
        out = out.dropDuplicates(["__h"])
    return out.drop("__h")

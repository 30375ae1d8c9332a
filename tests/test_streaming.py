"""Structured Streaming extension: watermarked windowed aggregation and
a custom stateful operator, oracled against batch groupBy on the same
data (available-now trigger = deterministic drain)."""

import pytest
from pyspark.sql import functions as F

from geomesa_sql_spark.streaming import (
    run_available_now,
    stateful_running_totals,
    stream_events,
    windowed_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # re-write the driver's events table as a 4-file directory so the
    # file source has multiple units to drain
    d = str(tmp_path_factory.mktemp("stream") / "events")
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(4).write.parquet(d)
    return d


def test_windowed_counts_match_batch(spark, sf_dir, events_dir):
    stream = windowed_counts(
        stream_events(spark, events_dir), window="6 hours", watermark="1 hour"
    )
    got = run_available_now(stream, mode="complete")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    key = lambda df: sorted(
        (str(r.win.start), str(r.win.end), r.event_type, r.n, round(r.sum_value, 6))
        for r in df.collect()
    )
    # available-now drain sees all files before the watermark closes
    # anything, so stream == batch exactly
    assert key(got) == key(batch)


def test_stateful_running_totals(spark, events_dir):
    stream = stateful_running_totals(stream_events(spark, events_dir))
    got = run_available_now(stream, mode="update")
    # update mode appends one row per key per microbatch; totals are
    # monotone, so the max per key is the final running total == batch
    last = {}
    for r in got.orderBy("total_n").collect():
        last[r.event_type] = (r.total_n, round(r.total_value, 6))
    batch = {
        r.event_type: (r.n, round(r.v, 6))
        for r in spark.read.parquet(events_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert last == batch


def test_stream_spatial_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static geo-enrichment: streaming points × broadcast
    polygons equals the batch spatial join on the same files."""
    from geomesa_sql_spark.io.fixtures import nation_squares, orders_points
    from geomesa_sql_spark.join import spatial_join
    from geomesa_sql_spark.join.spatial import point_side, wkb_side
    from geomesa_sql_spark.streaming import stream_spatial_join

    src = str(tmp_path / "pts")
    orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat") \
        .repartition(3).write.parquet(src)
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    joined = stream_spatial_join(stream, polys, "lon", "lat", "poly", res=6)
    name = "geo_sink"
    q = (
        joined.select("o_orderkey", "n_nationkey")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.o_orderkey, r.n_nationkey) for r in spark.table(name).collect()}
    want = {
        (r.o_orderkey, r.n_nationkey)
        for r in spatial_join(
            spark.read.parquet(src), polys, point_side("lon", "lat"),
            wkb_side("poly"), predicate="intersects", res=6, broadcast=True,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_dwithin_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-STREAM DWithin join ≡ the batch theta join on the same
    data (available-now drain, append mode). Also asserts the plan keeps
    everything JVM-side: no Python/Arrow eval anywhere (a UDF near the
    symmetric state store would break it)."""
    from geomesa_sql_spark.io.fixtures import orders_points, supplier_points
    from geomesa_sql_spark.streaming import stream_stream_dwithin_join
    from geomesa_sql_spark.streaming.windowed import run_available_now, stream_events

    dl = str(tmp_path / "l")
    dr = str(tmp_path / "r")
    pts = orders_points(spark, sf_dir).select(
        "o_orderkey", "lon", "lat", F.col("o_orderdate").cast("timestamp").alias("ts")
    )
    sup = supplier_points(spark, sf_dir).select(
        "s_suppkey",
        F.col("slon").alias("lon2"),
        F.col("slat").alias("lat2"),
        F.lit("1996-06-01").cast("timestamp").alias("ts2"),
    )
    pts.repartition(3).write.parquet(dl)
    sup.repartition(2).write.parquet(dr)

    joined = stream_stream_dwithin_join(
        stream_events(spark, dl), stream_events(spark, dr),
        distance=5.0, time_bound="365 days", watermark="0 seconds",
    )
    got = run_available_now(joined.select("o_orderkey", "s_suppkey"), mode="append")

    bl = spark.read.parquet(dl)
    br = spark.read.parquet(dr)
    # same builder on the batch twins: the physical plan must be pure
    # JVM (no ArrowEvalPython stage anywhere near the join)
    twin = stream_stream_dwithin_join(bl, br, distance=5.0, time_bound="365 days")
    assert "ArrowEvalPython" not in twin._jdf.queryExecution().executedPlan().toString()
    dx = F.col("lon") - F.col("lon2")
    dy = F.col("lat") - F.col("lat2")
    batch = bl.join(
        br,
        (dx * dx + dy * dy <= 25.0)
        & (F.col("ts2") >= F.col("ts") - F.expr("INTERVAL 365 days"))
        & (F.col("ts2") <= F.col("ts") + F.expr("INTERVAL 365 days")),
    ).select("o_orderkey", "s_suppkey")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    assert got.count() > 0


def test_streaming_exact_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming dedup ≡ batch exact_dedup in GROUP structure: one
    representative per distinct content, same distinct-content count."""
    from geomesa_sql_spark.ops import exact_dedup
    from geomesa_sql_spark.streaming import streaming_exact_dedup
    from geomesa_sql_spark.streaming.windowed import run_available_now, stream_events

    d = str(tmp_path / "ev")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value", "ts"
    )
    # inject exact duplicates (same content, new ids)
    dup = ev.limit(0).unionByName(ev).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    ev.unionByName(dup).repartition(4).write.parquet(d)

    got = run_available_now(
        streaming_exact_dedup(
            stream_events(spark, d), ["event_type", "value"], watermark="0 seconds"
        ),
        mode="append",
    )
    batch = exact_dedup(
        spark.read.parquet(d), ["event_type", "value"], "event_id"
    )
    assert got.count() == batch.count()
    k = lambda df: sorted(
        (r.event_type, round(r.value, 9)) for r in df.collect()
    )
    assert k(got.select("event_type", "value")) == k(
        batch.select("event_type", "value")
    )


def test_streaming_lsh_near_dup_matches_batch(spark, sf_dir, tmp_path):
    """Streamed LSH near-dup probe finds exactly the pairs the batch
    band-collision + signature-estimator twin finds (normalized to
    unordered distinct pairs — the stream emits at-least-once with
    arrival-order roles)."""
    from pyspark.sql import functions as F

    from geomesa_sql_spark.streaming import (
        banded_signatures,
        run_available_now,
        streaming_lsh_near_dup,
    )

    d = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    # plant near-duplicates: copies with one appended token
    dups = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    )
    docs.unionByName(dups).repartition(4).write.parquet(d)

    batch = spark.read.parquet(d)
    stream = spark.readStream.schema(batch.schema).parquet(d)

    got = run_available_now(
        streaming_lsh_near_dup(stream, "text", "doc_id", sim_threshold=0.7),
        mode="update",
    )
    got_pairs = {
        (min(r.id_new, r.id_seen), max(r.id_new, r.id_seen))
        for r in got.collect()
    }

    # batch twin: band collision + the same estimator over signatures
    banded = banded_signatures(batch, "text", "doc_id")
    l = banded.select(
        F.col("id").alias("id_a"), "band", "bh", F.col("sig").alias("sig_a")
    )
    r = banded.select(
        F.col("id").alias("id_b"), "band", "bh", F.col("sig").alias("sig_b")
    )
    cand = (
        l.join(r, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size("sig_a")
    want_pairs = {
        (r.id_a, r.id_b)
        for r in cand.withColumn("est", est)
        .filter(F.col("est") >= 0.7)
        .select("id_a", "id_b")
        .collect()
    }

    assert want_pairs, "fixture must contain near-duplicates"
    assert got_pairs == want_pairs


def test_streaming_dbscan_maintenance_matches_batch(spark, tmp_path):
    """foreachBatch + dbscan_incremental: after draining a multi-file
    stream, the maintained labels equal a from-scratch batch dbscan
    over all points."""
    import numpy as np

    from geomesa_sql_spark.io.fixtures import _splitmix64
    from geomesa_sql_spark.ops.cluster import dbscan
    from geomesa_sql_spark.streaming import DbscanMaintainer

    n = 300
    idx = np.arange(n, dtype=np.int64)
    h1 = _splitmix64(idx).astype(np.float64) / 2.0**64
    h2 = _splitmix64(idx + 777).astype(np.float64) / 2.0**64
    blob = idx % 4
    xs = np.where(blob < 3, (blob * 8.0) + (h1 * 2 - 1), h1 * 30 - 5)
    ys = np.where(blob < 3, (h2 * 2 - 1), h2 * 30 - 5)
    rows = [(int(i + 1), float(x), float(y)) for i, x, y in zip(idx, xs, ys)]
    df = spark.createDataFrame(rows, "id long, x double, y double")

    d = str(tmp_path / "pts_stream")
    df.repartition(4).write.parquet(d)  # 4 files -> up to 4 micro-batches

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple batches
        .parquet(d)
    )
    # track the label sink with per-batch UPSERT deltas only (r3):
    # MERGE-on-id semantics, O(delta) rows written per batch
    sink: dict[int, tuple] = {}

    def apply_delta(d):
        for r in d.collect():
            sink[r.id] = (r.cluster, r.role)

    maint = DbscanMaintainer(
        "id", "x", "y", eps=0.9, min_pts=6, on_delta=apply_delta
    )
    q = (
        stream.writeStream.foreachBatch(maint)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()

    got = {r.id: (r.cluster, r.role) for r in maint.labels.collect()}
    want = {r.id: (r.cluster, r.role)
            for r in dbscan(df, "id", "x", "y", eps=0.9, min_pts=6).collect()}
    assert got == want
    assert len(got) == n
    # the delta-upserted sink tracked the full labels exactly
    assert sink == got


def test_streaming_dbscan_changelog_deletes_and_moves(spark):
    """Changelog (CDC) mode: op='D' deletes a key, other ops upsert —
    after each batch the maintained labels equal a from-scratch batch
    dbscan over the LIVE table; the per-batch (delta, deleted) pair
    MERGE-tracks the labels exactly; replays are idempotent."""
    from geomesa_sql_spark.ops.cluster import dbscan
    from geomesa_sql_spark.streaming import DbscanMaintainer

    schema = "id long, x double, y double, op string"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    def rows_of(df):
        return {(r.id, r.cluster, r.role) for r in df.collect()}

    def batch_ref(live_rows):
        df = spark.createDataFrame(
            [(i, x, y) for (i, x, y) in live_rows], "id long, x double, y double"
        )
        return rows_of(dbscan(df, "id", "x", "y", eps=1.0, min_pts=3))

    sink: dict[int, tuple] = {}

    def apply_delta(d):
        for r in d.collect():
            sink[r.id] = (r.cluster, r.role)

    def apply_deleted(d):
        for r in d.collect():
            sink.pop(r.id, None)

    m = DbscanMaintainer(
        "id", "x", "y", eps=1.0, min_pts=3, op="op",
        on_delta=apply_delta, on_deleted=apply_deleted,
    )

    # batch 0: two blobs joined by a bridge point (one cluster):
    # blob_a spans x 0.25..1.0, bridge 1.7 (gaps 0.7 / 0.9 ≤ eps),
    # blob_b spans 2.6..3.35; without the bridge the gap is 1.6 > eps
    blob_a = [(i, i * 0.25, 0.0) for i in range(1, 5)]
    blob_b = [(i, 2.6 + (i - 10) * 0.25, 0.0) for i in range(10, 14)]
    bridge = [(99, 1.7, 0.0)]
    b0 = blob_a + blob_b + bridge
    m(mk([(i, x, y, "I") for (i, x, y) in b0]), 0)
    assert rows_of(m.labels) == batch_ref(b0)
    assert sink == {i: (c, r) for (i, c, r) in rows_of(m.labels)}

    # batch 1: DELETE the bridge (cluster splits), MOVE one blob-b
    # point via 'U', INSERT a new far point, plus a 'D' for a key that
    # never existed and a NULL-op row (must upsert, not delete)
    m(
        mk(
            [
                (99, None, None, "D"),
                (13, 7.0, 7.0, "U"),
                (50, 20.0, 20.0, "I"),
                (777, None, None, "D"),
                (51, 20.1, 20.0, None),
            ]
        ),
        1,
    )
    live = blob_a + [r for r in blob_b if r[0] != 13] + [
        (13, 7.0, 7.0), (50, 20.0, 20.0), (51, 20.1, 20.0),
    ]
    want = batch_ref(live)
    assert rows_of(m.labels) == want
    # two separate clusters now (the bridge is gone)
    labs = {c for (_, c, _) in want if c >= 0}
    assert len(labs) == 2
    # deleted frame: only key 99 (777 never existed)
    assert {r.id for r in m.deleted.collect()} == {99}
    assert sink == {i: (c, r) for (i, c, r) in want}

    # replay of batch 1: state unchanged, sinks re-applied harmlessly
    m(
        mk([(99, None, None, "D"), (13, 7.0, 7.0, "U"),
            (50, 20.0, 20.0, "I"), (777, None, None, "D"),
            (51, 20.1, 20.0, None)]),
        1,
    )
    assert rows_of(m.labels) == want
    assert sink == {i: (c, r) for (i, c, r) in want}

    # batch 2: an UNCOMPACTED batch — multiple events per key must
    # set-reduce, not duplicate: D+I for key 50 (upsert wins, the key
    # is NOT deleted), two upserts for key 13 (the lexicographic max
    # (x, y) wins, exactly one row in seen), all-D for key 51
    m(
        mk(
            [
                (50, None, None, "D"),
                (50, 21.0, 21.0, "I"),
                (13, 6.0, 6.0, "U"),
                (13, 6.5, 6.0, "U"),
                (51, None, None, "D"),
                (51, None, None, "D"),
            ]
        ),
        2,
    )
    live2 = blob_a + [r for r in blob_b if r[0] != 13] + [
        (13, 6.5, 6.0), (50, 21.0, 21.0),
    ]
    want2 = batch_ref(live2)
    assert rows_of(m.labels) == want2
    assert {r.id for r in m.deleted.collect()} == {51}
    assert sink == {i: (c, r) for (i, c, r) in want2}

    # batch 3: a NULL-coordinate UPSERT for an existing key must act
    # as a delete — the clustering drops positionless rows, so
    # admitting it would remove the key from labels while reporting
    # it in neither delta nor deleted (sink diverges forever)
    m(mk([(50, None, None, "U")]), 3)
    live3 = [r for r in live2 if r[0] != 50]
    want3 = batch_ref(live3)
    assert rows_of(m.labels) == want3
    assert {r.id for r in m.deleted.collect()} == {50}
    assert sink == {i: (c, r) for (i, c, r) in want3}


def test_streaming_dbscan_changelog_real_stream(spark, tmp_path):
    """Changelog mode through an actual writeStream.foreachBatch
    query (two micro-batches via maxFilesPerTrigger=1): maintained
    labels equal batch DBSCAN over the live table, and the
    delta+deleted MERGE sink tracks labels exactly."""
    from geomesa_sql_spark.ops.cluster import dbscan
    from geomesa_sql_spark.streaming import streaming_dbscan

    schema = "id long, x double, y double, op string"
    src = str(tmp_path / "src")
    b0 = (
        [(i, i * 0.25, 0.0, "I") for i in range(1, 5)]
        + [(i, 2.6 + (i - 10) * 0.25, 0.0, "I") for i in range(10, 14)]
        + [(99, 1.7, 0.0, "I")]
    )
    b1 = [(99, None, None, "D"), (13, 7.0, 7.0, "U"),
          (50, 20.0, 20.0, "I")]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    sink: dict[int, tuple] = {}

    def upsert(d):
        for r in d.collect():
            sink[r.id] = (r.cluster, r.role)

    def dele(d):
        for r in d.collect():
            sink.pop(r.id, None)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    maint, q = streaming_dbscan(
        stream, "id", "x", "y", eps=1.0, min_pts=3,
        op="op", on_delta=upsert, on_deleted=dele,
    )
    (
        q.writeStream.foreachBatch(maint)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
        .awaitTermination()
    )

    live = (
        [(i, i * 0.25, 0.0) for i in range(1, 5)]
        + [(i, 2.6 + (i - 10) * 0.25, 0.0) for i in range(10, 13)]
        + [(13, 7.0, 7.0), (50, 20.0, 20.0)]
    )
    ref = dbscan(
        spark.createDataFrame(live, "id long, x double, y double"),
        "id", "x", "y", eps=1.0, min_pts=3,
    )
    want = {(r.id, r.cluster, r.role) for r in ref.collect()}
    assert {(r.id, r.cluster, r.role) for r in maint.labels.collect()} == want
    assert sink == {i: (c, r) for (i, c, r) in want}


def test_drain_upsert_vs_memory_sink_append(spark, sf_dir, tmp_path):
    """r3: drain_upsert returns ONE final row per key from a
    multi-batch update-mode drain, equal to the batch aggregate; the
    memory sink (run_available_now) demonstrably appends per-batch
    intermediates for the same query."""
    from geomesa_sql_spark.streaming import (
        drain_upsert,
        run_available_now,
        stateful_running_totals,
    )

    d = str(tmp_path / "ev")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    ev.repartition(4).write.parquet(d)  # 4 files -> 4 micro-batches

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    got = drain_upsert(stateful_running_totals(stream()), ["event_type"])
    want = {
        r.event_type: (r.n, round(r.v, 6))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    res = {
        r.event_type: (r.total_n, round(r.total_value, 6))
        for r in got.collect()
    }
    assert res == want
    # the memory sink keeps one row per key per batch — strictly more
    appended = run_available_now(
        stateful_running_totals(stream()), mode="update"
    )
    assert appended.count() > got.count()


def test_drain_merge_into_snapshot_table(spark, sf_dir, tmp_path):
    """r3: foreachBatch -> Engine.merge upsert sink: after a
    multi-batch drain the Iceberg table holds exactly the final
    per-key totals (later batches updated earlier rows, one commit per
    batch), matching the batch aggregate."""
    from geomesa_sql_spark.engine import Engine
    from geomesa_sql_spark.io.iceberg_meta import IcebergTable
    from geomesa_sql_spark.streaming import (
        drain_merge_into,
        stateful_running_totals,
    )

    eng = Engine(spark, fid_col="event_type")
    d = str(tmp_path / "ev")
    t = str(tmp_path / "tot")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    ev.repartition(4).write.parquet(d)
    empty = spark.createDataFrame(
        [], "event_type string, total_n long, total_value double"
    )
    eng.create_table("totals", t, empty)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = drain_merge_into(
        stateful_running_totals(stream), eng, "totals", on="event_type"
    )
    want = {
        r.event_type: (r.n, round(r.v, 6))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    res = {
        r.event_type: (r.total_n, round(r.total_value, 6))
        for r in got.collect()
    }
    assert res == want
    # multi-commit history: one snapshot per non-empty batch + create
    assert len(IcebergTable.load(t).snapshots()) >= 4


def test_streaming_exact_dedup_null_and_separator_groups(spark, tmp_path):
    """r3: streaming dedup shares content_hash_col with the batch op,
    so NULL-position swaps and separator-straddling values form the
    same groups in both engines."""
    from geomesa_sql_spark.ops import exact_dedup
    from geomesa_sql_spark.streaming import (
        run_available_now,
        stream_events,
        streaming_exact_dedup,
    )

    d = str(tmp_path / "nv")
    rows = [
        (1, "x", None, "2024-01-01 00:00:00"),
        (2, None, "x", "2024-01-01 00:00:01"),
        (3, "a\x1fb", "c", "2024-01-01 00:00:02"),
        (4, "a", "b\x1fc", "2024-01-01 00:00:03"),
        (5, "x", None, "2024-01-01 00:00:04"),  # dup of 1
    ]
    df = spark.createDataFrame(
        rows, "event_id long, c1 string, c2 string, ts string"
    )
    df.coalesce(1).write.parquet(d)
    got = run_available_now(
        streaming_exact_dedup(
            stream_events(spark, d), ["c1", "c2"], watermark="0 seconds"
        ),
        mode="append",
    )
    batch = exact_dedup(spark.read.parquet(d), ["c1", "c2"], "event_id")
    assert got.count() == batch.count() == 4


def test_drain_upsert_nullable_long_columns(spark, tmp_path):
    """r3b: a nullable long column holding NULLs used to crash the
    drain (pandas float64/NaN cannot cast back to LongType); the
    Row-based store round-trips any schema exactly."""
    from geomesa_sql_spark.streaming import drain_upsert

    d = str(tmp_path / "nl")
    rows = [("a", 1), ("b", None), ("a", 3), ("c", None)]
    spark.createDataFrame(rows, "k string, n long").coalesce(1).write.parquet(d)
    stream = (
        spark.readStream.schema("k string, n long").parquet(d)
    )
    got = drain_upsert(stream, ["k"], mode="append")
    vals = {r.k: r.n for r in got.collect()}
    assert vals == {"a": 3, "b": None, "c": None}
    assert dict(got.dtypes)["n"] == "bigint"


def test_dbscan_maintainer_replay_is_idempotent(spark):
    """foreachBatch replays a batch on sink failure/restart — the
    maintainer must not union the same batch twice (review r4o: a
    duplicated point counts as its own eps-neighbor, minting fake
    cores). Replays re-run the sinks against the already-computed
    state."""
    from geomesa_sql_spark.streaming.cluster import DbscanMaintainer

    pts = [(i, float(i % 7) * 0.1, float(i % 5) * 0.1) for i in range(60)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    calls = []
    m = DbscanMaintainer(
        "id", "x", "y", eps=0.5, min_pts=3,
        on_update=lambda lab: calls.append(lab.count()),
    )
    m(df, 0)
    first = m.labels.orderBy("id").toPandas()
    n_seen = m._seen.count()
    m(df, 0)  # replay of the SAME batch id
    assert m._seen.count() == n_seen  # not unioned twice
    again = m.labels.orderBy("id").toPandas()
    assert (first == again).all().all()
    assert len(calls) == 2  # the sink DID re-run (at-least-once sinks)
    # a genuinely new batch still advances state
    df2 = spark.createDataFrame(
        [(100 + i, 5.0 + i * 0.01, 5.0) for i in range(10)],
        "id long, x double, y double",
    )
    m(df2, 1)
    assert m._seen.count() == n_seen + 10


def test_stream_stream_dwithin_sphere_matches_batch(spark, tmp_path):
    """metric='sphere' stream-stream join ≡ the batch haversine theta
    join, incl. an antimeridian pair (pmod-wrapped lon cover) and a
    NULL-lat row (dropped, not exploded); plan stays pure JVM."""
    import numpy as np
    import pandas as pd

    from geomesa_sql_spark.geom.geodesic import sphere_distance
    from geomesa_sql_spark.streaming import stream_stream_dwithin_join
    from geomesa_sql_spark.streaming.windowed import (
        run_available_now,
        stream_events,
    )

    n = 600
    k = np.arange(n, dtype=np.int64)
    lon = ((k * 7919) % 36000) / 100.0 - 180.0
    lat = ((k * 104729) % 16000) / 100.0 - 80.0
    lon[:20] = 179.8          # seam east, lats spread
    lat[:20] = (k[:20] % 10) * 2.0
    lpdf = pd.DataFrame({
        "lid": k, "lon": lon, "lat": lat,
        "ts": pd.Timestamp("2024-06-01"),
    })
    lpdf.loc[5, "lat"] = None  # NULL-lat row: must drop, not explode
    m = 300_000.0
    rl = np.array([-179.9, 10.0, 100.0, 179.9])
    rt_ = np.array([2.0, 48.0, -30.0, 8.0])
    rpdf = pd.DataFrame({
        "rid": np.arange(4), "lon2": rl, "lat2": rt_,
        "ts2": pd.Timestamp("2024-06-01"),
    })
    dl, dr = str(tmp_path / "sl"), str(tmp_path / "sr")
    spark.createDataFrame(lpdf).repartition(3).write.parquet(dl)
    spark.createDataFrame(rpdf).write.parquet(dr)

    joined = stream_stream_dwithin_join(
        stream_events(spark, dl), stream_events(spark, dr),
        distance=m, time_bound="10 days", watermark="0 seconds",
        metric="sphere",
    )
    got = run_available_now(joined.select("lid", "rid"), mode="append")
    got_pairs = sorted(map(tuple, got.collect()))

    twin = stream_stream_dwithin_join(
        spark.read.parquet(dl), spark.read.parquet(dr),
        distance=m, time_bound="10 days", metric="sphere",
    )
    assert "ArrowEvalPython" not in (
        twin._jdf.queryExecution().executedPlan().toString()
    )

    want = []
    for rid, (qlon, qlat) in enumerate(zip(rl, rt_)):
        d = sphere_distance(lon, lat, qlon, qlat)
        ok = np.flatnonzero(np.nan_to_num(d, nan=np.inf) <= m)
        want += [(int(i), rid) for i in ok if i != 5]
    assert got_pairs == sorted(want)
    # the seam actually exercised: an east-seam left matched a
    # west-seam right across ±180
    assert any(r == 0 and l < 20 for l, r in want)
    assert len(want) > 3


def test_stream_static_dwithin_sphere(spark, tmp_path):
    """Stream-STATIC geodesic enrichment: spatial_join dwithin_sphere
    runs on a stream (stateless cover UDF per micro-batch, broadcast
    static side, no sampling jobs at plan time) ≡ batch twin."""
    import numpy as np
    import pandas as pd

    from geomesa_sql_spark.geom.geodesic import sphere_distance
    from geomesa_sql_spark.join import spatial_join
    from geomesa_sql_spark.join.spatial import point_side
    from geomesa_sql_spark.streaming.windowed import (
        run_available_now,
        stream_events,
    )

    n = 400
    k = np.arange(n, dtype=np.int64)
    lon = ((k * 7919) % 36000) / 100.0 - 180.0
    lat = ((k * 104729) % 16000) / 100.0 - 80.0
    d = str(tmp_path / "spts")
    spark.createDataFrame(
        pd.DataFrame({"pid": k, "lon": lon, "lat": lat})
    ).repartition(2).write.parquet(d)
    pois = spark.createDataFrame(
        pd.DataFrame({"poi": [0, 1], "plon": [10.0, -179.9], "plat": [48.0, 5.0]})
    )
    m = 900_000.0
    joined = spatial_join(
        stream_events(spark, d), pois,
        point_side("lon", "lat"), point_side("plon", "plat"),
        predicate="dwithin_sphere", distance=m, broadcast=True,
    )
    got = sorted(
        map(tuple, run_available_now(
            joined.select("pid", "poi"), mode="append"
        ).collect())
    )
    want = []
    for poi, (qlon, qlat) in enumerate([(10.0, 48.0), (-179.9, 5.0)]):
        dd = sphere_distance(lon, lat, qlon, qlat)
        want += [(int(i), poi) for i in np.flatnonzero(dd <= m)]
    assert got == sorted(want) and len(want) > 0

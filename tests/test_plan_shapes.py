"""Physical-plan shape assertions — the analog of the reference's
EXPLAIN regex tests (GeoMesaCalciteTestUtils.scala:41-52, used ~100×):
required/forbidden operators in the executed plan, re-expressed for
Catalyst (SURVEY.md §5.3: "plan assertions become physical-plan
assertions")."""

from pyspark.sql import functions as F

from geomesa_sql_spark.io.fixtures import nation_squares, orders_points
from geomesa_sql_spark.join import knn_join, spatial_join
from geomesa_sql_spark.join.spatial import point_side, wkb_side
from geomesa_sql_spark.plan import spatial_filter

RECT = "POLYGON ((-10.005 -10.005, 50.005 -10.005, 50.005 40.005, -10.005 40.005, -10.005 -10.005))"
PENTA = "POLYGON ((-40.0037 -20.0013, 30.0041 -45.0029, 80.0017 10.0023, 20.0031 60.0019, -55.0043 25.0037))"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rectangle_filter_has_no_python_refine(spark, sf_dir):
    """Rectangle predicate ≡ bbox — no refine UDF may appear (the
    analog of 'no EnumerableCalc above the scan',
    FilterTest.scala:249-262 inverted)."""
    pts = orders_points(spark, sf_dir)
    plan = _plan(spatial_filter(pts, "intersects", RECT, x="lon", y="lat"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pentagon_filter_has_exactly_one_refine(spark, sf_dir):
    pts = orders_points(spark, sf_dir)
    plan = _plan(spatial_filter(pts, "intersects", PENTA, x="lon", y="lat"))
    assert plan.count("ArrowEvalPython") == 1


def test_point_cell_encode_stays_jvm(spark, sf_dir):
    """The billion-row side's cell encode must not be a Python stage —
    and the whole point×rect broadcast join plan needs at most the one
    refine UDF."""
    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")
    j = spatial_join(
        pts, polys, point_side("lon", "lat"), wkb_side("poly"),
        predicate="intersects", res=6, broadcast=True,
    )
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan
    # Python stages: the fused right-side env+cover and the refine —
    # never an encode stage on the big (left/point) side of the BHJ
    left_side = plan.split("BroadcastExchange")[0]
    assert "ArrowEvalPython" not in left_side.split("BroadcastHashJoin")[-1]


def test_spatial_join_repartition_shuffles_on_cell(spark, sf_dir):
    """Two-large-sides plan: with auto-broadcast off (as it would be for
    a genuinely big right side), both sides shuffle on the cell key."""
    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spatial_join(
            pts, polys, point_side("lon", "lat"), wkb_side("poly"),
            predicate="intersects", res=6, broadcast=False,
        )
        plan = _plan(j)
        assert "BroadcastHashJoin" not in plan
        assert "hashpartitioning(__gsj_cell" in plan
        # result parity with the broadcast path on the same input
        jb = spatial_join(
            pts, polys, point_side("lon", "lat"), wkb_side("poly"),
            predicate="intersects", res=6, broadcast=True,
        )
        assert j.count() == jb.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_topk_uses_take_ordered(spark, sf_dir):
    df = (
        orders_points(spark, sf_dir)
        .orderBy(F.desc("o_totalprice"))
        .select("o_orderkey")
        .limit(10)
    )
    assert "TakeOrderedAndProject" in _plan(df)


def test_knn_has_partial_window_group_limit(spark, sf_dir):
    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    plan = _plan(knn_join(pts, [(1, 0.0, 0.0)], k=5))
    assert "WindowGroupLimit" in plan  # partial top-k before the shuffle


def test_ann_dot_product_stays_jvm(spark, sf_dir):
    from geomesa_sql_spark.ops import cosine_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.limit(1).select(
        F.lit(0).alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    plan = _plan(cosine_topk(e, q, k=5))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_projection_prunes_bytes_from_scan(spark):
    """Payload discipline: a query not touching `bytes` must not read
    it (ReadSchema excludes the binary column)."""
    from geomesa_sql_spark.io.fixtures import images_table

    path = "/tmp/spark_graft_plan_imgs"
    import os

    if not os.path.exists(f"{path}/_SUCCESS"):
        images_table(spark, 200, size=8).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path).select("image_id", "lon", "lat")
    plan = _plan(df)
    rs = plan.split("ReadSchema:")[1]
    assert "bytes" not in rs and "caption" not in rs


def test_broadcast_decision_runs_no_job(spark, sf_dir):
    """VERDICT r01 next.8: broadcast=None must decide from Catalyst plan
    statistics (file-size-derived sizeInBytes), not an eager scan-shaped
    probe job — at 100 TB a limit+count of the right side is a real scan."""
    from geomesa_sql_spark.join.spatial import _should_broadcast

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("bcast_probe", "probe")
    try:
        small = _should_broadcast(df, 2_000_000)
        big = _should_broadcast(df, 1)
    finally:
        sc.setJobGroup(None, None)
    assert small is True and big is False
    assert list(sc.statusTracker().getJobIdsForGroup("bcast_probe")) == []


def test_knn_adaptive_dispatch_runs_no_job(spark, sf_dir):
    """r4 verdict #5: knn_join_adaptive's small-vs-large dispatch must
    decide from Catalyst plan stats (like _should_broadcast), never an
    eager limit().count() probe job."""
    from geomesa_sql_spark.join import knn as knn_mod

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    q = spark.range(50_000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("qx"),
        ((F.col("id") * 104729 % 1700) / 10.0 - 85.0).alias("qy"),
    )

    class _Routed(Exception):
        pass

    def _sentinel(*a, **kw):
        raise _Routed

    orig = knn_mod.knn_join_cells
    sc = spark.sparkContext
    knn_mod.knn_join_cells = _sentinel
    sc.setJobGroup("knn_dispatch", "probe")
    try:
        import pytest as _pytest

        with _pytest.raises(_Routed):
            knn_mod.knn_join_adaptive(pts, q, k=3)
    finally:
        knn_mod.knn_join_cells = orig
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("knn_dispatch")) == []


def test_knn_cells_no_cartesian(spark, sf_dir):
    """r3: the large-query-set kNN is a cell equi-join — no
    BroadcastNestedLoop/cartesian anywhere, and the per-query rank
    window still gets the partial top-k pushdown."""
    from geomesa_sql_spark.join.knn import knn_join_cells

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    q = spark.range(2000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("qx"),
        ((F.col("id") * 104729 % 1700) / 10.0 - 85.0).alias("qy"),
    )
    out = knn_join_cells(pts, q, k=3, max_rounds=1, checkpoint=False)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """r3: the benchmark shingle set rides a broadcast join — the
    corpus text never shuffles (only (id, hash) pairs reach the
    count exchange)."""
    from geomesa_sql_spark.ops import contaminated_ids

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.limit(5).select("text")
    out = contaminated_ids(docs, bench)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_bucketed_layout_joins_and_aggs_without_exchange(spark, sf_dir, tmp_path):
    """write_bucketed: the shuffle is paid once at write; a same-key
    same-bucket-count equi-join then plans as SortMergeJoin with NO
    Exchange on either side, and a groupBy on the bucket key
    aggregates without a shuffle (the persisted analog of the
    reference's attribute-index lookup join,
    GeoMesaIndexLookupJoinRule.scala:30-82)."""
    from geomesa_sql_spark.io.layout import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob = write_bucketed(
            orders, "orders_bkt", str(tmp_path / "ob"), "o_custkey", buckets=8
        )
        cb = write_bucketed(
            cust, "cust_bkt", str(tmp_path / "cb"), "c_custkey", buckets=8
        )
        j = ob.join(cb, ob.o_custkey == cb.c_custkey)
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides pre-hashed on disk
        assert "Bucketed: true" in plan
        # row parity with the plain (shuffling) join
        assert j.count() == orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count()

        agg = ob.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
        assert "Exchange" not in _plan(agg)
        assert agg.count() == orders.select("o_custkey").distinct().count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS cust_bkt")


def test_knn_adaptive_row_cap_reroutes_compressible_queries(spark, sf_dir):
    """r5 review: Catalyst sizeInBytes is the COMPRESSED size for a
    parquet-backed frame, so a highly compressible huge query table
    can slip under the stats budget and pass _should_broadcast. The
    driver path's collect is now capped (10× the threshold); overflow
    re-routes to the cells path instead of collecting unbounded."""
    from geomesa_sql_spark.join import knn as knn_mod
    from geomesa_sql_spark.join import spatial as spatial_mod

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    q = spark.range(500).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 7919 % 3600) / 10.0 - 180.0).alias("qx"),
        ((F.col("id") * 104729 % 1700) / 10.0 - 85.0).alias("qy"),
    )

    class _Routed(Exception):
        pass

    def _sentinel(*a, **kw):
        raise _Routed

    orig_cells = knn_mod.knn_join_cells
    orig_bcast = spatial_mod._should_broadcast
    # force the under-estimate: stats say "small" for a 500-row set
    spatial_mod._should_broadcast = lambda df, budget: True
    knn_mod.knn_join_cells = _sentinel
    try:
        import pytest as _pytest

        with _pytest.raises(_Routed):
            # threshold 10 → cap 100 < 500 rows → must re-route
            knn_mod.knn_join_adaptive(pts, q, k=3, large_query_threshold=10)
    finally:
        knn_mod.knn_join_cells = orig_cells
        spatial_mod._should_broadcast = orig_bcast


def _python_evals(plan: str) -> int:
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")


def test_sql_literal_predicates_evaluate_over_coordinates(spark, sf_dir):
    """Engine.sql's literal-geometry rewrite: a pentagon runs ONE Python
    eval node whose arguments are the coordinate columns (no per-row
    ST_MakePoint / ST_GeomFromText WKB); a rectangle and DWithin against
    a POINT run none."""
    from geomesa_sql_spark.engine import Engine

    eng = Engine(spark)
    eng.register_view("shape_pts", orders_points(spark, sf_dir).select("lon", "lat"))

    def plan(pred: str) -> str:
        return _plan(eng.sql(f"SELECT count(*) FROM shape_pts WHERE {pred}"))

    penta = plan(f"ST_Contains(ST_GeomFromText('{PENTA}'), ST_MakePoint(lon, lat))")
    assert _python_evals(penta) == 1, penta
    assert "ST_MakePoint" not in penta and "ST_GeomFromText" not in penta, penta
    for pred in (
        f"ST_Within(ST_MakePoint(lon, lat), ST_GeomFromText('{RECT}'))",
        f"ST_Intersects(ST_GeomFromText('{RECT}'), ST_MakePoint(lon, lat))",
        "ST_DWithin(ST_MakePoint(lon, lat), ST_GeomFromText('POINT (10 10)'), 5.0)",
    ):
        p = plan(pred)
        assert _python_evals(p) == 0, p


def test_join_resolution_sample_runs_no_python(spark, sf_dir, tmp_path, monkeypatch):
    """spatial_join(res=None)'s envelope sample decodes raw WKB after a
    bounded collect: at most two jobs (the bounded limit's scale-up) and no
    Python eval node in what it collects."""
    from geomesa_sql_spark.join.spatial import _sample_extents

    path = str(tmp_path / "polys")  # stored WKB: the fixture builds it by UDF
    nation_squares(spark, sf_dir).select("n_nationkey", "poly").write.parquet(path)
    polys = spark.read.parquet(path)
    plans = []
    DataFrame = type(polys)
    collect = DataFrame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    sc = spark.sparkContext
    sc.setJobGroup("res_sample", "probe")
    try:
        ext = _sample_extents(polys, wkb_side("poly"))
    finally:
        sc.setJobGroup(None, None)
    assert ext is not None and ext[2] > 0
    assert plans and not any(_python_evals(p) for p in plans), plans
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup("res_sample")) <= 2


def _final_plan(df) -> str:
    """Executed plan after an action: under AQE, the FINAL plan only
    (the AdaptiveSparkPlan listing repeats the initial plan below it)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_routed_left_join_evaluates_inner_once(spark, sf_dir):
    """A routed LEFT spatial join runs its inner join ONCE: as many
    Python eval nodes as the routed inner join (the former inner ∪
    anti-join tail ran the cover and refine UDFs twice), and its rows
    are the inner rows plus every unmatched left row null-padded, the
    inner rows taken from a plain bbox join (the squares are
    axis-aligned, so bbox ≡ intersects)."""
    from geomesa_sql_spark.engine import Engine

    pts = orders_points(spark, sf_dir).filter(F.col("o_orderkey") <= 3000)
    polys = nation_squares(spark, sf_dir)
    eng = Engine(spark, fid_col="o_orderkey")
    eng.register_view("lj_pts", pts.select("o_orderkey", "lon", "lat"))
    eng.register_view("lj_sq", polys.select("n_nationkey", "poly"))
    on = "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly)"
    sel = "SELECT p.o_orderkey, s.n_nationkey FROM lj_pts p"
    inner = eng.sql(f"{sel} JOIN lj_sq s {on}")
    left = eng.sql(f"{sel} LEFT JOIN lj_sq s {on}")
    assert eng.route_fallbacks == {}
    n_inner, n_left = (_python_evals(_final_plan(q)) for q in (inner, left))
    assert n_inner >= 1 and n_left == n_inner, (n_inner, n_left)

    bbox = (
        (F.col("lon") >= F.col("pminx")) & (F.col("lon") <= F.col("pmaxx"))
        & (F.col("lat") >= F.col("pminy")) & (F.col("lat") <= F.col("pmaxy"))
    )
    matched = {tuple(r) for r in pts.join(polys, bbox).select("o_orderkey", "n_nationkey").collect()}
    keys = {r[0] for r in pts.select("o_orderkey").collect()}
    want = matched | {(k, None) for k in keys - {k for k, _ in matched}}
    got = [tuple(r) for r in left.collect()]
    assert len(got) == len(want) and set(got) == want
    assert {tuple(r) for r in inner.collect()} == matched


# Gateway round trips of one spatial_join BUILD (no action, res fixed).
# The Column-tree builders spent ~880 (point x WKB) and ~1,850 (point x
# point DWithin); the SQL-text builders ~135 and ~105.
JOIN_BUILD_ROUND_TRIPS = 300


def test_spatial_join_build_gateway_budget(spark, sf_dir, monkeypatch):
    """Cell and cover expressions are SQL text, so building a join stays
    within a fixed Py4J budget. Counts every command sent to the JVM
    except py4j's object-release messages, which the Python GC times."""
    from py4j.clientserver import ClientServerConnection

    pts = orders_points(spark, sf_dir).select("o_orderkey", "lon", "lat")
    polys = nation_squares(spark, sf_dir).select("n_nationkey", "poly", "cx", "cy")
    builds = {
        "point x wkb": lambda: spatial_join(
            pts, polys.select("n_nationkey", "poly"), point_side("lon", "lat"),
            wkb_side("poly"), predicate="intersects", res=6,
        ),
        "point x point dwithin": lambda: spatial_join(
            pts, polys.select("n_nationkey", "cx", "cy"), point_side("lon", "lat"),
            point_side("cx", "cy"), predicate="dwithin", distance=1.5, res=6,
        ),
    }
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m\n"):
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    counts = {}
    for name, build in builds.items():
        build()  # warm
        sent[0] = 0
        build()
        counts[name] = sent[0]
    assert all(0 < c <= JOIN_BUILD_ROUND_TRIPS for c in counts.values()), counts


#: Spark jobs of one localized dbscan_incremental call plus one collect
#: of its result (the per-cell applyInPandas pass and seven lazy
#: checkpoints over delta-sized id sets ran 26 for the call alone)
DBSCAN_INCREMENTAL_JOBS = 16
#: Spark jobs of one full dbscan(return_state=True) call plus one count
#: of its result, with the eq edge exchange run once (twice costs 9)
DBSCAN_FULL_STATE_JOBS = 8


def _blobs(spark, n, seed, first_id=0, centre=None):
    import numpy as np

    rng = np.random.default_rng(seed)
    if centre is None:
        centres = rng.uniform(0, 60, (6, 2))
        xy = centres[rng.integers(0, 6, n)] + rng.normal(0, 1.2, (n, 2))
    else:
        xy = np.asarray(centre) + rng.normal(0, 1.2, (n, 2))
    rows = [(first_id + k, float(a), float(b)) for k, (a, b) in enumerate(xy)]
    return spark.createDataFrame(rows, "id long, x double, y double"), xy


def test_dbscan_local_pass_walks_sorted_cells(spark, monkeypatch):
    """The per-cell kernel runs in one mapInPandas walk over cell-sorted
    partitions, never a per-group applyInPandas (one Python dispatch a
    cell)."""
    from geomesa_sql_spark.ops import cluster as C

    df, _ = _blobs(spark, 300, 3)
    pts, eps, s = C._validated_pts(df, "id", "x", "y", 1.0, 5, None)
    plans = []
    DataFrame = type(df)
    checkpoint = DataFrame.localCheckpoint

    def spy(self, eager=True):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    local = C._compute_local(pts, s, eps, 5)
    assert local.filter(F.col("kind") == "corelab").count() > 0
    assert len(plans) == 1
    assert "MapInPandas" in plans[0] and "FlatMapGroupsInPandas" not in plans[0], plans[0]


def test_dbscan_incremental_job_budget(spark):
    """A localized delta costs a bounded number of Spark jobs: the
    delta-sized sets come from one bounded collect of the ring-2 slice
    and are diffed on the driver. The full build that makes its state
    runs the eq edge exchange once."""
    from geomesa_sql_spark.ops.cluster import dbscan, dbscan_incremental

    base, xy = _blobs(spark, 1500, 5)
    delta, _ = _blobs(spark, 150, 6, first_id=10_000, centre=xy[0])
    kw = dict(key="id", x="x", y="y", eps=1.0, min_pts=5)
    full = base.unionByName(delta)
    sc = spark.sparkContext
    sc.setJobGroup("dbscan_full_budget", "probe")
    try:
        _, state = dbscan(base, return_state=True, **kw)
        state["result"].count()
    finally:
        sc.setJobGroup(None, None)
    full_jobs = len(sc.statusTracker().getJobIdsForGroup("dbscan_full_budget"))
    assert 0 < full_jobs <= DBSCAN_FULL_STATE_JOBS, full_jobs
    sc.setJobGroup("dbscan_incremental_budget", "probe")
    try:
        res, _ = dbscan_incremental(full, delta, state, **kw)
        got = sorted(map(tuple, res.collect()))
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("dbscan_incremental_budget"))
    assert got == sorted(map(tuple, dbscan(full, **kw).collect()))
    assert 0 < jobs <= DBSCAN_INCREMENTAL_JOBS, jobs


# Spark jobs of one Engine.sql DELETE / UPDATE, the result collect
# included: DELETE is the hit-file collect (a distinct: two jobs under
# AQE) plus the rewrite, with its count from manifest stats; UPDATE is
# the rewrite alone, counted by an Observation on it. The result frame
# is a VALUES row, which collects with no job.
DML_DELETE_JOBS = 4
DML_UPDATE_JOBS = 2


def test_dml_statement_job_budget(spark, tmp_path):
    from geomesa_sql_spark.engine import Engine

    eng = Engine(spark, fid_col="pid")
    eng.create_table("dmlj", str(tmp_path / "dmlj"), spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("pid"), (F.col("id") % 360 - 180.0).alias("lon")))
    sc = spark.sparkContext
    for group, stmt, budget, want in (
        ("dml_delete", "DELETE FROM dmlj WHERE pid % 89 = 3", DML_DELETE_JOBS, 23),
        ("dml_update", "UPDATE dmlj SET lon = lon + 0.5 WHERE pid % 97 = 5", DML_UPDATE_JOBS, 21),
    ):
        sc.setJobGroup(group, "probe")
        try:
            got = eng.sql(stmt).collect()
        finally:
            sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert got[0].affected == want
        assert 0 < jobs <= budget, (stmt, jobs)

    out = eng.sql("DELETE FROM dmlj WHERE pid = 7")
    assert out.schema.simpleString() == "struct<affected:bigint>"
    assert "ExistingRDD" not in _plan(out)
    sc.setJobGroup("dml_result", "probe")
    try:
        assert out.collect()[0].affected == 1
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("dml_result")) == []

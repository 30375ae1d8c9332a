"""DML round-trips re-expressing the reference's ModificationTest
(test/.../ModificationTest.scala:36-175): insert incl. nulls / partial
columns / INSERT-SELECT, update with FID prohibition, delete, and exact
affected-row counts — plus snapshot isolation and time travel over the
Iceberg snapshots every verb commits."""

import pytest
from pyspark.sql import functions as F

from geomesa_sql_spark.io.dml import FidUpdateError, IcebergDmlTable


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    base = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select(
            F.col("n_nationkey").cast("long").alias("fid"),
            "n_name",
            "n_regionkey",
        )
    )
    return IcebergDmlTable(spark, str(tmp_path / "t"), fid_col="fid").create(base)


def test_insert_full_and_count(spark, table):
    n0 = table.read().count()
    rows = spark.createDataFrame(
        [(1000, "ATLANTIS", 0), (1001, "LEMURIA", 1)],
        "fid long, n_name string, n_regionkey long",
    )
    assert table.insert(rows) == 2
    got = table.read()
    assert got.count() == n0 + 2
    assert got.filter(F.col("fid") == 1000).select("n_name").first()[0] == "ATLANTIS"


def test_insert_partial_columns_null_filled(spark, table):
    rows = spark.createDataFrame([(2000,)], "fid long")
    assert table.insert(rows) == 1
    r = table.read().filter(F.col("fid") == 2000).first()
    assert r["n_name"] is None and r["n_regionkey"] is None


def test_insert_unknown_column_rejected(spark, table):
    rows = spark.createDataFrame([(1, "x")], "fid long, bogus string")
    with pytest.raises(ValueError, match="bogus"):
        table.insert(rows)


def test_insert_select_1000(spark, sf_dir, table):
    # ModificationTest.scala: INSERT ... SELECT of 1000 generated rows
    src = spark.range(10_000, 11_000).select(
        F.col("id").alias("fid"),
        F.concat(F.lit("N"), F.col("id")).alias("n_name"),
        (F.col("id") % 5).alias("n_regionkey"),
    )
    assert table.insert(src) == 1000
    assert table.read().filter(F.col("fid") >= 10_000).count() == 1000


def test_update_with_where_and_count(spark, table):
    n_hit = table.read().filter(F.col("n_regionkey") == 2).count()
    affected = table.update(
        {"n_name": F.lower("n_name")}, where=F.col("n_regionkey") == 2
    )
    assert affected == n_hit
    got = table.read()
    assert got.filter((F.col("n_regionkey") == 2) & (F.col("n_name") != F.lower("n_name"))).count() == 0
    assert got.filter((F.col("n_regionkey") != 2) & (F.col("n_name") == F.lower("n_name"))).count() == 0


def test_update_all_rows_sql_expr(spark, table):
    n = table.read().count()
    assert table.update({"n_regionkey": "n_regionkey + 100"}) == n
    assert table.read().filter(F.col("n_regionkey") < 100).count() == 0


def test_update_fid_forbidden(table):
    with pytest.raises(FidUpdateError):
        table.update({"fid": F.lit(0)})


def test_update_set_frame_rejects_dup_fid_and_missing_value(spark, table):
    """r5 review: a SET-side (fid, value) frame with duplicate fids
    would silently MULTIPLY whole table rows through the CoW join —
    fail like ANSI scalar subqueries do on >1 row (the check is a
    raise_error folded into the consumed value over ONE aggregation:
    no extra job, no double evaluation of the frame; it fires at
    commit time, BEFORE the snapshot commits, so the table is untouched);
    a frame with no value column errors clearly, not an IndexError."""
    good = spark.createDataFrame([(1, 5), (2, 6)], "fid long, v int")
    before = table.read().count()
    assert table.update({"n_regionkey": good}) == before  # sanity: ok
    assert table.read().count() == before

    dup = spark.createDataFrame([(1, 5), (1, 6)], "fid long, v int")
    with pytest.raises(Exception, match="duplicate"):
        table.update({"n_regionkey": dup})
    # nothing committed: same row count AND the live version readable
    assert table.read().count() == before

    with pytest.raises(ValueError, match="value"):
        table.update({"n_regionkey": spark.createDataFrame([(1,)], "fid long")})


def test_delete_with_count_and_null_cond(spark, table):
    table.insert(spark.createDataFrame([(3000,)], "fid long"))  # null n_regionkey
    n_hit = table.read().filter(F.col("n_regionkey") == 0).count()
    assert table.delete(F.col("n_regionkey") == 0) == n_hit
    got = table.read()
    assert got.filter(F.col("n_regionkey") == 0).count() == 0
    # NULL condition row survives a DELETE (SQL three-valued logic)
    assert got.filter(F.col("fid") == 3000).count() == 1


def test_snapshot_isolation_time_travel(spark, table):
    v0 = table.read()
    n0 = v0.count()
    table.delete(None)
    assert table.read().count() == 0
    # the first snapshot still fully readable
    first = table._table().snapshots()[0]["snapshot-id"]
    assert table.read(snapshot_id=first).count() == n0
    # and the handle captured before the commit still resolves
    assert v0.count() == n0


def test_insert_coerces_types_to_table_schema(spark, table):
    """ADVICE r01 (high): an INSERT whose column types differ from the
    table schema must be coerced before the data dir is written —
    otherwise the commit succeeds and every later read() dies on
    PARQUET_COLUMN_DATA_TYPE_MISMATCH. Calcite coerces inserts to the
    table row type, so this is also reference parity."""
    # table columns: fid long, n_name string, n_regionkey int32
    rows = spark.createDataFrame(
        [(3000, "TYPED", 7.0)], "fid int, n_name string, n_regionkey double"
    )
    assert table.insert(rows) == 1
    got = table.read()  # would raise without the insert-side cast
    assert got.count() > 0
    r = got.filter(F.col("fid") == 3000).first()
    assert r["n_regionkey"] == 7
    assert dict(got.dtypes)["n_regionkey"] == "int"


def test_insert_non_castable_rejected(spark, table):
    rows = spark.createDataFrame([(1, [2, 3])], "fid long, n_regionkey array<int>")
    with pytest.raises(ValueError, match="not coercible"):
        table.insert(rows)


def test_insert_types_come_from_the_iceberg_schema(spark, table, tmp_path, monkeypatch):
    """INSERT casts to the table's types without planning a read of the
    table: a field-id table's Spark schema is built from its Iceberg
    schema. A table with an opaque passthrough column (an array, kept
    as-is in parquet, recorded as binary) still casts to the type its
    data files hold."""
    from geomesa_sql_spark.io import iceberg_meta as im

    want = dict(table.read().dtypes)
    with monkeypatch.context() as m:
        m.setattr(im.IcebergTable, "read", lambda *a, **k: pytest.fail("read planned"))
        assert table.insert(spark.createDataFrame([(4000, 3.0)], "fid int, n_regionkey double")) == 1
    got = table.read()
    assert dict(got.dtypes) == want
    assert got.filter(F.col("fid") == 4000).first()["n_regionkey"] == 3

    opaque = IcebergDmlTable(spark, str(tmp_path / "opaque"), fid_col="fid").create(
        spark.createDataFrame([(1, [1.0, 2.0])], "fid long, v array<double>"))
    assert opaque.insert(spark.createDataFrame([(2,)], "fid int")) == 1
    rows = sorted(opaque.read().collect())
    assert [(r.fid, r.v) for r in rows] == [(1, [1.0, 2.0]), (2, None)]


def test_merge_upsert_counts_and_values(spark, table):
    """MERGE = partial-row update for matched keys + insert for new
    keys, one atomic commit, exact counts, old snapshot intact."""
    v0 = table._table().snapshot()["snapshot-id"]
    n0 = table.read().count()
    src = spark.createDataFrame(
        [(0, "ZERO_PRIME"), (1, "ONE_PRIME"), (5000, "NEWLAND")],
        "fid long, n_name string",  # n_regionkey NOT provided
    )
    n_upd, n_ins = table.merge(src)
    assert (n_upd, n_ins) == (2, 1)
    got = table.read()
    assert got.count() == n0 + 1
    row0 = got.filter(F.col("fid") == 0).first()
    assert row0.n_name == "ZERO_PRIME"
    assert row0.n_regionkey is not None  # unprovided column kept
    new = got.filter(F.col("fid") == 5000).first()
    assert new.n_name == "NEWLAND" and new.n_regionkey is None
    # time travel: pre-merge snapshot unchanged
    old = table.read(snapshot_id=v0)
    assert old.count() == n0
    assert old.filter(F.col("fid") == 0).first().n_name != "ZERO_PRIME"


def test_merge_modes_and_duplicate_keys(spark, table):
    src = spark.createDataFrame(
        [(0, "X"), (6000, "Y")], "fid long, n_name string"
    )
    assert table.merge(src, when_matched="ignore") == (0, 1)
    assert table.read().filter(F.col("fid") == 0).first().n_name != "X"
    assert table.merge(src, when_not_matched="ignore") == (2, 0)

    dup = spark.createDataFrame(
        [(7000, "A"), (7000, "B")], "fid long, n_name string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        table.merge(dup)
    with pytest.raises(ValueError, match="lacks key"):
        table.merge(spark.createDataFrame([("Z",)], "n_name string"))


def test_compact_small_files(spark, table):
    """Many single-row appends -> compaction to few data files with
    identical data; the pre-compaction snapshot stays readable."""
    for i in range(5):
        table.insert(spark.createDataFrame(
            [(9000 + i, f"N{i}", 0)], "fid long, n_name string, n_regionkey long"
        ))
    before = {tuple(r) for r in table.read().collect()}
    t = table._table()
    v_before = t.snapshot()["snapshot-id"]
    n_files_before = len(t.plan_files()[0])
    assert n_files_before >= 6
    n_files = table.compact(target_files=2)
    assert n_files == 2
    assert {tuple(r) for r in table.read().collect()} == before
    assert table.read(snapshot_id=v_before).count() == len(before)


def test_sql_text_merge(spark, sf_dir, tmp_path):
    """Engine.sql MERGE INTO text form: canonical key upsert."""
    from geomesa_sql_spark.engine import Engine

    eng = Engine(spark)
    base = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select(F.col("n_nationkey").cast("long").alias("image_id"), "n_name")
    )
    d = str(tmp_path / "mt")
    IcebergDmlTable(spark, d).create(base)
    eng.register_table("mtab", d)
    eng.register_view(
        "msrc",
        spark.createDataFrame(
            [(0, "ZED"), (4242, "NEW")], "image_id long, n_name string"
        ),
    )
    out = eng.sql("MERGE INTO mtab USING msrc ON image_id")
    assert out.first().affected == 2
    got = {r.image_id: r.n_name for r in eng.sql(
        "SELECT image_id, n_name FROM mtab WHERE image_id IN (0, 4242)"
    ).collect()}
    assert got == {0: "ZED", 4242: "NEW"}

    # WHEN NOT MATCHED only: existing row untouched, new row added
    eng.register_view(
        "msrc2",
        spark.createDataFrame(
            [(0, "IGNORED"), (5555, "ADDED")], "image_id long, n_name string"
        ),
    )
    out2 = eng.sql(
        "MERGE INTO mtab USING msrc2 ON image_id WHEN NOT MATCHED THEN INSERT"
    )
    assert out2.first().affected == 1
    got2 = {r.image_id: r.n_name for r in eng.sql(
        "SELECT image_id, n_name FROM mtab WHERE image_id IN (0, 5555)"
    ).collect()}
    assert got2 == {0: "ZED", 5555: "ADDED"}

    # subquery source
    out3 = eng.sql(
        "MERGE INTO mtab USING "
        "(SELECT 7777 AS image_id, 'SUBQ' AS n_name) ON image_id"
    )
    assert out3.first().affected == 1

    # a subquery source nested three deep, grouped at the top (an
    # Aggregate's parse origin is its GROUP BY clause alone)
    out4 = eng.sql(
        "MERGE INTO mtab USING (SELECT image_id, max(n_name) AS n_name FROM "
        "(SELECT * FROM (SELECT 8888 AS image_id, 'DEEP' AS n_name) a) b "
        "GROUP BY image_id) c ON image_id"
    )
    assert out4.first().affected == 1
    assert eng.sql(
        "SELECT n_name FROM mtab WHERE image_id = 8888"
    ).first().n_name == "DEEP"

    # ON names one bare key column, not a join condition
    with pytest.raises(ValueError, match="bare key column"):
        eng.sql("MERGE INTO mtab t USING msrc s ON t.image_id = s.image_id")


def test_merge_set_list_sql_and_api(spark, sf_dir, tmp_path):
    """r3: MERGE ... WHEN MATCHED THEN UPDATE SET col = expr — only
    the SET columns update, expressions mix target and source values,
    inserts are unaffected; API twin via set_exprs."""
    from geomesa_sql_spark.engine import Engine

    eng = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    eng.create_table("mset", str(tmp_path / "mset"), base)

    upd = base.filter("n_nationkey < 5").select(
        "n_nationkey",
        F.lit("ZZ").alias("n_name"),
        (F.col("n_regionkey") + 100).alias("n_regionkey"),
    )
    ins = spark.createDataFrame([(900, "NEW", 1)], base.schema)
    eng.register_view("msrc", upd.unionByName(ins))

    out = eng.sql(
        "MERGE INTO mset t USING msrc s ON n_nationkey "
        "WHEN MATCHED THEN UPDATE SET "
        "  n_name = concat(t.n_name, '_', s.n_name), "
        "  n_regionkey = n_regionkey + s.n_regionkey "
        "WHEN NOT MATCHED THEN INSERT"
    )
    assert out.first()["affected"] == 5 + 1
    got = {r.n_nationkey: (r.n_name, r.n_regionkey)
           for r in eng.df("mset").collect()}
    want_base = {r.n_nationkey: (r.n_name, r.n_regionkey)
                 for r in base.collect()}
    for k, (nm, rk) in want_base.items():
        if k < 5:
            assert got[k] == (f"{nm}_ZZ", rk + (rk + 100)), k
        else:
            assert got[k] == (nm, rk), k
    assert got[900] == ("NEW", 1)

    # API twin: set_exprs dict, matched-only (no insert)
    eng2 = Engine(spark, fid_col="n_nationkey")
    eng2.create_table("mset2", str(tmp_path / "mset2"), base)
    n_upd, n_ins = eng2.merge(
        "mset2", upd, on="n_nationkey",
        when_not_matched="ignore",
        set_exprs={"n_name": "lower(src.n_name)"},
    )
    assert (n_upd, n_ins) == (5, 0)
    got2 = {r.n_nationkey: (r.n_name, r.n_regionkey)
            for r in eng2.df("mset2").collect()}
    for k, (nm, rk) in want_base.items():
        # n_regionkey must NOT have updated (not in the SET list)
        assert got2[k] == ("zz" if k < 5 else nm, rk), k

    # SET on unknown column / on the key: loud errors
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown columns|SET targets"):
        eng2.merge("mset2", upd, on="n_nationkey",
                   set_exprs={"nope": "1"})
    with _pt.raises(ValueError, match="MERGE key"):
        eng2.merge("mset2", upd, on="n_nationkey",
                   set_exprs={"n_nationkey": "0"})


def test_merge_set_literal_and_src_collision_guards(spark, sf_dir, tmp_path):
    """Review r3: SET-list qualifier rewriting must not touch string
    literals, and a target named 'src' (the source-qualifier
    convention) is refused loudly."""
    from geomesa_sql_spark.engine import Engine

    eng = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    eng.create_table("mlit", str(tmp_path / "mlit"), base)
    upd = base.filter("n_nationkey = 3").select("n_nationkey")
    eng.register_view("s", upd)

    # literal containing 's.' survives untouched
    eng.sql(
        "MERGE INTO mlit t USING s ON n_nationkey "
        "WHEN MATCHED THEN UPDATE SET n_name = 'see s.mail'"
    )
    got = {r.n_nationkey: r.n_name for r in eng.df("mlit").collect()}
    assert got[3] == "see s.mail"

    eng.create_table("src", str(tmp_path / "src"), base)
    eng.register_view("u", upd)
    with pytest.raises(ValueError, match="src"):
        eng.sql(
            "MERGE INTO src USING u ON n_nationkey "
            "WHEN MATCHED THEN UPDATE SET n_name = 'x'"
        )


def test_merge_set_exprs_validation(spark, tmp_path):
    """r3b: src.<col> references in SET expressions are validated
    against the source's columns up front (clean ValueError, not an
    opaque mangled-column analysis error); a literal mentioning
    'src.x' is NOT a reference; set_exprs with when_matched='ignore'
    raises instead of silently dropping the SET list."""
    import pytest as _pytest

    d = str(tmp_path / "msv")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "image_id long, n string, price double"
    )
    t = IcebergDmlTable(spark, d).create(base)
    src = spark.createDataFrame([(1, 9.0)], "image_id long, price double")

    t.merge(src, set_exprs={"price": "src.price * 2"})
    assert {r.image_id: r.price for r in t.read().collect()}[1] == 18.0

    with _pytest.raises(ValueError, match="qty"):
        t.merge(src, set_exprs={"price": "src.qty * 2"})
    with _pytest.raises(ValueError, match="silently dropped"):
        t.merge(src, when_matched="ignore", set_exprs={"price": "src.price"})

    t.merge(src, set_exprs={"n": "'src.fake'"})  # literal, not a ref
    assert {r.image_id: r.n for r in t.read().collect()}[1] == "src.fake"


def test_write_geo_table_rejects_precomputed_cell(spark, tmp_path):
    """r3b: a frame already carrying 'cell' is refused — the recorded
    layout res could silently disagree with the encode res, making the
    pushdown scan drop every row."""
    import pytest as _pytest

    from geomesa_sql_spark.io.layout import add_cell, write_geo_table

    df = add_cell(
        spark.createDataFrame([(1, 0.0, 0.0)], "id long, lon double, lat double"),
        "lon", "lat", 8,
    )
    with _pytest.raises(ValueError, match="cell"):
        write_geo_table(df, str(tmp_path / "bad"))


def test_fast_min_max_refuses_int96(spark, tmp_path):
    """r3b: INT96 footer stats are deprecated (undefined sort order) —
    fast_min_max must fall back to a scan (return None) instead of
    trusting them."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geomesa_sql_spark.io.stats import fast_min_max

    d = str(tmp_path / "i96")
    tbl = pa.table(
        {"ts": pd.to_datetime(["2024-01-01", "2024-06-01"]), "v": [1, 2]}
    )
    import os
    os.makedirs(d)
    pq.write_table(
        tbl, f"{d}/part-0.parquet", use_deprecated_int96_timestamps=True
    )
    assert fast_min_max(d, "ts") is None      # INT96: refused
    assert fast_min_max(d, "v") == (1, 2)     # INT64: still exact


def test_dml_differential_fuzz(spark, sf_dir, tmp_path):
    """Seeded random INSERT/UPDATE/DELETE statement sequences run
    verbatim through BOTH Engine.sql and DuckDB on the same starting
    table; final table states must match exactly (the ModificationTest
    round-trip idea generalized to a generator — covers SET expression
    evaluation, LIKE/IN/MOD predicates, subquery WHERE forms, and
    duplicate-key inserts)."""
    import random

    import duckdb

    from geomesa_sql_spark.engine import Engine

    eng = Engine(spark, fid_col="n_nationkey")
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    eng.create_table("natf", str(tmp_path / "natf"), base)
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE natf AS SELECT * FROM '{sf_dir}/nation.parquet'"
    )

    rng = random.Random(424242)

    def gen(i: int) -> str:
        kind = rng.random()
        if kind < 0.3:
            k = rng.choice([100 + i, rng.randrange(0, 25)])  # dup keys too
            return (
                f"INSERT INTO natf VALUES ({k}, 'FUZZ_{i}', "
                f"{rng.randrange(0, 5)})"
            )
        if kind < 0.65:
            set_expr = rng.choice(
                [
                    "n_name = UPPER(n_name)",
                    "n_name = n_name || '_X'",
                    "n_regionkey = n_regionkey + 1",
                    "n_regionkey = MOD(n_regionkey * 3, 5)",
                ]
            )
            pred = rng.choice(
                [
                    f"n_regionkey = {rng.randrange(0, 5)}",
                    "n_name LIKE '%A%'",
                    f"n_nationkey IN ({rng.randrange(0, 25)}, "
                    f"{rng.randrange(0, 25)})",
                    f"MOD(n_nationkey, 7) = {rng.randrange(0, 7)}",
                ]
            )
            return f"UPDATE natf SET {set_expr} WHERE {pred}"
        pred = rng.choice(
            [
                f"MOD(n_nationkey, 11) = {rng.randrange(0, 11)}",
                f"n_regionkey = {rng.randrange(0, 5)} AND n_name LIKE 'F%'",
                "n_nationkey IN (SELECT n_nationkey FROM natf "
                f"WHERE n_regionkey = {rng.randrange(0, 5)} "
                "AND MOD(n_nationkey, 2) = 0)",
            ]
        )
        return f"DELETE FROM natf WHERE {pred}"

    def state_eng():
        return sorted(
            tuple(str(v) for v in r) for r in eng.df("natf").collect()
        )

    def state_duck():
        return sorted(
            tuple(str(v) for v in r)
            for r in con.execute("SELECT * FROM natf").fetchall()
        )

    for i in range(14):
        stmt = gen(i)
        eng.sql(stmt)
        con.execute(stmt)
        if i % 5 == 4 or i == 13:
            assert state_eng() == state_duck(), f"diverged after: {stmt}"

    # fixed shapes: a WHERE inside a block comment, a line comment before
    # WHERE, a predicate over a parenthesized operand (a predicate's parse
    # origin starts at its keyword), an INSERT query topped by LIMIT
    for stmt in (
        "UPDATE natf SET n_name = n_name || '_C' /* WHERE all */ "
        "WHERE n_regionkey = 2",
        "DELETE FROM natf -- one region\n WHERE n_regionkey = 3",
        "UPDATE natf SET n_regionkey = (n_regionkey + 1) "
        "WHERE (n_regionkey = 1 OR n_name LIKE 'A%') IS NOT TRUE",
        "INSERT INTO natf SELECT n_nationkey + 1000, max(n_name), 0 FROM natf "
        "GROUP BY n_nationkey ORDER BY 1 LIMIT 3",
    ):
        eng.sql(stmt)
        con.execute(stmt)
    assert state_eng() == state_duck(), "diverged after the commented statements"


def _bounded(fn, timeout: float = 180.0):
    """``fn()`` on a daemon thread, failing instead of hanging: an UPDATE
    count is an ``Observation``, and one the optimizer pruned never
    reports, so its ``get`` would wait forever."""
    import threading

    out: dict = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as ex:  # re-raised on the test thread
            out["error"] = ex

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout)
    assert not th.is_alive(), f"no result within {timeout} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def test_dml_counts_without_recount(spark, sf_dir, tmp_path):
    """UPDATE counts come from an Observation on the rewrite's input and
    DELETE counts from manifest stats; each shape below must report the
    rows it changed, and return at all, against a plain count taken
    before the statement: a constant-false WHERE, rows whose predicate
    is NULL, a subquery WHERE, no WHERE, an emptied table, and a table
    carrying merge-on-read position deletes (whose DELETE keeps its
    count job)."""
    from geomesa_sql_spark.engine import Engine
    from geomesa_sql_spark.io import iceberg_meta as im

    eng = Engine(spark, fid_col="n_nationkey")
    path = str(tmp_path / "natc")
    eng.create_table("natc", path, spark.read.parquet(f"{sf_dir}/nation.parquet"))
    eng.sql("INSERT INTO natc (n_nationkey) VALUES (900), (901)")  # NULL region

    def count(where: str) -> int:
        return eng.df("natc").filter(where).count()

    def sql(stmt: str) -> int:
        return _bounded(lambda: eng.sql(stmt).first().affected)

    assert sql("UPDATE natc SET n_name = 'Z' WHERE 1 = 0") == 0
    assert sql("DELETE FROM natc WHERE 1 = 0") == 0
    n1 = count("n_regionkey = 1")
    assert sql("UPDATE natc SET n_name = 'R1' WHERE n_regionkey = 1") == n1
    assert count("n_name = 'R1'") == n1
    n2 = count("n_regionkey = 2")
    assert sql("DELETE FROM natc WHERE n_regionkey = 2") == n2
    assert count("n_regionkey IS NULL") == 2  # NULL predicate rows survive
    sub = "n_nationkey IN (SELECT n_nationkey FROM natc WHERE n_regionkey = 3)"
    n3 = count("n_regionkey = 3")
    assert sql(f"UPDATE natc SET n_name = 'R3' WHERE {sub}") == n3
    assert sql(f"DELETE FROM natc WHERE {sub}") == n3
    assert count("n_regionkey = 3") == 0

    def position_delete(where: str) -> None:
        data, _, _ = im.IcebergTable.load(path).plan_files()
        im.add_position_deletes(spark, path, (
            spark.read.parquet(*[f["path"] for f in data])
            .filter(where)
            .select(
                F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/").alias("file_path"),
                F.col("_metadata.row_index").alias("pos"),
            )
        ))
        eng.register_table("natc", path)
        assert count(where) == 0

    # a DELETE over position deletes takes the full rewrite with a count
    # job; an UPDATE reads through them
    position_delete("n_regionkey = 4")
    n0 = count("n_regionkey = 0")
    assert sql("DELETE FROM natc WHERE n_regionkey = 0") == n0
    position_delete("n_regionkey = 1 AND n_nationkey % 2 = 0")
    nn = count("n_regionkey IS NOT NULL")
    assert nn > 0
    assert sql("UPDATE natc SET n_name = 'NN' WHERE n_regionkey IS NOT NULL") == nn

    total = eng.df("natc").count()
    assert sql("UPDATE natc SET n_name = 'ALL'") == total
    assert sql("DELETE FROM natc") == total
    assert sql("UPDATE natc SET n_name = 'NONE'") == 0
    assert sql("DELETE FROM natc WHERE n_regionkey IS NULL") == 0

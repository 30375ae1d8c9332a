"""Model-file loading (io/model.py) and the sqlline-analog shell
(tools/sql_shell.py) — reference surface: README.md:16-172 (sqlline
CLI, Calcite model files), model-csv.yaml (inline CSV table)."""

import io
import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from geomesa_sql_spark.engine import Engine
from geomesa_sql_spark.io.model import apply_model, drop_model, load_model


def _write(p, text):
    p.write_text(text)
    return str(p)


def test_load_model_json_dir_discovery(tmp_path, sf_dir):
    path = _write(
        tmp_path / "m.json",
        '{"defaultSchema": "main", "schemas": ['
        f'{{"name": "main", "operand": {{"dir": "{sf_dir}"}}}}]}}',
    )
    spec = load_model(path)
    assert spec.default_schema == "main"
    names = {t.name for t in spec.schemas[0].tables}
    # discovery = every <name>.parquet in the dir (GeoMesaSchema analog)
    assert {"nation", "region", "orders", "lineitem"} <= names
    assert all(t.fmt == "parquet" for t in spec.schemas[0].tables)


def test_load_model_yaml_relative_paths_and_errors(tmp_path, sf_dir):
    path = _write(
        tmp_path / "m.yaml",
        """\
version: 1.0
defaultSchema: cat1
schemas:
  - name: cat1
    type: custom
    factory: com.example.IgnoredFactory
    operand:
      dir: {sf}
  - name: cat2
    tables:
      - name: nation2
        operand:
          file: {sf}/nation.parquet
""".format(sf=sf_dir),
    )
    spec = load_model(path)
    assert [s.name for s in spec.schemas] == ["cat1", "cat2"]
    assert spec.schemas[1].tables[0].name == "nation2"

    with pytest.raises(ValueError, match="defaultSchema"):
        load_model(
            _write(tmp_path / "bad1.json",
                   '{"defaultSchema": "nope", "schemas": [{"name": "a", "tables": []}]}')
        )
    with pytest.raises(ValueError, match="identifier"):
        load_model(
            _write(tmp_path / "bad2.json",
                   '{"schemas": [{"name": "a;drop", "tables": []}]}')
        )
    with pytest.raises(ValueError, match="twice"):
        load_model(
            _write(
                tmp_path / "bad3.json",
                '{"schemas": [{"name": "a", "tables": ['
                f'{{"name": "t", "operand": {{"file": "{sf_dir}/nation.parquet"}}}},'
                f'{{"name": "t", "operand": {{"file": "{sf_dir}/region.parquet"}}}}'
                "]}]}",
            )
        )


def test_apply_model_default_and_db_schemas(spark, tmp_path, sf_dir):
    csv = tmp_path / "pts.csv"
    csv.write_text("pid,lon,lat\n1,10.0,20.0\n2,30.0,-5.0\n")
    path = _write(
        tmp_path / "m.yaml",
        """\
defaultSchema: maincat
schemas:
  - name: maincat
    operand:
      dir: {sf}
    tables:
      - name: pts
        operand:
          file: pts.csv
  - name: altcat
    tables:
      - name: nation_alt
        operand:
          file: {sf}/nation.parquet
      - name: pts_alt
        operand:
          file: pts.csv
""".format(sf=sf_dir),
    )
    engine = Engine.from_model(spark, path)
    try:
        # default schema: bare names through Engine.sql, router included
        assert {"nation", "orders", "pts"} <= set(engine.tables())
        n = engine.sql("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"]
        assert n == 25
        got = engine.sql(
            "SELECT pid FROM pts "
            "WHERE ST_Within(ST_MakePoint(lon, lat), "
            "ST_GeomFromText('POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))'))"
        ).collect()
        assert [r["pid"] for r in got] == [1]
        # other schemas: real Spark databases, qualified references work
        # in plain SQL, CSV external table carries header+inference
        row = spark.sql(
            "SELECT COUNT(*) AS n FROM altcat.nation_alt"
        ).collect()[0]
        assert row["n"] == 25
        pts = spark.sql(
            "SELECT pid FROM altcat.pts_alt WHERE lat > 0"
        ).collect()
        assert [r["pid"] for r in pts] == [1]
        # re-apply is idempotent (drop-first replace)
        apply_model(engine, path)
        assert spark.sql("SELECT COUNT(*) AS n FROM altcat.nation_alt").collect()[0]["n"] == 25
    finally:
        drop_model(spark, engine.model)
    assert "altcat" not in [d.name for d in spark.catalog.listDatabases()]


def test_apply_model_rejects_iceberg_outside_default(spark, tmp_path, sf_dir):
    """An Iceberg table dir is classified as such (not as a bare parquet
    dir): outside the default schema it is refused with a clear error,
    since a parquet external table would read its data files without
    the snapshot; in the default schema it registers, discovered or
    declared with ``format: iceberg``."""
    from geomesa_sql_spark.io.iceberg_meta import create_table

    ice = tmp_path / "icedir"
    create_table(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), str(ice))
    path = _write(
        tmp_path / "m.json",
        '{"defaultSchema": "a", "schemas": ['
        f'{{"name": "a", "operand": {{"dir": "{sf_dir}"}}}},'
        f'{{"name": "b", "tables": [{{"name": "s", "operand": {{"path": "{ice}"}}}}]}}'
        "]}",
    )
    with pytest.raises(ValueError, match="iceberg"):
        Engine.from_model(spark, path)

    path = _write(
        tmp_path / "m2.json",
        '{"defaultSchema": "a", "schemas": [{"name": "a", "tables": ['
        f'{{"name": "s", "operand": {{"path": "{ice}"}}}},'
        f'{{"name": "s2", "operand": {{"path": "{ice}", "format": "iceberg"}}}}'
        "]}]}",
    )
    assert [t.fmt for t in load_model(path).schemas[0].tables] == ["iceberg"] * 2
    engine = Engine.from_model(spark, path)
    assert engine.sql("SELECT COUNT(*) AS n FROM s2").first()["n"] == 2


def _run_shell(engine, text, max_rows=100):
    import sql_shell

    out = io.StringIO()
    old = sys.stdout
    sys.stdout = out
    try:
        sql_shell.repl(engine, io.StringIO(text), max_rows)
    finally:
        sys.stdout = old
    return out.getvalue()


@pytest.fixture()
def shell_engine(spark, sf_dir):
    engine = Engine(spark)
    for t in ("nation", "region", "orders"):
        engine.register_table(t, os.path.join(sf_dir, f"{t}.parquet"))
    return engine


def test_shell_select_with_timing(shell_engine):
    out = _run_shell(
        shell_engine,
        "SELECT n_name FROM nation\nWHERE n_nationkey < 2\nORDER BY n_name;\n",
    )
    assert "NATION_0" in out and "NATION_1" in out
    assert "2 rows selected (" in out and "seconds)" in out


def test_shell_bang_commands(shell_engine):
    out = _run_shell(
        shell_engine,
        "!tables\n!describe nation\n!maxrows 3\n"
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey;\n!quit\n",
    )
    assert "nation" in out and "orders" in out
    assert "n_nationkey\tint" in out
    assert "3+ rows selected (" in out  # maxrows cap marks truncation


def test_shell_survives_bad_sql_and_unknown_bang(shell_engine):
    out = _run_shell(
        shell_engine,
        "!nosuch\nSELECT broken syntax here;\nSELECT 1 AS one;\n",
    )
    assert "unknown command !nosuch" in out
    assert "error:" in out
    assert "1 row selected (" in out  # shell stayed alive after the error


def test_shell_spatial_sql_routes(shell_engine, sf_dir):
    # the shell goes through Engine.sql, so ST_* rewrite works in-shell
    out = _run_shell(
        shell_engine,
        "!plan SELECT n_name FROM nation WHERE n_nationkey < 3;\n",
    )
    assert "PushedFilters" in out or "Scan parquet" in out


def test_model_geojsonl_tables(spark, tmp_path, sf_dir):
    from geomesa_sql_spark.geom import model as gmodel
    from geomesa_sql_spark.geom.geojson import geom_to_geojson

    gj = tmp_path / "sites.geojsonl"
    gj.write_text(
        "\n".join(
            '{"type":"Feature","geometry":%s,"properties":{"site":%d}}'
            % (geom_to_geojson(gmodel.point(float(i), float(i))), i)
            for i in range(5)
        )
        + "\n"
    )
    path = tmp_path / "m.yaml"
    path.write_text(
        f"""\
defaultSchema: cat
schemas:
  - name: cat
    operand:
      dir: {tmp_path}
"""
    )
    from geomesa_sql_spark.engine import Engine

    engine = Engine.from_model(spark, str(path))
    try:
        assert "sites" in engine.tables()
        got = engine.sql(
            "SELECT site FROM sites WHERE ST_X(geom) >= 3.0 ORDER BY site"
        ).collect()
        assert [r.site for r in got] == [3, 4]
    finally:
        drop_model(spark, engine.model)
        spark.catalog.dropTempView("sites")

    # geojsonl outside the default schema has no external-table mapping
    bad = tmp_path / "bad.yaml"
    bad.write_text(
        f"""\
defaultSchema: cat
schemas:
  - name: cat
    tables:
      - name: sites
        operand:
          file: {gj}
  - name: other
    tables:
      - name: sites2
        operand:
          file: {gj}
"""
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="geojsonl"):
        Engine.from_model(spark, str(bad))

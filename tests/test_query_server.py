"""HTTP query endpoint (tools/query_server.py) — the JDBC-driver
analog (jdbc/Driver.scala:37-122): SQL over HTTP/JSON through
Engine.sql, so the spatial router is live for external clients."""

import json
import urllib.error
import urllib.request

import pytest

from geomesa_sql_spark.engine import Engine


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    import os
    import sys

    tools_dir = os.path.join(os.path.dirname(__file__), "..", "tools")
    if tools_dir not in sys.path:
        sys.path.insert(0, tools_dir)
    try:
        from query_server import serve
    finally:
        sys.path.remove(tools_dir)

    eng = Engine(spark, fid_col="n_nationkey")
    eng.register_table("nation_q", f"{sf_dir}/nation.parquet")
    # a lon/lat point table for the /tiles MVT endpoint
    import tempfile

    pts_dir = tempfile.mkdtemp(prefix="qs_pts_") + "/pts.parquet"
    spark.range(0, 2000).selectExpr(
        "id",
        "CAST((id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon",
        "CAST((id * 104729) % 18000 AS DOUBLE) / 100.0 - 90.0 AS lat",
    ).write.mode("overwrite").parquet(pts_dir)
    eng.register_table("pts_q", pts_dir)
    srv = serve(eng, port=0, token="sekrit")
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _req(url, body=None, token="sekrit"):
    req = urllib.request.Request(
        url,
        data=None if body is None else json.dumps(body).encode(),
        headers={"Authorization": f"Bearer {token}"},
        method="GET" if body is None else "POST",
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def test_tables_and_schema(server):
    assert "nation_q" in _req(f"{server}/tables")["tables"]
    fields = {f["name"]: f["type"]
              for f in _req(f"{server}/schema?table=nation_q")["fields"]}
    assert fields["n_nationkey"].startswith(("int", "bigint"))
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(f"{server}/schema?table=nope")
    assert e.value.code == 404


def test_sql_roundtrip_and_spatial_router(server, spark):
    out = _req(f"{server}/sql", {
        "sql": "SELECT n_nationkey, n_name FROM nation_q "
               "WHERE n_nationkey < 3 ORDER BY n_nationkey"})
    assert [c["name"] for c in out["columns"]] == ["n_nationkey", "n_name"]
    assert out["row_count"] == 3 and not out["truncated"]
    assert out["rows"][0][0] == 0

    # spatial WHERE goes through the engine's router, not bare spark.sql
    spat = _req(f"{server}/sql", {
        "sql": """SELECT n_nationkey FROM nation_q
                  WHERE ST_Within(
                      ST_MakePoint(CAST(n_nationkey AS DOUBLE), 0.5),
                      ST_GeomFromText(
                          'POLYGON ((-1 -1, 5.5 -1, 5.5 2, -1 2, -1 -1))'))"""})
    assert sorted(r[0] for r in spat["rows"]) == [0, 1, 2, 3, 4, 5]

    # binary columns serialize as hex-WKB and round-trip through unhex
    wkb = _req(f"{server}/sql", {
        "sql": "SELECT ST_AsBinary(ST_MakePoint(1.0D, 2.0D)) AS g"})
    hexwkb = wkb["rows"][0][0]
    txt = spark.sql(
        f"SELECT ST_AsText(ST_GeomFromWKB(unhex('{hexwkb}'))) AS t"
    ).first().t
    assert txt == "POINT (1 2)"


def test_truncation_errors_and_auth(server):
    out = _req(f"{server}/sql",
               {"sql": "SELECT * FROM nation_q", "max_rows": 5})
    assert out["row_count"] == 5 and out["truncated"] is True

    with pytest.raises(urllib.error.HTTPError) as e:
        _req(f"{server}/sql", {"sql": "SELECT FROM syntax error"})
    assert e.value.code == 400
    assert "error" in json.loads(e.value.read())

    with pytest.raises(urllib.error.HTTPError) as e:
        _req(f"{server}/tables", token="wrong")
    assert e.value.code == 401


def test_concurrent_requests_do_not_cross(server, spark):
    """Requests plan concurrently, with no lock: every request names its
    CTE ``picked``, and the spatial JOIN inside it routes through a view
    with a per-call unique name, so distinct concurrent queries must
    each get their own rows."""
    import concurrent.futures as cf

    def one(k):
        out = _req(f"{server}/sql", {
            "sql": f"""WITH picked AS (
                         SELECT n_nationkey FROM nation_q
                         WHERE ST_Within(
                             ST_MakePoint(CAST(n_nationkey AS DOUBLE), 0.5),
                             ST_GeomFromText(
                                 'POLYGON ((-1 -1, {k}.5 -1, {k}.5 2, -1 2, -1 -1))')))
                       SELECT COUNT(*) AS n FROM picked"""})
        return k, out["rows"][0][0]

    # a spatial JOIN inside the shared-name CTE: points within 6 degrees
    # of nation sites strung along the equator, the first k nations only
    sites = ("SELECT n_nationkey, CAST(n_nationkey AS DOUBLE) * 10.0 - 120.0 "
             "AS nx, 0.0D AS ny FROM nation_q WHERE n_nationkey < {k}")

    def joined(k):
        out = _req(f"{server}/sql", {
            "sql": f"""WITH picked AS (
                         SELECT p.id, n.n_nationkey FROM pts_q p
                         JOIN ({sites.format(k=k)}) n
                         ON ST_DWithin(ST_MakePoint(p.lon, p.lat),
                                       ST_MakePoint(n.nx, n.ny), 6.0))
                       SELECT COUNT(*) AS n FROM picked"""})
        return k, out["rows"][0][0]

    ks = [2, 5, 8, 11, 14, 17]
    want = {
        k: spark.sql(
            f"SELECT COUNT(*) FROM pts_q p JOIN ({sites.format(k=k)}) n "
            "ON (p.lon - n.nx) * (p.lon - n.nx) + (p.lat - n.ny) * (p.lat - n.ny) "
            "<= 36.0"
        ).first()[0]
        for k in ks
    }
    assert len(set(want.values())) == len(ks), want
    with cf.ThreadPoolExecutor(max_workers=6) as ex:
        plain = ex.map(one, ks)
        spatial = ex.map(joined, ks)
        for k, n in plain:
            assert n == k + 1, (k, n)
        for k, n in spatial:
            assert n == want[k], (k, n, want[k])


def test_malformed_bodies_get_structured_400(server):
    """Review r4c: valid-JSON non-object bodies, non-string sql, and
    bad max_rows must all return a structured 400, never a connection
    reset from a dead handler thread."""
    for body in ([1, 2, 3], "just a string", 123,
                 {"sql": 42},
                 {"sql": "SELECT 1", "max_rows": "lots"},
                 {"sql": "SELECT 1", "max_rows": None},
                 {"sql": "SELECT 1", "max_rows": -5},
                 {"nosql": "SELECT 1"}):
        with pytest.raises(urllib.error.HTTPError) as e:
            _req(f"{server}/sql", body)
        assert e.value.code == 400, body
        assert "error" in json.loads(e.value.read()), body


def test_struct_columns_keep_field_names(server):
    """Review r4c: Row subclasses tuple — struct values must serialize
    as {'field': value} objects, not positional arrays."""
    out = _req(f"{server}/sql",
               {"sql": "SELECT named_struct('a', 1, 'b', 'x') AS s"})
    assert out["rows"][0][0] == {"a": 1, "b": "x"}


def test_non_ascii_auth_header_gets_401(server):
    """Review r4d: hmac.compare_digest raises TypeError on non-ASCII
    str — a latin-1 header byte must yield a clean 401, not a reset."""
    req = urllib.request.Request(
        f"{server}/tables", headers={"Authorization": "Bearer t\xf6ken"})
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 401


def test_mvt_tile_endpoint(server, spark):
    """GET /tiles/z/x/y.mvt returns a real vector tile whose decoded
    feature count equals the tile's row count, served with the MVT
    content type; bad coords/tables get structured errors."""
    import urllib.request

    from geomesa_sql_spark.io.mvt import decode_tile

    def get(path):
        req = urllib.request.Request(
            f"{server}{path}", headers={"Authorization": "Bearer sekrit"}
        )
        return urllib.request.urlopen(req)

    # zoom 2 tile (2,1): lon in [0,90), lat in [0,45] (equirect grid)
    with get("/tiles/2/2/1.mvt?table=pts_q") as resp:
        assert resp.headers["Content-Type"] == "application/vnd.mapbox-vector-tile"
        tile = decode_tile(resp.read())
    feats = tile["points"]["features"]
    # oracle: recompute the tile membership from the same laws
    cnt = (
        spark.range(0, 2000)
        .selectExpr(
            "CAST((id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon",
            "CAST((id * 104729) % 18000 AS DOUBLE) / 100.0 - 90.0 AS lat",
        )
        .filter("lon >= 0.0 AND lon < 90.0 AND lat > 0.0 AND lat <= 45.0")
        .count()
    )
    assert len(feats) == cnt > 0
    assert all(
        0 <= f["parts"][0][0][0] < 4096 and 0 <= f["parts"][0][0][1] < 4096
        for f in feats
    )

    with pytest.raises(urllib.error.HTTPError) as e:
        get("/tiles/2/9/0.mvt?table=pts_q").read()
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        get("/tiles/2/1/1.mvt?table=nope").read()
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        get("/tiles/2/1/1.mvt?table=pts_q&extent=zap").read()
    assert e.value.code == 400


def test_mvt_tile_edge_points_and_z_bound(server, spark):
    """Review r4n: tile membership must follow the clamped FLOOR law —
    the corner point (lon=-180, lat=-90) clamps into tile (0, n-1) and
    must appear in that tile's response; z > 30 gets a 400."""
    import urllib.request

    from geomesa_sql_spark.io.mvt import decode_tile

    def get(path):
        req = urllib.request.Request(
            f"{server}{path}", headers={"Authorization": "Bearer sekrit"}
        )
        return urllib.request.urlopen(req)

    # pts_q id=0 sits exactly at (-180.0, -90.0) → law tile (0, 3) at z=2
    with get("/tiles/2/0/3.mvt?table=pts_q") as resp:
        tile = decode_tile(resp.read())
    n_feats = len(tile["points"]["features"])
    cnt = (
        spark.range(0, 2000)
        .selectExpr(
            "CAST((id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon",
            "CAST((id * 104729) % 18000 AS DOUBLE) / 100.0 - 90.0 AS lat",
        )
        .selectExpr(
            "GREATEST(0, LEAST(3, CAST(FLOOR((lon + 180.0) / 360.0 * 4) AS BIGINT))) AS tx",
            "GREATEST(0, LEAST(3, CAST(FLOOR((90.0 - lat) / 180.0 * 4) AS BIGINT))) AS ty",
        )
        .filter("tx = 0 AND ty = 3")
        .count()
    )
    assert n_feats == cnt > 0

    with pytest.raises(urllib.error.HTTPError) as e:
        get("/tiles/40/0/0.mvt?table=pts_q").read()
    assert e.value.code == 400

#!/usr/bin/env python
"""Network query endpoint: the JDBC-driver analog over HTTP/JSON.

The reference's primary external surface is an Avatica-based JDBC
driver (``jdbc:geomesa:`` URLs — jdbc/Driver.scala:37-122): a client
outside the JVM sends SQL over Avatica's HTTP/JSON protocol and gets
typed rows back. This engine's equivalent is a dependency-free
HTTP/JSON server over ``Engine.sql`` — every request runs through the
engine's SQL-text spatial planner (cell joins, bbox pushdown, EXISTS
routing, DML/MERGE), which is exactly what Spark's own Thrift server
could NOT provide (it would bypass the routing layer; see README
"Connecting from outside Spark").

    python tools/query_server.py -d /root/testdata/sf0.001 --port 8765
    python tools/query_server.py -m model.yaml --token SECRET

Protocol (all JSON):
    GET  /tables                 -> {"tables": [...]}
    GET  /schema?table=NAME      -> {"table": ..., "fields": [...]}
    POST /sql  {"sql": "...", "max_rows": 1000}
         -> {"columns": [{"name","type"}], "rows": [[...]],
             "row_count": N, "truncated": bool, "elapsed_sec": t}

Value encoding (documented, lossless where JSON allows): binary
columns (WKB geometry, image payloads) serialize as lowercase hex
strings — the PostGIS hex-WKB convention, so ``ST_GeomFromWKB`` of the
unhexed bytes round-trips; timestamps/dates as ISO-8601 strings;
Decimal as string; NaN/Inf as null (JSON has no literal for them).
``--token T`` requires ``Authorization: Bearer T`` on every request.
Row cap: ``max_rows`` (default 1000, server max 100000) — the server
is a query endpoint, not a bulk-export path (use parquet/GeoParquet
sinks for that).
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import hmac
import itertools
import json
import math
import os
import re
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_MAX_ROWS = 1000
HARD_MAX_ROWS = 100_000
# /tiles endpoint: slippy path + per-tile feature cap (a vector tile
# past ~100k points is unrenderable anyway; pre-render a pyramid)
_TILE_RE = re.compile(r"^/tiles/(\d{1,2})/(\d+)/(\d+)\.mvt$")
MAX_TILE_FEATURES = 100_000


def _json_value(v):
    """JSON-safe scalar encoding (see module docstring for the table)."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    # Row (struct column) subclasses tuple — field-name check must come
    # BEFORE the list/tuple branch or structs flatten to positional
    # arrays and clients lose the field names
    if hasattr(v, "asDict"):
        return {k: _json_value(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_value(x) for k, x in v.items()}
    return str(v)


def _execute(engine, sql: str, max_rows: int) -> dict:
    t0 = time.monotonic()
    df = engine.sql(sql)
    # toLocalIterator + islice, NOT df.limit(): GlobalLimit funnels
    # every candidate row through one partition — over binary columns
    # (image payloads, WKB) that single task serializes the whole
    # result; the iterator streams partitions as they finish instead
    it = itertools.islice(df.toLocalIterator(), max_rows + 1)
    rows = list(it)
    truncated = len(rows) > max_rows
    rows = rows[:max_rows]
    return {
        "columns": [
            {"name": f.name, "type": f.dataType.simpleString()}
            for f in df.schema.fields
        ],
        "rows": [[_json_value(v) for v in r] for r in rows],
        "row_count": len(rows),
        "truncated": truncated,
        "elapsed_sec": round(time.monotonic() - t0, 4),
    }


def make_handler(engine, token: str | None):
    class Handler(BaseHTTPRequestHandler):
        # one Engine, many threads: Spark supports concurrent actions
        # from multiple driver threads, and Engine.sql's routed-join
        # views carry per-call unique names, so requests never serialize

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _authed(self) -> bool:
            if token is None:
                return True
            got = self.headers.get("Authorization", "")
            # constant-time compare: plain == short-circuits on the
            # first differing byte (byte-at-a-time token recovery).
            # Compare BYTES: compare_digest raises TypeError on
            # non-ASCII str (http.server decodes headers as latin-1,
            # so an attacker-sent non-ASCII header is reachable)
            if hmac.compare_digest(
                got.encode("utf-8"), f"Bearer {token}".encode("utf-8")
            ):
                return True
            self._send(401, {"error": "missing or bad bearer token"})
            return False

        def _send_mvt(self, blob: bytes) -> None:
            self.send_response(200)
            self.send_header("Content-Type", "application/vnd.mapbox-vector-tile")
            self.send_header("Content-Length", str(len(blob)))
            self.end_headers()
            self.wfile.write(blob)

        def _tile(self, url) -> None:
            """GET /tiles/{z}/{x}/{y}.mvt?table=T[&x=lon&y=lat]
            [&extent=4096] — one Mapbox Vector Tile rendered on demand
            from a registered table (the engine's equirect XYZ grid,
            tiles/assign.py laws). The tile filter is a sargable
            lon/lat range (parquet/Iceberg pushdown applies); only the
            single tile's quantized int coords reach the driver,
            capped at MAX_TILE_FEATURES (413 beyond — pre-render a
            pyramid with ops.render_mvt for dense zoom levels)."""
            m = _TILE_RE.match(url.path)
            q = parse_qs(url.query)
            name = (q.get("table") or [""])[0]
            xcol = (q.get("x") or ["lon"])[0]
            ycol = (q.get("y") or ["lat"])[0]
            try:
                extent = int((q.get("extent") or ["4096"])[0])
            except ValueError:
                self._send(400, {"error": "extent must be an integer"})
                return
            z, tx, ty = (int(m.group(i)) for i in (1, 2, 3))
            n = 1 << z
            # z > 30: tile spans fall below ulp(180) and the range
            # filter degenerates to empty — reject instead of silently
            # serving empty tiles (review r4n)
            if (
                z > 30
                or not (0 <= tx < n and 0 <= ty < n)
                or not (1 <= extent <= 65536)
            ):
                self._send(400, {"error": "tile z/x/y/extent out of range"})
                return
            try:
                df = engine.df(name)
            except Exception as ex:
                self._send(404, {"error": f"{type(ex).__name__}: {ex}"})
                return
            spanx, spany = 360.0 / n, 180.0 / n
            tminx = tx * spanx - 180.0
            tmaxy = 90.0 - ty * spany
            try:
                from pyspark.sql import functions as F

                from geomesa_sql_spark.tiles.assign import (
                    lat_tile_col,
                    lon_tile_col,
                )

                # sargable ranges for pushdown, CONJOINED with the
                # single-source FLOOR law so membership matches
                # assign_tiles/render_mvt bit-for-bit — edge points
                # (lat=-90, lon=180) clamp into the last row/column
                # under the law but fall outside the open ranges
                # (review r4n)
                sub = df.filter(
                    (F.col(xcol) >= tminx - 1e-9)
                    & (F.col(xcol) <= tminx + spanx + 1e-9)
                    & (F.col(ycol) >= tmaxy - spany - 1e-9)
                    & (F.col(ycol) <= tmaxy + 1e-9)
                    & (lon_tile_col(xcol, n) == tx)
                    & (lat_tile_col(ycol, n) == ty)
                ).select(
                    F.least(
                        F.greatest(
                            F.floor((F.col(xcol) - tminx) / spanx * extent), F.lit(0)
                        ),
                        F.lit(extent - 1),
                    ).alias("px"),
                    F.least(
                        F.greatest(
                            F.floor((tmaxy - F.col(ycol)) / spany * extent), F.lit(0)
                        ),
                        F.lit(extent - 1),
                    ).alias("py"),
                ).limit(MAX_TILE_FEATURES + 1)
                pdf = sub.toPandas()
            except Exception as ex:
                self._send(400, {"error": f"{type(ex).__name__}: {ex}"})
                return
            if len(pdf) > MAX_TILE_FEATURES:
                self._send(
                    413,
                    {"error": f"tile exceeds {MAX_TILE_FEATURES} features; "
                              "pre-render with ops.render_mvt"},
                )
                return
            from geomesa_sql_spark.io.mvt import encode_point_layer

            self._send_mvt(
                encode_point_layer(
                    "points",
                    pdf["px"].to_numpy("int64"),
                    pdf["py"].to_numpy("int64"),
                    extent=extent,
                )
            )

        def do_GET(self):  # noqa: N802 (stdlib handler API)
            if not self._authed():
                return
            url = urlparse(self.path)
            if _TILE_RE.match(url.path):
                self._tile(url)
            elif url.path == "/tables":
                self._send(200, {"tables": engine.tables()})
            elif url.path == "/schema":
                q = parse_qs(url.query)
                name = (q.get("table") or [""])[0]
                try:
                    schema = engine.describe(name)
                except Exception as ex:
                    self._send(404, {"error": f"{type(ex).__name__}: {ex}"})
                    return
                self._send(
                    200,
                    {
                        "table": name,
                        "fields": [
                            {
                                "name": f.name,
                                "type": f.dataType.simpleString(),
                                "nullable": f.nullable,
                            }
                            for f in schema.fields
                        ],
                    },
                )
            else:
                self._send(404, {"error": f"no such path: {url.path}"})

        def do_POST(self):  # noqa: N802
            if not self._authed():
                return
            if urlparse(self.path).path != "/sql":
                self._send(404, {"error": f"no such path: {self.path}"})
                return
            try:
                n = int(self.headers.get("Content-Length", "0"))
                req = json.loads(self.rfile.read(n) or b"{}")
                if not isinstance(req, dict):
                    raise ValueError(f"body is {type(req).__name__}, not object")
                sql = req["sql"]
                if not isinstance(sql, str):
                    raise ValueError("'sql' must be a string")
                max_rows = req.get("max_rows", DEFAULT_MAX_ROWS)
                max_rows = min(int(max_rows), HARD_MAX_ROWS)
                if max_rows < 1:
                    raise ValueError(f"max_rows must be >= 1, got {max_rows}")
            except (ValueError, KeyError, TypeError) as ex:
                self._send(
                    400, {"error": f"bad request body (need {{'sql': ...}}): {ex}"}
                )
                return
            try:
                self._send(200, _execute(engine, sql, max_rows))
            except Exception as ex:  # SQL errors -> structured 400
                self._send(400, {"error": f"{type(ex).__name__}: {ex}"})

        def log_message(self, fmt, *args):  # quiet by default
            if os.environ.get("QUERY_SERVER_VERBOSE"):
                super().log_message(fmt, *args)

    return Handler


def serve(engine, host: str = "127.0.0.1", port: int = 8765,
          token: str | None = None) -> ThreadingHTTPServer:
    """Start the server (non-blocking); returns it for .shutdown()."""
    srv = ThreadingHTTPServer((host, port), make_handler(engine, token))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-d", "--dir", help="register every <name>.parquet in DIR")
    ap.add_argument("-m", "--model", help="Calcite-style model file")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8765)
    ap.add_argument("--token", help="require Authorization: Bearer TOKEN")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from geomesa_sql_spark import get_spark
    from geomesa_sql_spark.engine import Engine

    spark = get_spark("query-server", master=f"local[{args.cpus}]")
    if args.model:
        eng = Engine.from_model(spark, args.model)
    else:
        eng = Engine(spark)
        if args.dir:
            for fn in sorted(os.listdir(args.dir)):
                if fn.endswith(".parquet"):
                    eng.register_table(
                        fn[: -len(".parquet")], os.path.join(args.dir, fn)
                    )
    srv = serve(eng, args.host, args.port, args.token)
    print(f"listening on http://{args.host}:{args.port} "
          f"({len(eng.tables())} tables)", flush=True)
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        srv.shutdown()


if __name__ == "__main__":
    main()

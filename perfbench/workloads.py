"""Workloads: a fixed cycle of steps over seed-generated tables, plus
the check of every step's output against an independent answer (a
DuckDB replay over the same generated files, or a law), made after the
timed region.

Two classes of step share one client loop:

- ``Interactive``: SQL statements through ``Engine.sql()`` on one Iceberg
  point table made by ``Engine.create_table(format='iceberg')``; writes
  (INSERT/UPDATE/DELETE, compaction) and reads interleave, and a DuckDB
  mirror replays the same statements in the same order.
- ``Batch``: one engine operator pass per step (join -> tiles, MVT
  render, dwithin join, DBSCAN batch/incremental, LSH near-dup pairs,
  image phash clusters).

A workload is a named cycle of step kinds. A step returns ``{"kind",
"rows", "out", ...}``: ``rows`` is the input rows it processed, ``out``
what the check needs. Spans name the repository module a call enters.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
from pyspark.sql import functions as F

from gen import halfplane_sql, polygon_wkt

REL = 1e-9  # relative tolerance on floating sums (summation order differs)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=REL, abs_tol=1e-6)
    return a == b


def same_rows(got, want) -> bool:
    """Order-free comparison of row tuples, floats within REL."""
    def key(r):
        return tuple((v is None, round(v, 3) if isinstance(v, float) else v) for v in r)

    g, w = sorted(map(tuple, got), key=key), sorted(map(tuple, want), key=key)
    return len(g) == len(w) and all(
        len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b)) for a, b in zip(g, w)
    )


def _duck(data: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.')}'")
    for t in ("points", "polys", "sites", "images", "cpts", "docs", "dedup_images"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}/*.parquet')")
    return con


def _collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _dir_files(path: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    }


def _warm_parallel(fns) -> None:
    with ThreadPoolExecutor(4) as pool:
        for f in [pool.submit(fn) for fn in fns]:
            f.result()


class Workload:
    CYCLES: dict[str, list[str]] = {}

    def __init__(self, name, spark, data: str, meta: dict, tracer, cache: str):
        self.name, self.cycle = name, self.CYCLES[name]
        self.spark, self.data, self.meta, self.tr, self.cache = spark, data, meta, tracer, cache
        self.rings = meta["rings"]

    def read(self, table: str):
        return self.spark.read.parquet(f"{self.data}/{table}")

    def setup(self) -> None:
        """Load and register the tables; repeatable, leaves them pristine."""
        raise NotImplementedError

    def warm(self) -> None:
        """Untimed first run of every kind in the cycle (plans, codegen,
        Python workers, file footers), concurrently to keep set-up
        short; the tables are set up again afterwards."""
        _warm_parallel([lambda k=k: self._kind(k) for k in dict.fromkeys(self.cycle)])

    def _kind(self, kind: str) -> dict:
        return self.op(self.cycle.index(kind))

    def op(self, i: int) -> dict:
        return getattr(self, "step_" + self.cycle[i % len(self.cycle)])()

    def check(self, records: list[dict]) -> list[bool]:
        raise NotImplementedError

    def extra(self, records: list[dict]) -> dict:
        return {}


# ---------------------------------------------------------- interactive

ROW_BYTES = 8 + 8 + 8 + 4 + 8  # pid, lon, lat, cat, val as fixed-width values
SPATIAL_JOINS = {"join_groupby", "dwithin_join", "left_join", "cte_join"}


class Interactive(Workload):
    """SQL texts through Engine.sql() + collect, one statement per op."""

    CYCLES = {
        "sql_interactive": [
            "join_groupby", "bbox", "dwithin_join", "agg", "left_join",
            "contains_literal", "cte_join",
        ],
        "dml_mixed": ["insert", "bbox", "update", "intersects", "delete", "filter", "compact"],
        "interactive": [
            "join_groupby", "bbox", "insert", "contains_literal", "update",
            "left_join", "delete", "dwithin_join", "compact",
        ],
    }
    WRITES = {
        "insert": "INSERT INTO pts SELECT pid + {off}, lon, lat, cat, val FROM src WHERE pid % 200 = {k}",
        "update": "UPDATE pts SET lon = lon + 0.125, lat = lat - 0.0625 WHERE pid % 97 = {k}",
        "delete": "DELETE FROM pts WHERE pid % 89 = {k}",
    }

    def __init__(self, *a):
        super().__init__(*a)
        from __spark_entry__ import PENTA, PENTA_VERTS

        from geomesa_sql_spark.engine import Engine

        self.eng = Engine(self.spark, fid_col="pid")
        self.path = os.path.join(self.cache, "pts_iceberg")
        hx, hy = self.meta["hot"]
        hot_ring = self.rings[-2]  # the box over the hot patch
        self.hot_wkt = polygon_wkt(hot_ring)
        bbox = f"lon BETWEEN {hx - 5.0!r} AND {hx + 5.0!r} AND lat BETWEEN {hy - 4.0!r} AND {hy + 4.0!r}"
        sj = "ON ST_Intersects(ST_MakePoint(p.lon, p.lat), s.poly) GROUP BY s.gid"
        # kind -> (engine SQL, DuckDB SQL of the same answer; None = per polygon)
        self.reads = {
            "join_groupby": (f"SELECT s.gid, count(*) AS n FROM pts p JOIN polys s {sj}", None),
            "cte_join": (
                "WITH hot AS (SELECT pid, lon, lat FROM pts WHERE cat < 3) "
                f"SELECT s.gid, count(*) AS n FROM hot p JOIN polys s {sj}", None),
            "left_join": (f"SELECT s.gid, count(*) AS n FROM pts p LEFT JOIN polys s {sj}", None),
            "dwithin_join": (
                "SELECT t.sid, count(*) AS n FROM pts p JOIN sites t "
                "ON ST_DWithin(ST_MakePoint(p.lon, p.lat), ST_MakePoint(t.sx, t.sy), 1.5) GROUP BY t.sid",
                "SELECT sid, count(*) FROM pts, sites "
                "WHERE (lon - sx) * (lon - sx) + (lat - sy) * (lat - sy) <= 1.5 * 1.5 GROUP BY sid"),
            "bbox": (f"SELECT count(*) AS n, sum(val) AS v FROM pts WHERE {bbox}",
                     f"SELECT count(*), sum(val) FROM pts WHERE {bbox}"),
            "agg": ("SELECT cat, count(*) AS n, sum(val) AS v FROM pts GROUP BY cat",
                    "SELECT cat, count(*), sum(val) FROM pts GROUP BY cat"),
            "contains_literal": (
                "SELECT count(*) AS n, sum(val) AS v FROM pts "
                f"WHERE ST_Contains(ST_GeomFromText('{PENTA}'), ST_MakePoint(lon, lat))",
                "SELECT count(*), sum(val) FROM pts WHERE "
                + halfplane_sql([tuple(v) for v in PENTA_VERTS], "lon", "lat")),
            "intersects": (
                "SELECT count(*) AS n, sum(val) AS v FROM pts "
                f"WHERE ST_Intersects(ST_MakePoint(lon, lat), ST_GeomFromText('{self.hot_wkt}'))",
                f"SELECT count(*), sum(val) FROM pts WHERE {halfplane_sql(hot_ring, 'lon', 'lat')}"),
        }
        self.n_writes = 0

    def warm(self) -> None:
        """Reads concurrently; the writes one after another beside them,
        as concurrent commits to one table would conflict."""
        kinds = list(dict.fromkeys(self.cycle))
        writes = [k for k in kinds if k in self.WRITES or k == "compact"]
        _warm_parallel([lambda k=k: self._kind(k) for k in kinds if k not in writes]
                       + [lambda: [self._kind(k) for k in writes]])

    def setup(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        for t in ("polys", "sites"):
            self.eng.register_view(t, self.read(t))
        self.eng.register_view("src", self.read("points"))
        self.eng.create_table("pts", self.path, self.read("points"), format="iceberg")
        self.n_writes = 0
        self.live = self.meta["rows"]["points"]  # rows in the table, kept from affected counts
        self.sizes = _dir_files(self.path)

    # -- steps

    def op(self, i: int) -> dict:
        kind = self.cycle[i % len(self.cycle)]
        if kind in self.reads:
            with self.tr.span("engine.sql"):
                df = self.eng.sql(self.reads[kind][0])
            with self.tr.span("spark.collect"):
                out = _collect(df)
            return {"kind": kind, "out": out, "read": True, "rows": self.live,
                    "spatial_join": kind in SPATIAL_JOINS}
        if kind == "filter":
            return self.step_filter()
        if kind == "compact":
            with self.tr.span("io.compact"):
                n = self.eng.compact("pts")
            rec = {"kind": kind, "out": n, "rows": self.live}
        else:
            q = self.WRITES[kind].format(k=self.n_writes % 89, off=(self.n_writes + 1) * 10_000_000)
            with self.tr.span("io.dml"):
                n = _collect(self.eng.sql(q))[0][0]
            self.n_writes += 1
            self.live += {"insert": n, "delete": -n}.get(kind, 0)
            rec = {"kind": kind, "out": n, "write": True, "sql": q, "rows": n}
        self._account(rec)
        return rec

    def step_filter(self) -> dict:
        """The pushdown scan API over the engine's table DataFrame."""
        from geomesa_sql_spark.plan import spatial_filter

        with self.tr.span("plan.spatial_filter"):
            df = spatial_filter(self.eng.df("pts"), "intersects", self.hot_wkt, x="lon", y="lat")
            df = df.agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("v"))
        with self.tr.span("spark.collect"):
            out = _collect(df)
        return {"kind": "filter", "out": out, "read": True, "rows": self.live}

    def _account(self, rec: dict) -> None:
        """Bytes and files the commit added to the table directory."""
        now = _dir_files(self.path)
        new = {p: s for p, s in now.items() if self.sizes.get(p) != s}
        rec["bytes_written"], rec["files_written"] = sum(new.values()), len(new)
        self.sizes = now

    def extra(self, records):
        w = [r for r in records if "bytes_written" in r and "error" not in r]
        user = sum(r["out"] for r in w if r.get("write")) * ROW_BYTES
        out = {
            "io.bytes_written": sum(r["bytes_written"] for r in w) / len(w) if w else None,
            "io.files_written": sum(r["files_written"] for r in w) / len(w) if w else None,
        }
        if user:
            out["write_amp"] = sum(r["bytes_written"] for r in w) / user
            out["space_amp"] = sum(_dir_files(self.path).values()) / (self.live * ROW_BYTES)
        return out

    # -- check

    def check(self, records):
        """Replay every op in order on a DuckDB mirror of the table."""
        con = _duck(self.data)
        con.execute("CREATE TABLE pts AS SELECT * FROM points")
        con.execute("CREATE VIEW src AS SELECT * FROM points")
        every = " OR ".join(f"({halfplane_sql(r, 'lon', 'lat')})" for r in self.rings)

        def per_poly(where="TRUE"):
            parts = [
                f"SELECT CAST({g} AS BIGINT), count(*) FROM pts WHERE ({where}) AND {halfplane_sql(r, 'lon', 'lat')}"
                for g, r in enumerate(self.rings)
            ]
            return [t for t in con.execute(" UNION ALL ".join(parts)).fetchall() if t[1]]

        def want(kind):
            if kind == "join_groupby":
                return per_poly()
            if kind == "cte_join":
                return per_poly("cat < 3")
            if kind == "left_join":
                n = con.execute(f"SELECT count(*) FROM pts WHERE NOT ({every})").fetchone()[0]
                return per_poly() + ([(None, n)] if n else [])
            return con.execute(self.reads["intersects" if kind == "filter" else kind][1]).fetchall()

        ok = []
        broken = False  # after a failed or wrong write the mirror no longer tracks the table
        for r in records:
            if "error" in r:  # a write that raised may or may not have committed
                broken = broken or r["kind"] in self.WRITES or r["kind"] == "compact"
                ok.append(False)
                continue
            if r.get("write"):
                good = con.execute(r["sql"]).fetchone()[0] == r["out"]
            elif r["kind"] == "compact":
                good = r["out"] >= 1
            else:
                good = same_rows(r["out"], want(r["kind"]))
            good = good and not broken
            broken = broken or not good
            ok.append(good)
        return ok


# ----------------------------------------------------------------- batch


def dbscan_oracle(ids, x, y, eps: float, min_pts: int) -> list[tuple]:
    """Plain DBSCAN in numpy, with the engine's labelling: cluster = min
    core id of the component, a border point takes the min label of its
    core neighbours, noise is -1. Returns the ``Batch._sig`` tuple."""
    import numpy as np

    ids, x, y = (np.asarray(a) for a in (ids, x, y))
    n = len(ids)
    cx, cy = np.floor(x / eps).astype(np.int64), np.floor(y / eps).astype(np.int64)
    key = cx * (1 << 32) + cy
    order = np.argsort(key, kind="stable")
    skey = key[order]
    pi, pj = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            nk = (cx + dx) * (1 << 32) + (cy + dy)
            lo, hi = np.searchsorted(skey, nk, "left"), np.searchsorted(skey, nk, "right")
            cnt = hi - lo
            ii = np.repeat(np.arange(n), cnt)
            jj = order[np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt) + np.repeat(lo, cnt)]
            d2 = (x[ii] - x[jj]) * (x[ii] - x[jj]) + (y[ii] - y[jj]) * (y[ii] - y[jj])
            m = (d2 <= eps * eps) & (ii != jj)
            pi.append(ii[m])
            pj.append(jj[m])
    i, j = np.concatenate(pi), np.concatenate(pj)
    core = np.bincount(i, minlength=n) + 1 >= min_pts
    none = np.iinfo(np.int64).max
    lab = np.where(core, ids, none)
    e = core[i] & core[j]
    ci, cj = i[e], j[e]
    while True:  # min-label propagation over core-core edges
        new = lab.copy()
        np.minimum.at(new, ci, lab[cj])
        if np.array_equal(new, lab):
            break
        lab = new
    b = ~core[i] & core[j]
    blab = np.full(n, none)
    np.minimum.at(blab, i[b], lab[j[b]])
    cluster = np.where(core, lab, np.where(blab < none, blab, -1))
    noise = ~core & (blab == none)
    return [(n, int(cluster.sum()), int((ids * cluster).sum()), int(noise.sum()),
             int((~core & ~noise).sum()))]


class Batch(Workload):
    """One engine operator pass per op over the generated tables."""

    CYCLES = {
        "join_tile_batch": ["tiles", "mvt", "dwithin"],
        "cluster_dedup": ["dbscan", "dbscan_local", "dbscan_spray", "lsh", "image_dedup"],
        "batch": ["tiles", "mvt", "dbscan_local", "lsh", "image_dedup"],
    }
    ZOOM, ROLLUP, MVT_ZOOM, DWITHIN = 8, 2, 6, 1.0
    EPS, MIN_PTS, DELTA = 1.0, 5, 300

    def __init__(self, *a):
        super().__init__(*a)
        self.state = None  # set by a dbscan step, continued by the incremental ones
        self.timings: dict[str, float] = {}

    def setup(self) -> None:
        from geomesa_sql_spark.io.iceberg import write_geo_iceberg

        # the image table is only read: written once per seed, next to the
        # generated files it comes from
        self.path = os.path.join(self.data, "images_iceberg")
        done = self.path + ".done"  # Iceberg metadata holds absolute paths: no rename
        if not os.path.exists(done):
            shutil.rmtree(self.path, ignore_errors=True)
            write_geo_iceberg(self.read("images"), self.path, partitions=8)
            open(done, "w").close()
        self.polys, self.sites = self.read("polys"), self.read("sites")
        self.cpts, self.docs, self.imgs = self.read("cpts"), self.read("docs"), self.read("dedup_images")
        self.deltas = self._deltas()
        self.delta_dfs = {
            k: self.spark.createDataFrame(v, "id long, x double, y double") for k, v in self.deltas.items()
        }

    def _kw(self):
        return dict(key="id", x="x", y="y", eps=self.EPS, min_pts=self.MIN_PTS)

    def _rows(self, table: str) -> int:
        return self.meta["rows"][table]

    def _deltas(self) -> dict[str, list[tuple]]:
        """A localized delta (inside one blob) and a sprayed one."""
        import numpy as np

        rng = np.random.default_rng(self.meta["seed"] + 7)
        base = self._rows("cpts") + 1_000_000
        loc = rng.normal(0, 1.5, (self.DELTA, 2)) + self.meta["blob"]
        spray = rng.uniform(0, 400, (self.DELTA, 2))
        return {
            name: [(base + off + j, float(x), float(y)) for j, (x, y) in enumerate(xy)]
            for name, off, xy in (("local", 0, loc), ("spray", 10_000, spray))
        }

    def warm(self) -> None:
        """First the DBSCAN state the incremental steps continue from,
        alone (when the cycle has no full ``dbscan`` step, that single
        cold call's time is ``ops.dbscan_s``), then every other kind
        concurrently."""
        kinds = list(dict.fromkeys(self.cycle))
        if any(k.startswith("dbscan") for k in kinds):
            t0 = time.perf_counter()
            self.step_dbscan()
            if "dbscan" not in kinds:
                self.timings["ops.dbscan_s"] = time.perf_counter() - t0
        _warm_parallel([lambda k=k: self._kind(k) for k in kinds if k != "dbscan"])

    def extra(self, records):
        return dict(self.timings)

    # -- join -> tile

    def _points(self):
        from geomesa_sql_spark.io.iceberg_meta import IcebergTable

        with self.tr.span("io.iceberg_read"):
            return IcebergTable.load(self.path).read(self.spark).select("image_id", "lon", "lat")

    def _join(self, pts):
        from geomesa_sql_spark.join import spatial_join
        from geomesa_sql_spark.join.spatial import point_side, wkb_side

        with self.tr.span("join.build"):
            return spatial_join(
                pts, self.polys, point_side("lon", "lat"), wkb_side("poly"),
                predicate="intersects", broadcast=None,
            )

    def step_tiles(self) -> dict:
        from geomesa_sql_spark.tiles import assign_tiles, pyramid_rollup, tile_stats

        j = self._join(self._points())
        with self.tr.span("tiles.assign"):
            t = pyramid_rollup(
                tile_stats(assign_tiles(j, zoom=self.ZOOM, with_hilbert=False)), levels=self.ROLLUP
            )
        with self.tr.span("join.action"):
            out = _collect(t.agg(
                F.count(F.lit(1)), F.sum("n_rows"), F.sum(F.col("tile_x") * 4096 + F.col("tile_y"))
            ))
        return {"kind": "tiles", "rows": self._rows("images"), "out": out, "spatial_join": True,
                "join_rows": out[0][1]}

    def step_mvt(self) -> dict:
        from geomesa_sql_spark.ops import render_mvt

        j = self._join(self._points())
        with self.tr.span("ops.render_mvt"):
            out = _collect(render_mvt(j.select("lon", "lat"), zoom=self.MVT_ZOOM).agg(
                F.count(F.lit(1)), F.sum("n_features")))
        return {"kind": "mvt", "rows": self._rows("images"), "out": out, "spatial_join": True}

    def step_dwithin(self) -> dict:
        """Point x point join through the repartition path."""
        from geomesa_sql_spark.join import spatial_join
        from geomesa_sql_spark.join.spatial import point_side

        pts = self._points()
        with self.tr.span("join.build"):
            d = spatial_join(
                pts, self.sites, point_side("lon", "lat"), point_side("sx", "sy"),
                predicate="dwithin", distance=self.DWITHIN, broadcast=False,
            )
        with self.tr.span("spark.collect"):
            out = _collect(d.groupBy("sid").count())
        return {"kind": "dwithin", "rows": self._rows("images"), "out": out, "spatial_join": True}

    # -- cluster / dedup

    @staticmethod
    def _sig(result):
        """(rows, sum cluster, sum id*cluster, noise, border) of a DBSCAN
        result: equal signatures on both sides of a check."""
        return _collect(result.agg(
            F.count(F.lit(1)), F.sum("cluster"), F.sum(F.col("id") * F.col("cluster")),
            F.sum((F.col("role") == "noise").cast("long")),
            F.sum((F.col("role") == "border").cast("long")),
        ))

    def step_dbscan(self) -> dict:
        from geomesa_sql_spark.ops.cluster import dbscan

        with self.tr.span("ops.dbscan"):
            result, self.state = dbscan(self.cpts, return_state=True, **self._kw())
            out = self._sig(result)
        return {"kind": "dbscan", "rows": self._rows("cpts"), "out": out}

    def _incremental(self, which: str) -> dict:
        from geomesa_sql_spark.ops.cluster import dbscan_incremental

        delta = self.delta_dfs[which]
        with self.tr.span("ops.dbscan_incremental"):
            res, _ = dbscan_incremental(self.cpts.unionByName(delta), delta, self.state, **self._kw())
            out = self._sig(res)
        return {"kind": f"dbscan_{which}", "rows": self._rows("cpts") + self.DELTA, "out": out}

    def step_dbscan_local(self) -> dict:
        return self._incremental("local")

    def step_dbscan_spray(self) -> dict:
        return self._incremental("spray")

    def step_lsh(self) -> dict:
        from geomesa_sql_spark.ops import lsh_near_dup_pairs

        with self.tr.span("ops.lsh_pairs"):
            pairs = lsh_near_dup_pairs(self.docs, "text", "doc_id", jaccard_threshold=0.7)
            out = {(a, b) for a, b in _collect(pairs.select("id_a", "id_b"))}
        return {"kind": "lsh", "rows": self._rows("docs"), "out": out}

    def step_image_dedup(self) -> dict:
        from geomesa_sql_spark.ops import hamming_clusters, phash_images

        with self.tr.span("ops.image_dedup"):
            sigs = phash_images(self.imgs).filter(F.col("ahash").isNotNull())
            cl = hamming_clusters(sigs, "ahash", "image_id", max_hamming=6)
            out = _collect(cl.groupBy("cluster").count().agg(
                F.sum("count"), F.max("count"), F.count(F.lit(1))))
        return {"kind": "image_dedup", "rows": self._rows("dedup_images"), "out": out}

    # -- noop-sink layer probes (traced runs)

    PROBE_REPS = 3

    def layer_probes(self) -> dict:
        """Extra cost of one layer's call before a noop sink: read ->
        +cells, join -> +tiles, join -> +render_mvt (best of
        ``PROBE_REPS`` sink runs each)."""
        from geomesa_sql_spark.io.layout import add_cell
        from geomesa_sql_spark.ops import render_mvt
        from geomesa_sql_spark.tiles import assign_tiles

        def sink(make):
            best = math.inf
            for _ in range(self.PROBE_REPS):
                t0 = time.perf_counter()
                make().write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            return best

        base = sink(lambda: self._points())
        cells = sink(lambda: add_cell(self._points(), "lon", "lat"))
        join = sink(lambda: self._join(self._points()))
        tiles = sink(lambda: assign_tiles(self._join(self._points()), zoom=self.ZOOM))
        mvt = sink(lambda: render_mvt(self._join(self._points()).select("lon", "lat"), zoom=self.MVT_ZOOM))
        return {"cells.encode_s": cells - base, "tiles.assign_s": tiles - join,
                "ops.render_mvt_s": mvt - join}

    # -- check

    def _expected(self, kinds: set) -> dict:
        from geomesa_sql_spark.ops.cluster import dbscan

        con = _duck(self.data)
        want = {}
        pairs = " UNION ALL ".join(
            f"SELECT lon, lat FROM images WHERE {halfplane_sql(r, 'lon', 'lat')}" for r in self.rings
        )

        def tiles_xy(z):  # the clamped-floor tile law of tiles.assign
            n = 1 << z
            return tuple(
                f"least(greatest(CAST(floor({c} / {span} * {n}) AS BIGINT), 0), {n - 1})"
                for c, span in (("(lon + 180.0)", 360.0), ("(90.0 - lat)", 180.0))
            )

        if "tiles" in kinds:
            tx, ty = tiles_xy(self.ZOOM)
            want["tiles"] = con.execute(
                f"WITH p AS ({pairs}), t AS (SELECT {tx} >> {self.ROLLUP} AS x, {ty} >> {self.ROLLUP} AS y, "
                "count(*) AS c FROM p GROUP BY 1, 2) "
                "SELECT count(*), CAST(sum(c) AS BIGINT), CAST(sum(x * 4096 + y) AS BIGINT) FROM t"
            ).fetchall()
        if "mvt" in kinds:
            tx, ty = tiles_xy(self.MVT_ZOOM)
            want["mvt"] = con.execute(
                f"WITH p AS ({pairs}) SELECT count(DISTINCT ({tx}, {ty})), CAST(count(*) AS BIGINT) FROM p"
            ).fetchall()
        if "dwithin" in kinds:
            d2 = self.DWITHIN * self.DWITHIN
            want["dwithin"] = con.execute(
                "SELECT sid, count(*) FROM images, sites "
                f"WHERE (lon - sx) * (lon - sx) + (lat - sy) * (lat - sy) <= {d2!r} GROUP BY sid"
            ).fetchall()
        # law: incremental == full DBSCAN over the post-change table
        import pandas as pd

        base = pd.read_parquet(f"{self.data}/cpts")
        for kind, rows in (("dbscan", []), *((f"dbscan_{k}", v) for k, v in self.deltas.items())):
            if kind in kinds:
                t = pd.concat([base, pd.DataFrame(rows, columns=["id", "x", "y"])])
                want[kind] = dbscan_oracle(t["id"], t["x"], t["y"], self.EPS, self.MIN_PTS)
        g = self.meta["doc_group"]
        want["lsh"] = {tuple(p) for p in self.meta["planted_pairs"]} | {
            (2_000_000 + a, 2_000_000 + b) for a in range(g) for b in range(a + 1, g)
        }
        return want

    def check(self, records):
        want = self._expected({r["kind"] for r in records})
        dup, n_img = self.meta["image_dup_group"], self._rows("dedup_images")
        ok = []
        for r in records:
            k, o = r["kind"], r.get("out")
            if "error" in r:
                ok.append(False)
            elif k == "lsh":  # every planted pair recalled, pairs well-formed
                ok.append(want["lsh"] <= o and all(a < b for a, b in o))
            elif k == "image_dedup":  # every image labelled; the planted group is one
                # cluster and every other image its own (random payloads never
                # come within the Hamming radius of each other)
                ok.append(o[0] == (n_img, dup, n_img - dup + 1))
            elif k in ("tiles", "mvt", "dwithin"):
                ok.append(same_rows(o, want[k]))
            else:
                ok.append(o == want[k])
        return ok


def make(name: str, *args) -> Workload:
    for cls in (Interactive, Batch):
        if name in cls.CYCLES:
            return cls(name, *args)
    raise KeyError(name)


WORKLOADS = [n for cls in (Interactive, Batch) for n in cls.CYCLES]

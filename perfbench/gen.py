"""Seeded input generation for the benchmark.

Everything the engine sees is made here from ``--seed``: numpy draws
written straight to parquet with pyarrow (no Spark), several files per
table so no scan is single-split by accident. The same seed gives
byte-identical files; a finished seed directory is reused.
"""

from __future__ import annotations

import json
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# table sizes; ``scale`` shrinks every row count (the smoke check runs
# at a tiny scale)
POINTS = 40_000
IMAGES = 12_000
CLUSTER_POINTS = 3_000
DOCS = 1_500
DEDUP_IMAGES = 3_000
HOT_SHARE = 0.25  # share of points/images that fall in one hot cell
IMG_SIZE = 8  # raw RGB payload is IMG_SIZE x IMG_SIZE x 3 bytes
FILES = 8  # parquet files per large table
VERSION = 2  # part of the cache key: bump when the generated data changes

_WORDS = np.array(
    "ocean river mountain forest desert island valley canyon glacier coast "
    "harbor bridge tower temple market castle garden station museum plaza "
    "sunset sunrise storm aurora horizon meadow lagoon reef dune summit "
    "north south east west old new red blue green grey".split()
)


def polygon_wkb(ring: list[tuple[float, float]]) -> bytes:
    """Closed ring -> little-endian WKB POLYGON (one ring)."""
    pts = ring + [ring[0]]
    return struct.pack("<BIII", 1, 3, 1, len(pts)) + b"".join(
        struct.pack("<dd", x, y) for x, y in pts
    )


def polygon_wkt(ring: list[tuple[float, float]]) -> str:
    pts = ring + [ring[0]]
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + "))"


def halfplane_sql(ring: list[tuple[float, float]], x: str, y: str) -> str:
    """Inside-test of a counter-clockwise convex ring as plain SQL
    (boundary hits have measure zero under continuous draws). Literals
    are cast to DOUBLE: DuckDB would type them DECIMAL."""
    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    return " AND ".join(
        f"(({d(bx)} - {d(ax)}) * ({y} - {d(ay)}) - ({d(by)} - {d(ay)}) * ({x} - {d(ax)})) >= 0"
        for (ax, ay), (bx, by) in zip(ring, ring[1:] + ring[:1])
    )


def _write(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def _lonlat(rng, n: int, hot: tuple[float, float]) -> tuple[np.ndarray, np.ndarray]:
    """Uniform over the map, except HOT_SHARE of rows packed into a
    ~0.5 degree patch around ``hot``."""
    lon = rng.uniform(-179.9, 179.9, n)
    lat = rng.uniform(-84.9, 84.9, n)
    k = rng.random(n) < HOT_SHARE
    lon[k] = hot[0] + rng.uniform(-0.25, 0.25, k.sum())
    lat[k] = hot[1] + rng.uniform(-0.25, 0.25, k.sum())
    return lon, lat


GIANT = (-100.0, -30.0, 40.0, 35.0)  # the box that spans hundreds of cells


def _hot_spot(rng) -> tuple[float, float]:
    """Centre of the hot patch, never inside the giant box, so every seed
    puts the same share of points inside some polygon."""
    while True:
        x, y = float(rng.uniform(-150, 150)), float(rng.uniform(-60, 60))
        if not (GIANT[0] - 1 <= x <= GIANT[2] + 1 and GIANT[1] - 1 <= y <= GIANT[3] + 1):
            return x, y


def _polygons(rng, hot: tuple[float, float]) -> list[list[tuple[float, float]]]:
    """Mixed sizes: many small boxes, some mid hexagons (none near the
    hot patch), one box over part of the hot patch and the giant box."""
    hx, hy = hot

    def clear(cx, cy, r):
        return abs(cx - hx) > r + 1 or abs(cy - hy) > r + 1

    rings = []
    while len(rings) < 24:
        cx, cy = rng.uniform(-170, 170), rng.uniform(-75, 75)
        w, h = rng.uniform(0.5, 6.0, 2)
        if clear(cx, cy, max(w, h)):
            rings.append([(cx - w, cy - h), (cx + w, cy - h), (cx + w, cy + h), (cx - w, cy + h)])
    while len(rings) < 34:
        cx, cy = rng.uniform(-160, 160), rng.uniform(-65, 65)
        r = rng.uniform(4.0, 15.0)
        if clear(cx, cy, r):
            a = np.linspace(0, 2 * np.pi, 7)[:-1] + rng.uniform(0, 1)
            rings.append([(float(cx + r * np.cos(t)), float(cy + r * np.sin(t))) for t in a])
    rings.append([(hx - 0.1, hy - 0.2), (hx + 0.3, hy - 0.2), (hx + 0.3, hy + 0.1), (hx - 0.1, hy + 0.1)])
    x0, y0, x1, y1 = GIANT
    rings.append([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
    return [[(float(x), float(y)) for x, y in r] for r in rings]


def _captions(rng, n: int) -> list[str]:
    w = _WORDS[rng.integers(0, len(_WORDS), (n, 5))]
    return [f"caption {i:06d} " + " ".join(r) for i, r in enumerate(w.tolist())]


def _images(rng, n: int, lon, lat, dup_group: int = 0) -> pa.Table:
    """input_hint image+caption schema plus lon/lat; raw RGB payloads.
    The first ``dup_group`` rows share one base picture with one-pixel
    edits (a planted near-duplicate group)."""
    px = rng.integers(0, 256, (n, IMG_SIZE * IMG_SIZE * 3), dtype=np.uint8)
    if dup_group:
        px[:dup_group] = px[0]
        px[np.arange(dup_group), rng.integers(0, px.shape[1], dup_group)] ^= 1
    payload = [r.tobytes() for r in px]
    return pa.table(
        {
            "image_id": [str(i) for i in range(n)],  # numeric: hamming_clusters keys on it
            "bytes": pa.array(payload, pa.binary()),
            "w": pa.array(np.full(n, IMG_SIZE, np.int32)),
            "h": pa.array(np.full(n, IMG_SIZE, np.int32)),
            "fmt": ["raw"] * n,
            "caption": _captions(rng, n),
            "phash": pa.array(rng.integers(-(2**62), 2**62, n)),
            "lon": lon,
            "lat": lat,
        }
    )


def _docs(rng, n: int) -> tuple[pa.Table, list[tuple[int, int]], int]:
    """Documents of 40 random words, a copy with one word replaced for
    every tenth document (the planted pairs), and a planted group of
    near-equal documents that share LSH band buckets."""
    vocab = np.array([f"w{i:04d}" for i in range(4000)])
    words = vocab[rng.integers(0, len(vocab), (n, 40))]
    ids = list(range(n))
    texts = [" ".join(r) for r in words.tolist()]
    planted: list[tuple[int, int]] = []
    for i in range(0, n, 10):
        w = words[i].copy()
        w[rng.integers(0, 40, 1)] = "zz" + vocab[rng.integers(0, len(vocab))]
        ids.append(1_000_000 + i)
        texts.append(" ".join(w.tolist()))
        planted.append((ids[i], ids[-1]))
    group = max(2, n // 15)
    base = words[0]
    for j in range(group):
        w = base.copy()
        w[-1] = f"g{j:04d}"
        ids.append(2_000_000 + j)
        texts.append(" ".join(w.tolist()))
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), planted, group


def _cluster_points(rng, n: int) -> tuple[pa.Table, list[float]]:
    """Blobs on a plane (units = eps multiples) plus sparse noise; also
    returns one blob centre."""
    centers = rng.uniform(0, 400, (max(4, n // 400), 2))
    k = rng.integers(0, len(centers), n)
    xy = centers[k] + rng.normal(0, 1.2, (n, 2))
    noise = rng.random(n) < 0.1
    xy[noise] = rng.uniform(0, 400, (noise.sum(), 2))
    return pa.table({"id": np.arange(n, dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]}), centers[0].tolist()


def prepare(cache_root: str, seed: int, scale: float = 1.0) -> str:
    """Generate (once) every input table for ``seed``; returns its dir."""
    key = (POINTS, IMAGES, CLUSTER_POINTS, DOCS, DEDUP_IMAGES, HOT_SHARE, IMG_SIZE, FILES, VERSION)
    out = os.path.join(cache_root, f"seed{seed}_x{scale:g}_" + "_".join(map(str, key)))
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng(seed)
    n = lambda k: max(200, int(k * scale))  # noqa: E731
    hot = _hot_spot(rng)

    lon, lat = _lonlat(rng, n(POINTS), hot)
    _write(
        pa.table(
            {
                "pid": np.arange(len(lon), dtype=np.int64),
                "lon": lon,
                "lat": lat,
                "cat": rng.integers(0, 10, len(lon)).astype(np.int32),
                "val": rng.exponential(10.0, len(lon)),
            }
        ),
        f"{tmp}/points",
        FILES,
    )
    rings = _polygons(rng, hot)
    _write(
        pa.table(
            {
                "gid": np.arange(len(rings), dtype=np.int64),
                "poly": pa.array([polygon_wkb(r) for r in rings], pa.binary()),
            }
        ),
        f"{tmp}/polys",
        2,
    )
    sites = rng.uniform([-170, -75], [170, 75], (48, 2))
    sites[0] = hot
    _write(
        pa.table({"sid": np.arange(len(sites), dtype=np.int64), "sx": sites[:, 0], "sy": sites[:, 1]}),
        f"{tmp}/sites",
        2,
    )
    ilon, ilat = _lonlat(rng, n(IMAGES), hot)
    _write(_images(rng, len(ilon), ilon, ilat), f"{tmp}/images", FILES)
    dlon, dlat = _lonlat(rng, n(DEDUP_IMAGES), hot)
    dup_group = max(2, n(DEDUP_IMAGES) // 20)
    _write(_images(rng, len(dlon), dlon, dlat, dup_group), f"{tmp}/dedup_images", FILES)
    docs, planted, group = _docs(rng, n(DOCS))
    _write(docs, f"{tmp}/docs", 4)
    cpts, blob = _cluster_points(rng, n(CLUSTER_POINTS))
    _write(cpts, f"{tmp}/cpts", FILES)
    meta = {
        "seed": seed,
        "scale": scale,
        "hot": hot,
        "rings": rings,
        "planted_pairs": planted,
        "doc_group": group,
        "image_dup_group": dup_group,
        "blob": blob,
        "rows": {
            "points": len(lon), "images": len(ilon), "dedup_images": len(dlon),
            "docs": docs.num_rows, "cpts": cpts.num_rows,
        },
    }
    with open(f"{tmp}/meta.json", "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out

"""Hierarchical space-filling-curve cell index, pure numpy.

Plays the role GeoMesa's Z2/XZ2 index plays for the reference: spatial
predicates compile to cell-range prunes that reach the storage layer
(reference: RexNodeTranslator.scala:170-196 translates ST_* predicates
into GeoTools filters which GeoMesa turns into Z-index range scans; our
analog is a ``cell`` int64 column written at ingest + ``cell IN/BETWEEN``
predicates that parquet/Iceberg row-group pruning understands).

Two curves:
- **Z-order (Morton)**: bit-interleave. Used for cover computation and
  range-prune because covers are contiguous-ish ranges.
- **Hilbert**: better locality (adjacent cells are adjacent in space);
  used for tile *ordering* / data layout (the "Z-order/Hilbert tile
  assignment" of BASELINE.json north_rule).

Grid: equirectangular lon∈[-180,180), lat∈[-90,90) mapped to a
2^res × 2^res grid. ``res`` ≤ 29 so interleaved ids fit in int64.

All functions are numpy-vectorized and safe to call from pandas UDFs on
million-row batches (no Python-level per-row loops except over the
res ≤ 29 bit levels).
"""

from __future__ import annotations

import numpy as np

MAX_RES = 29

_WORLD = (-180.0, -90.0, 180.0, 90.0)


def _snap(v, off: float, span: float, res: int) -> np.ndarray:
    """Grid index of ``v`` on ``span`` degrees from ``-off``, clamped as
    floats before the cast so it saturates like the JVM encode (a numpy
    cast of 1e300 wraps to INT64_MIN); NaN snaps to 0 like Java's cast."""
    n = float(1 << res)
    f = np.floor((np.asarray(v, dtype=np.float64) + off) / span * n)
    return np.clip(np.nan_to_num(f, nan=0.0), 0.0, n - 1.0).astype(np.int64)


def lonlat_to_xy(lon, lat, res: int):
    """Map lon/lat arrays to integer grid coords at resolution ``res``."""
    return _snap(lon, 180.0, 360.0, res), _snap(lat, 90.0, 180.0, res)


def xy_to_lonlat(x, y, res: int):
    """Inverse of :func:`lonlat_to_xy` — cell lower-left corner."""
    n = float(1 << res)
    lon = np.asarray(x, dtype=np.float64) / n * 360.0 - 180.0
    lat = np.asarray(y, dtype=np.float64) / n * 180.0 - 90.0
    return lon, lat


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each int64 so they occupy even positions."""
    v = v.astype(np.uint64)
    v &= np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def morton_encode(x, y) -> np.ndarray:
    """Interleave x (even bits) and y (odd bits) → int64 Morton code."""
    return (_part1by1(np.asarray(x)) | (_part1by1(np.asarray(y)) << np.uint64(1))).astype(
        np.int64
    )


def morton_decode(z):
    z = np.asarray(z)
    return _compact1by1(z).astype(np.int64), _compact1by1(
        np.asarray(z, dtype=np.uint64) >> np.uint64(1)
    ).astype(np.int64)


def hilbert_xy2d(x, y, res: int) -> np.ndarray:
    """Vectorized Hilbert curve index of grid points at resolution res.

    Standard iterative rotate-and-accumulate algorithm (public-domain
    algorithm, e.g. Wikipedia "Hilbert curve" C version), vectorized so
    the loop runs over the ``res`` bit levels, not over rows.
    """
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x, dtype=np.int64)
    s = np.int64(1) << (res - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = x[flip]
        x[flip] = s - 1 - x_f
        y_f = y[flip]
        y[flip] = s - 1 - y_f
        # xor-swap x,y where swap (vectorized via temp)
        tx = x[swap].copy()
        x[swap] = y[swap]
        y[swap] = tx
        s >>= 1
    return d


def hilbert_d2xy(d, res: int):
    """Inverse Hilbert: index → (x, y) grid coords. Vectorized."""
    d = np.asarray(d, dtype=np.int64)
    t = d.copy()
    x = np.zeros_like(d)
    y = np.zeros_like(d)
    s = np.int64(1)
    while s < (np.int64(1) << res):
        rx = (t // 2) & 1
        ry = (t ^ rx) & 1
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = x[flip]
        x[flip] = s - 1 - x_f
        y_f = y[flip]
        y[flip] = s - 1 - y_f
        tx = x[swap].copy()
        x[swap] = y[swap]
        y[swap] = tx
        x = x + s * rx
        y = y + s * ry
        t //= 4
        s <<= 1
    return x, y


def lonlat_to_cell(lon, lat, res: int, curve: str = "zorder") -> np.ndarray:
    """lon/lat arrays → int64 cell id at resolution ``res``."""
    x, y = lonlat_to_xy(lon, lat, res)
    if curve == "zorder":
        return morton_encode(x, y)
    if curve == "hilbert":
        return hilbert_xy2d(x, y, res)
    raise ValueError(f"unknown curve {curve!r}")


def cell_envelope(cell, res: int, curve: str = "zorder"):
    """Cell id → (minx, miny, maxx, maxy) envelope arrays."""
    if curve == "zorder":
        x, y = morton_decode(cell)
    else:
        x, y = hilbert_d2xy(cell, res)
    minx, miny = xy_to_lonlat(x, y, res)
    maxx, maxy = xy_to_lonlat(x + 1, y + 1, res)
    return minx, miny, maxx, maxy


def cover_envelope(minx: float, miny: float, maxx: float, maxy: float, res: int) -> np.ndarray:
    """All Z-order cells at ``res`` overlapping one envelope (sorted).

    The scalar-envelope primitive behind spatial-filter pushdown: the
    resulting id list becomes a ``cell IN (...)`` / BETWEEN prune. The
    cover is exact (grid-aligned), so callers cap its size by choosing
    ``res`` from the envelope extent (see :func:`res_for_extent`).
    """
    (x0,), (y0,) = lonlat_to_xy([minx], [miny], res)
    (x1,), (y1,) = lonlat_to_xy(
        [np.nextafter(maxx, -np.inf)], [np.nextafter(maxy, -np.inf)], res
    )
    # boundary-degenerate envelope (minx == maxx on a cell edge): the
    # nextafter step can push x1 below x0, which would yield an EMPTY
    # cover — same guard as the batched cover_envelopes (review r3)
    x1, y1 = max(x0, x1), max(y0, y1)
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return np.sort(morton_encode(gx.ravel(), gy.ravel()))


def cover_envelopes(
    minx: np.ndarray,
    miny: np.ndarray,
    maxx: np.ndarray,
    maxy: np.ndarray,
    res: int,
    max_cells_per_row: int = 64,
):
    """Batched envelope covers → (row_index, cell_id) flat arrays.

    For the spatial join's explode step: each input envelope i yields
    all overlapping cells as pairs (i, cell). Rows whose cover would
    exceed ``max_cells_per_row`` are clamped by coarsening only the
    emitted granularity for that row (cells are emitted at res but
    sampled on a stride grid covering the envelope — never *missing* a
    cell that the envelope overlaps is required for correctness, so
    there is NO sampling/coarsening fallback: an oversized row RAISES
    (silently losing cells would drop join candidates). Callers pick
    ``res`` from envelope statistics of BOTH join sides so covers stay
    small (join/spatial.py::_res_cap).
    """
    minx = np.asarray(minx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)
    x0, y0 = lonlat_to_xy(minx, miny, res)
    x1, y1 = lonlat_to_xy(np.nextafter(maxx, -np.inf), np.nextafter(maxy, -np.inf), res)
    x1 = np.maximum(x0, x1)
    y1 = np.maximum(y0, y1)
    nx = x1 - x0 + 1
    ny = y1 - y0 + 1
    counts = nx * ny
    if counts.size and counts.max() > max_cells_per_row:
        raise ValueError(
            f"envelope cover of {counts.max()} cells exceeds cap {max_cells_per_row}; "
            "choose a coarser res for this join (res_for_extent)"
        )
    total = int(counts.sum())
    row_idx = np.repeat(np.arange(len(minx), dtype=np.int64), counts)
    # enumerate grid offsets per row without a Python row loop:
    # offsets 0..counts[i]-1 per row, decomposed as (dx, dy)
    offs = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(counts) - counts, counts
    )
    nx_r = np.repeat(nx, counts)
    dx = offs % nx_r
    dy = offs // nx_r
    cells = morton_encode(np.repeat(x0, counts) + dx, np.repeat(y0, counts) + dy)
    return row_idx, cells


def res_for_extent(avg_width: float, avg_height: float, max_res: int = 16) -> int:
    """Pick a resolution so a typical envelope spans ~1-2 cells per axis."""
    span = max(avg_width, avg_height, 1e-12)
    # cell width at res r is 360/2^r; want cell ≈ span
    r = int(np.floor(np.log2(360.0 / span)))
    return max(1, min(max_res, r))

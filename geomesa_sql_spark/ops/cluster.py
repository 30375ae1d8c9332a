"""Distributed density clustering (DBSCAN) over point columns.

The reference has no clustering operator (it is a query adapter —
SURVEY.md §2), but its user base expects one: PostGIS ships
``ST_ClusterDBSCAN`` as a window function and GeoMesa pipelines
commonly cluster before tiling. This is the engine-level equivalent,
built on the standard scale-out decomposition (MR-DBSCAN / RDD-DBSCAN
lineage): **partition-local clustering with eps-halo replication, then
a tiny global label-merge** — NOT a relational all-pairs pipeline. A
naive eps-join materializes Θ(n·density) neighbor pairs, which at
dense spots is quadratic: ~25k points in a 2°×2° blob with eps=0.5 is
~400M pair rows for one blob. This design never materializes pairs:

1. **Replicate** every point to its home coarse cell (side ``S``, a
   multiple of eps) plus any neighbor coarse cell within ``2·eps`` of
   it (replication overhead ≈ 8·eps/S in 2-D, 12·eps/S in 3-D). This
   is the ONLY shuffle in the whole operator — uniformly spread unless
   the data is skewed, in which case shrink ``S`` (more, smaller
   partitions).
2. **Fused local pass** — ONE ``mapInPandas`` walk over cell-sorted
   partitions (``ops/tilewalk.tile_carry_map``, not a per-cell
   ``applyInPandas`` dispatch) runs, per coarse cell, a kernel that
   computes core flags AND local components; a cell with fewer than
   ``min_pts`` points has no core point and returns its own points
   as noise. The 2·eps halo means
   every point within eps of the cell has its full eps-ball present,
   so core status (|N_eps| ≥ min_pts, counting the point itself) is
   exact for exactly the points the clustering consumes. Inside a
   partition a fine grid of side eps/√dim makes every same-fine-cell
   pair ≤ eps, so any fine cell with ≥ min_pts points is all-core with
   zero distance computations (the dense-blob fast path); only points
   in sparse fine cells compare against their ≤ 5^dim neighbor fine
   cells. Then union-find over the eps-membership core points —
   same-cell cores unioned for free, nearby fine-cell pairs probed
   with chunked numpy distance blocks. Every true core-core edge
   (dist ≤ eps) has both endpoints inside at least one partition (each
   endpoint is in the other's halo), so it is seen somewhere.
   Partitions emit (core id, local component label = min local core
   id); a core point replicated into k partitions emits k labels.
   (r6: formerly two passes — a core-flag shuffle, an id-join to ship
   flags back, and a second clustering shuffle; fused per guide §2.4.)
4. **Global merge** — labels of the same physical point are
   equivalent; the label-equivalence graph has one node per LOCAL
   COMPONENT (≈ clusters × partitions touched — tiny, independent of
   n), closed with the pointer-jumping min-label connected-components
   used below (O(log diameter) rounds on a trivially small input).
5. **Borders** — pass 2 also emits, for each OWN non-core point, the
   local labels of its core neighbors (exact: all of them are in the
   partition); after the merge the border takes the MIN resolved
   label — deterministic, matching the DuckDB oracle (the classic
   "first scanner wins" assignment is scan-order-dependent and
   therefore not reproducible).

Labels are deterministic: a cluster's label is the minimum point id
among its core members. Noise rows get cluster = -1, role = 'noise'.

**Geodesic mode** (``metric='sphere'``): x/y are lon/lat degrees and
``eps`` is metres on the same mean-radius sphere as
``ST_DistanceSphere``. Points embed as 3-D chord coordinates
R·(cosφcosλ, cosφsinλ, sinφ); great-circle distance d and chord
distance c = 2R·sin(d/2R) are monotone bijections of each other on
[0, πR], so Euclidean DBSCAN in the embedding with
eps_chord = 2R·sin(eps/2R) is EXACTLY geodesic DBSCAN — including
clusters straddling the antimeridian and sitting on the poles, with
zero wrap special-casing (the planar-degrees grid would split both).
The same grid machinery runs in 3-D: fine side eps/√3 (cube diagonal
= eps keeps the same-cell ⇒ within-eps shortcut), neighbor offsets
±2 per axis (Σ max(0,|dᵢ|-1)² ≤ 3 bounds the reachable boxes; the
(2,2,2) corner attains exactly eps, kept by the inclusive predicate).
"""

from __future__ import annotations

import logging
import math
import threading
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_sql_spark.ops.tilewalk import tile_carry_map

_LOG = logging.getLogger(__name__)


def _connected_components(
    seeds: DataFrame, edges: DataFrame, max_iter: int
) -> DataFrame:
    """Min-label connected components. ``seeds``: (id); ``edges``:
    (i, j) symmetric. Returns (id, lab) with lab = min id in the
    component. Pointer jumping keeps rounds at O(log diameter)."""
    lab = seeds.select("id", F.col("id").alias("lab")).localCheckpoint(eager=True)
    for _ in range(max_iter):
        cand = (
            edges.join(lab.withColumnRenamed("id", "j"), "j")
            .select(F.col("i").alias("id"), "lab")
        )
        new = lab.unionByName(cand).groupBy("id").agg(F.min("lab").alias("lab"))
        parent = new.select(F.col("id").alias("__pid"), F.col("lab").alias("__plab"))
        new = (
            new.join(parent, new["lab"] == parent["__pid"], "left")
            .select("id", F.coalesce("__plab", "lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(lab.alias("o"), "id")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .limit(1)
            .count()
        )
        lab = new
        if changed == 0:
            break
    else:
        _count_unconverged(max_iter)
    return lab


#: coordinate column → coarse-cell column, in axis order; the slice
#: actually present in a frame decides the grid dimension (2-D planar
#: or the 3-D chordal embedding of metric='sphere')
_CELL_COLS = {"x": "ccx", "y": "ccy", "z": "ccz"}


def _dims(cols) -> tuple[str, ...]:
    return ("x", "y", "z") if "z" in cols else ("x", "y")


def _replicate_to_cells(
    pts: DataFrame, s: float, eps: float, halo: int = 1
) -> DataFrame:
    """Each point → its home coarse cell plus every neighbor coarse
    cell whose region is within ``halo·eps`` of it; ``own`` marks the
    home copy. Covering [x-halo·eps, x+halo·eps] (per axis) with cell
    floors is exact: a cell can contain a point within the halo of the
    point only if its index is between floor((x-halo·eps)/S) and
    floor((x+halo·eps)/S), and stepping the offset by eps hits every
    integer in that range because S >= 2·eps >= eps. Runs in 2-D or
    (when a ``z`` column is present) 3-D.

    The candidate product is built per axis (distinct floors, then a
    nested-``transform`` cross product) so codegen pays O(offsets·dim)
    floor evaluations per row, not O(offsets^dim·dim)."""
    dims = _dims(pts.columns)
    offs = [i * eps for i in range(-halo, halo + 1)]
    ax = {
        d: F.array_distinct(
            F.array(
                *[
                    F.floor((F.col(d) + F.lit(o)) / F.lit(s)).cast("long")
                    for o in offs
                ]
            )
        )
        for d in dims
    }
    if len(dims) == 2:
        cands = F.flatten(
            F.transform(
                ax["x"],
                lambda a: F.transform(
                    ax["y"], lambda b: F.struct(a.alias("ccx"), b.alias("ccy"))
                ),
            )
        )
    else:
        cands = F.flatten(
            F.flatten(
                F.transform(
                    ax["x"],
                    lambda a: F.transform(
                        ax["y"],
                        lambda b: F.transform(
                            ax["z"],
                            lambda c: F.struct(
                                a.alias("ccx"), b.alias("ccy"), c.alias("ccz")
                            ),
                        ),
                    ),
                )
            )
        )
    own = None
    for d in dims:
        home = F.floor(F.col(d) / F.lit(s)).cast("long")
        term = F.col(_CELL_COLS[d]) == home
        own = term if own is None else (own & term)
    return (
        pts.withColumn("__cand", F.explode(cands))
        .select(
            "*",
            *[F.col(f"__cand.{_CELL_COLS[d]}").alias(_CELL_COLS[d]) for d in dims],
        )
        .withColumn("own", own)
        .drop("__cand")
    )


def _fine_buckets(xs: np.ndarray, ys: np.ndarray, g: float, zs=None):
    """Group local point indices by fine cell; returns the
    cell→indices dict keyed by 2- or 3-tuples. Lexsort + boundary
    split: O(n log n) numpy and O(#buckets) Python, instead of the
    former O(n) Python append loop."""
    fx = np.floor(xs / g).astype(np.int64)
    fy = np.floor(ys / g).astype(np.int64)
    cols = [fx, fy]
    if zs is not None:
        cols.append(np.floor(zs / g).astype(np.int64))
    n = len(xs)
    if n == 0:
        return {}
    order = np.lexsort(cols[::-1])
    stacked = np.stack([c[order] for c in cols], axis=1)
    change = np.any(stacked[1:] != stacked[:-1], axis=1)
    starts = np.concatenate([[0], np.flatnonzero(change) + 1])
    ends = np.concatenate([starts[1:], [n]])
    return {
        tuple(int(v) for v in stacked[s]): order[s:e]
        for s, e in zip(starts, ends)
    }


# fine-cell offsets whose box-to-box min distance can be <= eps when
# the fine side is eps/sqrt(dim): per-axis offsets |d| <= 2, because
# the boxes' min distance is sqrt(sum max(0,|d_i|-1)^2)·g and the
# reachability bound is sum max(0,|d_i|-1)^2 <= dim (the all-2s corner
# attains exactly eps at touching corners — inclusive predicate keeps
# it; any |d_i| = 3 contributes 4 > dim alone).
_FINE_OFFS = [(dx, dy) for dx in range(-2, 3) for dy in range(-2, 3)]
_FINE_FWD = [(dx, dy) for (dx, dy) in _FINE_OFFS if (dx, dy) > (0, 0)]
_FINE_OFFS_3 = [
    (dx, dy, dz)
    for dx in range(-2, 3)
    for dy in range(-2, 3)
    for dz in range(-2, 3)
]
_FINE_FWD_3 = [o for o in _FINE_OFFS_3 if o > (0, 0, 0)]


def _fine_grid(eps: float, dim: int):
    """(fine cell side, all offsets, forward offsets) for a grid whose
    same-cell diagonal is exactly eps."""
    g = eps / math.sqrt(float(dim))
    if dim == 2:
        return g, _FINE_OFFS, _FINE_FWD
    return g, _FINE_OFFS_3, _FINE_FWD_3


def _key_add(k: tuple, off: tuple) -> tuple:
    return tuple(a + b for a, b in zip(k, off))



# cap on float64 elements per distance block (~16 MB): keeps any
# cross-cell probe's peak allocation bounded no matter how dense a
# fine cell gets (a skewed coarse cell can put thousands of points in
# one fine cell; an unchunked |a|x|b| matrix would then be GBs)
_DIST_BLOCK = 1 << 21


def _d2_block_rows(n_b: int) -> int:
    return max(1, _DIST_BLOCK // max(n_b, 1))


def _d2_rows(xs, ys, zs, a, b) -> np.ndarray:
    """Squared distances between index blocks a × b (2-D or 3-D)."""
    d2 = (xs[a][:, None] - xs[b][None, :]) ** 2 + (
        ys[a][:, None] - ys[b][None, :]
    ) ** 2
    if zs is not None:
        d2 += (zs[a][:, None] - zs[b][None, :]) ** 2
    return d2


def _count_within(xs, ys, zs, ia, ib, e2) -> np.ndarray:
    """Per-ia count of ib-points within sqrt(e2) — row-blocked."""
    out = np.zeros(len(ia), dtype=np.int64)
    if not len(ib):
        return out
    step = _d2_block_rows(len(ib))
    for s0 in range(0, len(ia), step):
        blk = ia[s0 : s0 + step]
        out[s0 : s0 + step] = (_d2_rows(xs, ys, zs, blk, ib) <= e2).sum(axis=1)
    return out


def _any_within(xs, ys, zs, ia, ib, e2) -> bool:
    """Does ANY (ia, ib) pair sit within sqrt(e2)? Row-blocked with
    early exit — the common dense-adjacent-cell case hits in the
    first block."""
    if not len(ia) or not len(ib):
        return False
    step = _d2_block_rows(len(ib))
    for s0 in range(0, len(ia), step):
        if (_d2_rows(xs, ys, zs, ia[s0 : s0 + step], ib) <= e2).any():
            return True
    return False


def _core_flags(
    xs: np.ndarray, ys: np.ndarray, eps: float, min_pts: int, zs=None,
    only: np.ndarray | None = None,
) -> np.ndarray:
    """Exact |N_eps(p)| >= min_pts per local point (self counted).
    Dense fine cells (>= min_pts points) shortcut to all-core.
    ``only``: optional bool mask — flags are only needed (and only
    guaranteed exact) for masked points; unmasked points still count
    as neighbors but may skip their own distance probes."""
    dim = 2 if zs is None else 3
    g, offs, _ = _fine_grid(eps, dim)
    buckets = _fine_buckets(xs, ys, g, zs)
    core = np.zeros(len(xs), dtype=bool)
    e2 = eps * eps
    zero = (0,) * dim
    for k, idx in buckets.items():
        if len(idx) >= min_pts:
            core[idx] = True
            continue
        want = idx if only is None else idx[only[idx]]
        if not len(want):
            continue
        cnt = np.full(len(want), len(idx), dtype=np.int64)  # own cell + self
        for off in offs:
            if off == zero:
                continue
            nb = buckets.get(_key_add(k, off))
            if nb is None:
                continue
            cnt += _count_within(xs, ys, zs, want, nb, e2)
        core[want] = cnt >= min_pts
    return core


class _UF:
    """Array union-find with path halving; roots resolve to min id via
    a final pass keyed by component."""

    def __init__(self, n: int):
        self.p = list(range(n))

    def find(self, a: int) -> int:
        p = self.p
        while p[a] != a:
            p[a] = p[p[a]]
            a = p[a]
        return a

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _local_cluster(
    pdf: pd.DataFrame, eps: float, s: float, min_pts: int
) -> pd.DataFrame:
    """FUSED kernel: one coarse cell's own + 2·eps-halo points.

    Core flags are computed IN this pass — under the 2·eps replication
    halo, every point within eps of the cell region has its entire
    eps-ball present, so |N_eps| is exact for exactly the points the
    clustering logic consumes (the eps-membership "inner" set).

    Emits
      kind='corelab': (id, lab, own) for every inner core point;
      kind='border' : (id, lab) per distinct core-neighbor label of an
                      OWN non-core point;
      kind='noise'  : (id, -1) for own points with no core neighbor.
    lab = min local core id of the local component."""
    ids = pdf["id"].to_numpy(dtype=np.int64)
    xs = pdf["x"].to_numpy(dtype=np.float64)
    ys = pdf["y"].to_numpy(dtype=np.float64)
    zs = pdf["z"].to_numpy(dtype=np.float64) if "z" in pdf.columns else None
    own = pdf["own"].to_numpy(dtype=bool)
    n = len(ids)
    cells = {c: int(pdf[c].iloc[0]) if n else 0 for c in _cell_cols_of(pdf.columns)}
    if n < min_pts:
        # even an inner point's whole eps-ball is among these n < min_pts
        # points, so no point here is core: every own point is noise
        return pd.DataFrame(
            {"id": ids[own], "kind": "noise", "lab": np.int64(-1), "own": True}
            | cells
        )
    # eps-membership ("inner"): the exact floor-range test the former
    # eps-halo replication used as its cell cover — same IEEE ops, so
    # the clustered point set per cell is bit-identical to the old
    # two-pass shape's pass-2 membership
    inner = np.ones(n, dtype=bool)
    axes = [(xs, "ccx"), (ys, "ccy")] + ([(zs, "ccz")] if zs is not None else [])
    for v, cc in axes:
        c = int(pdf[cc].iloc[0])
        inner &= (np.floor((v - eps) / s) <= c) & (c <= np.floor((v + eps) / s))
    core = _core_flags(xs, ys, eps, int(min_pts), zs, only=inner)
    core &= inner  # outer-band flags are unused (and not exact)
    e2 = eps * eps
    g, offs, fwd = _fine_grid(eps, 2 if zs is None else 3)
    buckets = _fine_buckets(xs, ys, g, zs)

    # ---- union-find over core points, per fine cell then cross-cell
    uf = _UF(n)
    core_buckets = {
        k: idx[core[idx]] for k, idx in buckets.items() if core[idx].any()
    }
    for idx in core_buckets.values():
        a0 = int(idx[0])
        for b in idx[1:]:
            uf.union(a0, int(b))  # same fine cell => pairwise <= eps
    for k, ia in core_buckets.items():
        for off in fwd:
            ib = core_buckets.get(_key_add(k, off))
            if ib is None:
                continue
            if uf.find(int(ia[0])) == uf.find(int(ib[0])):
                continue  # already one component
            if _any_within(xs, ys, zs, ia, ib, e2):
                uf.union(int(ia[0]), int(ib[0]))

    # component label = min core id in local component
    root_min: dict[int, int] = {}
    core_idx = np.nonzero(core)[0]
    for i in core_idx:
        r = uf.find(int(i))
        v = int(ids[i])
        if r not in root_min or v < root_min[r]:
            root_min[r] = v
    lab = {int(i): root_min[uf.find(int(i))] for i in core_idx}

    out_id, out_kind, out_lab, out_own = [], [], [], []
    for i in core_idx:
        out_id.append(int(ids[i]))
        out_kind.append("corelab")
        out_lab.append(lab[int(i)])
        out_own.append(bool(own[i]))

    # ---- own non-core points: border (labels of core neighbors) or noise
    for k, idx in buckets.items():
        nc = idx[~core[idx] & own[idx]]
        if len(nc) == 0:
            continue
        nb_parts = [
            core_buckets[_key_add(k, off)]
            for off in offs
            if _key_add(k, off) in core_buckets
        ]
        nb = (
            np.concatenate(nb_parts) if nb_parts else np.empty(0, dtype=np.int64)
        )
        step = _d2_block_rows(len(nb))
        for r0 in range(0, len(nc), step):
            blk = nc[r0 : r0 + step]
            if len(nb):
                hit = _d2_rows(xs, ys, zs, blk, nb) <= e2
            else:
                hit = np.zeros((len(blk), 0), dtype=bool)
            for r, i in enumerate(blk):
                labs = {lab[int(j)] for j in nb[hit[r]]} if hit.shape[1] else set()
                if labs:
                    for v in sorted(labs):
                        out_id.append(int(ids[i]))
                        out_kind.append("border")
                        out_lab.append(v)
                        out_own.append(True)
                else:
                    out_id.append(int(ids[i]))
                    out_kind.append("noise")
                    out_lab.append(-1)
                    out_own.append(True)
    return pd.DataFrame(
        {"id": out_id, "kind": out_kind, "lab": out_lab, "own": out_own} | cells
    )


# max label-equivalence edges resolved driver-side before falling back
# to the distributed CC (each edge is 16 bytes of payload — the cap
# bounds the collect at ~32 MB)
_DRIVER_MERGE_MAX = 2_000_000

def _p2_schema(dim: int) -> T.StructType:
    """Pass-2 output schema; the 3-D embedding carries its third cell
    coordinate so incremental maintenance can slice `local` rows by
    the full cell key."""
    fields = [
        T.StructField("id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("lab", T.LongType()),
        T.StructField("own", T.BooleanType()),
        T.StructField("ccx", T.LongType()),
        T.StructField("ccy", T.LongType()),
    ]
    if dim == 3:
        fields.append(T.StructField("ccz", T.LongType()))
    return T.StructType(fields)



def _validated_pts(df, key, x, y, eps, min_pts, coarse_cell, metric="planar"):
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        NumericType,
        ShortType,
    )

    for c in (x, y):
        if not isinstance(df.schema[c].dataType, NumericType):
            raise TypeError(
                f"dbscan column {c!r} must be numeric, got "
                f"{df.schema[c].dataType.simpleString()}"
            )
    if not isinstance(
        df.schema[key].dataType, (ByteType, ShortType, IntegerType, LongType)
    ):
        raise TypeError(
            f"dbscan key column {key!r} must be an integral type, got "
            f"{df.schema[key].dataType.simpleString()} (a string key would "
            "cast to NULL and drop every row; a fractional key would "
            "TRUNCATE, merging distinct points onto one id — review r3)"
        )
    eps = float(eps)
    if not eps > 0.0:
        raise ValueError("eps must be > 0")
    if int(min_pts) < 1:
        raise ValueError("min_pts must be >= 1")
    if metric not in ("planar", "sphere"):
        raise ValueError(f"metric must be 'planar' or 'sphere', got {metric!r}")
    if metric == "sphere":
        # chord-space eps: d <-> c = 2R·sin(d/2R) is monotone on
        # [0, πR], so Euclidean DBSCAN in the 3-D embedding with
        # eps_chord is exactly geodesic DBSCAN with eps metres.
        from ..geom.geodesic import MAX_DISTANCE, MEAN_RADIUS

        r = MEAN_RADIUS
        eps = 2.0 * r * math.sin(min(eps, MAX_DISTANCE) / (2.0 * r))
        lam = F.radians(F.col(x).cast("double"))
        phi = F.radians(F.col(y).cast("double"))
        coords = [
            (F.lit(r) * F.cos(phi) * F.cos(lam)).alias("x"),
            (F.lit(r) * F.cos(phi) * F.sin(lam)).alias("y"),
            (F.lit(r) * F.sin(phi)).alias("z"),
        ]
        # a NULL lon or lat propagates into every embedded coordinate
        nn = F.col("x").isNotNull() & F.col("z").isNotNull()
    else:
        coords = [
            F.col(x).cast("double").alias("x"),
            F.col(y).cast("double").alias("y"),
        ]
        nn = F.col("x").isNotNull() & F.col("y").isNotNull()
    s = float(coarse_cell) if coarse_cell is not None else 8.0 * eps
    if s < 2.0 * eps:
        raise ValueError(
            "coarse_cell must be >= 2*eps"
            + (" (chord metres for metric='sphere')" if metric == "sphere" else "")
        )
    pts = df.select(
        F.col(key).cast("long").alias("id"), *coords
    ).filter(F.col("id").isNotNull() & nn)
    return pts, eps, s


def _cell_cols_of(cols) -> list[str]:
    """The coarse-cell key columns present, in axis order (2-D planar
    or the 3-D chordal embedding)."""
    return [c for c in ("ccx", "ccy", "ccz") if c in cols]


def _dilate_cells_np(cells: "pd.DataFrame", r: int) -> "pd.DataFrame":
    """Driver-side Chebyshev-r dilation of a small cell frame (2-D or
    3-D, decided by the columns present)."""
    ccols = _cell_cols_of(cells.columns)
    arrs = [cells[c].to_numpy(np.int64) for c in ccols]
    offs = np.arange(-r, r + 1, dtype=np.int64)
    grids = np.meshgrid(*([offs] * len(ccols)), indexing="ij")
    exp = [
        (a[:, None] + g.ravel()[None, :]).ravel()
        for a, g in zip(arrs, grids)
    ]
    uniq = np.unique(np.stack(exp, axis=1), axis=0)
    return pd.DataFrame({c: uniq[:, i] for i, c in enumerate(ccols)})


# above this many distinct delta home cells, incremental maintenance
# rebuilds instead (a spray delta over a huge grid); below it, every
# ring is a driver numpy dilation broadcast as a LocalRelation.
# Calibrated in 2-D for the widest dilation (r=4: 81 offsets → ≤8.1M
# pre-unique rows, ~130 MB of driver numpy); _driver_cells_cap scales
# it down in 3-D, where the same r is 729 offsets (9× the rows per
# home cell), so the driver/broadcast bound stays constant
_DRIVER_CELLS_MAX = 100_000


def _driver_cells_cap(dim: int) -> int:
    return _DRIVER_CELLS_MAX // (9 ** (dim - 2))


# above this many `local` rows in the ring-2 slice (previous + new),
# incremental maintenance rebuilds instead of diffing the slice on the
# driver (eight columns a row: ~100 MB of pandas at the cap)
_DRIVER_SLICE_MAX = 2_000_000

# above this many affected point ids, the incremental assembly stops
# broadcasting the id set (two int64 columns; 20M ids ≈ 160 MB on the
# driver and per executor) and rebuilds the per-point output from the
# full state instead — correct either way, and past this fraction the
# anti-join union saves little
_AFFECTED_BROADCAST_MAX = 20_000_000

#: times dbscan_incremental rebuilt (or fully reassembled) instead of
#: applying its delta, by reason — every such path also logs a warning
incremental_fallbacks: Counter[str] = Counter()
_FALLBACKS_LOCK = threading.Lock()


def _count_fallback(reason: str, detail: str) -> None:
    with _FALLBACKS_LOCK:
        incremental_fallbacks[reason] += 1
    _LOG.warning("dbscan_incremental did not apply its delta (%s): %s", reason, detail)


#: times the distributed connected-components loop stopped at
#: ``max_iter`` before its labels stopped changing — its (id, lab)
#: result is then partial (one component may carry several labels);
#: every such stop also logs a warning
cc_unconverged: Counter[str] = Counter()


def _count_unconverged(max_iter: int) -> None:
    with _FALLBACKS_LOCK:
        cc_unconverged["max_iter"] += 1
    _LOG.warning(
        "connected components did not converge in max_iter=%d rounds; "
        "labels are partial", max_iter,
    )


def _home_cells(pts: DataFrame, s: float) -> DataFrame:
    """Distinct home coarse cells of ``pts``."""
    return pts.select(*[
        F.floor(F.col(d) / F.lit(s)).cast("long").alias(_CELL_COLS[d])
        for d in _dims(pts.columns)
    ]).distinct()


def _compute_local(
    pts: DataFrame,
    s: float,
    eps: float,
    min_pts: int,
    p2_cells: DataFrame | None = None,
) -> DataFrame:
    """ONE fused pass (2·eps-halo replication, one shuffle → per-cell
    core flags + local components) → the per-cell `local` rows. The
    kernel runs through ``tile_carry_map`` keyed on the cell columns:
    one Python call per Arrow batch walking its contiguous cells, not
    one dispatch per cell.

    With ``p2_cells`` set (already broadcast-wrapped by the caller),
    only those coarse cells are recomputed; their 2·eps-halo support
    rides the same replication, so no extra ring pass is needed."""
    cell_cols = [_CELL_COLS[d] for d in _dims(pts.columns)]
    rep = _replicate_to_cells(pts, s, eps, halo=2)
    if p2_cells is not None:
        rep = rep.join(p2_cells, cell_cols, "left_semi")

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat(
            [_local_cluster(g, eps, s, int(min_pts))
             for _, g in pdf.groupby(cell_cols, sort=False)],
            ignore_index=True,
        )

    # lazy checkpoint: every consumer (label merge, assembly, the
    # incremental slice) reads the Python pass once; under AQE the
    # replication shuffle runs when this is called, the pass itself
    # inside the first consuming action
    return tile_carry_map(
        rep, walk, _p2_schema(len(cell_cols)), keys=cell_cols
    ).localCheckpoint(eager=False)


def _min_labels(i: np.ndarray, j: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Driver components over edges (i, j): every edge-touched node
    (sorted) and the min node id of its component. Each numpy round
    hooks every root under the smallest root it shares an edge with
    (parents only decrease, so roots end as component minima), then
    jumps every node to its root."""
    nodes, inv = np.unique(np.concatenate([i, j]), return_inverse=True)
    a, b = inv[: len(i)], inv[len(i) :]
    p = np.arange(len(nodes))
    while True:
        pa, pb = p[a], p[b]
        split = pa != pb
        if not split.any():
            return nodes, nodes[p]
        pa, pb = pa[split], pb[split]
        np.minimum.at(p, np.maximum(pa, pb), np.minimum(pa, pb))
        while not np.array_equal(q := p[p], p):
            p = q


def min_label_components(
    seeds: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Adaptive min-label connected components over (i, j) edges (any
    direction). Returns an (id, lab) mapping covering at least every
    edge-touched node — ids absent from the mapping are singletons, so
    callers resolve with a left join + ``coalesce(lab, id)``. Small
    graphs (≤ _DRIVER_MERGE_MAX edges) resolve at the driver — the
    MR merge-step shape; larger ones run the distributed
    pointer-jumping loop over ``seeds``."""
    spark = seeds.sparkSession
    uniq = edges.select("i", "j").filter(F.col("i") != F.col("j")).distinct()
    # Arrow toPandas, not collect(): pyspark Row objects cost hundreds
    # of bytes each, so a max-size merge graph lands as two compact
    # int64 columns (~32 MB) instead of transient GBs (ADVICE r2)
    pdf = uniq.limit(_DRIVER_MERGE_MAX + 1).toPandas()
    if len(pdf) <= _DRIVER_MERGE_MAX:
        ids, labs = _min_labels(pdf["i"].to_numpy(np.int64), pdf["j"].to_numpy(np.int64))
        return F.broadcast(
            spark.createDataFrame(
                pd.DataFrame({"id": ids, "lab": labs}), "id long, lab long"
            )
        )
    sym = uniq.unionByName(
        uniq.select(F.col("j").alias("i"), F.col("i").alias("j"))
    )
    return _connected_components(seeds, sym, max_iter)


def _eq_edges(corelab: DataFrame) -> DataFrame:
    """Label-equivalence edges WITH provenance: (pid, i, j) — labels
    seen for the same physical point ``pid``. Only points replicated
    into >= 2 partitions (halo crossers) can carry an equivalence —
    filtered before exploding. The pid column is what lets
    :func:`dbscan_incremental` invalidate exactly the edges of points
    whose replica row-set changed."""
    return (
        corelab.groupBy("id")
        .agg(F.collect_set("lab").alias("labs"))
        .filter(F.size("labs") > 1)
        .select(
            F.col("id").alias("pid"),
            F.array_min("labs").alias("i"),
            F.explode("labs").alias("j"),
        )
        .filter(F.col("i") != F.col("j"))
    )


def _resolve_labels(eq: DataFrame, max_iter: int) -> DataFrame:
    """(lab, cluster) resolution map from (.., i, j) equivalence edges.
    The merge graph is LABEL-level: one node per local component,
    independent of n (MR-DBSCAN's merge step); resolved adaptively
    (driver union-find under the edge cap, distributed CC above it).
    Labels untouched by any edge are identity-resolved and OMITTED —
    consumers coalesce(cluster, lab)."""
    pairs = eq.select("i", "j")
    seeds = (
        pairs.select(F.col("i").alias("id"))
        .unionByName(pairs.select(F.col("j").alias("id")))
        .distinct()
    )
    return min_label_components(seeds, pairs, max_iter).select(
        F.col("id").alias("lab"), F.col("lab").alias("cluster")
    )


def _assemble_rows(local: DataFrame, resolved: DataFrame) -> DataFrame:
    """Per-point output from `local` rows given a (lab, cluster)
    resolution map. Restrictable: called with a slice of `local`
    containing ALL rows of each id present, it yields exactly that
    subset of the full output.

    ONE join + ONE groupBy (the former three per-role aggregate
    branches + two unions cost three shuffles and five stages for the
    same answer — guide §2.4): an id's rows are all of one kind
    (corelab for cores, border for own non-cores with core neighbors,
    noise otherwise), every lab of a core id resolves to the same
    cluster, a border takes the MIN resolved neighbor label, and a
    noise row's lab is already -1 with no resolution entry."""
    rows = local.filter((F.col("kind") != "corelab") | F.col("own")).select(
        "id", "kind", "lab"
    )
    return (
        rows.join(resolved, "lab", "left")
        .groupBy("id")
        .agg(
            F.min(F.coalesce("cluster", "lab")).alias("cluster"),
            F.min("kind").alias("__kind"),
        )
        .select(
            "id",
            "cluster",
            F.when(F.col("__kind") == "corelab", "core")
            .when(F.col("__kind") == "border", "border")
            .otherwise("noise")
            .alias("role"),
        )
    )


def _assemble_full(local: DataFrame, max_iter: int):
    """Global label merge + per-point output. Returns
    (result, eq_edges, resolved_nontrivial) — the two extra frames are
    the incremental-maintenance state. ``eq`` is lazily checkpointed
    BEFORE the resolution reads it, so its collect_set exchange runs
    once and the resolution and the returned state share its output."""
    corelab = local.filter(F.col("kind") == "corelab")
    eq = _eq_edges(corelab).localCheckpoint(eager=False)
    resolved = _resolve_labels(eq, max_iter)
    result = _assemble_rows(local, resolved)
    return result, eq, resolved.filter(F.col("lab") != F.col("cluster"))


def _assemble(local: DataFrame, max_iter: int) -> DataFrame:
    """Global label merge + per-point output from `local` rows. No
    state is returned, so ``eq`` has one consumer and no checkpoint."""
    eq = _eq_edges(local.filter(F.col("kind") == "corelab"))
    return _assemble_rows(local, _resolve_labels(eq, max_iter))


def dbscan(
    df: DataFrame,
    key: str,
    x: str,
    y: str,
    eps: float,
    min_pts: int,
    coarse_cell: float | None = None,
    max_iter: int = 25,
    return_state: bool = False,
    metric: str = "planar",
):
    """DBSCAN over point columns.

    Returns (id BIGINT, cluster BIGINT, role STRING) — one row per
    input row with non-null key/x/y; cluster = min core id of the
    component (−1 for noise), role ∈ {core, border, noise}.

    ``metric='planar'`` (default): x/y are Cartesian, eps in the same
    units. ``metric='sphere'``: x/y are lon/lat DEGREES and eps is
    METRES of great-circle distance on the same mean-radius sphere as
    ``ST_DistanceSphere`` — computed exactly via the 3-D chordal
    embedding (module docstring), so antimeridian- and pole-straddling
    clusters come out whole. eps ≥ πR means everything is one
    neighborhood.

    ``coarse_cell`` is the partition granule (default 8·eps; for
    metric='sphere' it is in CHORD metres): large enough that halo
    replication (≈ 4·eps/S) is cheap, small enough that one cell's
    points fit an executor. Shrink it for very dense data.

    ``return_state=True`` additionally returns the maintenance state
    for :func:`dbscan_incremental` (delta maintenance — appends,
    removals, and moves; see its docstring): a dict
    of {local, eq, resolved, result} DataFrames (per-cell local rows,
    provenance-tagged label-equivalence edges, the non-identity label
    resolution map, and the per-point output). Works for both metrics
    — sphere-mode state carries 3-D cell keys (ccx, ccy, ccz in the
    chordal embedding's grid) and must be continued with
    ``dbscan_incremental(..., metric='sphere')``. Result and state are
    LAZY checkpoints, materialized by the first action consuming them,
    so this call does not snapshot its input: ``df`` must stay
    unchanged until the returned result or state is first consumed, or
    the caller must pin it first (``df.localCheckpoint()``, or a read of
    a fixed Iceberg snapshot). A table rewritten in between (an
    Engine DML commit, an overwritten parquet path) silently changes
    the clusters.
    """
    pts, eps, s = _validated_pts(
        df, key, x, y, eps, min_pts, coarse_cell, metric
    )
    local = _compute_local(pts, s, eps, int(min_pts))
    if not return_state:
        return _assemble(local, max_iter)
    result, eq, resolved = _assemble_full(local, max_iter)
    # lazy checkpoints (guide §1.2): persisted and lineage-truncated,
    # but the result stage runs inside the first consuming action (the
    # caller's count / sink write / the next apply's collects). The
    # streaming maintainer pins its inputs eagerly before this is
    # called, so a frame first consumed next batch recomputes from
    # pinned data.
    result = result.localCheckpoint(eager=False)
    state = {
        "local": local,
        "eq": eq,
        "resolved": resolved.localCheckpoint(eager=False),
        "result": result,
        "delta": result,  # initial build: everything is new
    }
    return result, state


def dbscan_incremental(
    df_all: DataFrame,
    delta: DataFrame,
    prev_state: DataFrame,
    key: str,
    x: str,
    y: str,
    eps: float,
    min_pts: int,
    coarse_cell: float | None = None,
    max_iter: int = 25,
    metric: str = "planar",
):
    """Delta DBSCAN maintenance: recluster ONLY the coarse cells a
    batch of changes can affect, then re-merge labels globally —
    provably equal to a full rebuild (asserted differentially in
    tests), at delta-proportional cost.
    ``metric='sphere'`` maintains geodesic clusters: the dirty-cell
    bookkeeping runs in the 3-D chordal embedding's grid (the
    Chebyshev-ring argument below is per-axis, so it is
    dimension-free), and ``metric`` must match the metric the state
    was built with (checked via the state's cell-key dimension).

    ``df_all`` = the full table AFTER the change; ``delta`` = every
    row whose presence or position changed: appended rows (as they
    appear in ``df_all``), REMOVED rows (their old coordinates — they
    only seed dirty cells), and BOTH the old and new rows of a moved
    point. ``prev_state`` = the state dict from ``dbscan(...,
    return_state=True)`` (or a previous incremental step) computed
    over the pre-change table; a bare `local` DataFrame (the pre-r3
    state shape) is upgraded in place with one full assemble. Removal
    works because the argument below is symmetric: a removed point's
    influence (its replicas, the core flags it supported, the labels
    it minted) is confined to the same ring of cells around its home,
    all of which are recomputed from ``df_all`` — and its ids fall
    into the affected set (its prev rows sit in dirty cells) while
    never reappearing in the recomputed rows, so it drops from the
    result. Note the ``delta`` state frame is UPSERT rows only; a
    MERGE sink tracking removals must additionally delete the removed
    keys (which the caller supplied).

    Dirty radius: an added or removed point changes core flags only
    within eps (1 coarse ring at S ≥ 2·eps), and a cell's local
    clustering reads flag-changed points up to one more halo ring
    away — so cells within Chebyshev 2 of a delta home cell are
    recomputed (their pass-1 support extends one further ring via
    ``_compute_local``). Everything farther keeps byte-identical
    `local` rows.

    ASSEMBLY is delta-proportional too (VERDICT r2 #6, previously
    O(state) per batch): a point's replica rows all sit within
    Chebyshev 1 of its home cell, so only points with home in
    ring1(dirty) can change their row-set — their equivalence edges
    are re-derived from the ring2(dirty) slice and swapped into the
    persisted provenance-tagged edge list. This bookkeeping runs on
    the driver over ONE bounded collect of the slice (previous `local`
    rows in ring2 plus the fresh rows) and one of the edge list; the
    label resolution is re-solved with :func:`min_label_components`'
    numpy solve and DIFFED against the previous one. Per-point output
    is recomputed only for (points with a row in a dirty cell) ∪
    (points carrying a label whose resolution changed — one scan of
    the new `local` rows when any did), anti-join-unioned with the
    untouched remainder of the previous result. The O(state) frames
    are only scanned through broadcast semi/anti joins.

    Each cap ends in the exact fallback, a full ``dbscan(...,
    return_state=True)`` (home cells over ``_driver_cells_cap``, slice
    rows over ``_DRIVER_SLICE_MAX``, edges over ``_DRIVER_MERGE_MAX``,
    or a dirty set covering every occupied cell); past
    ``_AFFECTED_BROADCAST_MAX`` affected ids (or relabelled rows, whose
    bounded collect could otherwise drop ids) every point is
    reassembled. Each logs a warning and counts once in
    ``incremental_fallbacks`` under its reason.

    Returns (result, new_state); ``result`` and ``local`` are lazy
    checkpoints like :func:`dbscan`'s, so this call does not snapshot
    its inputs either: ``df_all`` and ``delta`` must stay unchanged
    until the returned result or state is first consumed, or the caller
    must pin them first (``localCheckpoint()``)."""
    if isinstance(prev_state, DataFrame):  # pre-r3 state shape
        p_result, p_eq, p_resolved = _assemble_full(prev_state, max_iter)
        prev_state = {
            "local": prev_state,
            "eq": p_eq.localCheckpoint(eager=True),
            "resolved": p_resolved.localCheckpoint(eager=True),
            "result": p_result.localCheckpoint(eager=True),
        }
    prev_local = prev_state["local"]
    # both calls must see the USER eps: for metric='sphere'
    # _validated_pts converts metres → chord metres, and feeding the
    # first call's converted eps back in would convert it twice
    eps_user = eps
    pts_all, eps, s = _validated_pts(
        df_all, key, x, y, eps_user, min_pts, coarse_cell, metric
    )
    pts_delta, _, _ = _validated_pts(
        delta, key, x, y, eps_user, min_pts, coarse_cell, metric
    )
    cell_cols = [_CELL_COLS[d] for d in _dims(pts_all.columns)]
    state_cols = _cell_cols_of(prev_local.columns)
    if state_cols != cell_cols:
        raise ValueError(
            f"metric {metric!r} implies cell key {cell_cols}, but the "
            f"previous state carries {state_cols} — the state must be "
            "continued with the metric it was built with"
        )

    def rebuild(reason: str, detail: str):
        _count_fallback(reason, f"{detail}; rebuilt the state with a full dbscan")
        return dbscan(
            df_all, key, x, y, eps_user, int(min_pts), coarse_cell,
            max_iter, return_state=True, metric=metric,
        )

    spark = df_all.sparkSession
    # bounded probe (the min_label_components pattern, ADVICE r2):
    # under the cap, limit() returns the complete set of home cells
    cap = _driver_cells_cap(len(cell_cols))
    home_pdf = _home_cells(pts_delta, s).limit(cap + 1).toPandas()
    if len(home_pdf) > cap:
        return rebuild("home_cells", f"more than {cap} delta home cells")
    # every ring is a numpy dilation of the home cells, broadcast as a
    # LocalRelation: dirty = Chebyshev 2, ring1 = 3, ring2 = 4
    rings = {r: _dilate_cells_np(home_pdf, r) for r in (2, 3, 4)}
    schema = ", ".join(f"{c} long" for c in cell_cols)
    dirty, ring2 = (F.broadcast(spark.createDataFrame(rings[r], schema)) for r in (2, 4))

    # degenerate-delta short-circuit (r6, guide §1.2): when the dirty
    # set covers EVERY occupied coarse cell, the incremental machinery
    # provably reduces to a full rebuild — kept is empty, every prev eq
    # edge is refreshed, and the affected set is every id. One bounded
    # probe (anti-join isEmpty, full-parallelism map side): its ~0.1 s
    # costs far less than the machinery it can skip, so it runs for any
    # delta wide enough to plausibly qualify — only the
    # localized/streaming shape (a handful of home cells) skips it.
    if len(home_pdf) >= 16 and (
        _home_cells(pts_all, s).join(dirty, cell_cols, "left_anti").isEmpty()
    ):
        return rebuild("dirty_covers_all", "the dirty cells cover every occupied cell")

    fresh = _compute_local(pts_all, s, eps, int(min_pts), p2_cells=dirty)
    new_local = (
        prev_local.join(dirty, cell_cols, "left_anti")
        .unionByName(fresh)
        .localCheckpoint(eager=False)
    )
    # the ring-2 slice of the previous `local` rows plus the fresh rows
    # (all in dirty ⊂ ring2), in ONE bounded collect: every delta-sized
    # set below is computed from it on the driver
    sl = (
        prev_local.join(ring2, cell_cols, "left_semi")
        .withColumn("new", F.lit(False))
        .unionByName(fresh.withColumn("new", F.lit(True)))
        .limit(_DRIVER_SLICE_MAX + 1)
        .toPandas()
    )
    if len(sl) > _DRIVER_SLICE_MAX:
        return rebuild("slice_rows", f"more than {_DRIVER_SLICE_MAX} ring-2 local rows")
    prev_eq = (
        prev_state["eq"].select("pid", "i", "j")
        .limit(_DRIVER_MERGE_MAX + 1)
        .toPandas()
    )
    if len(prev_eq) > _DRIVER_MERGE_MAX:
        return rebuild("eq_edges", f"more than {_DRIVER_MERGE_MAX} equivalence edges")

    cells = pd.MultiIndex.from_frame(sl[cell_cols])
    in_dirty = cells.isin(pd.MultiIndex.from_frame(rings[2]))
    in_ring1 = cells.isin(pd.MultiIndex.from_frame(rings[3]))
    ids = sl["id"].to_numpy(np.int64)
    corelab = (sl["kind"] == "corelab").to_numpy()
    # points whose corelab row-set may differ between prev and new
    # state: any replica cell dirty => home within ring1(dirty); fresh
    # rows all sit in dirty, so one mask covers both sides
    refresh = np.unique(ids[corelab & sl["own"].to_numpy(bool) & in_ring1])
    # their replicas all live within ring2(dirty): re-derive their
    # edges from the new rows of the slice (fresh + kept) only
    now = sl["new"].to_numpy(bool) | ~in_dirty
    pick = now & corelab & np.isin(ids, refresh)
    edges = pd.DataFrame({"pid": ids[pick], "j": sl["lab"].to_numpy(np.int64)[pick]})
    edges = edges.drop_duplicates()
    edges["i"] = edges.groupby("pid")["j"].transform("min")
    eq_pdf = pd.concat(
        [prev_eq[~np.isin(prev_eq["pid"].to_numpy(np.int64), refresh)],
         edges[edges["i"] != edges["j"]][["pid", "i", "j"]]],
        ignore_index=True,
    )
    # labels whose resolution changed; the previous resolution is
    # re-solved from the previous edge list (it is that list's
    # components by construction) instead of collecting it too
    p_ids, p_labs = _min_labels(*(prev_eq[c].to_numpy(np.int64) for c in ("i", "j")))
    n_ids, n_labs = _min_labels(*(eq_pdf[c].to_numpy(np.int64) for c in ("i", "j")))
    keys = np.union1d(p_ids, n_ids)
    changed = keys[_lookup(p_ids, p_labs, keys) != _lookup(n_ids, n_labs, keys)]
    nt = n_ids != n_labs
    resolved = spark.createDataFrame(
        pd.DataFrame({"lab": n_ids[nt], "cluster": n_labs[nt]}), "lab long, cluster long"
    )
    # affected = (points with a row in a dirty cell) ∪ (points carrying a
    # label whose resolution changed) — the latter may sit anywhere
    affected = ids[in_dirty]
    truncated = False
    if len(changed):
        # ids repeat (a core point has a row per replica cell): a collect
        # that hits its limit may have dropped some, so reassemble all
        relabel = (
            new_local.filter(F.col("kind") != "noise")
            .join(spark.createDataFrame(pd.DataFrame({"lab": changed}), "lab long"),
                  "lab", "left_semi")
            .select("id")
            .limit(_AFFECTED_BROADCAST_MAX + 1)
            .toPandas()
        )
        truncated = len(relabel) > _AFFECTED_BROADCAST_MAX
        affected = np.concatenate([affected, relabel["id"].to_numpy(np.int64)])
    affected = np.unique(affected)
    # pathological batches (a spray delta merging giant clusters) can
    # make the affected-id set a large fraction of the table; past the
    # broadcast comfort zone a full reassembly is both safer for the
    # driver and cheaper than shipping the id set to every task
    full = truncated or len(affected) > _AFFECTED_BROADCAST_MAX
    if full:
        _count_fallback("affected_ids", f"more than {_AFFECTED_BROADCAST_MAX} "
                        "affected ids or relabelled rows; reassembled every point")
        new_rows = _assemble_rows(new_local, F.broadcast(resolved))
        result = new_rows.localCheckpoint(eager=False)
    else:
        aff = F.broadcast(spark.createDataFrame(pd.DataFrame({"id": affected}), "id long"))
        new_rows = _assemble_rows(
            new_local.join(aff, "id", "left_semi"), F.broadcast(resolved)
        )
        result = (
            prev_state["result"].join(aff, "id", "left_anti").unionByName(new_rows)
        ).localCheckpoint(eager=False)
    new_state = {
        "local": new_local,
        "eq": spark.createDataFrame(eq_pdf, "pid long, i long, j long"),
        "resolved": resolved,
        "result": result,
        # per-batch UPSERT delta (not persisted by save_dbscan_state —
        # derivable): the recomputed rows of every affected point.
        # A sink that MERGEs these on id into the previous output gets
        # exactly the new result, writing O(delta) instead of O(state)
        # rows per batch (the full result when it reassembled).
        "delta": result if full else new_rows,
    }
    return result, new_state


def _lookup(nodes: np.ndarray, labs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Resolve ``q`` through the sorted (nodes → labs) map; ids absent
    from it resolve to themselves."""
    if not len(nodes):
        return q
    pos = np.minimum(np.searchsorted(nodes, q), len(nodes) - 1)
    return np.where(nodes[pos] == q, labs[pos], q)


_STATE_FRAMES = ("local", "eq", "resolved", "result")


def save_dbscan_state(state: dict, path: str, applied: list) -> str:
    """Durable snapshot of the incremental-DBSCAN state dict plus the
    list of applied batch ids (kill-resume support, VERDICT r2 #8).

    Writes a fresh version dir and then atomically repoints
    ``_CURRENT`` — a kill mid-save leaves the previous version live,
    so a resume re-applies the interrupted batch from consistent state
    instead of double-applying it. Returns the version name."""
    import json
    import os
    import uuid

    v = f"v{len(applied)}_{uuid.uuid4().hex[:8]}"
    d = os.path.join(path, v)
    for name in _STATE_FRAMES:
        state[name].write.mode("overwrite").parquet(os.path.join(d, name))
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump({"applied": list(applied)}, f)
    tmp = os.path.join(path, "_CURRENT._tmp")
    with open(tmp, "w") as f:
        f.write(v)
    os.replace(tmp, os.path.join(path, "_CURRENT"))
    return v


def load_dbscan_state(spark, path: str):
    """(state dict, applied batch ids) from the committed version, or
    (None, []) when no commit exists yet."""
    import json
    import os

    cur_file = os.path.join(path, "_CURRENT")
    if not os.path.exists(cur_file):
        return None, []
    with open(cur_file) as f:
        d = os.path.join(path, f.read().strip())
    state = {
        name: spark.read.parquet(os.path.join(d, name))
        for name in _STATE_FRAMES
    }
    with open(os.path.join(d, "meta.json")) as f:
        applied = json.load(f)["applied"]
    return state, applied

"""Z-order cell encoding as Spark SQL expression text.

Bit-for-bit identical to :func:`cells.curve.lonlat_to_cell` (asserted by
tests/test_cells.py::test_zorder_col_matches_numpy): grid snap is the
same IEEE double arithmetic, the interleave the same magic-mask spread.

Why this exists: the point side of a spatial join is the 10^12-row side
(every image is a point). Encoding it in a pandas UDF costs an Arrow
round-trip per batch — and Catalyst's inferred not-null constraint on
join keys evaluates a UDF key twice. As a JVM expression the encode
runs inside whole-stage codegen: no Python, no double eval, and the
expression survives into parquet/Iceberg pushdown analysis. Measured on
the bench headline join: 4.6 s → 0.7 s at 100k rows, local[32].

Why TEXT: every ``F.*`` call or Column operator is 3-25 Py4J round
trips in PySpark 4.1 (call-site bookkeeping plus the active-session
lookup), so the same encode built as a Column tree cost ~500 round
trips (~85 ms) per call on the per-statement join path; as one
``F.expr`` it costs 3. Doubles are written as typed literals
(``180.0D``; a bare ``180.0`` parses as DECIMAL), so every node keeps
the type ``F.lit`` gives it and the bits stay numpy's.

The polygon-cover side (explode to multiple cells) and the Hilbert
curve (loop with data-dependent rotations) stay numpy/pandas-UDF — they
run on small/broadcast sides or for layout ordering only.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def col_sql(name: str) -> str:
    """SQL text of a column reference that resolves as ``F.col(name)``
    does: each dot-separated part backquoted (a name already written in
    backquoted form passes through)."""
    if "`" in name:
        return name
    return ".".join(f"`{p}`" for p in name.split("."))


def double_sql(v: float) -> str:
    """A DOUBLE literal: ``repr`` round-trips the exact value, ``D`` types
    it, and a negative one is parenthesised (``x - -1.0D`` would open a
    ``--`` comment when spliced without spaces)."""
    s = repr(float(v))
    if not math.isfinite(float(v)):
        return f"CAST('{s}' AS DOUBLE)"
    return f"({s}D)" if s.startswith("-") else f"{s}D"


def int_sql(v: int) -> str:
    """An integer literal typed as ``F.lit(v)`` types it: INT when it
    fits 32 bits, else BIGINT."""
    v = int(v)
    s = str(v) if -(1 << 31) <= v < (1 << 31) else f"{v}L"
    return f"({s})" if v < 0 else s


def _spread_bits_sql(v: str) -> str:
    """curve._part1by1 as SQL text: low 32 bits → even positions."""
    v = f"({v} & {int_sql(0xFFFFFFFF)})"
    for shift, mask in _MASKS:
        v = f"(({v} | shiftleft({v}, {shift})) & {int_sql(mask)})"
    return v


def interleave_sql(gx: str, gy: str) -> str:
    """Z-order id of integer grid indices (x bits even, y bits odd)."""
    return f"({_spread_bits_sql(gx)} | shiftleft({_spread_bits_sql(gy)}, 1))"


def grid_sql(v: str, off: float, span: float, res: int) -> str:
    """Grid index of coordinate text ``v`` on a ``2^res`` axis over
    [-off, span-off]: curve.lonlat_to_xy's rounding and edge clamp
    (``off, span`` = 180, 360 for longitude; 90, 180 for latitude)."""
    n = 1 << res
    g = f"FLOOR((({v} + {double_sql(off)}) / {double_sql(span)}) * {double_sql(n)})"
    return f"CAST(GREATEST(0, LEAST({int_sql(n - 1)}, {g})) AS BIGINT)"


def grid_xy_sql(lon: str, lat: str, res: int) -> tuple[str, str]:
    """(gx, gy) text of curve.lonlat_to_xy for lon/lat text."""
    return grid_sql(lon, 180.0, 360.0, res), grid_sql(lat, 90.0, 180.0, res)


def zorder_cell_sql(lon: str, lat: str, res: int) -> str:
    """lon/lat SQL text → int64 Z-order cell id text at ``res``."""
    return interleave_sql(*grid_xy_sql(lon, lat, res))


def zorder_cell_col(lon: str, lat: str, res: int) -> Column:
    """Z-order cell id of the lon/lat columns NAMED ``lon``/``lat``, as
    one ``F.expr`` (JVM-side)."""
    return F.expr(zorder_cell_sql(col_sql(lon), col_sql(lat), res))

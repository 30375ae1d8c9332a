"""Metadata-only aggregate fast path — the stats-query analog.

The reference pushes COUNT/MIN/MAX/enumeration into GeoMesa *stats
queries* answered server-side without scanning rows
(rules/GeoMesaAggregateRule.scala:34-146, SURVEY.md §2.4 A1). The
parquet/Iceberg analog: row counts and per-column min/max live in file
footers; a global COUNT(*) or MIN/MAX(col) needs only footer reads —
O(files), not O(rows). At 100 TB this is the difference between
milliseconds and a full scan.

Caveats handled like the reference handles its own (`noAggrPushdown`
kill switch): footer min/max is only trusted for complete, exact
statistics; columns with nulls still give exact MIN/MAX (parquet stats
ignore nulls, matching SQL aggregate semantics), but a column that is
entirely null in some file yields stats-absent → fall back to a scan.
"""

from __future__ import annotations

import pyarrow.parquet as pq


def fast_count(path: str) -> int:
    """Exact row count from parquet footers (no data pages read)."""
    ds = pq.ParquetDataset(path)
    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in ds.files
    )


# Physical types whose footer min/max are always exact. BYTE_ARRAY /
# FIXED_LEN_BYTE_ARRAY are excluded: parquet writers may TRUNCATE
# string/binary statistics (parquet-format allows it and pyarrow does
# not expose the is_{min,max}_value_exact flags), so a long-string MAX
# from the footer can be wrong. FLOAT/DOUBLE are excluded too (review
# r3): parquet stats ignore NaN while Spark's MAX orders NaN above
# everything, so a NaN-bearing column would make the footer path and
# the scan fallback disagree. All of those fall back to a scan.
# INT96 excluded too (review r3b): parquet DEPRECATED INT96 min/max
# (sort order undefined; legacy writers compared byte-wise signed), so
# a legacy timestamp file's footer stats can be plain wrong.
_EXACT_STAT_TYPES = frozenset({"BOOLEAN", "INT32", "INT64"})


def fast_min_max(path: str, column: str):
    """Exact (min, max) of a column from footer statistics.

    Returns None when any row group lacks stats for the column or the
    column's physical type doesn't guarantee exact footer stats (the
    caller then falls back to a scan — the noAggrPushdown analog).
    """
    lo = hi = None
    ds = pq.ParquetDataset(path)
    for f in ds.files:
        md = pq.ParquetFile(f).metadata
        # resolve the LEAF column index by its path: arrow top-level
        # field indexes diverge from row-group leaf indexes on nested
        # schemas, silently reading the wrong column's stats (review r3)
        ci = None
        if md.num_row_groups:
            g0 = md.row_group(0)
            for i in range(g0.num_columns):
                if g0.column(i).path_in_schema == column:
                    ci = i
                    break
        if ci is None:
            return None  # missing or nested: must scan
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            col = group.column(ci)
            if col.physical_type not in _EXACT_STAT_TYPES:
                return None  # possibly-truncated stats → must scan
            st = col.statistics
            if st is None:
                return None  # no footer stats → must scan
            if not st.has_min_max:
                if st.has_null_count and st.null_count == group.num_rows:
                    continue  # all-null group: exact to skip
                return None
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
    return (lo, hi)


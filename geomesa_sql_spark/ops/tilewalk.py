"""Shared per-tile Python-encode walk.

The ONE mandated shape for per-group Python encode over tile keys
(CLAUDE.md, review r4l): ``groupBy().applyInPandas`` pays ~2 ms of
Python dispatch + pandas-frame setup per GROUP — 8 s of pure overhead
over 4011 tiles at sf0.01, unbounded at a zoom-14 pyramid's millions
of tiles. Instead: repartition on the tile key, sort within
partitions, then ONE ``mapInPandas`` pass per partition whose
generator walks contiguous key groups, carrying the (possibly split)
last group across Arrow batch boundaries. Same single shuffle; the
per-tile cost drops to a pandas ``groupby`` slice.

Used by ops/vector_tiles.render_mvt + render_mvt_wkb,
ops/raster._assemble_tiles and DBSCAN's per-cell local pass
(ops/cluster._compute_local, keyed on the coarse-cell columns). Reference parity: bxkftechteam/geomesa-sql
has no tile renderer; this backs the raster↔vector handoff surface the
engine adds on top of its query semantics.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame


def tile_carry_map(
    df: DataFrame,
    encode_groups: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
    partitions: int | None = None,
    keys: Sequence[str] = ("tile_x", "tile_y"),
) -> DataFrame:
    """Hash-repartition ``df`` on ``keys``, sort within partitions, and
    run ``encode_groups`` (a pandas frame → pandas frame reducer that
    must handle MULTIPLE contiguous key groups per call) once per Arrow
    batch, with the trailing group carried into the next batch so no
    group is ever split across two calls."""
    nparts = partitions or df.sparkSession.sparkContext.defaultParallelism
    part = df.repartition(nparts, *keys).sortWithinPartitions(*keys)

    def _enc_iter(it):
        carry = None
        for pdf in it:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # rows are key-sorted within the partition; the last group
            # may continue into the next Arrow batch — carry it
            tail = pdf[keys[0]] == pdf[keys[0]].iloc[-1]
            for k in keys[1:]:
                tail &= pdf[k] == pdf[k].iloc[-1]
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body):
                yield encode_groups(body)
        if carry is not None and len(carry):
            yield encode_groups(carry)

    return part.mapInPandas(_enc_iter, schema)

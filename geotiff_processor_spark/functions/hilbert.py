"""Hilbert space-filling-curve cell index (S2-style locality).

The quadkey index (functions/geo.py) gives the parent-prefix property
but orders siblings in Z-order, whose scan ranges jump: two cells
adjacent on the curve can be half a world apart. S2's core trick
(public design: s2geometry.io/devguide/s2cell_hierarchy) is ordering
cells along a HILBERT curve instead — consecutive curve positions are
always grid-neighbours, so a compact lat/lon region maps to a small
number of contiguous ``d`` ranges. That is what makes range-partitioned
storage and range-pruned scans work for spatial data at 100 TB: sorting
or bucketing a pages table by ``hilbert_d`` co-locates spatially-near
pages in the same file/partition, and a bbox query prunes to O(few)
contiguous ranges rather than O(cells) scattered lookups.

Algorithm: the standard xy2d bit-interleave walk (public domain, the
form given in Hamilton's & Wikipedia's "Hilbert curve" references):
for each scale s = 2^(L-1) .. 1 extract quadrant bits (rx, ry), add
s^2 * gray(rx, ry) to d, then rotate/reflect the lower bits. The loop
is UNROLLED at plan-build time into a stage list (``hilbert_stages``)
of pure integer CASE arithmetic, one stage per scale; functions/stages.py
renders it as native JVM-side whole-stage codegen in Spark and as the
IDENTICAL generated text in DuckDB, the oracle (the repo's
one-formula-two-engines rule). No UDF anywhere; a numpy mirror exists
for tests and Arrow pipelines.

Reference analog: the reference's tile grid / overview walk
(its ``params.py:27``) enumerates tiles row-major; this
module is the scale-first replacement ordering.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stages import Stages

DEFAULT_LEVEL = 8


# ---------------------------------------------------------------------------
# dialect-neutral SQL (valid in Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

def hilbert_stages(xq: str, yq: str,
                   level: int = DEFAULT_LEVEL) -> Stages:
    """Stage list: the Hilbert curve position of integer grid coords
    ``xq``/``yq`` (each in [0, 2^level)) as ``hilbert_d``.

    Columns ``hd``, ``hx``, ``hy`` hold the walk's state; each scale's
    stage redefines all three from the previous stage's values.
    gray(rx, ry) = (3*rx) XOR ry, written as a CASE so the same text
    parses in both engines (DuckDB spells xor as a function, Spark as an
    operator); the reflection uses n-1 (a pure bit-flip for power-of-two
    n, so higher bits never leak into the smaller scales examined
    later). Every stage is native integer CASE arithmetic; nothing
    leaves the JVM and nothing shuffles.
    """
    n1 = (1 << level) - 1
    stages = [{"hd": "cast(0 as bigint)", "hx": f"cast({xq} as bigint)",
               "hy": f"cast({yq} as bigint)"}]
    for k in range(level):
        s = 1 << (level - 1 - k)
        rx = f"(hx & {s}) > 0"
        ry = f"(hy & {s}) > 0"
        quad = (f"CASE WHEN NOT ({rx}) AND NOT ({ry}) THEN 0 "
                f"WHEN NOT ({rx}) THEN 1 "
                f"WHEN NOT ({ry}) THEN 3 ELSE 2 END")
        stages.append({
            "hd": f"hd + {s * s} * ({quad})",
            "hx": (f"CASE WHEN {ry} THEN hx "
                   f"WHEN {rx} THEN {n1} - hy ELSE hy END"),
            "hy": (f"CASE WHEN {ry} THEN hy "
                   f"WHEN {rx} THEN {n1} - hx ELSE hx END"),
        })
    stages.append({"hilbert_d": "hd"})
    return stages


# ---------------------------------------------------------------------------
# numpy mirror (tests + Arrow pipelines) and a scalar reference
# ---------------------------------------------------------------------------

def np_hilbert_d(x: np.ndarray, y: np.ndarray,
                 level: int = DEFAULT_LEVEL) -> np.ndarray:
    """Vectorized xy2d — bit-identical to the SQL walk."""
    hx = x.astype(np.int64).copy()
    hy = y.astype(np.int64).copy()
    d = np.zeros_like(hx)
    n1 = (1 << level) - 1
    for k in range(level):
        s = 1 << (level - 1 - k)
        rx = (hx & s) > 0
        ry = (hy & s) > 0
        quad = np.where(~rx & ~ry, 0,
                        np.where(~rx, 1, np.where(~ry, 3, 2)))
        d += s * s * quad
        flip = ~ry & rx
        nhx = np.where(ry, hx, np.where(flip, n1 - hy, hy))
        nhy = np.where(ry, hy, np.where(flip, n1 - hx, hx))
        hx, hy = nhx, nhy
    return d


def hilbert_d_scalar(x: int, y: int, level: int = DEFAULT_LEVEL) -> int:
    """Plain-python reference for property tests."""
    d = 0
    n1 = (1 << level) - 1
    for k in range(level):
        s = 1 << (level - 1 - k)
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n1 - x
                y = n1 - y
            x, y = y, x
    return d


def hilbert_d_to_xy(d: int, level: int = DEFAULT_LEVEL) -> tuple[int, int]:
    """Inverse walk (d2xy) — used by tests to prove the adjacency
    property: consecutive ``d`` are always grid neighbours."""
    x = y = 0
    t = d
    s = 1
    while s < (1 << level):
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y


# ---------------------------------------------------------------------------
# bbox covering ranges (the pruning payoff)
# ---------------------------------------------------------------------------

def bbox_ranges(x0: int, x1: int, y0: int, y1: int,
                level: int = DEFAULT_LEVEL) -> list[tuple[int, int]]:
    """Contiguous curve ranges exactly covering the inclusive grid bbox.

    Driver-side planning (like kNN query sets or IVF centroids): the
    bbox's cells map to O(area) d values that merge into O(perimeter)
    contiguous runs — the number that matters, because each run is one
    min/max row-group prune or one BETWEEN predicate at scan time. An
    aligned 2^k x 2^k quadrant merges to exactly ONE range (tested).
    """
    ds = sorted(hilbert_d_scalar(x, y, level)
                for x in range(x0, x1 + 1) for y in range(y0, y1 + 1))
    ranges: list[tuple[int, int]] = []
    for d in ds:
        if ranges and d == ranges[-1][1] + 1:
            ranges[-1] = (ranges[-1][0], d)
        else:
            ranges.append((d, d))
    return ranges


def sql_ranges_pred(ranges: list[tuple[int, int]],
                    col: str = "hilbert_d") -> str:
    """OR-of-BETWEEN predicate over the ranges — literal text, valid
    and identical in Spark SQL and DuckDB (the oracle inlines the same
    plan-time constants, so the hash match checks the WHOLE
    plan-and-prune chain, not just the walk)."""
    return " OR ".join(f"({col} BETWEEN {lo} AND {hi})"
                       for lo, hi in ranges)


def filter_by_ranges(df: DataFrame, ranges: list[tuple[int, int]],
                     col: str = "hilbert_d") -> DataFrame:
    """Keep rows whose ``col`` falls in any range — as a BROADCAST
    left-semi range join against the tiny ranges table, NOT an
    OR-of-BETWEEN filter: a literal predicate referencing the unrolled
    walk's output 2x-per-range gets the whole chained expression
    substituted into every comparison during predicate pushdown
    (multiplicative blowup that stalls the optimizer ~26 references at
    level 8). The join references the column ONCE; at scan time on a
    hilbert-sorted table the same ranges become row-group min/max
    prunes. (sql_ranges_pred stays the ORACLE form — DuckDB evaluates
    the materialized column, no substitution.)"""
    spark = df.sparkSession
    rng = spark.createDataFrame(ranges, "lo bigint, hi bigint")
    cond = (F.col(col) >= F.col("lo")) & (F.col(col) <= F.col("hi"))
    return df.join(F.broadcast(rng), cond, "leftsemi")

"""Point-in-polygon join (SURVEY.md J5, north_rule core operator).

Scale design (100 TB pages side, small polygon side):

1. **Cell-cover prefilter**: driver-side, compute for every polygon the
   set of level-p quadkey cells its bbox intersects (polygon side is the
   broadcast dimension). Explode into a (cell_pfx, polygon attrs) table.
2. **Broadcast equi-join** pages (cell prefix = substring of the already
   computed hierarchical cell id — parent-prefix property, no recompute)
   against the cover table. This is a map-side hash join: no shuffle of
   the pages table at all.
3. **Exact containment test** as a native column predicate: a bbox
   test for ``pip_join``; for general polygons, one exact integer
   ray-cast rule, either fused into codegen (``pip_join_general``, small
   layers) or run as an Arrow kernel (``pip_join_raycast``, large
   layers). The caller picks the path.

Reference analog: the outline/mask semantics of
``/root/reference/outlines.py:39-59`` (pixels->polygons; here inverted
to points->polygons, as mandated by BASELINE.json north_star).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import cell_key_for_quadkey, cell_range_for_bbox, sql_cell_key
from ..sources.synth import POLYGON_COLS, polygon_rows

DEFAULT_COVER_LEVEL = 4


def build_cover_table(spark: SparkSession,
                      rows: list[tuple] | None = None,
                      level: int = DEFAULT_COVER_LEVEL) -> DataFrame:
    """(cell_key, polygon_id, zone, bbox) — one row per covering cell.

    cell_key is the *integer* form of the level-p quadkey cell (bigint
    hash-join keys beat string prefixes; see sql_cell_key)."""
    rows = polygon_rows() if rows is None else rows
    cover = []
    for pid, zone, min_lonm, min_latm, max_lonm, max_latm in rows:
        for cell in cell_range_for_bbox(min_lonm, min_latm,
                                        max_lonm, max_latm, level):
            cover.append((cell_key_for_quadkey(cell), pid, zone,
                          min_lonm, min_latm, max_lonm, max_latm))
    df = spark.createDataFrame(
        cover, schema=["cell_key", *POLYGON_COLS])
    casts = [F.col("cell_key").cast("bigint"),
             F.col("polygon_id").cast("bigint"), F.col("zone")]
    casts += [F.col(c).cast("bigint")
              for c in ("min_lonm", "min_latm", "max_lonm", "max_latm")]
    return df.select(*casts)


def _cover_join(pages: DataFrame, cover: DataFrame, level: int) -> DataFrame:
    """Pages broadcast-joined to their covering cells on ``cell_key``.

    The key and the exact tests that follow are written so that no
    predicate is null-intolerant on a pages column. An equi-join key or
    a ``>=`` lets Catalyst infer ``isnotnull`` of its input and push that
    Filter below geocode's Project, where it repeats the text parse of
    ``lonm``/``latm`` (three parses per coordinate instead of one). So
    the key is ``coalesce(key, -1)``, never NULL, and -1 matches no cover
    cell (cover keys are >= 0); callers wrap a null-intolerant exact
    test in ``coalesce(test, false)``, which keeps the same rows. Do not
    simplify the coalesces away: the plan tests pin one parse."""
    key = f"coalesce({sql_cell_key('lonm', 'latm', level)}, -1)"
    return pages.withColumn("cell_key", F.expr(key)) \
        .join(F.broadcast(cover), "cell_key")


def pip_join(geocoded: DataFrame, cover: DataFrame,
             level: int = DEFAULT_COVER_LEVEL) -> DataFrame:
    """Broadcast cell-cover PIP join. Input must carry lonm/latm.

    Returns one row per (page, containing polygon) — pages outside every
    polygon are dropped (inner join, matching the reference's outline
    semantics where only covered pixels polygonize).
    """
    inside = (
        (F.col("lonm") >= F.col("min_lonm"))
        & (F.col("lonm") < F.col("max_lonm"))
        & (F.col("latm") >= F.col("min_latm"))
        & (F.col("latm") < F.col("max_latm"))
    )
    exact = _cover_join(geocoded, cover, level) \
        .filter(F.coalesce(inside, F.lit(False)))
    return exact.drop("cell_key")


# ---------------------------------------------------------------------------
# general (possibly concave) polygons: ONE exact integer ray-cast rule,
# emitted three ways from the same formula — native SQL CASE (fused fast
# path + DuckDB oracle) and a numpy kernel (large-polygon-set path) — so
# the engines agree bit-for-bit, boundary points included.
#
# Rule (ray to +x): edge (x1,y1)->(x2,y2) crosses iff
#   (y1 <= y) != (y2 <= y)                      [half-open: no double-count]
# and the crossing lies strictly right of the point:
#   t = (x1 - x)*(y2 - y1) + (y - y1)*(x2 - x1)  [= (xcross - x)*(y2 - y1)]
#   count iff t > 0 when y2 > y1 else t < 0      [exact bigint, no division]
# inside = odd crossing count. Reference semantics: gdal.Polygonize /
# ogr geometry containment (/root/reference/export_formats/outlines.py:48-99),
# inverted points->polygons per BASELINE.json north_star.
# ---------------------------------------------------------------------------

def sql_point_in_ring(lonm: str, latm: str,
                      xs: list[int], ys: list[int]) -> str:
    """Boolean SQL expression: point strictly inside the integer-vertex
    ring by the exact ray-cast rule above. Valid in Spark SQL and DuckDB
    (pure bigint arithmetic — the differential-oracle contract)."""
    n = len(xs)
    terms = []
    for i in range(n):
        x1, y1 = int(xs[i]), int(ys[i])
        x2, y2 = int(xs[(i + 1) % n]), int(ys[(i + 1) % n])
        if y1 == y2:
            continue  # horizontal edges never cross the +x ray rule
        t = (f"(({x1} - ({lonm})) * {y2 - y1}"
             f" + (({latm}) - {y1}) * {x2 - x1})")
        op = ">" if y2 > y1 else "<"
        terms.append(
            f"(case when (({y1} <= ({latm})) <> ({y2} <= ({latm})))"
            f" and {t} {op} 0 then 1 else 0 end)")
    if not terms:
        # degenerate ring (every edge horizontal): zero area, nothing is
        # inside — agree with _np_point_in_ring instead of emitting the
        # unparseable '(() % 2 = 1)'
        return "(1 = 0)"
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def _np_point_in_ring(x: np.ndarray, y: np.ndarray,
                      xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized numpy form of sql_point_in_ring — same integer rule."""
    inside = np.zeros(len(x), dtype=bool)
    n = len(xs)
    for i in range(n):
        x1, y1 = int(xs[i]), int(ys[i])
        x2, y2 = int(xs[(i + 1) % n]), int(ys[(i + 1) % n])
        if y1 == y2:
            continue
        cond = (y1 <= y) != (y2 <= y)
        t = (x1 - x) * (y2 - y1) + (y - y1) * (x2 - x1)
        cnt = (t > 0) if y2 > y1 else (t < 0)
        inside ^= cond & cnt
    return inside


def build_cover_table_polys(spark: SparkSession, polygons: list[dict],
                            level: int = DEFAULT_COVER_LEVEL) -> DataFrame:
    """(cell_key, polygon_id, zone) cover rows from general-polygon
    bboxes (driver-side — the polygon side is the broadcast dimension).
    +1 on the max edges: the ray-cast rule can include max-boundary
    points, and the cover must stay a superset of the exact hits."""
    cover = []
    for p in polygons:
        xs, ys = p["xs"], p["ys"]
        zone = p.get("zone", "general")
        for cell in cell_range_for_bbox(min(xs), min(ys),
                                        max(xs) + 1, max(ys) + 1, level):
            cover.append((cell_key_for_quadkey(cell),
                          int(p["polygon_id"]), zone))
    df = spark.createDataFrame(cover, schema=["cell_key", "polygon_id", "zone"])
    return df.select(F.col("cell_key").cast("bigint"),
                     F.col("polygon_id").cast("bigint"), F.col("zone"))


def pip_join_general(geocoded: DataFrame, polygons: list[dict],
                     level: int = DEFAULT_COVER_LEVEL) -> DataFrame:
    """Fused PIP join for arbitrary integer-vertex polygons.

    Same single-shuffle-free shape as ``pip_join``: broadcast cell-cover
    equi-join prefilter, then the exact ray-cast as a native CASE
    predicate dispatched on polygon_id — all whole-stage codegen, no
    Python. Generated code grows with the layer's total vertex count:
    past a few thousand vertices janino falls back to interpreted code,
    so use ``pip_join_raycast`` (same rule, Arrow kernel) for large
    layers."""
    spark = geocoded.sparkSession
    cover = build_cover_table_polys(spark, polygons, level)
    joined = _cover_join(geocoded, cover, level)
    whens = " ".join(
        f"when {int(p['polygon_id'])} then"
        f" {sql_point_in_ring('lonm', 'latm', p['xs'], p['ys'])}"
        for p in polygons)
    exact = joined.filter(
        F.expr(f"case polygon_id {whens} else false end"))
    return exact.drop("cell_key")


def pip_join_raycast(geocoded: DataFrame, polygons: list[dict],
                     level: int = DEFAULT_COVER_LEVEL) -> DataFrame:
    """PIP join for large sets of arbitrary polygons: the SAME cell-cover
    broadcast prefilter as the fused path, then the exact integer
    ray-cast as an Arrow ``mapInPandas`` kernel over (page, candidate
    polygon) rows only — never the full pages x polygons product.
    Vectorized across the candidate rows of each polygon per batch; no
    per-row Python (input_hint mandate). Differential-tested equal to
    ``pip_join_general`` (same rule).
    """
    spark = geocoded.sparkSession
    cover = build_cover_table_polys(spark, polygons, level)
    poly_data = {
        int(p["polygon_id"]): (np.asarray(p["xs"], dtype=np.int64),
                               np.asarray(p["ys"], dtype=np.int64))
        for p in polygons
    }
    cand = _cover_join(geocoded.select("url", "lonm", "latm"), cover, level) \
        .select("url", "lonm", "latm", "polygon_id")

    out_schema = "url string, polygon_id bigint"

    def verify(batches):
        for pdf in batches:
            x = pdf["lonm"].to_numpy(np.int64)
            y = pdf["latm"].to_numpy(np.int64)
            pids = pdf["polygon_id"].to_numpy(np.int64)
            urls = pdf["url"].to_numpy(object)
            keep = np.zeros(len(x), dtype=bool)
            for pid in np.unique(pids):
                xs, ys = poly_data[int(pid)]
                m = pids == pid
                keep[m] = _np_point_in_ring(x[m], y[m], xs, ys)
            yield pd.DataFrame({
                "url": urls[keep],
                "polygon_id": pd.Series(pids[keep], dtype="int64"),
            })

    return cand.mapInPandas(verify, schema=out_schema)

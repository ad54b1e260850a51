"""Outline chain (SURVEY.md A5/A6, M4): cell-set -> polygon -> GeoJSON.

The reference polygonizes the raster mask into outline features
(``/root/reference/export_formats/outlines.py:39-99``: Polygonize ->
area filter >10 m² (params.py:50) -> collect into MultiPolygon ->
Buffer(0)/MakeValid -> Simplify(1) -> GeoJSON with
gsd/registroid/map_id/date fields, outlines.py:104-128).

Engine form over pages: per group (map_id analog), the set of occupied
level-p cells is the "mask"; connected components + exact boundary
tracing (outer ring AND interior hole rings — gdal.Polygonize emits
both) run in grouped-map ``applyInPandas`` kernels — pure numpy/python
sets, no GDAL/shapely.

Two physical plans over identical semantics:

- ``cell_outlines_grouped``: one task per group — the whole group's
  cell set polygonizes in one kernel. Exact, but parallelism is bounded
  by the number of groups (the single-threaded tail at scale).
- ``cell_outlines`` (default): SURVEY §7 hard-part (a) — cells are
  partitioned into coarse tiles, each tile polygonizes locally in
  parallel, tile-crossing components are merged by
  ``graph.connected_components`` on the tiny border-adjacency graph
  (nodes = local components, edges = occupied cell pairs straddling a
  tile edge; driver union-find below its collect limit, in-Spark label
  propagation above it), then each GLOBAL component traces its rings
  in its own task. Parallelism = number of tiles for the local pass
  and number of components for the trace pass — both >> number of
  groups. Differential-tested identical to the grouped plan.

The shuffles carry only (group, cell) pairs — cells are pre-dedup'd, so
every stage is bounded by the number of distinct occupied cells, not
pages (the same reduction the reference gets by polygonizing the 20 m
downsample, process.py:172-182).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geotiff_processor_spark.operators import graph

OUTLINE_SCHEMA = ("grp string, component_id bigint, n_cells bigint,"
                  " ring_geojson string,"
                  " min_x bigint, min_y bigint, max_x bigint, max_y bigint")
OUTLINE_COLS = ["grp", "component_id", "n_cells", "ring_geojson",
                "min_x", "min_y", "max_x", "max_y"]


def _connected_components(
        cells: np.ndarray) -> dict[tuple[int, int], tuple[int, int]]:
    """4-neighbor components of (x, y) integer cells: {cell: root}, the
    root being the component's smallest cell (graph.union_find)."""
    cellset = {(int(x), int(y)) for x, y in cells}
    return graph.union_find(
        (((x, y), nb) for (x, y) in cellset
         for nb in ((x + 1, y), (x, y + 1)) if nb in cellset),
        cellset)


def _boundary_rings(comp: set[tuple[int, int]]) -> list[list[tuple[int, int]]]:
    """ALL boundary rings of a 4-connected cell set as closed
    lattice-vertex rings: the outer ring plus one ring per enclosed hole
    (gdal.Polygonize interior-ring semantics, outlines.py:48).

    Edge-following with used-edge marking, interior kept on the left; at
    pinch vertices (diagonal self-touch) the sharpest left turn is
    taken, mirroring how the reference repairs self-touching rings with
    Buffer(0)/MakeValid (outlines.py:86-89). Each ring starts at its
    lexicographically smallest unused vertex => deterministic output.
    """
    # boundary edges as directed segments keeping interior on the left
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}
    unused: set[tuple[tuple[int, int], tuple[int, int]]] = set()
    for (x, y) in comp:
        segs = []
        if (x, y - 1) not in comp:  # bottom edge, left->right
            segs.append(((x, y), (x + 1, y)))
        if (x + 1, y) not in comp:  # right edge, bottom->top
            segs.append(((x + 1, y), (x + 1, y + 1)))
        if (x, y + 1) not in comp:  # top edge, right->left
            segs.append(((x + 1, y + 1), (x, y + 1)))
        if (x - 1, y) not in comp:  # left edge, top->bottom
            segs.append(((x, y + 1), (x, y)))
        for a, b in segs:
            edges.setdefault(a, []).append(b)
            unused.add((a, b))

    def turn_rank(din, dout):
        # smaller = sharper left turn (cross product descending)
        return -(din[0] * dout[1] - din[1] * dout[0])

    rings = []
    while unused:
        start = min(a for a, _ in unused)
        ring = [start]
        cur = start
        din = (0, 1)  # arbitrary initial heading; start vertex is convex
        while True:
            outs = [b for b in edges.get(cur, ())
                    if (cur, b) in unused]
            if not outs:
                break
            nxt = min(
                outs,
                key=lambda b: turn_rank(din, (b[0] - cur[0], b[1] - cur[1])))
            unused.discard((cur, nxt))
            ring.append(nxt)
            din = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
            if cur == start:
                break
        rings.append(ring)
    return rings


def _simplify_rectilinear(ring: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Drop collinear vertices (exact simplification for axis-aligned
    rings — Simplify(1) analog, outlines.py:135-136)."""
    if len(ring) < 4:
        return ring
    pts = ring[:-1]
    out = []
    n = len(pts)
    for i in range(n):
        a, b, c = pts[i - 1], pts[i], pts[(i + 1) % n]
        if (a[0] == b[0] == c[0]) or (a[1] == b[1] == c[1]):
            continue
        out.append(b)
    out.append(out[0])
    return out


def _shoelace2(ring: list[tuple[int, int]]) -> int:
    """Twice the signed shoelace area of a closed ring (exact int)."""
    s = 0
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        s += x1 * y2 - x2 * y1
    return s


def _component_geojson(comp: set[tuple[int, int]]) -> str:
    """GeoJSON Polygon text for one component: outer ring first, then
    interior hole rings (largest-|area| ring is the outer; holes ordered
    by their smallest vertex => deterministic)."""
    rings = [_simplify_rectilinear(r) for r in _boundary_rings(comp)]
    rings.sort(key=lambda r: (-abs(_shoelace2(r)), min(r)))
    return json.dumps({
        "type": "Polygon",
        "coordinates": [[list(p) for p in r] for r in rings],
    }, separators=(",", ":"))


def _component_rows(grp: str, comps: list[set], min_cells: int,
                    numbered: bool = True) -> list[tuple]:
    rows = []
    # minimum_area filter (params.py:50) BEFORE enumeration: surviving
    # components get dense ids, matching the tiled plan's row_number()
    # over surviving traces (skipped components must not consume ids)
    ordered = sorted((c for c in comps if len(c) >= min_cells),
                     key=lambda s: min(s))
    for cid, comp in enumerate(ordered):
        xs = [c[0] for c in comp]
        ys = [c[1] for c in comp]
        rows.append((grp, cid if numbered else -1, len(comp),
                     _component_geojson(comp),
                     min(xs), min(ys), max(xs) + 1, max(ys) + 1))
    return rows


def occupied_cells(geocoded: DataFrame, group_col: str = "lang",
                   level: int = 6) -> DataFrame:
    """Distinct occupied level-`level` grid cells per group — the "mask".
    Shuffle bounded by occupied cells, not pages."""
    n = 1 << level
    return (
        geocoded.select(
            F.col(group_col).alias("grp"),
            F.expr(
                f"cast(floor(least(greatest(lonm + 180000, 0), 359999)"
                f" * {n} / 360000) as bigint)").alias("cx"),
            F.expr(
                f"cast(floor(least(greatest(90000 - latm, 0), 179999)"
                f" * {n} / 180000) as bigint)").alias("cy"),
        )
        .distinct()
    )


def cell_outlines_grouped(geocoded: DataFrame, group_col: str = "lang",
                          level: int = 6, min_cells: int = 1) -> DataFrame:
    """One-task-per-group polygonize (exact; reference plan for the
    tiled path's differential test)."""
    cells = occupied_cells(geocoded, group_col, level)

    def polygonize(key, pdf: pd.DataFrame) -> pd.DataFrame:
        grp = key[0]
        arr = pdf[["cx", "cy"]].to_numpy(np.int64)
        roots = _connected_components(arr)
        comps: dict[tuple[int, int], set] = {}
        for cell, root in roots.items():
            comps.setdefault(root, set()).add(cell)
        return pd.DataFrame(
            _component_rows(grp, list(comps.values()), min_cells),
            columns=OUTLINE_COLS)

    return cells.groupBy("grp").applyInPandas(
        polygonize, schema=OUTLINE_SCHEMA)


def _sql_pack_node(tx: str, ty: str, lid: str) -> str:
    """Pack a per-group local-component node (tx, ty, lid) into one
    bigint — tx/ty/lid are all < 2^20 by far (tile counts per axis =
    2^level / 2^tile_shift, lid < tile_size^2); same layout as the
    isolated-component fallback gid in cell_outlines."""
    return f"({tx} * {1 << 40} + {ty} * {1 << 20} + {lid})"


def _border_gids(edges: DataFrame, collect_limit: int) -> DataFrame:
    """(grp, tx, ty, lid, gid) for every local component on a border
    edge: graph.connected_components over the packed-node edge list.
    gid = the component's minimum packed node — unique per grp and
    non-negative, so no global row_number window is needed (stage B
    renumbers per group) and the scale path keeps zero single-task
    stages."""
    cc = graph.connected_components(
        edges.select("grp",
                     F.expr(_sql_pack_node("atx", "aty", "alid")).alias("src"),
                     F.expr(_sql_pack_node("btx", "bty", "blid")).alias("dst")),
        keys=["grp"], collect_limit=collect_limit)
    n20 = 1 << 20
    return cc.select(
        "grp",
        F.expr(f"cast(floor(node / {1 << 40}) as bigint)").alias("tx"),
        F.expr(f"cast(floor(node / {n20}) % {n20} as bigint)").alias("ty"),
        F.expr(f"cast(node % {n20} as bigint)").alias("lid"),
        F.col("component").alias("gid"))


def cell_outlines(geocoded: DataFrame, group_col: str = "lang",
                  level: int = 6, min_cells: int = 1,
                  tile_shift: int = 3,
                  merge_collect_limit: int = 200_000) -> DataFrame:
    """Tile-partitioned polygonize with cross-tile boundary merge.

    Stage A: per (group, 2^tile_shift-sized coarse tile) local
    union-find — parallelism = occupied tiles. Stage M:
    ``graph.connected_components`` over the border-adjacency graph of
    LOCAL components (nodes = local component labels, edges = occupied
    4-neighbor cell pairs straddling a tile edge) — this graph is tiny
    (border cells only), merged by a driver union-find while it has at
    most ``merge_collect_limit`` edges, else fully in Spark by label
    propagation with pointer jumping — the graph never has to fit the
    driver. This is exactly the SURVEY §7 iterative boundary-merge
    hard part. Stage B: each GLOBAL component traces its
    rings in its own task — parallelism = number of components.
    Component ids are renumbered by smallest cell per group, matching
    ``cell_outlines_grouped`` bit-for-bit.
    """
    ts = 1 << tile_shift
    cells = occupied_cells(geocoded, group_col, level).withColumn(
        "tx", F.expr(f"cast(floor(cx / {ts}) as bigint)")
    ).withColumn("ty", F.expr(f"cast(floor(cy / {ts}) as bigint)"))

    # --- stage A: local components per (grp, tile) -----------------------
    a_schema = ("grp string, tx bigint, ty bigint, lid bigint,"
                " cx bigint, cy bigint")

    def local_cc(key, pdf: pd.DataFrame) -> pd.DataFrame:
        grp, tx, ty = key
        arr = pdf[["cx", "cy"]].to_numpy(np.int64)
        roots = _connected_components(arr)
        # stable local ids: rank of each root (its smallest cell)
        members: dict[tuple[int, int], list] = {}
        for cell, root in roots.items():
            members.setdefault(root, []).append(cell)
        lid_of = {root: i for i, root in enumerate(sorted(members))}
        rows = [(grp, tx, ty, lid_of[root], c[0], c[1])
                for root, cs in members.items() for c in cs]
        return pd.DataFrame(rows, columns=["grp", "tx", "ty", "lid",
                                           "cx", "cy"])

    labeled = cells.groupBy("grp", "tx", "ty").applyInPandas(
        local_cc, schema=a_schema)
    labeled = labeled.persist()

    # --- stage M: merge local components across tile edges ---------------
    # border cells only: a cell on a tile's max edge joined to its
    # +1-neighbor in the adjacent tile (same 4-connectivity rule)
    right = labeled.filter((F.col("cx") % ts) == ts - 1).select(
        "grp", F.col("tx").alias("atx"), F.col("ty").alias("aty"),
        F.col("lid").alias("alid"),
        (F.col("cx") + 1).alias("jx"), F.col("cy").alias("jy"))
    down = labeled.filter((F.col("cy") % ts) == ts - 1).select(
        "grp", F.col("tx").alias("atx"), F.col("ty").alias("aty"),
        F.col("lid").alias("alid"),
        F.col("cx").alias("jx"), (F.col("cy") + 1).alias("jy"))
    probes = right.unionByName(down)
    hits = probes.join(
        labeled.select("grp", F.col("cx").alias("jx"),
                       F.col("cy").alias("jy"),
                       F.col("tx").alias("btx"), F.col("ty").alias("bty"),
                       F.col("lid").alias("blid")),
        ["grp", "jx", "jy"])
    edges = hits.select(
        "grp", "atx", "aty", "alid", "btx", "bty", "blid").distinct()

    # the border graph is normally tiny, but it grows with total tile
    # perimeter: past merge_collect_limit edges the helper merges it in
    # Spark, and its mapping is then joined by size, not broadcast
    mapped = labeled.join(_border_gids(edges, merge_collect_limit),
                          ["grp", "tx", "ty", "lid"], "left")
    # isolated local components: unique packed gid, disjoint from the
    # non-negative border gids
    merged = mapped.select(
        "grp",
        F.coalesce(
            F.col("gid").cast("bigint"),
            -(F.col("tx") * F.lit(1 << 40) + F.col("ty") * F.lit(1 << 20)
              + F.col("lid") + F.lit(1)).cast("bigint"),
        ).alias("gid"),
        "cx", "cy")

    # --- stage B: ring trace per GLOBAL component -------------------------
    b_schema = ("grp string, n_cells bigint, ring_geojson string,"
                " min_x bigint, min_y bigint, max_x bigint, max_y bigint,"
                " mcx bigint, mcy bigint")

    def trace(key, pdf: pd.DataFrame) -> pd.DataFrame:
        grp = key[0]
        comp = {(int(x), int(y))
                for x, y in pdf[["cx", "cy"]].to_numpy(np.int64)}
        if len(comp) < min_cells:
            return pd.DataFrame(columns=[
                "grp", "n_cells", "ring_geojson",
                "min_x", "min_y", "max_x", "max_y", "mcx", "mcy"])
        xs = [c[0] for c in comp]
        ys = [c[1] for c in comp]
        mcx, mcy = min(comp)
        return pd.DataFrame([(grp, len(comp), _component_geojson(comp),
                              min(xs), min(ys), max(xs) + 1, max(ys) + 1,
                              mcx, mcy)],
                            columns=["grp", "n_cells", "ring_geojson",
                                     "min_x", "min_y", "max_x", "max_y",
                                     "mcx", "mcy"])

    traced = merged.groupBy("grp", "gid").applyInPandas(
        trace, schema=b_schema)
    w = Window.partitionBy("grp").orderBy("mcx", "mcy")
    out = (
        traced.withColumn(
            "component_id", (F.row_number().over(w) - 1).cast("bigint"))
        .select(*OUTLINE_COLS)
    )
    # NOTE: `labeled` stays cached until the session drops it (LRU) — an
    # eager unpersist here would evict the stage-A result before the
    # returned (lazy) DataFrame ever materializes, forcing a recompute.
    return out


def outline_features(outlines: DataFrame, gsd: float = 0.2,
                     date: str | None = None) -> DataFrame:
    """Complete GeoJSON Feature rows mirroring the reference's feature
    assembly (outlines.py:104-128: geometry + gsd/registroid/map_id/date
    properties in ONE json document per feature)."""
    props = F.struct(
        F.col("grp").alias("map_id"),
        F.col("component_id").alias("registroid"),
        F.lit(gsd).alias("gsd"),
        F.lit(date).alias("date"),
        F.col("n_cells").alias("n_cells"),
    )
    return outlines.select(
        "grp",
        F.concat(
            F.lit('{"type":"Feature","properties":'),
            F.to_json(props),
            F.lit(',"geometry":'),
            F.col("ring_geojson"),
            F.lit("}"),
        ).alias("feature_json"),
        "component_id",
    )


def feature_collections(outlines: DataFrame, gsd: float = 0.2,
                        date: str | None = None) -> DataFrame:
    """One GeoJSON FeatureCollection document per group (the reference
    writes one outline GeoJSON file per processed map,
    outlines.py:104-128). Features ordered by component_id."""
    feats = outline_features(outlines, gsd=gsd, date=date)
    return (
        feats.groupBy("grp")
        .agg(F.array_sort(
            F.collect_list(F.struct("component_id", "feature_json"))
        ).alias("fl"))
        .select(
            "grp",
            F.concat(
                F.lit('{"type":"FeatureCollection","features":['),
                F.array_join(F.transform(
                    F.col("fl"), lambda s: s["feature_json"]), ","),
                F.lit("]}"),
            ).alias("feature_collection"),
        )
    )


def multipolygon_features(outlines: DataFrame, gsd: float = 0.2,
                          date: str | None = None) -> DataFrame:
    """Reference-exact outline document: merge each group's surviving
    components into ONE MultiPolygon and emit ONE Feature per group —
    the reference collects every polygonized geometry into a single
    ogr MultiPolygon, repairs and simplifies the *merged* geometry, and
    writes one feature per processed map
    (``/root/reference/export_formats/outlines.py:79-99,104-128``).

    Here each component's rings are already exactly simplified
    (rectilinear collinear-vertex drop == Simplify on axis-aligned
    rings) and mutually disjoint by construction (disjoint cell sets),
    so the merged MultiPolygon is valid without a Buffer(0) repair —
    the repair step the reference needs exists because ogr unions can
    self-touch; the union of disjoint valid polygons cannot.

    Output: (grp, n_components, n_cells_total, feature_json) with
    polygons ordered by component_id. The counts are oracle-checkable
    (recursive-CTE connected components); the document is golden-pinned.
    """
    polys = outlines.select(
        "grp", "component_id", "n_cells",
        F.get_json_object("ring_geojson", "$.coordinates").alias("coords"))
    agg = polys.groupBy("grp").agg(
        F.array_sort(
            F.collect_list(F.struct("component_id", "coords"))).alias("cl"),
        F.count(F.lit(1)).alias("n_components"),
        F.sum("n_cells").alias("n_cells_total"),
    )
    props = F.struct(
        F.col("grp").alias("map_id"),
        F.lit(gsd).alias("gsd"),
        F.lit(date).alias("date"),
        F.col("n_components").alias("n_components"),
        F.col("n_cells_total").alias("n_cells_total"),
    )
    return agg.select(
        "grp",
        F.col("n_components").cast("bigint").alias("n_components"),
        F.col("n_cells_total").cast("bigint").alias("n_cells_total"),
        F.concat(
            F.lit('{"type":"Feature","properties":'),
            F.to_json(props),
            F.lit(',"geometry":{"type":"MultiPolygon","coordinates":['),
            F.array_join(F.transform(F.col("cl"), lambda s: s["coords"]),
                         ","),
            F.lit("]}}"),
        ).alias("feature_json"),
    )

"""Outline polygonize: components, boundary rings, shoelace invariant."""

import json

import numpy as np
from pyspark.sql import functions as F

from geotiff_processor_spark.operators import outline
from geotiff_processor_spark.sources import synth


def _shoelace(ring):
    s = 0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        s += x1 * y2 - x2 * y1
    return s / 2.0


def test_components_split():
    cells = np.array([[0, 0], [1, 0], [5, 5]])
    roots = outline._connected_components(cells)
    assert roots[(0, 0)] == roots[(1, 0)]
    assert roots[(0, 0)] != roots[(5, 5)]


def test_ring_area_equals_cells_lshape():
    comp = {(0, 0), (1, 0), (1, 1)}
    (ring,) = outline._boundary_rings(comp)
    assert ring[0] == ring[-1]
    assert abs(_shoelace(ring)) == len(comp)
    simp = outline._simplify_rectilinear(ring)
    assert abs(_shoelace(simp)) == len(comp)
    assert len(simp) <= len(ring)


def test_ring_terminates_on_diagonal_pinch():
    # (0,0) and (1,1) touch diagonally but are 4-connected via a path
    comp = {(0, 0), (0, 1), (1, 1), (0, -1), (1, -1), (2, -1), (2, 0),
            (2, 1)}
    rings = outline._boundary_rings(comp)
    assert all(r[0] == r[-1] for r in rings)
    assert sum(len(r) for r in rings) < 100  # terminated


def test_donut_emits_outer_and_hole_rings():
    """gdal.Polygonize semantics (outlines.py:48): a mask with a nodata
    hole polygonizes to outer ring + interior ring."""
    import json as _json
    comp = {(x, y) for x in range(3) for y in range(3)} - {(1, 1)}
    gj = _json.loads(outline._component_geojson(comp))
    rings = [[tuple(p) for p in r] for r in gj["coordinates"]]
    assert len(rings) == 2
    outer, hole = rings
    assert abs(_shoelace(outer)) == 9
    assert sorted(outer[:-1]) == [(0, 0), (0, 3), (3, 0), (3, 3)]
    assert abs(_shoelace(hole)) == 1
    assert sorted(hole[:-1]) == [(1, 1), (1, 2), (2, 1), (2, 2)]
    # opposite winding: hole interior is on the polygon's outside
    assert _shoelace(outer) * _shoelace(hole) < 0


def test_tiled_matches_grouped_differential(spark, sf_dir):
    """The tile-partitioned + boundary-merge plan must reproduce the
    one-task-per-group plan bit-for-bit (ids, rings, bboxes)."""
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    tiled = outline.cell_outlines(g, group_col="lang", level=6,
                                  tile_shift=3)
    grouped = outline.cell_outlines_grouped(g, group_col="lang", level=6)
    assert tiled.exceptAll(grouped).count() == 0
    assert grouped.exceptAll(tiled).count() == 0
    # and the tiled plan genuinely has more work units than groups
    cells = outline.occupied_cells(g, "lang", 6)
    n_groups = cells.select("grp").distinct().count()
    n_tiles = cells.select(
        "grp", F.expr("cast(floor(cx / 8) as bigint)").alias("tx"),
        F.expr("cast(floor(cy / 8) as bigint)").alias("ty"),
    ).distinct().count()
    n_components = tiled.count()
    assert n_tiles > n_groups
    assert n_components > n_groups


def test_tiled_merges_component_straddling_tiles(spark):
    """A single 4-connected bar crossing three 8-cell tiles must come
    out as ONE component with the exact full-bar ring."""
    rows = [(f"u{x}", -180000 + int((x + 0.5) * 360000 / 64), 89000)
            for x in range(4, 20)]  # cells cx=4..19 at cy=0: tiles 0,1,2
    df = spark.createDataFrame(rows, ["url", "lonm", "latm"]).select(
        "url", F.col("lonm").cast("bigint"), F.col("latm").cast("bigint"))
    out = outline.cell_outlines(df, group_col="url", level=6, tile_shift=3)
    # group_col=url makes 16 groups of 1 cell; regroup under a constant
    df2 = df.withColumn("g", F.lit("all"))
    out = outline.cell_outlines(df2, group_col="g", level=6, tile_shift=3)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["n_cells"] == 16
    assert rows[0]["min_x"] == 4 and rows[0]["max_x"] == 20


def test_feature_collection_assembly(spark, sf_dir):
    """outlines.py:104-128 parity: one FeatureCollection per group,
    features carry geometry + map_id/registroid/gsd/date properties."""
    import json as _json
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    o = outline.cell_outlines(g, group_col="lang", level=6)
    fc = outline.feature_collections(o, gsd=0.2, date="2026-08-16")
    rows = {r["grp"]: r["feature_collection"] for r in fc.collect()}
    assert set(rows) == {"en", "es", "fr", "pt"}
    doc = _json.loads(rows["en"])
    assert doc["type"] == "FeatureCollection"
    n_en = o.filter(F.col("grp") == "en").count()
    assert len(doc["features"]) == n_en
    f0 = doc["features"][0]
    assert f0["properties"]["map_id"] == "en"
    assert f0["properties"]["gsd"] == 0.2
    assert f0["properties"]["date"] == "2026-08-16"
    assert f0["properties"]["registroid"] == 0
    assert f0["geometry"]["type"] == "Polygon"
    # features ordered by component_id
    ids = [f["properties"]["registroid"] for f in doc["features"]]
    assert ids == sorted(ids)


def test_cell_outlines_pipeline(spark, sf_dir):
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    out = outline.cell_outlines(g, group_col="lang", level=6)
    rows = out.collect()
    assert len(rows) > 0
    # per group, total cells across components == distinct occupied cells
    per_grp = {}
    for r in rows:
        per_grp[r["grp"]] = per_grp.get(r["grp"], 0) + r["n_cells"]
        gj = json.loads(r["ring_geojson"])
        assert gj["type"] == "Polygon"
        ring = [tuple(p) for p in gj["coordinates"][0]]
        assert ring[0] == ring[-1]
    n = 1 << 6
    expected = (
        g.select(
            F.col("lang"),
            F.expr(f"cast(floor(least(greatest(lonm + 180000, 0), 359999)"
                   f" * {n} / 360000) as bigint)").alias("cx"),
            F.expr(f"cast(floor(least(greatest(90000 - latm, 0), 179999)"
                   f" * {n} / 180000) as bigint)").alias("cy"),
        ).distinct().groupBy("lang").count().collect())
    for r in expected:
        assert per_grp[r["lang"]] == r["count"]


def test_min_cells_filter(spark, sf_dir):
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    big = outline.cell_outlines(g, group_col="lang", level=6, min_cells=3)
    assert big.filter(F.col("n_cells") < 3).count() == 0


def test_tiled_matches_grouped_with_min_cells(spark, sf_dir):
    """min_cells > 1 numbering contract: both plans must assign DENSE
    component ids to the surviving components (skipped small components
    must not consume ids in either plan)."""
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    for mc in (2, 4):
        tiled = outline.cell_outlines(g, group_col="lang", level=6,
                                      min_cells=mc)
        grouped = outline.cell_outlines_grouped(g, group_col="lang",
                                                level=6, min_cells=mc)
        assert tiled.exceptAll(grouped).count() == 0, mc
        assert grouped.exceptAll(tiled).count() == 0, mc
    # ids are dense 0..n-1 per group
    rows = tiled.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.min("component_id").alias("mn"),
        F.max("component_id").alias("mx")).collect()
    for r in rows:
        assert r["mn"] == 0 and r["mx"] == r["n"] - 1, r


def test_spark_merge_fallback_matches_driver_merge(spark, sf_dir):
    """merge_collect_limit=0 forces the in-Spark label-propagation merge;
    it must reproduce the driver union-find plan bit-for-bit."""
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    fallback = outline.cell_outlines(g, group_col="lang", level=6,
                                     tile_shift=3, merge_collect_limit=0)
    driver = outline.cell_outlines(g, group_col="lang", level=6,
                                   tile_shift=3)
    assert fallback.exceptAll(driver).count() == 0
    assert driver.exceptAll(fallback).count() == 0


def _geo_from_cells(spark, cells, level):
    """Rows whose (lonm, latm) land exactly in the given (cx, cy) cells."""
    n = 1 << level
    rows = [("g",
             (cx * 360000 + n - 1) // n - 180000,
             90000 - ((cy * 180000 + n - 1) // n))
            for cx, cy in cells]
    return spark.createDataFrame(rows, "lang string, lonm bigint, latm bigint")


def test_spark_merge_adversarial_border_graph(spark):
    """Adversarial fallback load: a 512-cell strip chained across 64
    tiles (deep representative tree - exercises pointer jumping) plus
    20k independent 2-cell components straddling vertical tile borders.
    The driver never materializes this edge graph; component count and
    sizes must still be exact."""
    level, ts = 10, 8  # 1024x1024 grid, 8-cell tiles
    cells = [(x, 0) for x in range(512)]  # one strip across 64 tiles
    # 20k straddling pairs: cells (8k+7, y), (8k+8, y), y >= 2 (gap from
    # the strip), k staggered so pairs never touch each other
    pairs = 0
    y = 2
    while pairs < 20000:
        for k in range(0, 127, 2):
            cells.append((8 * k + 7, y))
            cells.append((8 * k + 8, y))
            pairs += 1
            if pairs >= 20000:
                break
        y += 2
    g = _geo_from_cells(spark, cells, level)
    out = outline.cell_outlines(g, group_col="lang", level=level,
                                tile_shift=3, merge_collect_limit=0)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("n_cells").alias("mx"),
        F.sum("n_cells").alias("s")).collect()[0]
    assert agg["n"] == 1 + 20000
    assert agg["mx"] == 512
    assert agg["s"] == 512 + 2 * 20000


def test_spark_merge_plan_has_no_global_window(spark):
    """The scale-path merge exists precisely for graphs too big for one
    node, so its plan must contain NO window function at all (a
    row_number over an unpartitioned window would funnel every
    component label through a single task)."""
    edges = spark.createDataFrame(
        [("g", 0, 0, 1, 1, 0, 0), ("g", 1, 0, 0, 2, 0, 3)],
        "grp string, atx bigint, aty bigint, alid bigint,"
        " btx bigint, bty bigint, blid bigint")
    mapping = outline._border_gids(edges, collect_limit=0)
    plan = mapping._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # gids stay unique per grp and non-negative (isolated-component
    # fallback ids are negative, so the id spaces must not collide)
    rows = mapping.collect()
    assert all(r["gid"] >= 0 for r in rows)
    assert len({(r["grp"], r["tx"], r["ty"], r["lid"]) for r in rows}) \
        == len(rows)

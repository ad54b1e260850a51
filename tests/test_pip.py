"""PIP join: cell-cover prefilter exactness, ray-cast path, membership."""

from pyspark.sql import functions as F

from geotiff_processor_spark.operators import pip
from geotiff_processor_spark.sources import synth


def _geocoded(spark, sf_dir):
    return synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))


def _brute_force(spark, g):
    polys = synth.build_polygons(spark)
    return g.crossJoin(F.broadcast(polys)).filter(
        (F.col("lonm") >= F.col("min_lonm"))
        & (F.col("lonm") < F.col("max_lonm"))
        & (F.col("latm") >= F.col("min_latm"))
        & (F.col("latm") < F.col("max_latm"))
    ).select("url", "polygon_id")


def test_pip_equals_brute_force(spark, sf_dir):
    g = _geocoded(spark, sf_dir)
    fast = pip.pip_join(g, pip.build_cover_table(spark)) \
        .select("url", "polygon_id")
    brute = _brute_force(spark, g)
    assert fast.exceptAll(brute).count() == 0
    assert brute.exceptAll(fast).count() == 0


def test_every_uniform_page_in_exactly_one_grid_box(spark, sf_dir):
    g = _geocoded(spark, sf_dir)
    asg = pip.pip_join(g, pip.build_cover_table(spark))
    per_page = asg.filter(F.col("zone") == "grid") \
        .groupBy("url").agg(F.count(F.lit(1)).alias("n"))
    assert per_page.filter(F.col("n") != 1).count() == 0
    # hot pages additionally hit a hot polygon
    n_hot = asg.filter(F.col("zone") == "hot").count()
    assert n_hot > 0


def test_raycast_matches_box_join_on_hot_polygons(spark, sf_dir):
    g = _geocoded(spark, sf_dir)
    hot_rows = [r for r in synth.polygon_rows() if r[1] == "hot"]
    polys = [
        {"polygon_id": pid, "xs": [a, c, c, a], "ys": [b, b, d, d]}
        for pid, zone, a, b, c, d in hot_rows
    ]
    rc = pip.pip_join_raycast(g, polys).select("url", "polygon_id")
    brute = _brute_force(spark, g).filter(F.col("polygon_id") >= 64)
    assert rc.exceptAll(brute).count() == 0
    assert brute.exceptAll(rc).count() == 0


def test_pip_plan_is_broadcast(spark, sf_dir):
    g = _geocoded(spark, sf_dir)
    fast = pip.pip_join(g, pip.build_cover_table(spark))
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_general_pip_fused_plan_no_pages_shuffle(spark, sf_dir):
    """pip_join_general: broadcast join + native predicate — no shuffle
    of the pages side, no Python eval node, whole-stage codegen."""
    g = _geocoded(spark, sf_dir)
    out = pip.pip_join_general(g, synth.general_polygon_rows())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only Exchange allowed is the broadcast of the tiny cover table
    import re
    exchanges = re.findall(r"(\w*Exchange\w*)", plan)
    assert all("Broadcast" in e for e in exchanges), exchanges
    assert "MapInPandas" not in plan and "ArrowEval" not in plan


def test_general_pip_raycast_matches_fused(spark, sf_dir):
    """The Arrow-kernel path and the native fused path implement the
    SAME integer ray-cast rule — outputs must be identical."""
    g = _geocoded(spark, sf_dir)
    polys = synth.general_polygon_rows()
    fused = pip.pip_join_general(g, polys).select("url", "polygon_id")
    arrow = pip.pip_join_raycast(g, polys).select("url", "polygon_id")
    assert fused.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(fused).count() == 0


def test_concave_polygon_notch_excluded(spark):
    """Hand-checked concavity: points in the arrow's notch are outside,
    points in its body inside — both paths agree with geometry."""
    arrow = [p for p in synth.general_polygon_rows()
             if p["zone"] == "arrow"]
    # (70000, 0) sits in the notch (outside); (30000, 0) in the body
    rows = [("in_body", 30000, 0), ("in_notch", 70000, 0),
            ("outside", 150000, 0), ("near_top", 30000, 29000)]
    df = spark.createDataFrame(rows, ["url", "lonm", "latm"]).select(
        "url", F.col("lonm").cast("bigint"), F.col("latm").cast("bigint"))
    got = {r["url"] for r in pip.pip_join_general(df, arrow).collect()}
    assert got == {"in_body", "near_top"}
    got_rc = {r["url"] for r in pip.pip_join_raycast(df, arrow).collect()}
    assert got_rc == {"in_body", "near_top"}


def test_hot_triangle_catches_hot_pages(spark, sf_dir):
    """The Paris hot triangle must match some skewed hot-city pages
    (cover prefilter works at hot-cell density)."""
    g = _geocoded(spark, sf_dir)
    out = pip.pip_join_general(g, synth.general_polygon_rows())
    assert out.filter(F.col("zone") == "hot_tri").count() > 0


def test_raycast_sql_vs_numpy_fuzz():
    """Property test: the SQL text sql_point_in_ring emits and the numpy
    kernel must agree on random simple (star-shaped, possibly concave)
    integer polygons and random probe points — evaluated in DuckDB vs
    numpy, no Spark needed. Guards the one-formula-three-ways contract."""
    import math

    import duckdb
    import numpy as np

    rng = np.random.default_rng(7)
    for trial in range(25):
        # star-shaped simple polygon: sorted angles, random radii
        n_v = int(rng.integers(3, 9))
        angles = np.sort(rng.uniform(0, 2 * math.pi, n_v))
        radii = rng.integers(500, 20000, n_v)
        cx, cy = int(rng.integers(-50000, 50000)), int(rng.integers(-30000, 30000))
        xs = [int(cx + r * math.cos(a)) for r, a in zip(radii, angles)]
        ys = [int(cy + r * math.sin(a)) for r, a in zip(radii, angles)]
        from geotiff_processor_spark.operators.pip import (
            _np_point_in_ring,
            sql_point_in_ring,
        )
        px = rng.integers(min(xs) - 1000, max(xs) + 1000, 200).astype(np.int64)
        py = rng.integers(min(ys) - 1000, max(ys) + 1000, 200).astype(np.int64)
        got_np = _np_point_in_ring(px, py,
                                   np.array(xs, dtype=np.int64),
                                   np.array(ys, dtype=np.int64))
        con = duckdb.connect()
        con.execute("CREATE TABLE pts(lonm BIGINT, latm BIGINT)")
        con.executemany("INSERT INTO pts VALUES (?, ?)",
                        [(int(a), int(b)) for a, b in zip(px, py)])
        expr = sql_point_in_ring("lonm", "latm", xs, ys)
        got_sql = [bool(r[0]) for r in con.execute(
            f"SELECT {expr} FROM pts").fetchall()]
        assert got_sql == got_np.tolist(), (trial, xs, ys)
        # sanity: some trials must have inside points
        con.close()


def test_degenerate_horizontal_ring_sql_parses():
    """A ring whose every edge is horizontal (zero area) must emit VALID
    SQL that evaluates to false — agreeing with the numpy kernel —
    instead of the unparseable '(() % 2 = 1)'."""
    import duckdb
    import numpy as np

    from geotiff_processor_spark.operators.pip import (
        _np_point_in_ring,
        sql_point_in_ring,
    )

    xs, ys = [0, 10, 20], [5, 5, 5]  # collinear horizontal ring
    expr = sql_point_in_ring("3", "5", xs, ys)
    got = duckdb.sql(f"SELECT {expr} AS inside").fetchone()[0]
    assert got is False
    np_got = _np_point_in_ring(
        np.array([3]), np.array([5]),
        np.array(xs, dtype=np.int64), np.array(ys, dtype=np.int64))
    assert not np_got[0]


def test_raycast_many_polygon_layer_matches_oracle(spark, sf_dir, duck):
    """A many-polygon layer (20 shifted copies of the general polygons)
    runs through the Arrow kernel and equals the DuckDB ray-cast oracle,
    built the way ``oracle_sql()["pip_raycast"]`` builds it."""
    from geotiff_processor_spark.testing import assert_spark_equals_duck

    g = _geocoded(spark, sf_dir)
    layer = []
    for dx in range(20):
        for p in synth.general_polygon_rows():
            layer.append({"polygon_id": len(layer),
                          "xs": [x + dx for x in p["xs"]],
                          "ys": list(p["ys"])})
    out = pip.pip_join_raycast(g, layer)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    oracle = "WITH " + synth.geocoded_cte("duckdb") + "\n" + (
        "\nUNION ALL\n".join(
            f"SELECT url, cast({p['polygon_id']} as bigint) AS polygon_id"
            " FROM geocoded WHERE "
            + pip.sql_point_in_ring("lonm", "latm", p["xs"], p["ys"])
            for p in layer))
    assert_spark_equals_duck(out, duck, oracle, "pip_raycast x20")

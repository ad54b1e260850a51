"""Cell index properties: parent-prefix, UDF/native equivalence, covers."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geotiff_processor_spark.functions import geo
from geotiff_processor_spark.sources import synth


def test_parent_prefix_property(spark, sf_dir):
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    bad = g.withColumn(
        "cell4", F.expr(geo.sql_cell_id("lonm", "latm", 4))
    ).filter(
        F.substring("cell_id", 1, 4) != F.col("cell4")
    ).count()
    assert bad == 0


def test_native_equals_pandas_udf(spark, sf_dir):
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    udf = geo.make_cell_id_pandas_udf(12)
    bad = g.withColumn("cell_udf", udf(F.col("lonm"), F.col("latm"))) \
        .filter(F.col("cell_udf") != F.col("cell_id")).count()
    assert bad == 0


@settings(max_examples=200, deadline=None)
@given(
    lonm=st.integers(-180_000, 180_000),
    latm=st.integers(-90_000, 90_000),
    level=st.integers(1, 8),
)
def test_cover_contains_point_cell(lonm, latm, level):
    """Any point inside a bbox must land in one of the bbox's cover cells."""
    cell = geo.np_cell_id(np.array([lonm]), np.array([latm]), levels=level)[0]
    cover = geo.cell_range_for_bbox(lonm, latm, lonm + 1, latm + 1, level)
    assert cell in cover


@settings(max_examples=100, deadline=None)
@given(
    min_lonm=st.integers(-180_000, 179_000),
    min_latm=st.integers(-90_000, 89_000),
    w=st.integers(1, 50_000),
    h=st.integers(1, 50_000),
    fx=st.floats(0, 0.999),
    fy=st.floats(0, 0.999),
)
def test_cover_contains_interior_points(min_lonm, min_latm, w, h, fx, fy):
    max_lonm = min(min_lonm + w, 180_000)
    max_latm = min(min_latm + h, 90_000)
    px = min_lonm + int((max_lonm - min_lonm) * fx)
    py = min_latm + int((max_latm - min_latm) * fy)
    level = 4
    cell = geo.np_cell_id(np.array([px]), np.array([py]), levels=level)[0]
    cover = geo.cell_range_for_bbox(min_lonm, min_latm, max_lonm, max_latm,
                                    level)
    assert cell in cover


def test_cell_key_matches_quadkey(spark, sf_dir):
    """Integer join key partitions identically to the string quadkey."""
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    df = g.select(
        F.substring("cell_id", 1, 4).alias("cell4"),
        F.expr(geo.sql_cell_key("lonm", "latm", 4)).alias("key4"),
    ).distinct().collect()
    mapping = {}
    for r in df:
        assert geo.cell_key_for_quadkey(r["cell4"]) == r["key4"]
        assert mapping.setdefault(r["cell4"], r["key4"]) == r["key4"]


def test_tile_x_integer_vs_mercator_bounds(spark, sf_dir):
    g = synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))
    t = g.withColumn("tx", F.expr(geo.sql_tile_x("lonm", 8))) \
         .withColumn("ty", F.expr(geo.sql_tile_y("lat", 8)))
    row = t.agg(F.min("tx"), F.max("tx"), F.min("ty"), F.max("ty")).first()
    assert row[0] >= 0 and row[1] <= 255
    assert row[2] >= 0 and row[3] <= 255


# texts without coordinates, with only one, and a control page
_LOCLESS = [("u0", "Page 1 no coordinates here"),
            ("u1", "Page 2 loc=12345/ lat missing"),
            ("u2", "Page 3 loc=/-4321 lon missing"),
            ("u3", "Page 4 loc=2350/48850 paris")]


# cell id, level-4 cell key and z6 tile, as one SQL select list each
_CELL_TILE = [f"{geo.sql_cell_id('lonm', 'latm')} AS cell_id",
              f"{geo.sql_cell_key('lonm', 'latm', 4)} AS cell_key",
              f"{geo.sql_tile_x('lonm', 6)} AS tile_x",
              f"{geo.sql_tile_y('lat', 6)} AS tile_y"]


def test_missing_coordinates_stay_null(spark, duck):
    """A page without a coordinate has NULL cell id, cell key and tile in
    both engines (greatest/least skip NULLs, so a bare clamp would put it
    in cell 000000000000 and tile (0, 0)), counts in the NULL group of
    tile_counts, and no PIP path returns it."""
    from geotiff_processor_spark.operators import pip, tiling

    pages = spark.createDataFrame(_LOCLESS, "url string, text string")
    g = synth.geocode(pages)
    spark_rows = {r["url"]: tuple(r)[1:] for r in g.selectExpr(
        "url", *_CELL_TILE).collect()}
    # (cell_id, cell_key, tile_x, tile_y) is NULL where its input is
    nulls = {u: tuple(v is None for v in r) for u, r in spark_rows.items()}
    assert nulls == {"u0": (True, True, True, True),
                     "u1": (True, True, False, True),
                     "u2": (True, True, True, False),
                     "u3": (False, False, False, False)}
    assert {r["url"]: r["cell_id"] for r in g.collect()} == \
        {u: r[0] for u, r in spark_rows.items()}

    # DuckDB evaluates the same SQL text on the parsed coordinates
    def lit(v):
        return "NULL" if v is None else str(v)
    values = ", ".join(
        f"('{r['url']}', {lit(r['lonm'])}, {lit(r['latm'])})"
        for r in g.select("url", "lonm", "latm").collect())
    duck_g = ("WITH g AS (SELECT url, cast(lonm as bigint) AS lonm,"
              " cast(latm as bigint) AS latm,"
              " latm / cast(1000 as double) AS lat"
              f" FROM (VALUES {values}) AS t(url, lonm, latm))")
    duck_rows = {r[0]: r[1:] for r in duck.execute(
        f"{duck_g} SELECT url, {', '.join(_CELL_TILE)} FROM g").fetchall()}
    assert duck_rows == spark_rows

    counts = {(r["tile_x"], r["tile_y"]): r["n_pages"]
              for r in tiling.tile_counts(g, 6).collect()}
    assert counts[(None, None)] == 1 and len(counts) == 4
    assert all(0 not in k for k in counts)
    duck_counts = {(r[0], r[1]): r[2] for r in duck.execute(
        f"{duck_g} SELECT {geo.sql_tile_x('lonm', 6)},"
        f" {geo.sql_tile_y('lat', 6)}, count(*) FROM g GROUP BY 1, 2"
    ).fetchall()}
    assert duck_counts == counts

    # a box and a ring around the north-west corner, where a clamped
    # missing coordinate used to land
    corner = [(1, "nw", -180_000, 80_000, -170_000, 90_000)]
    ring = [{"polygon_id": 1, "xs": [-180_000, -170_000, -170_000, -180_000],
             "ys": [80_000, 80_000, 90_000, 90_000]}]
    paris = [(2, "paris", 2_000, 48_000, 3_000, 49_000)]
    assert [r["url"] for r in pip.pip_join(
        g, pip.build_cover_table(spark, corner + paris)).collect()] == ["u3"]
    assert pip.pip_join_general(g, ring).count() == 0
    assert pip.pip_join_raycast(g, ring).count() == 0


def test_tile_y_at_the_poles(spark, duck):
    """Both poles land in their edge rows in both engines (at the south
    pole tan is exactly 0: Spark's ln gave NULL, so row 0, and DuckDB's
    raised), and a missing latitude stays NULL."""
    lats = [-90.0, -89.999, 90.0, None]
    want = [63, 63, 0, None]
    expr = geo.sql_tile_y("lat", 6)
    df = spark.createDataFrame(list(enumerate(lats)), "i int, lat double")
    assert [r[0] for r in df.orderBy("i").selectExpr(expr).collect()] == want
    values = ", ".join(f"({i}, {'NULL' if la is None else la})"
                       for i, la in enumerate(lats))
    assert [r[0] for r in duck.execute(
        f"SELECT {expr} FROM (SELECT i, cast(lat as double) AS lat"
        f" FROM (VALUES {values}) AS t(i, lat)) ORDER BY i").fetchall()] \
        == want


_EDGES = [(lo, la) for lo in (-180_001, -180_000, -1, 0, 1, 179_999,
                              180_000, 180_001)
          for la in (-90_001, -90_000, -1, 0, 89_999, 90_000, 90_001)]


def _cell_ids_both_engines(spark, duck, points, level):
    df = spark.createDataFrame(
        [(i, lo, la) for i, (lo, la) in enumerate(points)],
        "i bigint, lonm bigint, latm bigint")
    expr = geo.sql_cell_id("lonm", "latm", level)
    got_spark = [r[0] for r in df.orderBy("i").selectExpr(expr).collect()]
    values = ", ".join(f"({i}, {lo}, {la})"
                       for i, (lo, la) in enumerate(points))
    got_duck = [r[0] for r in duck.execute(
        f"SELECT {expr} FROM (SELECT i, cast(lonm as bigint) AS lonm,"
        f" cast(latm as bigint) AS latm FROM (VALUES {values})"
        " AS t(i, lonm, latm)) ORDER BY i").fetchall()]
    want = geo.np_cell_id(np.array([p[0] for p in points]),
                          np.array([p[1] for p in points]), level).tolist()
    return got_spark, got_duck, want


def test_cell_id_bit_ops_at_clamp_edges(spark, duck):
    """The shift-and-mask cell id equals the numpy encoder in Spark and
    DuckDB on the clamp edges of both axes, at several levels."""
    for level in (1, 4, 12):
        got_spark, got_duck, want = _cell_ids_both_engines(
            spark, duck, _EDGES, level)
        assert got_spark == want, level
        assert got_duck == want, level


@settings(max_examples=15, deadline=None)
@given(
    points=st.lists(st.tuples(st.integers(-200_000, 200_000),
                              st.integers(-100_000, 100_000)),
                    min_size=1, max_size=40),
    level=st.integers(1, 12),
)
def test_cell_id_bit_ops_match_numpy(spark, duck, points, level):
    got_spark, got_duck, want = _cell_ids_both_engines(
        spark, duck, points, level)
    assert got_spark == want
    assert got_duck == want

"""CRS inverses: numpy round-trips, Spark native vs numpy parity, plan
shape and EPSG dispatch. Spark vs DuckDB parity of every stage list is
in tests/test_stages.py.

Reference analog: arbitrary-EPSG ingest + EPSG:3857 warp (the
reference's helpers.py:45-48, export_formats/geoserverDEM.py:34-38).
"""

import numpy as np
from pyspark.sql import functions as F

from geotiff_processor_spark.functions import geo
from geotiff_processor_spark.functions import reproject as R
from geotiff_processor_spark.functions.stages import with_stages

ZONE = 21


def _grid():
    """Deterministic lon/lat grid inside UTM zone 21 south."""
    lon = np.linspace(-59.9, -54.1, 40)
    lat = np.linspace(-53.5, -9.5, 50)
    lo, la = np.meshgrid(lon, lat)
    return lo.ravel(), la.ravel()


def test_forward_inverse_roundtrip():
    lon, lat = _grid()
    e, n = R.np_utm_forward(lon, lat, ZONE, south=True)
    lon2, lat2 = R.np_utm_inverse(e, n, ZONE, south=True)
    assert np.abs(lon2 - lon).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8
    # eastings/northings land in the plausible zone-21S ranges
    assert e.min() > 100000 and e.max() < 900000
    assert n.min() > 4000000 and n.max() < 10000000


def test_spark_native_matches_numpy(spark):
    lon, lat = _grid()
    e, n = R.np_utm_forward(lon, lat, ZONE, south=True)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(e, n)], "e_utm double, n_utm double")
    out = with_stages(df, R.utm_stages("e_utm", "n_utm", ZONE, south=True,
                                       round_digits=9))
    got = out.orderBy("e_utm", "n_utm").toPandas()
    ref_lon, ref_lat = R.np_utm_inverse(
        got.e_utm.to_numpy(), got.n_utm.to_numpy(), ZONE, south=True)
    # JVM vs numpy libm: last-ulp transcendental differences only
    assert np.abs(got.lon.to_numpy() - ref_lon).max() < 1e-9
    assert np.abs(got.lat.to_numpy() - ref_lat).max() < 1e-9


def test_chain_into_mercator_matches_direct(spark):
    """Differential vs the closed-form Web-Mercator path on the overlap:
    UTM -> lon/lat -> EPSG:3857 equals direct lon/lat -> EPSG:3857."""
    lon, lat = _grid()
    e, n = R.np_utm_forward(lon, lat, ZONE, south=True)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(d))
         for a, b, c, d in zip(e, n, lon, lat)],
        "e_utm double, n_utm double, lon_true double, lat_true double")
    out = with_stages(df, R.utm_stages("e_utm", "n_utm", ZONE, south=True,
                                       round_digits=9))
    mx, my = geo.mercator_xy("lon", "lat")
    tx, ty = geo.mercator_xy("lon_true", "lat_true")
    bad = (
        out.withColumn("mx", mx).withColumn("my", my)
        .withColumn("tx", tx).withColumn("ty", ty)
        .filter((F.abs(F.col("mx") - F.col("tx")) > 0.01)
                | (F.abs(F.col("my") - F.col("ty")) > 0.01))
        .count()
    )
    assert bad == 0


def test_plan_is_single_codegen_projection(spark):
    """The inverse must stay native (no UDF, no shuffle): one
    WholeStageCodegen over the scan."""
    src = spark.range(100).select(
        F.col("id").alias("i"),
        F.expr(f"cast({R.SQL_UTM_EASTING} as double)").alias("e_utm"),
        F.expr(f"cast({R.SQL_UTM_NORTHING} as double)").alias("n_utm"),
    )
    plan = (with_stages(src, R.utm_stages("e_utm", "n_utm"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Lambert conformal conic (South America cone, n < 0)
# ---------------------------------------------------------------------------

def _lcc_grid():
    """Deterministic lon/lat grid across the South America LCC cone."""
    lon = np.linspace(-75.0, -45.0, 40)
    lat = np.linspace(-50.0, -8.0, 50)
    lo, la = np.meshgrid(lon, lat)
    return lo.ravel(), la.ravel()


def test_lcc_forward_inverse_roundtrip():
    lon, lat = _lcc_grid()
    x, y = R.np_lcc_forward(lon, lat)
    lon2, lat2 = R.np_lcc_inverse(x, y)
    assert np.abs(lon2 - lon).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8


def test_lcc_constants_southern_cone_sign():
    n, f_c, rho0 = R.lcc_constants(-5.0, -42.0, -32.0)
    assert n < 0  # southern standard parallels => cone opens south
    assert rho0 < 0  # consistent signed radius at the origin latitude


def test_lcc_spark_native_matches_numpy(spark):
    lon, lat = _lcc_grid()
    x, y = R.np_lcc_forward(lon, lat)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)],
        "x_lcc double, y_lcc double")
    got = (with_stages(df, R.lcc_stages("x_lcc", "y_lcc", round_digits=9))
           .orderBy("x_lcc", "y_lcc").toPandas())
    ref_lon, ref_lat = R.np_lcc_inverse(
        got.x_lcc.to_numpy(), got.y_lcc.to_numpy())
    assert np.abs(got.lon.to_numpy() - ref_lon).max() < 1e-9
    assert np.abs(got.lat.to_numpy() - ref_lat).max() < 1e-9


def test_lcc_plan_is_single_codegen_projection(spark):
    src = spark.range(100).select(
        F.col("id").alias("i"),
        F.expr(f"cast({R.SQL_LCC_X} as double)").alias("x_lcc"),
        F.expr(f"cast({R.SQL_LCC_Y} as double)").alias("y_lcc"),
    )
    plan = (with_stages(src, R.lcc_stages("x_lcc", "y_lcc"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# polar stereographic (south aspect, EPSG:3031-style)
# ---------------------------------------------------------------------------

def _ps_grid():
    """Antarctic lon/lat grid (full longitude sweep, pole excluded)."""
    lon = np.linspace(-179.0, 179.0, 45)
    lat = np.linspace(-88.0, -62.0, 40)
    lo, la = np.meshgrid(lon, lat)
    return lo.ravel(), la.ravel()


def test_ps_forward_inverse_roundtrip():
    lon, lat = _ps_grid()
    x, y = R.np_ps_forward(lon, lat)
    lon2, lat2 = R.np_ps_inverse(x, y)
    assert np.abs(lon2 - lon).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8


def test_ps_scale_true_at_standard_parallel():
    # at the standard parallel the grid distance of a small east-west
    # step must equal the ellipsoidal arc length (scale factor 1)
    lat_ts = R.PS_SOUTH["lat_ts"]
    lon = np.array([10.0, 10.001])
    lat = np.array([lat_ts, lat_ts])
    x, y = R.np_ps_forward(lon, lat)
    grid_d = np.hypot(x[1] - x[0], y[1] - y[0])
    import math
    p = math.radians(lat_ts)
    nu = R.A_WGS84 / math.sqrt(1 - (R.E_ECC * math.sin(p)) ** 2)
    arc = nu * math.cos(p) * math.radians(0.001)
    assert abs(grid_d / arc - 1.0) < 1e-6


def test_ps_spark_native_matches_numpy(spark):
    lon, lat = _ps_grid()
    x, y = R.np_ps_forward(lon, lat)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)],
        "x_ps double, y_ps double")
    got = (with_stages(df, R.ps_stages("x_ps", "y_ps", round_digits=9))
           .orderBy("x_ps", "y_ps").toPandas())
    ref_lon, ref_lat = R.np_ps_inverse(
        got.x_ps.to_numpy(), got.y_ps.to_numpy())
    assert np.abs(got.lon.to_numpy() - ref_lon).max() < 1e-9
    assert np.abs(got.lat.to_numpy() - ref_lat).max() < 1e-9


def test_ps_synth_coords_never_hit_pole():
    # atan2(0, 0) is engine-defined; the +37/+59 offsets must keep every
    # synthesized coordinate off the exact origin
    i = np.arange(0, 200000, dtype=np.int64)
    x = (i * 7919 + 37) % 5000000 - 2500000
    y = (i * 104729 + 59) % 5000000 - 2500000
    assert int(((x == 0) & (y == 0)).sum()) == 0


# ---------------------------------------------------------------------------
# EPSG dispatch
# ---------------------------------------------------------------------------

def test_epsg_dispatch_utm_south(spark):
    src = spark.range(500).select(
        F.col("id").alias("i"),
        F.expr(f"cast({R.SQL_UTM_EASTING} as double)").alias("e"),
        F.expr(f"cast({R.SQL_UTM_NORTHING} as double)").alias("n"),
    )
    via_epsg = R.reproject_epsg(src, 32721, "e", "n").orderBy("i").collect()
    direct = with_stages(src, R.utm_stages("e", "n", zone=21, south=True)) \
        .orderBy("i").collect()
    assert [(r.lon, r.lat) for r in via_epsg] == \
           [(r.lon, r.lat) for r in direct]


def test_epsg_dispatch_ps(spark):
    src = spark.range(500).select(
        F.col("id").alias("i"),
        F.expr(f"cast({R.SQL_PS_X} as double)").alias("x_ps"),
        F.expr(f"cast({R.SQL_PS_Y} as double)").alias("y_ps"),
    )
    via_epsg = R.reproject_epsg(src, 3031, "x_ps", "y_ps") \
        .orderBy("i").collect()
    direct = with_stages(src, R.ps_stages("x_ps", "y_ps")) \
        .orderBy("i").collect()
    assert [(r.lon, r.lat) for r in via_epsg] == \
           [(r.lon, r.lat) for r in direct]


def test_epsg_dispatch_4326_passthrough(spark):
    src = spark.createDataFrame([(1, -58.5, -34.6)], "i long, x double, y double")
    out = R.reproject_epsg(src, 4326, "x", "y").collect()[0]
    assert out.lon == -58.5 and out.lat == -34.6


def test_epsg_dispatch_unknown_without_pyproj(spark):
    """pyproj is absent in this container: exotic codes must fail fast
    at plan-build time with actionable guidance, not mis-project."""
    try:
        import pyproj  # noqa: F401
        return  # environment has pyproj; fallback path is live instead
    except ImportError:
        pass
    src = spark.createDataFrame([(0.0, 0.0)], "x double, y double")
    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="pyproj") as err:
        # British National Grid: transverse Mercator on the AIRY
        # ellipsoid — genuinely outside the WGS84-series native families
        R.reproject_epsg(src, 27700, "x", "y")
    # the message lists the native codes from the dispatch table
    assert "3857" in str(err.value) and "5070" in str(err.value)


def test_epsg_dispatch_3857_roundtrip(spark):
    """Native Web-Mercator inverse: forward (numpy) -> inverse (SQL
    exprs) round-trips to the source lon/lat at the output quantum."""
    lon = np.linspace(-179.0, 179.0, 400)
    lat = np.linspace(-84.0, 84.0, 400)
    mx, my = R.np_merc_forward(lon, lat)
    src = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in
         enumerate(zip(mx, my))],
        "i long, x_merc double, y_merc double")
    out = R.reproject_epsg(src, 3857, "x_merc", "y_merc") \
        .orderBy("i").collect()
    got_lon = np.array([r.lon for r in out])
    got_lat = np.array([r.lat for r in out])
    assert np.abs(got_lon - np.round(lon, 6)).max() <= 1e-6
    assert np.abs(got_lat - np.round(lat, 6)).max() <= 2e-6


def test_epsg_dispatch_lcc_registry(spark):
    """EPSG:2154 (Lambert-93) routes to the native LCC family with the
    published parameters; the SQL path matches the numpy mirror."""
    p = R.LCC_EPSG[2154]
    # forward-project a grid of France-ish lon/lat into Lambert-93
    lon = np.linspace(-4.5, 8.0, 300)
    lat = np.linspace(42.5, 50.8, 300)
    x, y = R.np_lcc_forward(lon, lat, **p)
    src = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in
         enumerate(zip(x, y))],
        "i long, x double, y double")
    out = R.reproject_epsg(src, 2154, "x", "y").orderBy("i").collect()
    got_lon = np.array([r.lon for r in out])
    got_lat = np.array([r.lat for r in out])
    assert np.abs(got_lon - np.round(lon, 6)).max() <= 2e-6
    assert np.abs(got_lat - np.round(lat, 6)).max() <= 2e-6


def test_grs80_forward_inverse_roundtrip():
    """Parameterized-ellipsoid family: GRS80 (ETRS89/GDA94/NAD83) runs
    the same series with its own constant set and self-inverts."""
    lon, lat = _grid()
    lon = lon + 200.0  # shift into MGA zone 55 (lon0 147E)
    e, n = R.np_utm_forward(lon, lat, 55, south=True, ell=R.GRS80_ELL)
    lon2, lat2 = R.np_utm_inverse(e, n, 55, south=True, ell=R.GRS80_ELL)
    assert np.abs(lon2 - lon).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8
    # the constant sets genuinely differ (beta/delta by ~1e-12,
    # invisible on the ground but distinct IEEE doubles in the SQL)
    assert R.GRS80_ELL.beta != R.WGS84_ELL.beta
    assert R.GRS80_ELL.delta != R.WGS84_ELL.delta


def test_intl1924_ellipsoid_is_load_bearing():
    """ED50 (International 1924, a 251 m larger): the same grid coords
    must decode to measurably DIFFERENT lon/lat than under WGS84 —
    proving the ellipsoid parameter actually reaches the series."""
    e = np.array([440000.0, 560000.0])
    n = np.array([4500000.0, 5200000.0])
    lon_w, lat_w = R.np_utm_inverse(e, n, 30, south=False)
    lon_i, lat_i = R.np_utm_inverse(e, n, 30, south=False,
                                    ell=R.INTL1924_ELL)
    assert np.abs(lat_i - lat_w).max() > 1e-4  # hundreds of metres
    # and ED50 self-inverts on its own ellipsoid
    e2, n2 = R.np_utm_forward(lon_i, lat_i, 30, south=False,
                              ell=R.INTL1924_ELL)
    assert np.abs(e2 - e).max() < 1e-3
    assert np.abs(n2 - n).max() < 1e-3


def test_epsg_dispatch_gda94_matches_grs80_direct(spark):
    src = spark.range(300).select(
        F.col("id").alias("i"),
        F.expr(f"cast({R.SQL_UTM_EASTING} as double)").alias("e"),
        F.expr(f"cast({R.SQL_UTM_NORTHING} as double)").alias("n"),
    )
    via_epsg = R.reproject_epsg(src, 28355, "e", "n") \
        .orderBy("i").collect()
    direct = with_stages(src, R.utm_stages(
        "e", "n", zone=55, south=True, ell=R.GRS80_ELL)).orderBy("i").collect()
    assert [(r.lon, r.lat) for r in via_epsg] == \
           [(r.lon, r.lat) for r in direct]
    # ED50 dispatch reaches the International 1924 constants: same
    # coords, zone 30 north, must differ from the WGS84 answer
    ed50 = R.reproject_epsg(src, 23030, "e", "n").orderBy("i").collect()
    wgs = with_stages(src, R.utm_stages("e", "n", zone=30, south=False)) \
        .orderBy("i").collect()
    assert all(abs(a.lat - b.lat) > 1e-5 for a, b in zip(ed50, wgs))


def test_albers_roundtrip_independent_forward(spark):
    """SQL Albers inverse (authalic-latitude series) recovers an
    INDEPENDENT numpy forward (direct q) to < 1e-7 degrees across
    CONUS, and the origin maps to (0, 0) in EPSG:5070."""
    import numpy as np

    from geotiff_processor_spark.functions import reproject as R

    lon = np.array([-120.5, -96.0, -75.25, -89.123456, -66.9, -115.0])
    lat = np.array([32.7, 23.0, 45.5, 29.5, 48.99, 41.1])
    x, y = R.np_albers_forward(lon, lat)
    df = spark.createDataFrame(
        [(int(i), float(x[i]), float(y[i])) for i in range(len(lon))],
        "i int, x_alb double, y_alb double")
    out = {r["i"]: (r["lon"], r["lat"]) for r in
           with_stages(df, R.albers_stages(round_digits=9)).collect()}
    for i in range(len(lon)):
        assert abs(out[i][0] - lon[i]) < 1e-7, i
        assert abs(out[i][1] - lat[i]) < 1e-7, i
    x0, y0 = R.np_albers_forward(np.array([-96.0]), np.array([23.0]))
    assert abs(float(x0[0])) < 1e-6 and abs(float(y0[0])) < 1e-6


def test_albers_equal_area_property(spark):
    """The projection really is equal-area: the Jacobian of the numpy
    forward (finite differences) matches the ellipsoidal area element
    to ~1e-6 relative everywhere in the grid box — a property a
    conformal (LCC) implementation mislabeled as Albers would fail."""
    import math

    import numpy as np

    from geotiff_processor_spark.functions import reproject as R

    p = R.ALBERS_5070
    a, e = p["a"], p["e"]
    rng = np.random.default_rng(3)
    lon = rng.uniform(-120, -70, 50)
    lat = rng.uniform(25, 48, 50)
    d = 1e-5  # degrees
    x0, y0 = R.np_albers_forward(lon, lat)
    xl, yl = R.np_albers_forward(lon + d, lat)
    xp, yp = R.np_albers_forward(lon, lat + d)
    jac = np.abs((xl - x0) * (yp - y0) - (xp - x0) * (yl - y0)) \
        / (np.radians(d) ** 2)
    phi = np.radians(lat)
    sin2 = (e * np.sin(phi)) ** 2
    area_elem = (a ** 2 * (1 - e * e) * np.cos(phi)) / (1 - sin2) ** 2
    rel = np.abs(jac - area_elem) / area_elem
    assert float(rel.max()) < 1e-5

"""Helmert datum shift: scalar-mirror agreement across engines,
inverse round-trip, known-landmark shift magnitude, plan shape."""

import math

import duckdb

from geotiff_processor_spark.functions import datum as D
from geotiff_processor_spark.functions.stages import sql_stages, with_stages
from geotiff_processor_spark.testing import duck_norm, spark_norm


def test_greenwich_landmark():
    """OSGB36 Greenwich meridian maps ~120 m west in WGS84 — the
    textbook observable of this datum pair."""
    lat, lon = D.datum_shift_scalar(D.OSGB36_TO_WGS84, 51.4769, 0.0)
    assert -0.0020 < lon < -0.0012  # ~5.5 arcsec west
    assert abs(lat - 51.4774) < 0.001


def test_roundtrip_inverse_parameters():
    h = D.OSGB36_TO_WGS84
    inv = D.Helmert("inv", h.dst, h.src, -h.tx, -h.ty, -h.tz,
                    -h.rx_sec, -h.ry_sec, -h.rz_sec, -h.s_ppm)
    for lat0, lon0 in [(50.1, -5.4), (52.5, -1.9), (57.3, -4.2),
                       (59.5, -1.2), (51.0, 1.3)]:
        la, lo = D.datum_shift_scalar(h, lat0, lon0)
        lb, lob = D.datum_shift_scalar(inv, la, lo)
        assert abs(lb - lat0) < 1e-6 and abs(lob - lon0) < 1e-6


def test_spark_equals_duckdb_equals_scalar(spark):
    pts = [(49.8 + (i * 7919 % 1000) / 100.0,
            -7.5 + (i * 104729 % 1100) / 100.0) for i in range(400)]
    df = spark.createDataFrame(pts, "lat_src double, lon_src double")
    out = with_stages(df, D.datum_stages())
    sc, sr = spark_norm(out)
    con = duckdb.connect()
    con.sql("CREATE TABLE pts (lat_src DOUBLE, lon_src DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?, ?)", pts)
    dc, dr = duck_norm(con, sql_stages(
        "SELECT lat_src, lon_src FROM pts", D.datum_stages()))
    assert sc == dc and sr == dr
    got = {(r["lat_src"], r["lon_src"]): (r["lat_dst"], r["lon_dst"])
           for r in out.collect()}
    for (lat, lon), (la_d, lo_d) in got.items():
        la, lo = D.datum_shift_scalar(D.OSGB36_TO_WGS84, lat, lon)
        assert abs(round(la, 6) - la_d) < 1e-9
        assert abs(round(lo, 6) - lo_d) < 1e-9


def test_shift_magnitude_over_gb():
    """Across the GB graticule the OSGB36->WGS84 shift is tens to a
    couple hundred metres — a guard against sign/unit errors in the
    parameter block."""
    h = D.OSGB36_TO_WGS84
    for lat, lon in [(50.0, -5.5), (53.0, 0.0), (56.0, -3.0),
                     (58.6, -3.07)]:
        la, lo = D.datum_shift_scalar(h, lat, lon)
        dm = math.hypot((la - lat) * 111320,
                        (lo - lon) * 111320 * math.cos(math.radians(lat)))
        assert 30 < dm < 250


def test_plan_no_udf_no_exchange(spark):
    df = spark.range(100).selectExpr(
        "50.0 + id * 0.01 AS lat_src", "-5.0 + id * 0.01 AS lon_src")
    out = with_stages(df, D.datum_stages())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "*(1)" in plan  # one fused whole-stage-codegen span

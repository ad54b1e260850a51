"""Arbitrary-CRS reprojection: projected metres -> lon/lat.

The reference ingests any EPSG code via ``osr.SpatialReference`` (its
``helpers.py:45-48``) and warps rasters to EPSG:3857
(``export_formats/geoserverDEM.py:34-38``). This module is the engine's
analog for a non-4326 source CRS: closed-form inverses for five families
(transverse Mercator on UTM grids via the Krueger n-series truncated at
n^3, Lambert conformal conic, south polar stereographic, spherical Web
Mercator and Albers equal-area conic), dispatched from EPSG codes by
``reproject_epsg``.

Design rules shared with functions/geo.py:

* every formula exists ONCE as dialect-neutral SQL text (valid in Spark
  SQL and DuckDB); each family writes its stage order once, as a stage
  list (``utm_stages`` .. ``albers_stages``) that functions/stages.py
  renders for Spark (``with_stages``) and for the DuckDB oracle
  (``sql_stages``), so both evaluate the same expression tree;
* no engine-builtin ``degrees``/``radians``/``pi`` or ``sinh``/``cosh``
  — those may differ between libm implementations and in constant
  association; instead RAD2DEG is inlined as one repr'd double and
  sinh/cosh are spelled via ``exp`` so both engines execute identical
  double operations;
* all series constants are computed once in Python and inlined via
  ``repr`` (17 significant digits — both engines parse to the same
  IEEE-754 double);
* the known families run as native expressions (whole-stage codegen);
  only an EPSG code outside them goes through a pyproj Arrow UDF.

Each family has numpy mirrors: the forward transforms are the test-side
ground truth that proves each SQL inverse is a true round-trip, mirroring
how the reference trusts GDAL's warp and we trust a self-inverse pair.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .stages import Stages, with_stages

# UTM grid constants (shared by every ellipsoid)
K0 = 0.9996
E0 = 500000.0  # false easting


class TMEllipsoid:
    """Krueger-series constants for one ellipsoid (a, 1/f).

    The series coefficients (Karney 2011 "Transverse Mercator with an
    accuracy of a few nanometers", eqs 21-26, truncated at n^3 — public
    formulation) depend only on the third flattening n, so a datum
    family (WGS84 vs GRS80: ETRS89/GDA94/NAD83) is exactly a different
    constant set feeding the SAME formula text. Instances are
    plan-build-time only; every value inlines into SQL via repr."""

    def __init__(self, name: str, a: float, inv_f: float) -> None:
        self.name = name
        self.a = a
        self.inv_f = inv_f
        f = 1.0 / inv_f
        n = f / (2.0 - f)  # third flattening
        self.n = n
        # rectifying radius A = a/(1+n) * (1 + n^2/4 + n^4/64)
        self.a_rect = a / (1.0 + n) * (1.0 + n ** 2 / 4.0
                                       + n ** 4 / 64.0)
        self.k0a = K0 * self.a_rect
        self.beta = (  # inverse: (xi, eta) -> (xi', eta')
            n / 2.0 - 2.0 * n ** 2 / 3.0 + 37.0 * n ** 3 / 96.0,
            n ** 2 / 48.0 + n ** 3 / 15.0,
            17.0 * n ** 3 / 480.0,
        )
        self.delta = (  # inverse: conformal lat chi -> geographic phi
            2.0 * n - 2.0 * n ** 2 / 3.0 - 2.0 * n ** 3,
            7.0 * n ** 2 / 3.0 - 8.0 * n ** 3 / 5.0,
            56.0 * n ** 3 / 15.0,
        )
        self.alpha = (  # forward (numpy/test side only)
            n / 2.0 - 2.0 * n ** 2 / 3.0 + 5.0 * n ** 3 / 16.0,
            13.0 * n ** 2 / 48.0 - 3.0 * n ** 3 / 5.0,
            61.0 * n ** 3 / 240.0,
        )


WGS84_ELL = TMEllipsoid("WGS84", 6378137.0, 298.257223563)
# GRS80 carries ETRS89 (EU), GDA94/GDA2020 (AU) and NAD83 (US/CA) —
# same semi-major axis as WGS84, 1/f differs in the 9th digit
# (EPSG:7019 registry values, public)
GRS80_ELL = TMEllipsoid("GRS80", 6378137.0, 298.257222101)
# International 1924 (Hayford) carries ED50 (legacy European mapping;
# EPSG:7022) — a differs from WGS84 by 251 m, so this family is the
# test that the ellipsoid parameter is genuinely load-bearing
INTL1924_ELL = TMEllipsoid("International 1924", 6378388.0, 297.0)

# WGS84 values for the Lambert and polar stereographic code below
A_WGS84 = WGS84_ELL.a
F_WGS84 = 1.0 / WGS84_ELL.inv_f
DELTA = WGS84_ELL.delta

RAD2DEG = 180.0 / math.pi


def utm_lon0(zone: int) -> float:
    """Central meridian of a UTM zone, degrees."""
    return zone * 6.0 - 183.0


def utm_false_northing(south: bool) -> float:
    return 10000000.0 if south else 0.0


# ---------------------------------------------------------------------------
# SQL-text emitters (dialect-neutral; same text drives Spark and DuckDB)
# ---------------------------------------------------------------------------

def _d(v: float) -> str:
    """Inline a double constant.  Bare decimal literals parse as DECIMAL
    (fixed-point) in Spark SQL and DuckDB — the explicit cast keeps the
    whole chain in IEEE-754 double arithmetic in both engines."""
    return f"cast({v!r} as double)"


def _sql_sinh(x: str) -> str:
    return f"((exp({x}) - exp(-({x}))) / 2)"


def _sql_cosh(x: str) -> str:
    return f"((exp({x}) + exp(-({x}))) / 2)"


def sql_utm_xi(northing: str, south: bool = True,
               ell: TMEllipsoid = WGS84_ELL) -> str:
    """Normalized northing xi = (N - N0) / (k0 * A)."""
    return (f"(({northing} - {_d(utm_false_northing(south))})"
            f" / {_d(ell.k0a)})")


def sql_utm_eta(easting: str, ell: TMEllipsoid = WGS84_ELL) -> str:
    """Normalized easting eta = (E - E0) / (k0 * A)."""
    return f"(({easting} - {_d(E0)}) / {_d(ell.k0a)})"


def sql_utm_xip(xi: str, eta: str,
                ell: TMEllipsoid = WGS84_ELL) -> str:
    """xi' = xi - sum_j beta_j sin(2j xi) cosh(2j eta)."""
    terms = " + ".join(
        f"{_d(b)} * sin({2 * j} * {xi}) * {_sql_cosh(f'{2 * j} * {eta}')}"
        for j, b in enumerate(ell.beta, start=1))
    return f"({xi} - ({terms}))"


def sql_utm_etap(xi: str, eta: str,
                 ell: TMEllipsoid = WGS84_ELL) -> str:
    """eta' = eta - sum_j beta_j cos(2j xi) sinh(2j eta)."""
    terms = " + ".join(
        f"{_d(b)} * cos({2 * j} * {xi}) * {_sql_sinh(f'{2 * j} * {eta}')}"
        for j, b in enumerate(ell.beta, start=1))
    return f"({eta} - ({terms}))"


def sql_utm_chi(xip: str, etap: str) -> str:
    """Conformal latitude chi = asin(sin xi' / cosh eta')."""
    return f"asin(sin({xip}) / {_sql_cosh(etap)})"


def sql_utm_lat(chi: str, ell: TMEllipsoid = WGS84_ELL) -> str:
    """Geographic latitude, degrees (unrounded)."""
    series = " + ".join(
        f"{_d(d)} * sin({2 * j} * {chi})"
        for j, d in enumerate(ell.delta, start=1))
    return f"(({chi} + {series}) * {_d(RAD2DEG)})"


def sql_utm_lon(xip: str, etap: str, zone: int) -> str:
    """Longitude, degrees (unrounded)."""
    return (f"({_d(utm_lon0(zone))}"
            f" + atan({_sql_sinh(etap)} / cos({xip})) * {_d(RAD2DEG)})")


def utm_stages(easting: str = "e_utm", northing: str = "n_utm",
               zone: int = 21, south: bool = True,
               round_digits: int = 6,
               ell: TMEllipsoid = WGS84_ELL) -> Stages:
    """Stage list: UTM coords -> lon/lat degrees (rounded).

    Rounding to `round_digits` absorbs last-ulp libm differences in
    sin/cos/asin/atan/exp between the JVM and DuckDB while exceeding the
    milli-degree grid resolution of the engine's cell index. ``ell``
    picks the datum family (WGS84 default; GRS80_ELL for
    ETRS89/GDA94/NAD83 grids).
    """
    return [
        {"xi": sql_utm_xi(northing, south, ell),
         "eta": sql_utm_eta(easting, ell)},
        {"xip": sql_utm_xip("xi", "eta", ell),
         "etap": sql_utm_etap("xi", "eta", ell)},
        {"chi": sql_utm_chi("xip", "etap")},
        {"lon": f"round({sql_utm_lon('xip', 'etap', zone)}, {round_digits})",
         "lat": f"round({sql_utm_lat('chi', ell)}, {round_digits})"},
    ]


# deterministic UTM-coordinate synthesis from an integer id `i`
# (easting within the well-conditioned zone interior, northing covering
# ~ -54deg .. -9deg in a southern zone — the reference's Argentine AOI)
SQL_UTM_EASTING = "(200000 + (i * 7919) % 600000)"
SQL_UTM_NORTHING = "(4000000 + (i * 104729) % 5000000)"


# ---------------------------------------------------------------------------
# numpy mirrors (round-trip ground truth for tests)
# ---------------------------------------------------------------------------

def np_utm_inverse(e: np.ndarray, n: np.ndarray, zone: int = 21,
                   south: bool = True,
                   ell: TMEllipsoid = WGS84_ELL
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized inverse — same truncated series as the SQL text."""
    xi = (n.astype(np.float64) - utm_false_northing(south)) / ell.k0a
    eta = (e.astype(np.float64) - E0) / ell.k0a
    xip = xi.copy()
    etap = eta.copy()
    for j, b in enumerate(ell.beta, start=1):
        xip = xip - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        etap = etap - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xip) / np.cosh(etap))
    phi = chi.copy()
    for j, d in enumerate(ell.delta, start=1):
        phi = phi + d * np.sin(2 * j * chi)
    lat = phi * RAD2DEG
    lon = utm_lon0(zone) + np.arctan(np.sinh(etap) / np.cos(xip)) * RAD2DEG
    return lon, lat


def np_utm_forward(lon: np.ndarray, lat: np.ndarray, zone: int = 21,
                   south: bool = True,
                   ell: TMEllipsoid = WGS84_ELL
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized forward transform (test-side ground truth only)."""
    lam = (lon.astype(np.float64) - utm_lon0(zone)) / RAD2DEG
    phi = lat.astype(np.float64) / RAD2DEG
    s = 2.0 * math.sqrt(ell.n) / (1.0 + ell.n)
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - s * np.arctanh(s * sphi))
    xip = np.arctan2(t, np.cos(lam))
    etap = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xi = xip.copy()
    eta = etap.copy()
    for j, a in enumerate(ell.alpha, start=1):
        xi = xi + a * np.sin(2 * j * xip) * np.cosh(2 * j * etap)
        eta = eta + a * np.cos(2 * j * xip) * np.sinh(2 * j * etap)
    easting = E0 + ell.k0a * eta
    northing = utm_false_northing(south) + ell.k0a * xi
    return easting, northing


# ---------------------------------------------------------------------------
# Lambert conformal conic (2 standard parallels) — the other common
# ortho-survey CRS family. Same design rules as UTM above: constants
# inlined via repr, identical SQL text for Spark and DuckDB, inverse via
# the SAME conformal-latitude DELTA series (chi -> phi), no engine pi/
# degrees builtins. Formulation: Snyder, "Map Projections — A Working
# Manual", USGS PP 1395 (public domain), eqs 14-15..15-11.
# ---------------------------------------------------------------------------

E_ECC = math.sqrt(F_WGS84 * (2.0 - F_WGS84))  # first eccentricity
HALF_PI = math.pi / 2.0


def _lcc_m(phi: float) -> float:
    """m(phi) = cos(phi) / sqrt(1 - e^2 sin^2 phi)  (Snyder 14-15)."""
    return math.cos(phi) / math.sqrt(1.0 - (E_ECC * math.sin(phi)) ** 2)


def _lcc_t(phi: float) -> float:
    """t(phi) = tan(pi/4 - phi/2) / ((1-e sin)/(1+e sin))^(e/2)
    (Snyder 15-9)."""
    es = E_ECC * math.sin(phi)
    return (math.tan(math.pi / 4.0 - phi / 2.0)
            / ((1.0 - es) / (1.0 + es)) ** (E_ECC / 2.0))


def lcc_constants(lat1: float, lat2: float, lat0: float
                  ) -> tuple[float, float, float]:
    """(n, F, rho0) for a 2-parallel LCC on WGS84 (Snyder 15-8/15-10/
    15-7a). Works for northern (n>0) and southern (n<0) cones."""
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    t1, t2, t0 = _lcc_t(p1), _lcc_t(p2), _lcc_t(p0)
    n = (math.log(_lcc_m(p1)) - math.log(_lcc_m(p2))) \
        / (math.log(t1) - math.log(t2))
    f_c = _lcc_m(p1) / (n * t1 ** n)
    rho0 = A_WGS84 * f_c * t0 ** n
    return n, f_c, rho0


# South America Lambert Conformal Conic (the continental LCC covering
# the reference's Argentine AOI): lat1=-5, lat2=-42, lat0=-32, lon0=-60
LCC_SA = {"lat1": -5.0, "lat2": -42.0, "lat0": -32.0, "lon0": -60.0,
          "fe": 0.0, "fn": 0.0}


def sql_lcc_rho(x: str, y: str, lat1: float, lat2: float, lat0: float,
                fe: float, fn: float) -> str:
    """Signed radius rho' = sign(n) * sqrt(x'^2 + y'^2) (Snyder 14-10)."""
    n, _, rho0 = lcc_constants(lat1, lat2, lat0)
    sgn = 1.0 if n > 0 else -1.0
    xp = f"({x} - {_d(fe)})"
    yp = f"({_d(rho0)} - ({y} - {_d(fn)}))"
    return f"({_d(sgn)} * sqrt({xp} * {xp} + {yp} * {yp}))"


def sql_lcc_theta(x: str, y: str, lat1: float, lat2: float, lat0: float,
                  fe: float, fn: float) -> str:
    """theta = atan2(sign(n) x', sign(n) y') (Snyder 14-11)."""
    n, _, rho0 = lcc_constants(lat1, lat2, lat0)
    sgn = 1.0 if n > 0 else -1.0
    xp = f"({x} - {_d(fe)})"
    yp = f"({_d(rho0)} - ({y} - {_d(fn)}))"
    return f"atan2({_d(sgn)} * {xp}, {_d(sgn)} * {yp})"


def sql_lcc_lon(theta: str, lat1: float, lat2: float, lat0: float,
                lon0: float) -> str:
    """Longitude, degrees (unrounded): lon0 + theta/n (Snyder 14-9)."""
    n, _, _ = lcc_constants(lat1, lat2, lat0)
    return f"({_d(lon0)} + ({theta} / {_d(n)}) * {_d(RAD2DEG)})"


def sql_lcc_chi(rho: str, lat1: float, lat2: float, lat0: float) -> str:
    """Conformal latitude chi = pi/2 - 2 atan(t'), with
    t' = (rho / (a F))^(1/n) (Snyder 15-11); phi then comes from the
    SAME delta series as UTM (sql_utm_lat)."""
    n, f_c, _ = lcc_constants(lat1, lat2, lat0)
    tp = f"power({rho} / {_d(A_WGS84 * f_c)}, {_d(1.0 / n)})"
    return f"({_d(HALF_PI)} - 2 * atan({tp}))"


def lcc_stages(x: str = "x_lcc", y: str = "y_lcc",
               lat1: float = LCC_SA["lat1"],
               lat2: float = LCC_SA["lat2"],
               lat0: float = LCC_SA["lat0"],
               lon0: float = LCC_SA["lon0"],
               fe: float = LCC_SA["fe"], fn: float = LCC_SA["fn"],
               round_digits: int = 6) -> Stages:
    """Stage list: LCC metres -> lon/lat degrees (rounded)."""
    return [
        {"rho": sql_lcc_rho(x, y, lat1, lat2, lat0, fe, fn),
         "theta": sql_lcc_theta(x, y, lat1, lat2, lat0, fe, fn)},
        {"chi": sql_lcc_chi("rho", lat1, lat2, lat0)},
        {"lon": (f"round({sql_lcc_lon('theta', lat1, lat2, lat0, lon0)},"
                 f" {round_digits})"),
         "lat": f"round({sql_utm_lat('chi')}, {round_digits})"},
    ]


# deterministic LCC-coordinate synthesis from an integer id `i`
# (a ~3200 x 3200 km box around the South America LCC origin)
SQL_LCC_X = "((i * 7919) % 3200000 - 1600000)"
SQL_LCC_Y = "((i * 104729) % 3200000 - 1600000)"


def np_lcc_forward(lon: np.ndarray, lat: np.ndarray,
                   lat1: float = LCC_SA["lat1"],
                   lat2: float = LCC_SA["lat2"],
                   lat0: float = LCC_SA["lat0"],
                   lon0: float = LCC_SA["lon0"],
                   fe: float = LCC_SA["fe"], fn: float = LCC_SA["fn"]
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized forward LCC (test-side ground truth: proves the SQL
    inverse is a true round-trip; Snyder 15-1/15-2/14-4)."""
    n, f_c, rho0 = lcc_constants(lat1, lat2, lat0)
    phi = lat.astype(np.float64) / RAD2DEG
    es = E_ECC * np.sin(phi)
    t = (np.tan(math.pi / 4.0 - phi / 2.0)
         / ((1.0 - es) / (1.0 + es)) ** (E_ECC / 2.0))
    rho = A_WGS84 * f_c * t ** n
    theta = n * (lon.astype(np.float64) - lon0) / RAD2DEG
    return fe + rho * np.sin(theta), fn + rho0 - rho * np.cos(theta)


def np_lcc_inverse(x: np.ndarray, y: np.ndarray,
                   lat1: float = LCC_SA["lat1"],
                   lat2: float = LCC_SA["lat2"],
                   lat0: float = LCC_SA["lat0"],
                   lon0: float = LCC_SA["lon0"],
                   fe: float = LCC_SA["fe"], fn: float = LCC_SA["fn"]
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized inverse — same operations as the SQL text."""
    n, f_c, rho0 = lcc_constants(lat1, lat2, lat0)
    sgn = 1.0 if n > 0 else -1.0
    xp = x.astype(np.float64) - fe
    yp = rho0 - (y.astype(np.float64) - fn)
    rho = sgn * np.sqrt(xp * xp + yp * yp)
    theta = np.arctan2(sgn * xp, sgn * yp)
    tp = (rho / (A_WGS84 * f_c)) ** (1.0 / n)
    chi = HALF_PI - 2.0 * np.arctan(tp)
    phi = chi.copy()
    for j, d in enumerate(DELTA, start=1):
        phi = phi + d * np.sin(2 * j * chi)
    return lon0 + (theta / n) * RAD2DEG, phi * RAD2DEG


# ---------------------------------------------------------------------------
# Polar stereographic, south aspect with standard parallel (EPSG
# "variant B", the EPSG:3031-style Antarctic grid) — third CRS family.
# Same design rules: constants inlined via repr, identical SQL text in
# both engines, geographic latitude from the SAME conformal-latitude
# DELTA series. Formulation: Snyder PP 1395 eqs 21-33..21-41/15-11 and
# the EPSG Guidance Note 7-2 south-pole case (public documents).
# ---------------------------------------------------------------------------

# Antarctic Polar Stereographic: standard parallel -71, lon0 = 0
PS_SOUTH = {"lat_ts": -71.0, "lon0": 0.0, "fe": 0.0, "fn": 0.0}


def ps_constants(lat_ts: float) -> float:
    """a * m_F / t_F for the south-aspect standard parallel: the rho
    scale so that scale factor is true at lat_ts. Uses the north-form
    m/t at the mirrored (positive) latitude — the south aspect is the
    north formulas on negated latitude."""
    p = math.radians(-lat_ts)  # mirrored to the northern hemisphere
    return A_WGS84 * _lcc_m(p) / _lcc_t(p)


def sql_ps_rho(x: str, y: str, fe: float, fn: float) -> str:
    """rho = sqrt(x'^2 + y'^2) from the (south) pole."""
    xp = f"({x} - {_d(fe)})"
    yp = f"({y} - {_d(fn)})"
    return f"sqrt({xp} * {xp} + {yp} * {yp})"


def sql_ps_chi(rho: str, lat_ts: float) -> str:
    """Conformal latitude (south aspect): chi = 2 atan(t') - pi/2 with
    t' = rho / (a m_F / t_F)."""
    return f"(2 * atan({rho} / {_d(ps_constants(lat_ts))}) - {_d(HALF_PI)})"


def sql_ps_lon(x: str, y: str, lon0: float, fe: float, fn: float) -> str:
    """Longitude, degrees (south aspect): lon0 + atan2(x', y')."""
    xp = f"({x} - {_d(fe)})"
    yp = f"({y} - {_d(fn)})"
    return f"({_d(lon0)} + atan2({xp}, {yp}) * {_d(RAD2DEG)})"


def ps_stages(x: str = "x_ps", y: str = "y_ps",
              lat_ts: float = PS_SOUTH["lat_ts"],
              lon0: float = PS_SOUTH["lon0"],
              fe: float = PS_SOUTH["fe"], fn: float = PS_SOUTH["fn"],
              round_digits: int = 6) -> Stages:
    """Stage list: south-polar-stereographic metres -> lon/lat degrees
    (rounded)."""
    return [
        {"chi": sql_ps_chi(sql_ps_rho(x, y, fe, fn), lat_ts)},
        {"lon": f"round({sql_ps_lon(x, y, lon0, fe, fn)}, {round_digits})",
         "lat": f"round({sql_utm_lat('chi')}, {round_digits})"},
    ]


# deterministic polar-stereographic synthesis from an integer id `i`
# (a ~5000 x 5000 km box around the south pole, origin excluded by the
# +37/+59 offsets so atan2(0, 0) never arises)
SQL_PS_X = "((i * 7919 + 37) % 5000000 - 2500000)"
SQL_PS_Y = "((i * 104729 + 59) % 5000000 - 2500000)"


def np_ps_forward(lon: np.ndarray, lat: np.ndarray,
                  lat_ts: float = PS_SOUTH["lat_ts"],
                  lon0: float = PS_SOUTH["lon0"],
                  fe: float = PS_SOUTH["fe"], fn: float = PS_SOUTH["fn"]
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized forward south-polar stereographic (test-side ground
    truth: proves the SQL inverse is a true round-trip). South aspect =
    north formulas at mirrored latitude, E/N axes as in EPSG GN7-2."""
    k = ps_constants(lat_ts)
    phi = -lat.astype(np.float64) / RAD2DEG  # mirrored
    es = E_ECC * np.sin(phi)
    t = (np.tan(math.pi / 4.0 - phi / 2.0)
         / ((1.0 - es) / (1.0 + es)) ** (E_ECC / 2.0))
    rho = k * t
    lam = (lon.astype(np.float64) - lon0) / RAD2DEG
    return fe + rho * np.sin(lam), fn + rho * np.cos(lam)


def np_ps_inverse(x: np.ndarray, y: np.ndarray,
                  lat_ts: float = PS_SOUTH["lat_ts"],
                  lon0: float = PS_SOUTH["lon0"],
                  fe: float = PS_SOUTH["fe"], fn: float = PS_SOUTH["fn"]
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized inverse — same operations as the SQL text."""
    k = ps_constants(lat_ts)
    xp = x.astype(np.float64) - fe
    yp = y.astype(np.float64) - fn
    rho = np.sqrt(xp * xp + yp * yp)
    chi = 2.0 * np.arctan(rho / k) - HALF_PI
    phi = chi.copy()
    for j, d in enumerate(DELTA, start=1):
        phi = phi + d * np.sin(2 * j * chi)
    return lon0 + np.arctan2(xp, yp) * RAD2DEG, phi * RAD2DEG


# ---------------------------------------------------------------------------
# Spherical (Web) Mercator inverse — EPSG:3857, the reference's primary
# TARGET CRS (/root/reference/export_formats/geoserverDEM.py:34-38);
# the inverse makes 3857-gridded sources ingestable natively. Same
# sphere radius as functions/geo.py's forward (EARTH_RADIUS_M).
# ---------------------------------------------------------------------------

R_MERC = 6378137.0  # WGS84 / EPSG:3857 sphere radius


def sql_merc_lon(x: str) -> str:
    """Longitude, degrees: x / R, rad->deg inlined as one double."""
    return f"({x} / {_d(R_MERC)} * {_d(RAD2DEG)})"


def sql_merc_lat(y: str) -> str:
    """Latitude, degrees: (2*atan(exp(y/R)) - pi/2) in doubles."""
    return (f"((2 * atan(exp({y} / {_d(R_MERC)})) - {_d(HALF_PI)})"
            f" * {_d(RAD2DEG)})")


def merc_stages(x: str = "x_merc", y: str = "y_merc",
                round_digits: int = 6) -> Stages:
    """Stage list: EPSG:3857 metres -> lon/lat degrees (rounded)."""
    return [{"lon": f"round({sql_merc_lon(x)}, {round_digits})",
             "lat": f"round({sql_merc_lat(y)}, {round_digits})"}]


# deterministic 3857-coordinate synthesis from an integer id `i`
# (x inside the legal +-20037508 m; y bounded to ~+-85 deg latitude)
SQL_MERC_X = "((i * 7919 + 11) % 40000000 - 20000000)"
SQL_MERC_Y = "((i * 104729 + 23) % 36000000 - 18000000)"


def np_merc_forward(lon: np.ndarray, lat: np.ndarray
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Forward spherical mercator (numpy, test-side round-trip truth)."""
    lam = lon.astype(np.float64) / RAD2DEG
    phi = lat.astype(np.float64) / RAD2DEG
    return R_MERC * lam, R_MERC * np.log(np.tan(HALF_PI / 2.0 + phi / 2.0))


# ---------------------------------------------------------------------------
# Albers equal-area conic (2 standard parallels) — the standard CONUS
# analysis grid (EPSG:5070 NAD83/GRS80) and the equal-area sibling of
# the LCC family above; zonal statistics on an equal-area grid is the
# raster-analysis default. Same design rules: constants inlined via
# repr, identical SQL text in both engines, inverse closed-form with
# the authalic-latitude series. Formulation: Snyder, USGS PP 1395,
# eqs 14-1..14-21 and 3-12/3-16/3-18 (public domain).
# ---------------------------------------------------------------------------

def _ecc(inv_f: float) -> float:
    f = 1.0 / inv_f
    return math.sqrt(f * (2.0 - f))


def _alb_m(phi: float, e: float) -> float:
    """m = cos(phi)/sqrt(1 - e^2 sin^2 phi) (Snyder 14-15)."""
    return math.cos(phi) / math.sqrt(1.0 - (e * math.sin(phi)) ** 2)


def _alb_q(phi: float, e: float) -> float:
    """q(phi) (Snyder 3-12)."""
    s = math.sin(phi)
    return (1.0 - e * e) * (
        s / (1.0 - (e * s) ** 2)
        - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))


def albers_constants(lat1: float, lat2: float, lat0: float,
                     a: float, e: float
                     ) -> tuple[float, float, float, float]:
    """(n, C, rho0, q_p) (Snyder 14-14/14-13/14-12a and q at the
    pole)."""
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    m1, m2 = _alb_m(p1, e), _alb_m(p2, e)
    q1, q2, q0 = (_alb_q(p, e) for p in (p1, p2, p0))
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c = m1 * m1 + n * q1
    rho0 = a * math.sqrt(c - n * q0) / n
    q_p = _alb_q(HALF_PI, e)
    return n, c, rho0, q_p


# EPSG:5070 — NAD83 / Conus Albers (GRS80): THE standard US
# continental equal-area analysis grid
ALBERS_5070 = {"lat1": 29.5, "lat2": 45.5, "lat0": 23.0, "lon0": -96.0,
               "fe": 0.0, "fn": 0.0, "a": GRS80_ELL.a,
               "e": _ecc(GRS80_ELL.inv_f)}


def _alb(params: dict | None) -> dict:
    return dict(ALBERS_5070, **(params or {}))


def sql_albers_rho_theta(x: str, y: str,
                         params: dict | None = None
                         ) -> tuple[str, str]:
    """(rho, theta) exprs (Snyder 14-10/14-11, sign(n)-adjusted)."""
    p = _alb(params)
    n, _, rho0, _ = albers_constants(p["lat1"], p["lat2"], p["lat0"],
                                     p["a"], p["e"])
    sgn = 1.0 if n > 0 else -1.0
    xp = f"({x} - {_d(p['fe'])})"
    yp = f"({_d(rho0)} - ({y} - {_d(p['fn'])}))"
    rho = f"({_d(sgn)} * sqrt({xp} * {xp} + {yp} * {yp}))"
    theta = f"atan2({_d(sgn)} * {xp}, {_d(sgn)} * {yp})"
    return rho, theta


def sql_albers_q(rho: str, params: dict | None = None) -> str:
    """q = (C - (rho n / a)^2) / n (Snyder 14-19)."""
    p = _alb(params)
    n, c, _, _ = albers_constants(p["lat1"], p["lat2"], p["lat0"],
                                  p["a"], p["e"])
    rn = f"({rho} * {_d(n / p['a'])})"
    return f"(({_d(c)} - {rn} * {rn}) / {_d(n)})"


def sql_albers_lat(q: str, params: dict | None = None) -> str:
    """Authalic latitude beta = asin(q/q_p) then the series to
    geographic phi (Snyder 3-18), degrees (unrounded). The asin
    argument is clamped for floating-point edge rows at the pole."""
    p = _alb(params)
    _, _, _, q_p = albers_constants(p["lat1"], p["lat2"], p["lat0"],
                                    p["a"], p["e"])
    e2 = p["e"] ** 2
    c2 = e2 / 3.0 + 31.0 * e2 ** 2 / 180.0 + 517.0 * e2 ** 3 / 5040.0
    c4 = 23.0 * e2 ** 2 / 360.0 + 251.0 * e2 ** 3 / 3780.0
    c6 = 761.0 * e2 ** 3 / 45360.0
    beta = (f"asin(least(greatest({q} / {_d(q_p)}, -1.0), 1.0))")
    return (f"((({beta}) + {_d(c2)} * sin(2 * ({beta}))"
            f" + {_d(c4)} * sin(4 * ({beta}))"
            f" + {_d(c6)} * sin(6 * ({beta}))) * {_d(RAD2DEG)})")


def sql_albers_lon(theta: str, params: dict | None = None) -> str:
    p = _alb(params)
    n, _, _, _ = albers_constants(p["lat1"], p["lat2"], p["lat0"],
                                  p["a"], p["e"])
    return f"({_d(p['lon0'])} + ({theta} / {_d(n)}) * {_d(RAD2DEG)})"


def albers_stages(x: str = "x_alb", y: str = "y_alb",
                  params: dict | None = None,
                  round_digits: int = 6) -> Stages:
    """Stage list: Albers metres -> lon/lat degrees (rounded)."""
    rho, theta = sql_albers_rho_theta(x, y, params)
    return [
        {"rho": rho, "theta": theta},
        {"q": sql_albers_q("rho", params)},
        {"lon": f"round({sql_albers_lon('theta', params)}, {round_digits})",
         "lat": f"round({sql_albers_lat('q', params)}, {round_digits})"},
    ]


# deterministic Albers-coordinate synthesis from an integer id `i`
# (a CONUS-sized box in EPSG:5070 metres)
SQL_ALB_X = "((i * 7919) % 4000000 - 2000000)"
SQL_ALB_Y = "((i * 104729) % 2800000 + 300000)"


def np_albers_forward(lon: np.ndarray, lat: np.ndarray,
                      params: dict | None = None
                      ) -> tuple[np.ndarray, np.ndarray]:
    """Independent numpy FORWARD Albers (Snyder 14-1..14-4) — the
    round-trip reference for the SQL inverse (different formula path:
    forward uses q directly, inverse recovers phi via the authalic
    series)."""
    p = _alb(params)
    n, c, rho0, _ = albers_constants(p["lat1"], p["lat2"], p["lat0"],
                                     p["a"], p["e"])
    e = p["e"]
    phi = np.radians(lat)
    s = np.sin(phi)
    q = (1.0 - e * e) * (s / (1.0 - (e * s) ** 2)
                         - (1.0 / (2.0 * e))
                         * np.log((1.0 - e * s) / (1.0 + e * s)))
    rho = p["a"] * np.sqrt(c - n * q) / n
    theta = n * np.radians(lon - p["lon0"])
    xo = p["fe"] + rho * np.sin(theta)
    yo = p["fn"] + rho0 - rho * np.cos(theta)
    return xo, yo


# ---------------------------------------------------------------------------
# EPSG dispatch — the reference's accept-any-code surface (its
# helpers.py:45-48 feeds any EPSG into osr.SpatialReference). Known
# families route to the closed-form stage lists above (whole-stage
# codegen, oracle-checked); every other code falls back to a
# pyproj-backed Arrow pandas UDF, gated on import so the engine degrades
# with a clear message where the library is absent rather than silently
# mis-projecting.
# ---------------------------------------------------------------------------

# Published parameter sets for common Lambert-conformal-conic CRSs
# (EPSG registry values). Both sit on GRS80; the LCC series here uses
# WGS84 flattening — the ellipsoids differ by ~1e-9 in 1/f (sub-0.1 mm on
# the ground), far inside the round_digits=6 (~0.1 m) output quantum.
# (The UTM family does carry the true GRS80 constants.)
LCC_EPSG = {
    2154: {"lat1": 49.0, "lat2": 44.0, "lat0": 46.5, "lon0": 3.0,
           "fe": 700000.0, "fn": 6600000.0},   # RGF93 / Lambert-93
    3978: {"lat1": 49.0, "lat2": 77.0, "lat0": 49.0, "lon0": -95.0,
           "fe": 0.0, "fn": 0.0},              # NAD83 / Canada Atlas
}


def _lonlat_stages(x: str, y: str, round_digits: int = 6) -> Stages:
    """Passthrough: the source is already lon/lat."""
    return [{"lon": f"round(cast({x} as double), {round_digits})",
             "lat": f"round(cast({y} as double), {round_digits})"}]


# EPSG codes with a native family: (first code, last code, CRS, stage
# list, its parameters). A UTM code's last two digits are its zone.
# GDA2020 MGA shares GDA94's grid definition: the datum-frame shift is a
# plate motion model outside a coordinate-only transform's scope.
EPSG_NATIVE = (
    (32601, 32660, "WGS84 / UTM north", utm_stages, {"south": False}),
    (32701, 32760, "WGS84 / UTM south", utm_stages, {"south": True}),
    (25828, 25838, "ETRS89 / UTM north", utm_stages,
     {"south": False, "ell": GRS80_ELL}),
    (26901, 26923, "NAD83 / UTM north", utm_stages,
     {"south": False, "ell": GRS80_ELL}),
    (28348, 28358, "GDA94 / MGA south", utm_stages,
     {"south": True, "ell": GRS80_ELL}),
    (7846, 7859, "GDA2020 / MGA south", utm_stages,
     {"south": True, "ell": GRS80_ELL}),
    (23028, 23038, "ED50 / UTM north", utm_stages,
     {"south": False, "ell": INTL1924_ELL}),
    (3031, 3031, "Antarctic Polar Stereographic", ps_stages, {}),
    (3857, 3857, "Web Mercator", merc_stages, {}),
    (2154, 2154, "RGF93 / Lambert-93", lcc_stages, LCC_EPSG[2154]),
    (3978, 3978, "NAD83 / Canada Atlas Lambert", lcc_stages,
     LCC_EPSG[3978]),
    (5070, 5070, "NAD83 / Conus Albers", albers_stages, {}),
    (4326, 4326, "WGS84 lon/lat", _lonlat_stages, {}),
)


def reproject_epsg(df: DataFrame, epsg: int, x: str, y: str,
                   round_digits: int = 6) -> DataFrame:
    """Append lon/lat for source coordinates in the given EPSG CRS:
    native stages for a code in ``EPSG_NATIVE`` (no UDF, one codegen
    projection), else the pyproj Arrow UDF
    (``make_pyproj_inverse_pandas_udf``)."""
    for first, last, _, family, params in EPSG_NATIVE:
        if first <= epsg <= last:
            if family is utm_stages:
                params = dict(params, zone=epsg % 100)
            return with_stages(
                df, family(x, y, round_digits=round_digits, **params))
    udf = make_pyproj_inverse_pandas_udf(epsg, round_digits)
    return (
        df.withColumn("_ll", udf(F.col(x), F.col(y)))
        .withColumn("lon", F.col("_ll.lon"))
        .withColumn("lat", F.col("_ll.lat"))
        .drop("_ll")
    )


def make_pyproj_inverse_pandas_udf(epsg: int, round_digits: int = 6):
    """Arrow-vectorized pandas UDF projecting EPSG:<code> -> lon/lat via
    pyproj. The Transformer is built lazily INSIDE the UDF (once per
    executor process, cached in the closure) because pyproj handles
    don't pickle; batches then reuse it. Raises NotImplementedError at
    plan-build time when pyproj is not installed, naming the native
    codes that need no library."""
    try:
        import pyproj  # noqa: F401
    except ImportError as e:
        native = "; ".join(
            f"{first}{'' if last == first else f'-{last}'} ({name})"
            for first, last, name, _, _ in EPSG_NATIVE)
        raise NotImplementedError(
            f"EPSG:{epsg} needs pyproj (not installed); closed-form "
            f"native support exists for {native}") from e

    state: dict = {}

    @F.pandas_udf("struct<lon: double, lat: double>")
    def pyproj_inverse_udf(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        import pyproj as _pp
        if "t" not in state:
            state["t"] = _pp.Transformer.from_crs(
                f"EPSG:{epsg}", "EPSG:4326", always_xy=True)
        lon, lat = state["t"].transform(
            xs.to_numpy(np.float64), ys.to_numpy(np.float64))
        return pd.DataFrame({"lon": np.round(lon, round_digits),
                             "lat": np.round(lat, round_digits)})

    return pyproj_inverse_udf

"""Helmert 7-parameter datum transformation (OSGB36 -> WGS84).

Closes the one reprojection gap VERDICT r4 carried: the native CRS
families (functions/reproject.py) parameterize the ELLIPSOID (WGS84 /
GRS80) but assume a shared datum; a real crawl also meets coordinates
on legacy datums (OSGB36, ED50, Tokyo...) whose origins are offset by
tens to hundreds of metres. The standard public transform (OS "A guide
to coordinate systems in Great Britain", EPSG method 9606 position
vector) is:

  geodetic (lat, lon, h=0 on the source ellipsoid)
    -> geocentric ECEF (X, Y, Z)
    -> 7-parameter similarity: translation (tx, ty, tz metres),
       small-angle rotations (rx, ry, rz arcsec), scale (ppm)
    -> geodetic on the target ellipsoid, via Bowring's closed-form
       inverse (error < 1e-10 deg at earth-surface heights — far below
       the 1e-6 deg output rounding).

The transform is one stage list (``datum_stages``), emitted ONCE as
dialect-neutral SQL text; functions/stages.py renders it for Spark
(native expressions, whole-stage codegen) and for DuckDB (the
differential oracle). Rounding to 6 decimals absorbs last-ulp libm
differences, the pattern proven by the reproject families.
Parameters below are the published OSGB36->WGS84 set (Airy 1830 source
ellipsoid); ED50->WGS84 or any other pair is the same code with a
different constant block.

Reference analog: the reference accepts any EPSG via osr and lets
PROJ do datum shifts implicitly (its ``helpers.py:45-48``);
here the transform is an explicit, oracle-checkable operator.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from .stages import Stages

PI = repr(math.pi)
ARCSEC = math.pi / (180.0 * 3600.0)


@dataclass(frozen=True)
class Ellipsoid:
    name: str
    a: float
    inv_f: float

    @property
    def f(self) -> float:
        return 1.0 / self.inv_f

    @property
    def e2(self) -> float:
        return self.f * (2.0 - self.f)

    @property
    def b(self) -> float:
        return self.a * (1.0 - self.f)


AIRY1830 = Ellipsoid("Airy1830", 6377563.396, 299.3249646)
WGS84 = Ellipsoid("WGS84", 6378137.0, 298.257223563)


@dataclass(frozen=True)
class Helmert:
    """Position-vector 7-parameter set (EPSG method 9606)."""
    name: str
    src: Ellipsoid
    dst: Ellipsoid
    tx: float
    ty: float
    tz: float
    rx_sec: float
    ry_sec: float
    rz_sec: float
    s_ppm: float


# Published OSGB36 -> WGS84 parameters (OS guide, sub-5 m accuracy
# set; the WGS84->OSGB36 direction in the guide is the negation).
OSGB36_TO_WGS84 = Helmert(
    "OSGB36->WGS84", AIRY1830, WGS84,
    tx=446.448, ty=-125.157, tz=542.060,
    rx_sec=0.1502, ry_sec=0.2470, rz_sec=0.8421,
    s_ppm=-20.4894)


# Deterministic OSGB36-range test coordinates from an integer id
# column ``i`` (GB graticule: lat 49.8..59.8, lon -7.5..3.5); integer
# modulus then one double division — identical in both engines.
# (explicit double casts: DuckDB parses bare 49.8 as DECIMAL, whose
# arithmetic would diverge from Spark's double path)
SQL_OSGB_LAT = ("(cast(49.8 as double)"
                " + cast((i * 7919) % 1000 as double)"
                " / cast(100 as double))")
SQL_OSGB_LON = ("(cast(-7.5 as double)"
                " + cast((i * 104729) % 1100 as double)"
                " / cast(100 as double))")


def datum_stages(h: Helmert = OSGB36_TO_WGS84, lat: str = "lat_src",
                 lon: str = "lon_src") -> Stages:
    """Stage list: ``lat``/``lon`` (degrees on the source datum) ->
    ``lat_dst``/``lon_dst`` (degrees on the target datum, rounded to
    1e-6 deg ~ 0.1 m).
    """
    src, dst = h.src, h.dst
    s1 = repr(1.0 + h.s_ppm * 1e-6)
    rx, ry, rz = (repr(h.rx_sec * ARCSEC), repr(h.ry_sec * ARCSEC),
                  repr(h.rz_sec * ARCSEC))
    ep2 = (dst.a * dst.a - dst.b * dst.b) / (dst.b * dst.b)
    return [
        {"latr": f"{lat} * {PI} / 180.0",
         "lonr": f"{lon} * {PI} / 180.0"},
        {"nu": (f"{src.a!r} / sqrt(1.0 - {src.e2!r}"
                " * sin(latr) * sin(latr))")},
        {"ecx": "nu * cos(latr) * cos(lonr)",
         "ecy": "nu * cos(latr) * sin(lonr)",
         "ecz": f"nu * (1.0 - {src.e2!r}) * sin(latr)"},
        {"wx": f"{h.tx!r} + {s1} * ecx - {rz} * ecy + {ry} * ecz",
         "wy": f"{h.ty!r} + {rz} * ecx + {s1} * ecy - {rx} * ecz",
         "wz": f"{h.tz!r} - {ry} * ecx + {rx} * ecy + {s1} * ecz"},
        {"pw": "sqrt(wx * wx + wy * wy)"},
        {"uw": f"atan2(wz * {dst.a!r}, pw * {dst.b!r})"},
        {"lat_dst": (f"round(atan2(wz + {ep2!r} * {dst.b!r}"
                     " * sin(uw) * sin(uw) * sin(uw),"
                     f" pw - {dst.e2!r} * {dst.a!r}"
                     " * cos(uw) * cos(uw) * cos(uw))"
                     f" * 180.0 / {PI}, 6)"),
         "lon_dst": f"round(atan2(wy, wx) * 180.0 / {PI}, 6)"},
    ]


def datum_shift_scalar(h: Helmert, lat_deg: float,
                       lon_deg: float) -> tuple[float, float]:
    """Plain-python mirror (math module) for tests."""
    src, dst = h.src, h.dst
    latr, lonr = math.radians(lat_deg), math.radians(lon_deg)
    nu = src.a / math.sqrt(1.0 - src.e2 * math.sin(latr) ** 2)
    x = nu * math.cos(latr) * math.cos(lonr)
    y = nu * math.cos(latr) * math.sin(lonr)
    z = nu * (1.0 - src.e2) * math.sin(latr)
    s1 = 1.0 + h.s_ppm * 1e-6
    rx, ry, rz = (h.rx_sec * ARCSEC, h.ry_sec * ARCSEC,
                  h.rz_sec * ARCSEC)
    wx = h.tx + s1 * x - rz * y + ry * z
    wy = h.ty + rz * x + s1 * y - rx * z
    wz = h.tz - ry * x + rx * y + s1 * z
    p = math.hypot(wx, wy)
    ep2 = (dst.a * dst.a - dst.b * dst.b) / (dst.b * dst.b)
    u = math.atan2(wz * dst.a, p * dst.b)
    lat = math.atan2(wz + ep2 * dst.b * math.sin(u) ** 3,
                     p - dst.e2 * dst.a * math.cos(u) ** 3)
    return math.degrees(lat), math.degrees(math.atan2(wy, wx))

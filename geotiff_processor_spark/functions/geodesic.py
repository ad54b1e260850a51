"""Geodesic (great-circle) distance helpers.

Argument order follows ``geo.sql_dist2_mdeg``: longitude first, then
latitude, for both points — haversine is NOT symmetric under a lat/lon
transposition (the cos(lat) term), so a single module-wide convention
matters more than taste.
"""

from __future__ import annotations

# mean sphere radius (IUGG R1) — the geodesic-distance convention;
# distinct from geo.EARTH_RADIUS_M (the EPSG:3857 equatorial radius)
EARTH_MEAN_RADIUS_M = 6371008.8


def sql_haversine_cm(lonm_a: str, latm_a: str,
                     lonm_b: str, latm_b: str) -> str:
    """Great-circle distance in integer CENTIMETRES from millidegree
    coordinates — one expression text valid in BOTH engines (radians /
    sin / cos / asin / sqrt / least are identical names in Spark SQL
    and DuckDB). Centimetre rounding absorbs last-ulp libm divergence;
    the asin operand is clamped for antipodal rounding overshoot."""
    la = f"radians(({latm_a}) / 1000.0)"
    lb = f"radians(({latm_b}) / 1000.0)"
    dla = f"radians((({latm_b}) - ({latm_a})) / 1000.0)"
    dlo = f"radians((({lonm_b}) - ({lonm_a})) / 1000.0)"
    h = (f"(sin({dla} / 2) * sin({dla} / 2)"
         f" + cos({la}) * cos({lb})"
         f" * sin({dlo} / 2) * sin({dlo} / 2))")
    return (f"cast(round(2.0 * {EARTH_MEAN_RADIUS_M!r}"
            f" * asin(least(cast(1.0 as double), sqrt({h})))"
            f" * 100.0) as bigint)")

"""Elevation encodings + percentile color breaks.

Exact re-expressions (as dialect-neutral SQL / Spark Columns) of:

- Mapbox terrain-RGB encode, ``/root/reference/export_formats/
  geoserverDEM.py:123-127``:
    r = floor((100000 + h*10)/65536); g = floor((100000+h*10)/256) - 256r;
    b = floor(100000 + h*10) - 65536r - 256g
- Terrarium encode, ``geoserverDEM.py:129-133``:
    v = h + 32768; r = floor(v/256); g = floor(v) mod 256;
    b = floor((v - floor(v)) * 256)
- Cumulative-cut percentile break walk, ``/root/reference/helpers.py:108-136``
  (min/max percentiles 0.5 / 96 from ``params.py:104-106``; uneven step
  multipliers at cont 1 -> +per, 3 -> +3*per, 4,5 -> +2*per).

To keep the integer identities exact across engines, the scaled value
``100000 + 10h`` is computed as ``100000 + round(h*10)`` — our synthetic
elevations carry exactly one decimal, so round(h*10) recovers the integer
the reference's float math lands on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PALETTE = [  # params.py:108-116
    "#0000bb", "#51dede", "#57ed5a", "#44ec35", "#dfe301", "#ff8602", "#b20006",
]
# uneven walk (helpers.py:126-136): extra step multiples added AFTER break i
_EXTRA_STEP = {1: 1, 3: 3, 4: 2, 5: 2}


def sql_mapbox_rgb(elev: str) -> tuple[str, str, str]:
    base = f"(100000 + cast(round({elev} * 10) as bigint))"
    r = f"cast(floor({base} / 65536) as bigint)"
    g = f"(cast(floor({base} / 256) as bigint) % 256)"
    b = f"({base} % 256)"
    return r, g, b


def sql_terrarium_rgb(elev: str) -> tuple[str, str, str]:
    v = f"({elev} + 32768)"
    vi = f"cast(floor({v}) as bigint)"
    r = f"cast(floor({v} / 256) as bigint)"
    g = f"({vi} % 256)"
    b = f"cast(floor(({v} - floor({v})) * 256) as bigint)"
    return r, g, b


def mapbox_rgb(elev: str) -> tuple[Column, Column, Column]:
    r, g, b = sql_mapbox_rgb(elev)
    return F.expr(r), F.expr(g), F.expr(b)


def terrarium_rgb(elev: str) -> tuple[Column, Column, Column]:
    r, g, b = sql_terrarium_rgb(elev)
    return F.expr(r), F.expr(g), F.expr(b)


def color_breaks(trimmed_min: float, trimmed_max: float) -> list[float]:
    """The reference's exact 7-break walk (helpers.py:124-136)."""
    per = ((trimmed_max / 2) - (trimmed_min / 2)) / 7
    breaks, cur = [], trimmed_min
    for cont in range(7):
        breaks.append(cur)
        cur += per
        cur += _EXTRA_STEP.get(cont, 0) * per
    return breaks


def sql_color_breaks(tmin: str, tmax: str) -> list[str]:
    """Same walk as closed-form SQL expressions over two scalar columns.

    cumulative multiplier of `per` before break i: [0,1,3,4,8,11,14].
    """
    mults = []
    acc = 0
    for cont in range(7):
        mults.append(acc)
        acc += 1 + _EXTRA_STEP.get(cont, 0)
    per = f"((({tmax}) / 2 - ({tmin}) / 2) / 7)"
    return [f"(({tmin}) + {m} * {per})" for m in mults]

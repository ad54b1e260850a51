"""Dual-format vendor dates and the per-row metadata map column.

Reference analogs:
- dual vendor timestamp formats (``helpers.py:29-42``): DroneDeploy ISO
  with trailing zone chopped ([:-6]) vs Pix4DMatic ``%Y:%m:%d %H:%M:%S``,
  first-non-null wins.
- the metadata dict attached to every output dataset
  (``process.py:222-228``).

The url/registro identity and the deterministic 12-hex-char map id
(``substring(sha2(registroid, 256), 1, 12)``, in place of the
reference's random ``secrets.token_hex(6)``) are inlined in the
``url_parsing`` and ``registro_first_wins`` queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_vendor_date(col: str = "meta_date") -> Column:
    """Dual-format first-non-null date parse (helpers.py:29-42).

    DroneDeploy: '2021-03-09T14:20:01-03:00' -> chop last 6 chars, ISO.
    Pix4DMatic:  '2021:03:09 14:20:01'.
    """
    c = F.col(col)
    # try_to_timestamp: ANSI-safe (Spark 4 defaults ANSI on; a plain
    # to_timestamp would raise on the non-matching format)
    dd = F.try_to_timestamp(F.substring(c, 1, 19), F.lit("yyyy-MM-dd'T'HH:mm:ss"))
    p4 = F.try_to_timestamp(c, F.lit("yyyy:MM:dd HH:mm:ss"))
    return F.coalesce(dd, p4)


# ---------------------------------------------------------------------------
# extra-metadata dict column (process.py:222-228; params.py:31-33)
# ---------------------------------------------------------------------------

BASE_METADATA = {
    # params.py:32 TIFFTAG_ARTIST analog, de-localized
    "artist": "provincial-hydraulics",
    "engine": "geotiff_processor_spark",
}


def metadata_map(registroid: Column | str = "registroid",
                 map_id: Column | str = "map_id") -> Column:
    """``map<string,string>`` metadata column: the static base dict
    map_concat'd with per-row registroId/mapId entries — the reference
    appends 'registroId={}' / 'mapId={}' to params.metadata before
    attaching it to every output dataset (process.py:222-228)."""
    rid = F.col(registroid) if isinstance(registroid, str) else registroid
    mid = F.col(map_id) if isinstance(map_id, str) else map_id
    base = F.create_map(
        *[F.lit(x) for kv in sorted(BASE_METADATA.items()) for x in kv])
    per_row = F.create_map(
        F.lit("registroId"), rid.cast("string"),
        F.lit("mapId"), mid.cast("string"))
    return F.map_concat(base, per_row)

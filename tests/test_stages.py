"""Every native stage chain gives the same rows in Spark and DuckDB: the
oracle contract, with both engines running the same expression text
through the two renderers of functions/stages.py."""

import pytest
from pyspark.sql import functions as F

from geotiff_processor_spark.functions import datum as D
from geotiff_processor_spark.functions import hilbert as H
from geotiff_processor_spark.functions import reproject as R
from geotiff_processor_spark.functions.stages import sql_stages, with_stages

N = 3000


def _double(sql: str) -> str:
    return f"cast({sql} as double)"


# chain -> (x column, y column, x and y synthesized from the id `i`,
# stage list)
CHAINS = {
    "utm_wgs84": ("e_utm", "n_utm", _double(R.SQL_UTM_EASTING),
                  _double(R.SQL_UTM_NORTHING), R.utm_stages()),
    "utm_grs80": ("e_utm", "n_utm", _double(R.SQL_UTM_EASTING),
                  _double(R.SQL_UTM_NORTHING),
                  R.utm_stages(zone=55, south=True, ell=R.GRS80_ELL)),
    "lcc": ("x_lcc", "y_lcc", _double(R.SQL_LCC_X), _double(R.SQL_LCC_Y),
            R.lcc_stages()),
    "ps": ("x_ps", "y_ps", _double(R.SQL_PS_X), _double(R.SQL_PS_Y),
           R.ps_stages()),
    "albers": ("x_alb", "y_alb", _double(R.SQL_ALB_X), _double(R.SQL_ALB_Y),
               R.albers_stages()),
    "merc": ("x_merc", "y_merc", _double(R.SQL_MERC_X),
             _double(R.SQL_MERC_Y), R.merc_stages()),
    "datum": ("lat_src", "lon_src", D.SQL_OSGB_LAT, D.SQL_OSGB_LON,
              D.datum_stages()),
    "hilbert": ("xq", "yq", "cast(i % 256 as bigint)",
                "cast((i * 7919) % 256 as bigint)",
                H.hilbert_stages("xq", "yq", 8)),
}


@pytest.mark.parametrize("chain", list(CHAINS))
def test_spark_matches_duckdb(spark, duck, chain):
    """Identical columns, in the same order, and identical values row for
    row: the work columns are dropped in both engines, and rounding makes
    the transcendental chains agree exactly."""
    x, y, sql_x, sql_y, stages = CHAINS[chain]
    src = spark.range(N).select(F.col("id").alias("i"),
                                F.expr(sql_x).alias(x),
                                F.expr(sql_y).alias(y))
    got = with_stages(src, stages).orderBy("i")
    res = duck.execute(
        sql_stages(f"SELECT i, {sql_x} AS {x}, {sql_y} AS {y}"
                   f" FROM (SELECT unnest(range(0, {N})) AS i)", stages)
        + " ORDER BY i")
    assert got.columns == [d[0] for d in res.description]
    want = res.fetchall()
    assert len(want) == N
    assert [tuple(r) for r in got.collect()] == want

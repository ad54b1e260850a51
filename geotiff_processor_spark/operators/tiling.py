"""XYZ/WMTS tile assignment (north_star: mirror the reference tile grid).

tile_x is exact integer arithmetic over milli-degrees; tile_y is the
slippy-map Web-Mercator row (EPSG:3857 — the reference's geoserver
target projection, /root/reference/params.py:29,
export_formats/geoserverDEM.py:34-38).

A tile-count rollup across zoom levels reuses the quadkey hierarchy:
zoom z-1 counts are a groupBy over zoom z (partial-agg reuse, same
pattern as the overview pyramid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import sql_tile_x, sql_tile_y


def assign_tiles(geocoded: DataFrame, zoom: int) -> DataFrame:
    return (
        geocoded.withColumn("zoom", F.lit(zoom).cast("bigint"))
        .withColumn("tile_x", F.expr(sql_tile_x("lonm", zoom)))
        .withColumn("tile_y", F.expr(sql_tile_y("lat", zoom)))
    )


def tile_counts(geocoded: DataFrame, zoom: int) -> DataFrame:
    return (
        assign_tiles(geocoded, zoom)
        .groupBy("zoom", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def tile_rollup_level(tile_counts_df: DataFrame, zoom: int) -> DataFrame:
    """ONE pyramid step: zoom-level counts -> zoom-1 (parent = sum of
    its 4 children). Taking the child level as an argument (rather
    than the full upstream plan) is what lets a resumable pipeline
    derive each level from the previous level's COMMITTED parquet."""
    return (
        tile_counts_df.groupBy(
            F.expr("cast(floor(tile_x / 2) as bigint)").alias("tile_x"),
            F.expr("cast(floor(tile_y / 2) as bigint)").alias("tile_y"),
        )
        .agg(F.sum("n_pages").alias("n_pages"))
        .withColumn("zoom", F.lit(zoom - 1).cast("bigint"))
        .select("zoom", "tile_x", "tile_y", "n_pages")
    )


def tile_pyramid_counts(tile_counts_df: DataFrame, zoom: int,
                        down_to_zoom: int = 0) -> dict[int, DataFrame]:
    """Roll tile counts up the zoom hierarchy: parent = sum of 4 children.

    ``zoom`` is the level ``tile_counts_df`` was built at (the zoom
    passed to ``tile_counts``). Building the levels runs no job."""
    cur = tile_counts_df
    out = {zoom: cur}
    while zoom > down_to_zoom:
        cur = tile_rollup_level(cur, zoom)
        zoom -= 1
        out[zoom] = cur
    return out


def flagship_pipeline(pages: DataFrame) -> DataFrame:
    """The flagship chain: geocode -> broadcast PIP join -> z6 XYZ tile
    assign -> pages and text bytes per (polygon, zone, tile). The bench,
    the ``spark-submit`` entry script and the plan tests all run this one
    definition; its only shuffle carries map-side partial aggregates."""
    from ..sources import synth
    from . import pip
    asg = pip.pip_join(synth.geocode(pages),
                       pip.build_cover_table(pages.sparkSession))
    return (
        assign_tiles(asg, 6)
        .groupBy("polygon_id", "zone", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pages"),
             F.sum(F.length("text")).alias("n_bytes"))
    )

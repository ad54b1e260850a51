"""Sinks: partitioned writes, pruning, round-trips (S7-S14 analogs)."""

import os

from pyspark.sql import functions as F

from geotiff_processor_spark.operators import pyramid, tiling
from geotiff_processor_spark.sources import sinks, synth


def _geocoded(spark, sf_dir):
    return synth.geocode(synth.build_pages(spark, sf_dir, with_html=False))


def test_write_tiles_partitioned_and_pruned(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tiles")
    base = tiling.tile_counts(_geocoded(spark, sf_dir), zoom=6)
    levels = tiling.tile_pyramid_counts(base, 6, down_to_zoom=4)
    allz = None
    for z, df in levels.items():
        allz = df if allz is None else allz.unionByName(df)
    sinks.write_tiles(allz, path)
    back = spark.read.parquet(path)
    assert back.count() == allz.count()
    # partition pruning: the zoom filter must land in PartitionFilters
    one = back.filter(F.col("zoom") == 5)
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "zoom" in pf[0]
    assert one.count() == levels[5].count()


def test_pyramid_sink_roundtrip(spark, tmp_path):
    path = str(tmp_path / "pyr")
    rv = synth.build_raster(spark).filter(F.expr(synth.SQL_RASTER_VALID))
    levels = pyramid.build_pyramid(rv, factors=[8, 64])
    sinks.write_pyramid(levels, path)
    l64 = sinks.read_pyramid_level(spark, path, 64)
    direct = pyramid.resample_aggregate(rv, 64).select("bx", "by", "s", "c")
    assert l64.select("bx", "by", "s", "c").exceptAll(direct).count() == 0


def test_pyramid_root_read_no_duplicate_level(spark, tmp_path):
    """Reading the pyramid ROOT must work: the level comes from the
    directory partition only, never also from a data column."""
    path = str(tmp_path / "pyr_root")
    rv = synth.build_raster(spark).filter(F.expr(synth.SQL_RASTER_VALID))
    levels = pyramid.build_pyramid(rv, factors=[8, 64])
    sinks.write_pyramid(levels, path)
    root = spark.read.parquet(path)
    assert root.columns.count("level") == 1
    per = {r["level"]: r["n"] for r in
           root.groupBy("level").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == {8: levels[8].count(), 64: levels[64].count()}


def test_file_sizing_max_records_per_file(spark, sf_dir, tmp_path):
    """S10 (storageRGB.py:48 BIGTIFF trigger analog): the output file
    count must respond to the sizing conf."""
    base = tiling.tile_counts(_geocoded(spark, sf_dir), zoom=6) \
        .coalesce(1)
    n = base.count()
    big = str(tmp_path / "one_file")
    small = str(tmp_path / "many_files")
    sinks.write_tiles(base, big, max_records_per_file=10 * n)
    sinks.write_tiles(base, small, max_records_per_file=max(1, n // 4))

    def n_files(p):
        return sum(1 for root, _, fs in os.walk(p)
                   for f in fs if f.endswith(".parquet"))

    assert n_files(big) < n_files(small)
    assert spark.read.parquet(small).count() == n


def test_sidecar_preview_quantities(spark, tmp_path):
    sinks.write_georef_sidecar(
        spark, str(tmp_path / "tfw"), "m0", 0.2, -58400, -34600)
    side = spark.read.parquet(str(tmp_path / "tfw")).first()
    assert side["px_w"] == 0.2 and side["px_h"] == -0.2

    rv = synth.build_raster(spark).filter(F.expr(synth.SQL_RASTER_VALID))
    coarse = pyramid.pyramid_level(rv, 256)
    sinks.write_preview(coarse, str(tmp_path / "prev"))
    assert spark.read.parquet(str(tmp_path / "prev")).count() == coarse.count()

    qpath = str(tmp_path / "q.txt")
    sinks.write_quantities([1.0, 2.5, 3.0, 4.0, 5.0, 6.0, 7.123456789],
                           qpath)
    with open(qpath) as f:
        vals = f.read().split(",")
    assert len(vals) == 7 and vals[-1] == "7.123457"
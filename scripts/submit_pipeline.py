"""Cluster entry point: the FULL multi-stage pipeline, resumable.

north_rule run mode — ships the engine via --py-files and runs every
stage of the reference workflow (geocode -> PIP join -> zonal stats ->
tile pyramid -> outline polygonize) with a lineage checkpoint between
stages, so a killed run resumes mid-pipeline without recomputing
committed partitions (the reference's processed-registry analog,
/root/reference/helpers.py:166-183, per-stage instead of per-file):

    zip -qr /tmp/gps.zip geotiff_processor_spark
    spark-submit --master <cluster-master> \
        --py-files /tmp/gps.zip \
        scripts/submit_pipeline.py <pages_parquet_path> <output_dir>

Each stage reads the PREVIOUS stage's committed parquet, never the
upstream plan — resume cost is bounded by the one interrupted stage.
``<stage>__done`` marker tables carry the completed partition keys;
``resume_filter`` anti-joins them away on restart and
``checkpoint_write`` commits with dynamic partition overwrite, so a
partition is either fully rewritten or untouched (Iceberg
overwritePartitions semantics on plain parquet).
"""

import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    pages_path, out_dir = sys.argv[1], sys.argv[2]
    # No spark.python.daemon.module here, unlike get_spark: under
    # spark-submit the package may arrive through --py-files only after
    # the worker daemon has started, so the stock daemon is kept.
    builder = SparkSession.builder.appName("gps-pipeline")
    # plain-python launches (tests, dev boxes) set the master via env;
    # spark-submit runs leave it unset and use the cluster's
    master = os.environ.get("GPS_PIPELINE_MASTER")
    if master:
        builder = builder.master(master) \
            .config("spark.sql.shuffle.partitions", "16")
    spark = builder.getOrCreate()
    run(spark, pages_path, out_dir)
    spark.stop()


def run(spark: SparkSession, pages_path: str, out_dir: str) -> None:
    from geotiff_processor_spark.operators import outline, pip, tiling, zonal
    from geotiff_processor_spark.plans import lineage
    from geotiff_processor_spark.sources import synth

    def stage_path(name: str) -> str:
        return os.path.join(out_dir, name)

    def stage(df, name: str, keys: list[str]):
        """Resume-filter + commit in ONE plan execution; returns the
        full committed stage (prior partitions + this run's). The
        unconditional write is safe: dynamic partition overwrite of an
        empty frame touches nothing, and checkpoint_write reads the
        stage back with an explicit schema, so an empty first-run input
        still yields a readable (empty) stage instead of a missing
        path (ADVICE r3: the limit(1).count() probe both re-ran the
        plan and skipped the write that downstream reads relied on)."""
        todo = lineage.resume_filter(df, spark, out_dir, name, keys)
        committed[name] = lineage.checkpoint_write(todo, out_dir, name, keys)
        return committed[name]

    committed: dict = {}

    # ---- stage 1: geocode (partitioned by lang) --------------------------
    pages = spark.read.parquet(pages_path)
    g = synth.geocode(pages).filter(
        F.col("lonm").isNotNull() & F.col("latm").isNotNull())
    geocoded = stage(g, "geocoded", ["lang"])

    # ---- stage 2: broadcast PIP join (partitioned by zone) ---------------
    pip_out = stage(pip.pip_join(geocoded, pip.build_cover_table(spark)),
                    "pip", ["zone"])

    # ---- stage 3: zonal stats (partitioned by zone) ----------------------
    stage(zonal.zonal_stats(pip_out), "zonal", ["zone"])

    # ---- stage 4: tile pyramid z6 -> z3, committed LEVEL BY LEVEL --------
    # Each zoom level is its own resumable commit (partition key zoom)
    # and every child level derives from the PARENT'S COMMITTED parquet,
    # not the upstream plan — a run killed between levels restarts with
    # the finished levels untouched and resumes exactly where it died,
    # recomputing nothing upstream (north_rule "resumable from
    # checkpoint", at query granularity).
    def pyramid_level(df, z):
        full = stage(df, "pyramid", ["zoom"])
        # GPS_PIPELINE_CRASH_AFTER_ZOOM: fault-injection hook for the
        # kill/restart tests — hard-exit (no cleanup, like SIGKILL)
        # right after this level's commit
        if os.environ.get("GPS_PIPELINE_CRASH_AFTER_ZOOM") == str(z):
            os._exit(137)
        return full.filter(F.col("zoom") == z)

    cur = pyramid_level(tiling.tile_counts(geocoded, zoom=6), 6)
    for z in range(6, 3, -1):
        cur = pyramid_level(tiling.tile_rollup_level(cur, z), z - 1)

    # ---- stage 5: outline polygonize + GeoJSON features (by group) -------
    outlines = outline.cell_outlines(geocoded, group_col="lang", level=6)
    stage(outline.outline_features(outlines), "outline", ["grp"])

    # ---- audit: per-stage partition metrics ------------------------------
    # over the committed frames returned by the stage writes (explicit
    # schema — works even when a stage is empty on an empty input)
    metrics = None
    for name, keys in [("geocoded", ["lang"]), ("pip", ["zone"]),
                       ("zonal", ["zone"]), ("pyramid", ["zoom"]),
                       ("outline", ["grp"])]:
        df = committed[name]
        m = (lineage.partition_metrics(
                df, keys, bytes_col="text" if "text" in df.columns else None)
             .select(F.lit(name).alias("stage"),
                     F.concat_ws("=", F.lit(keys[0]),
                                 F.col(keys[0]).cast("string")).alias("key"),
                     "n_rows", "n_bytes"))
        metrics = m if metrics is None else metrics.unionByName(m)
    metrics.write.mode("overwrite").parquet(stage_path("metrics"))


if __name__ == "__main__":
    main()

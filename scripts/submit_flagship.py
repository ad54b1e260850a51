"""Cluster entry point for the flagship pipeline (north_rule run mode).

Run on any Spark cluster — the engine ships as a zip via --py-files,
no cluster-side installs:

    zip -qr /tmp/gps.zip geotiff_processor_spark
    spark-submit --master <cluster-master> \
        --py-files /tmp/gps.zip \
        scripts/submit_flagship.py <pages_parquet_path> <output_path>

This script only declares the logical plan
(``operators.tiling.flagship_pipeline``: geocode -> broadcast PIP join
-> XYZ tile assign -> zonal aggregate) and writes the result; the
session and its sizing come from spark-submit confs, and executors
import the engine from the shipped zip.
"""

import sys

from pyspark.sql import SparkSession


def main() -> None:
    pages_path, out_path = sys.argv[1], sys.argv[2]
    # No spark.python.daemon.module here, unlike get_spark: under
    # spark-submit the package may arrive through --py-files only after
    # the worker daemon has started, so the stock daemon is kept.
    spark = SparkSession.builder.appName("gps-flagship").getOrCreate()

    from geotiff_processor_spark.operators.tiling import flagship_pipeline

    result = flagship_pipeline(spark.read.parquet(pages_path))
    result.write.mode("overwrite").parquet(out_path)
    spark.stop()


if __name__ == "__main__":
    main()

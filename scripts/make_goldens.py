"""Generate the committed golden fixtures (FIXTURES.md) at sf0.001.

Run once; outputs land in tests/goldens/ and are committed. The
regression test (tests/test_goldens.py) re-runs each operator and
compares row-exactly — the north_rule's "matching join output rows and
per-page tile/cell assignments exactly" gate in executable form.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from geotiff_processor_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests", "goldens")

GOLDEN_QUERIES = {
    "pip_assignments": lambda s, d: entrymod._pip(s, d)
    .select("url", "polygon_id"),
    "tile_assignments": "tile_assign",
    "knn": "knn",
    "pyramid_l8": "pyramid_l8",
    "zonal_stats": "zonal_stats",
    "cell_encode": "cell_encode",
}


def main():
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("goldens")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name, spec in GOLDEN_QUERIES.items():
        fn = qs[spec] if isinstance(spec, str) else spec
        df = fn(spark, SF_DIR)
        path = os.path.join(OUT, f"{name}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        print(name, "->", df.count(), "rows")

    # outline.geojson: one FeatureCollection over the lang groups
    # (outline_components projects the rings away, so call the operator)
    from geotiff_processor_spark.operators import outline as ol
    rows = ol.cell_outlines(entrymod._geocoded(spark, SF_DIR),
                            group_col="lang", level=6) \
        .orderBy("grp", "component_id").collect()
    features = [
        {
            "type": "Feature",
            "properties": {"grp": r["grp"], "component_id": r["component_id"],
                           "n_cells": r["n_cells"]},
            "geometry": json.loads(r["ring_geojson"]),
        }
        for r in rows
    ]
    with open(os.path.join(OUT, "outline.geojson"), "w") as f:
        json.dump({"type": "FeatureCollection", "features": features},
                  f, separators=(",", ":"))
    print("outline.geojson ->", len(features), "features")

    # feature_collection.json: FULL document assembly golden over the
    # donut fixture (outer + hole ring; outlines.py:104-128 parity)
    from geotiff_processor_spark.testing import donut_pages_fixture
    o = ol.cell_outlines(donut_pages_fixture(spark), group_col="g", level=6)
    fc = ol.feature_collections(o, gsd=0.2, date="2026-01-01").first()
    with open(os.path.join(OUT, "feature_collection.json"), "w") as f:
        f.write(fc["feature_collection"])
    print("feature_collection.json ->", fc["grp"])

    # multipolygon_feature.json: the merged one-Feature-per-group document
    # over the same fixture (outlines.py:79-128 parity)
    mp = ol.multipolygon_features(o, gsd=0.2, date="2026-01-01").first()
    with open(os.path.join(OUT, "multipolygon_feature.json"), "w") as f:
        f.write(mp["feature_json"])
    print("multipolygon_feature.json ->", mp["grp"])

    # quantities.txt: 7 comma-joined break values (quantities.py:14-24)
    row = qs["percentile_breaks"](spark, SF_DIR).first()
    vals = [row[f"break_{i + 1}"] for i in range(7)]
    with open(os.path.join(OUT, "quantities.txt"), "w") as f:
        f.write(",".join(str(round(v, 6)) for v in vals))
    print("quantities.txt ->", vals)
    spark.stop()


if __name__ == "__main__":
    main()

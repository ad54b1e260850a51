"""Materialize a deterministic sf1-equivalent dataset (10x sf0.1).

The driver ships sf{0.001,0.01,0.1}; the fixed-cost thesis for the
iterative operators (dedup_canonical, pagerank round latency shrinking
relative to work) needs a reading one order up. This synthesizes it
from sf0.1 by replicating the big tables 10x with SHIFTED keys — the
same deterministic-formula approach the whole testdata family uses, so
every query runs unchanged:

- events: event_id + r*10_000_000 (url/coord/media formulas stay
  injective per id)
- documents: doc_id + r*10_000_000, text kept verbatim (cross-replica
  duplicate text = realistic web boilerplate for the dedup family)
- embeddings: vec_id + r*10_000_000
- lineitem/orders: orderkey + r*10_000_000 (FK integrity preserved;
  o_custkey untouched so customer joins stay valid)
- dimension tables (region nation customer supplier part): copied as-is

Usage: python scripts/make_sf1.py [src_sf_dir] [dst_dir]
       (defaults /root/testdata/sf0.1 -> /tmp/testdata_sf1)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from geotiff_processor_spark.session import get_spark

SHIFT = 10_000_000
REPL = 10
SHIFT_KEYS = {
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
}
COPY = ["region", "nation", "customer", "supplier", "part"]


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/testdata_sf1"
    spark = get_spark("make_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)
    for t, keys in SHIFT_KEYS.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        reps = [df]
        for r in range(1, REPL):
            rep = df
            for k in keys:
                rep = rep.withColumn(
                    k, F.col(k) + F.lit(r * SHIFT).cast("bigint"))
            reps.append(rep)
        out = reps[0]
        for rep in reps[1:]:
            out = out.unionByName(rep)
        out.repartition(32).write.mode("overwrite") \
            .parquet(f"{dst}/{t}.parquet")
        print(f"{t}: {out.count()} rows", flush=True)
    for t in COPY:
        spark.read.parquet(f"{src}/{t}.parquet").write \
            .mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"{t}: copied", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

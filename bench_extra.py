"""Per-query isolation bench.

Times individual declared queries through bench.py's noop-sink method
in a ``get_spark()`` session sized from the host, and captures
.explain("formatted") plans so before/after evidence can be committed
under plans/.

Usage:
  python bench_extra.py [-n N] [--sf-dir DIR] [--plans DIR] [--tag TAG] q1 q2 ...
  python bench_extra.py --all            # every HEADLINE query

Prints one line per query:  name  best_sec  [all samples]
and a final JSON line {"queries": {...}, "sf_dir": ...} for records.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
import bench as benchmod
from geotiff_processor_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None,
                    help="directory to write <query>_<tag>.txt explain dumps")
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()

    names = benchmod.HEADLINE if args.all else args.names
    spark = get_spark("bench_extra")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    out = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        df = fn(spark, args.sf_dir)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans,
                                   f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        samples = [round(benchmod._seconds(lambda: fn(spark, args.sf_dir)), 3)
                   for _ in range(args.n)]
        out[name] = min(samples)
        print(f"{name:28s} {min(samples):8.3f}  {samples}", flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"queries": out, "sf_dir": args.sf_dir,
                      "n": args.n}))
    spark.stop()


if __name__ == "__main__":
    main()

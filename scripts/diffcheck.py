"""Dev harness mimicking the driver's DuckDB differential check.

Runs every queries() entry on Spark and, when an oracle_sql() entry
exists, the SQL on DuckDB; compares row counts and order-insensitive
value multisets (columns sorted by name, values stringified with float
rounding). Usage: python scripts/diffcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# data-derived oracle literals (IVF centroids) must come from the SAME
# sf_dir the queries run at — the driver always checks at sf0.01 (the
# entry module's default), but this dev harness takes any sf_dir
if len(sys.argv) > 1 and "SPARK_GRAFT_ORACLE_SF_DIR" not in os.environ:
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sys.argv[1]

from geotiff_processor_spark.session import get_spark  # noqa: E402
from geotiff_processor_spark.sources.testdata import TABLES  # noqa: E402
from geotiff_processor_spark.testing import norm_rows  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print("UNKNOWN QUERIES:", unknown)
        return 2
    spark = get_spark("diffcheck")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    failures = []
    results: dict = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            results[name] = {"err": str(e)[:200]}
            print(f"[SPARK-ERR] {name}: {str(e)[:300]}")
            continue
        if name not in oracles:
            results[name] = {"rows_only": True, "rows": len(srows)}
            print(f"[rows-only] {name}: {len(srows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"[DUCK-ERR] {name}: {str(e)[:300]}")
            continue
        sc, sn = norm_rows(scols, [tuple(r) for r in srows])
        dc, dn = norm_rows(dcols, drows)
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"[COLS] {name}: spark={sorted(scols)} duck={sorted(dcols)}")
            continue
        if len(sn) != len(dn):
            failures.append(name)
            print(f"[COUNT] {name}: spark={len(sn)} duck={len(dn)}")
            continue
        if sn != dn:
            failures.append(name)
            bad = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            print(f"[VALUES] {name}: first diffs {bad}")
            continue
        print(f"[OK] {name}: {len(sn)} rows")
        results[name] = {"rows_match": True, "schema_match": True,
                         "hash_match": True, "rows": len(sn)}
    print("FAILURES:", failures or "none")
    out_json = os.environ.get("SPARK_GRAFT_DIFFCHECK_JSON")
    if out_json:
        import json
        with open(out_json, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_queries": len(results),
                       "failures": failures, "results": results}, f,
                      indent=1)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Names of the driver-generated parquet tables (TESTDATA.md).

Queries scan ``<sf_dir>/<name>.parquet`` with ``spark.read.parquet``;
Catalyst pushes filters and projections into the scan. Tests and
``scripts/diffcheck.py`` register the same names as DuckDB views for
the oracles.
"""

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

import os
import sys

import duckdb
import pytest

# the checkout these tests belong to, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geotiff_processor_spark.session import get_spark
from geotiff_processor_spark.sources.testdata import TABLES

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", driver_memory="8g")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF0001}/{t}.parquet'")
    yield con


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001

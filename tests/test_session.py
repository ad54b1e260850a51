"""get_spark sizes itself from the host and lets Python workers import
the package whatever the working directory."""

import os
import subprocess
import sys

from geotiff_processor_spark.session import (PACKAGE_ROOT, host_cores,
                                             host_memory_bytes)

# the driver finds the package through sys.path only; the workers get
# no PYTHONPATH from the environment and run with cwd outside the repo
_CWD_CHECK = """
import sys
sys.path.insert(0, {root!r})
from geotiff_processor_spark.session import get_spark

def probe(batches):
    import geotiff_processor_spark  # noqa: F401
    yield from batches

spark = get_spark("cwd-check", master="local[1]", driver_memory="1g")
print(spark.range(3).mapInPandas(probe, "id long").count())
spark.stop()
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _CWD_CHECK.format(root=PACKAGE_ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "3"


def test_host_sizing():
    assert host_cores() == len(os.sched_getaffinity(0)) >= 1
    assert host_memory_bytes() > 2**28

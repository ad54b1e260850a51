"""get_spark sizes itself from the host, lets Python workers import
the package whatever the working directory, and starts them through the
engine's daemon."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from geotiff_processor_spark import daemon
from geotiff_processor_spark.session import (PACKAGE_ROOT, host_cores,
                                             host_memory_bytes)

LAZY_ZIP_INVALIDATION = sys.version_info >= (3, 13)

# the driver finds the package through sys.path only; the workers get
# no PYTHONPATH from the environment and run with cwd outside the repo
_CWD_CHECK = """
import sys
sys.path.insert(0, {root!r})
from geotiff_processor_spark.session import get_spark

def probe(batches):
    import zipimport
    import geotiff_processor_spark  # noqa: F401
    home = zipimport.zipimporter.invalidate_caches.__module__
    for b in batches:
        yield b.assign(home=home)

spark = get_spark("cwd-check", master="local[1]", driver_memory="1g")
rows = spark.range(3).mapInPandas(probe, "id long, home string").collect()
print(",".join(sorted(set(r.home for r in rows))), len(rows))
spark.stop()
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _CWD_CHECK.format(root=PACKAGE_ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    home, n = out.stdout.split()[-2:]
    assert n == "3"
    if not LAZY_ZIP_INVALIDATION:
        assert home == "geotiff_processor_spark.daemon"


def test_host_sizing():
    assert host_cores() == len(os.sched_getaffinity(0)) >= 1
    assert host_memory_bytes() > 2**28


def _write_module_zip(path, value):
    # a new file moved into place: a new inode, whatever the clock's grain
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("m.py", f"v = {value}\n")
    os.replace(tmp, path)


@pytest.mark.skipif(LAZY_ZIP_INVALIDATION,
                    reason="Python >= 3.13 invalidates zip caches lazily")
def test_zip_directory_reread_only_when_archive_changes(tmp_path,
                                                        monkeypatch):
    archive = tmp_path / "mod.zip"
    _write_module_zip(archive, 1)
    # undo the patch on zipimporter and the import of m after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.delitem(sys.modules, "m", raising=False)
    monkeypatch.syspath_prepend(str(archive))
    daemon.cache_zip_directories()
    import m
    assert m.v == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # the first call stamps the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_module_zip(archive, 2)
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.reload(m).v == 2

"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

Spark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before Python 3.13 that makes each ``zipimporter`` re-read
its whole archive directory: a worker holds about 16 of them over
``pyspark.zip`` (1,328 entries) and py4j, which costs more CPU than
decoding a small batch. Here an archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp of its last
read, and all importers of one archive share that read. The patch is
made in the daemon, so every forked worker inherits it before its
first task. On Python 3.13 and later (lazy invalidation) nothing is
changed and the daemon is ``pyspark.daemon`` as is.
"""

import importlib
import os
import sys
import zipimport


def cache_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the archive file changed since its last read."""
    reread = zipimport.zipimporter.invalidate_caches
    stamps = {}  # archive path -> stat stamp at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp \
                and files is not None:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    if sys.version_info < (3, 13):
        cache_zip_directories()
        # read each archive once here, so forked workers inherit stamps
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # under ``python -m`` this file is ``__main__``; run it by its package
    # name so the patched method reports this module as its home
    from geotiff_processor_spark import daemon as _daemon

    _daemon.main()

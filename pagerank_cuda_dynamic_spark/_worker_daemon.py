"""pyspark worker daemon that stops CPython < 3.13 re-reading zip archives.

Every Python task runs ``importlib.invalidate_caches()`` (pyspark's
``setup_spark_files``).  Before CPython 3.13 (gh-103200 made it lazy) that
call makes each ``zipimporter`` on ``sys.path`` re-read its archive's whole
directory: pyspark.zip, the py4j zip and the Spark core jar, about 27 k
entries per task, 0.15–0.2 s of the task's fixed cost.  The patched method
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since
this process last read it, so a rewritten archive is still picked up before
the next lookup.  The daemon patches once and primes the stamps; the
workers it forks inherit both.  Run with ``python -m`` in place of
``pyspark.daemon`` (``spark.python.daemon.module``; see ``session.get_spark``).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` only if it changed since this process read it."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    _stamps[self.archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` on CPython < 3.13; True if patched."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    if install():
        importlib.invalidate_caches()  # prime the stamps the workers inherit
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # run the package's copy of this module, not a second one named __main__
    from pagerank_cuda_dynamic_spark._worker_daemon import main as _main

    _main()

"""Python worker daemon: ``pyspark.daemon`` without the per-task
``pyspark.zip`` re-read.

Spark starts one daemon per executor (``spark.python.daemon.module``,
which :func:`birli_spark.session.get_spark` points here) and forks every
Python worker from it. Before each task, PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
On CPython < 3.12 that makes every cached ``zipimporter`` re-read its
archive's central directory: 16 importers over the 1328 entries of
Spark's ``python/lib/pyspark.zip``, ~0.22 CPU-s per task whatever the
task does. CPython 3.12 made the re-read lazy (gh-103200). This module
gives the same effect on older interpreters: an importer re-reads only
when its archive's ``(st_mtime_ns, st_size)`` changed since this process
last read it. Everything else is ``pyspark.daemon.manager()``, so what a
worker computes is unchanged.

Importing this module loads nothing beyond the package's own imports
(numpy and ``pyspark.sql``): the daemon forks every worker, and
pyarrow's thread pools are not fork-safe.

Run as ``python -m birli_spark.pyworker``; Spark does this itself.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when this process last read it
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since this process last
    read it. The stat comes before the read, so an archive rewritten
    during the read is read again next time."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _read_stamps.get(self.archive) == stamp):
        self._files = files
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


def main() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read each archive once here; every forked worker inherits it
        importlib.invalidate_caches()
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()

"""Python worker daemon: ``pyspark.daemon`` with lazy zip-cache invalidation.

Every Spark Python task calls ``importlib.invalidate_caches()`` during worker
setup (``pyspark.worker_util.setup_spark_files``). On CPython 3.10-3.12,
``zipimport.zipimporter.invalidate_caches`` is eager: each zipimporter
re-reads its archive's whole central directory. A worker that imported
pyspark from ``pyspark.zip`` holds 16 zipimporters (on ``pyspark.zip``,
py4j's zip and the spark-core jar), so each task re-read ~27k zip entries
before its UDF ran. CPython 3.13 made the method lazy (gh-103200); this
module installs that form on older versions: invalidation drops the
archive's entry from the shared ``_zip_directory_cache`` and the next lookup
re-reads the archive once, for every importer on it.

``session.get_spark`` starts workers through this module by setting
``spark.python.daemon.module``.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def install_lazy_zip_invalidation() -> None:
    """Make zipimporter cache invalidation lazy (no-op on 3.13+, where it
    already is, and before 3.10, where the method does not exist)."""
    if not (3, 10) <= sys.version_info < (3, 13):
        return
    # a data descriptor: it shadows the ``_files`` every existing importer
    # holds, and ``__init__``'s own assignment (made before ``archive`` is
    # set, after it filled the shared cache) is dropped
    zipimport.zipimporter._files = property(_files, lambda self, v: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install_lazy_zip_invalidation()
    from pyspark.daemon import manager
    manager()

"""Python-worker daemon for sessions built by ``session.get_spark``.

``get_spark`` selects this module with ``spark.python.daemon.module``. It
runs ``pyspark.daemon.manager()`` unchanged, after one patch that forked
workers inherit.

Why: every Python task runs ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On CPython 3.11 that makes
every cached ``zipimporter`` eagerly re-read its archive's whole central
directory in pure Python. The worker path holds Spark's own archives:
``pyspark.zip`` (one importer per imported subpackage, ~1.3k entries each
read), the py4j source zip, and the ``spark-core`` jar (~5.4k entries, no
``.py`` files). Re-reading them cost a reused worker 180-310 ms per task
on a 4-core host, the "~0.2 s per Python stage" floor.

Those archives ship with the Spark distribution and do not change while a
worker lives, so their importers skip the re-read. Archives added per task
(``addPyFile`` zips, the spark-files directory) and anything outside
``$SPARK_HOME`` are invalidated exactly as before. Nothing is pre-imported:
the daemon's memory stays what ``pyspark.daemon`` alone costs.
"""

from __future__ import annotations

import os
import sys
import zipimport


def spark_archives(path: list[str], spark_home: str) -> frozenset[str]:
    """Real paths of the archive files on ``path`` that lie under the real
    ``spark_home`` (often a symlink to a versioned install directory)."""
    if not spark_home:
        return frozenset()
    root = os.path.join(os.path.realpath(spark_home), "")
    reals = (os.path.realpath(entry) for entry in path)
    return frozenset(r for r in reals if r.startswith(root) and os.path.isfile(r))


def install(archives: frozenset[str]) -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for ``archives``."""
    if not archives:
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        if os.path.realpath(self.archive) not in archives:
            reread(self)

    invalidate_caches.spark_archives = archives
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def installed() -> frozenset[str]:
    """The archives the running interpreter skips (empty if unpatched)."""
    fn = zipimport.zipimporter.invalidate_caches
    return getattr(fn, "spark_archives", frozenset())


if __name__ == "__main__":
    # sys.path here is the worker PYTHONPATH Spark built; per-task
    # spark-files entries are only added later, inside each worker
    install(spark_archives(sys.path, os.environ.get("SPARK_HOME", "")))

    from pyspark.daemon import manager

    manager()

"""Ship this package to Spark executors via ``addPyFile``.

The engine's Arrow UDFs (compression, decode) are pickled by reference,
so executor Python workers must be able to import ``modelardb_rs_spark``.
When the package is pip-installed cluster-wide that's automatic; when it
is run from a source checkout (tests, the driver harness), we zip the
package once and register it with ``SparkContext.addPyFile`` — the
idiomatic way to distribute Python dependencies to executors.

Importing the package inside a Spark task also installs, once per
Python worker process, ``_stamp_zip_invalidation``: PySpark's worker
calls ``importlib.invalidate_caches()`` before every task, and on
CPython < 3.13 each ``zipimporter`` on ``sys.path`` then re-reads its
archive's central directory. Spark puts ``pyspark.zip`` and the
``spark-core`` jar (tens of MB) there, so every task of a
``mapInPandas``/``mapInArrow`` kernel paid a few hundred ms before
doing any work.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile

from pyspark import TaskContext

_SHIPPED: set[str] = set()


def ensure_shipped(spark) -> None:
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), f"modelardb_rs_spark_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for dirpath, _, files in os.walk(pkg_dir):
                if "__pycache__" in dirpath:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        rel = os.path.join(
                            "modelardb_rs_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    sc.addPyFile(zip_path)
    _SHIPPED.add(app_id)


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamp_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` differs from the stamp the
    importer holds, so an archive rewritten in place is still picked
    up. The worker re-read every archive when this task began
    (``worker_util.setup_spark_files``), so the importers it holds now
    are current and take their stamps here; an importer made later
    re-reads once, at its first invalidation, and takes its stamp then.
    CPython 3.13 made the re-read lazy, so there this does nothing."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stamped", False):
        return

    def invalidate_caches(self) -> None:
        stamp = _archive_stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
            return
        reread(self)
        self._archive_stamp = stamp

    invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._archive_stamp = _archive_stamp(importer.archive)


if TaskContext.get() is not None:  # imported by a Python worker running a task
    _stamp_zip_invalidation()

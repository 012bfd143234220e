"""Python-worker daemon that imports pyspark from a directory, not a zip.

Spark puts its own archives (``pyspark.zip``, ``py4j-*-src.zip`` and the
``spark-core`` jar) ahead of site-packages on every Python worker's
path, and PySpark calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``). On CPython 3.11 that makes every
zipimporter re-read its whole archive directory: with a pandas
worker's imports, 16 zipimporters and 26,672 entries, 0.11-0.13 s per
call on a 4-vCPU host, paid by every task. This module
drops the archives from ``sys.path`` before anything imports pyspark,
then runs PySpark's own daemon. ``session.get_spark`` names it in
``spark.python.daemon.module``; the package's ``__init__`` imports
nothing, so nothing imports pyspark before the path is fixed.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (name == "pyspark.zip" or name.endswith(".jar")
            or (name.startswith("py4j-") and name.endswith(".zip")))


def zip_free_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, when the rest of it holds
    pyspark and py4j directories and that pyspark's ``version.py`` is
    the one in ``pyspark.zip``; otherwise ``path`` unchanged."""
    rest = [p for p in path if not _is_spark_archive(p)]
    zipped = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    pyspark = PathFinder.find_spec("pyspark", rest)
    if (not zipped or pyspark is None or not pyspark.origin
            or PathFinder.find_spec("py4j", rest) is None):
        return path
    version_py = os.path.join(os.path.dirname(pyspark.origin), "version.py")
    try:
        with zipfile.ZipFile(zipped[0]) as zf, open(version_py, "rb") as fh:
            same = zf.read("pyspark/version.py") == fh.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if same else path


if __name__ == "__main__":
    sys.path[:] = zip_free_path(sys.path)
    from pyspark.daemon import manager

    manager()

"""Python worker daemon for local masters: Spark's daemon, minus Spark's archives.

Spark heads every Python worker's path with `pyspark.zip`, `py4j-*.zip` and
the spark-core jar. Imported from the zip, pyspark is compiled from source
at each daemon start, and every task's `importlib.invalidate_caches()`
(pyspark's `setup_spark_files`) re-reads each archive's directory. When the
interpreter's own paths hold an installed pyspark of the zip's version and
an installed py4j, this module drops the archives from `sys.path` before
pyspark is imported, then runs `pyspark.daemon.manager()`; otherwise it
leaves the path as Spark set it. Run as `python -m terrakit_spark.daemon`.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder


def _version(source: bytes) -> str | None:
    m = re.search(rb"__version__[^=]*=\s*['\"]([^'\"]+)", source)
    return m and m.group(1).decode()


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith(".zip")) or name.endswith(".jar")


def worker_path(path: list[str]) -> list[str]:
    """`path` without Spark's archives if the rest holds pyspark (of
    `pyspark.zip`'s version) and py4j, else `path` unchanged. Imports neither."""
    rest = [p for p in path if not _spark_archive(p)]
    zipped = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    installed = PathFinder.find_spec("pyspark", rest)
    if zipped is None or installed is None or installed.origin is None or PathFinder.find_spec("py4j", rest) is None:
        return path
    try:
        with zipfile.ZipFile(zipped) as z:
            zip_version = _version(z.read("pyspark/version.py"))
        with open(os.path.join(os.path.dirname(installed.origin), "version.py"), "rb") as f:
            own_version = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if zip_version and zip_version == own_version else path


if __name__ == "__main__":
    kept = worker_path(sys.path)
    dropped = tuple(p for p in sys.path if p not in kept)
    sys.path[:] = kept
    for key in [k for k in sys.path_importer_cache if k.startswith(dropped)]:
        del sys.path_importer_cache[key]
    from pyspark.daemon import manager

    manager()

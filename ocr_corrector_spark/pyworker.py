"""The Python worker daemon that ``session.get_spark`` sessions start.

Spark starts one daemon per executor with ``python -m <this module>``, and
the daemon forks the workers that run the Python tasks.  Spark's worker
path holds two archives that this package never imports from:

* the spark-core ``.jar`` (thousands of entries, no Python files);
* the bundled ``$SPARK_HOME/python/lib/pyspark.zip``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py``), and every zipimporter for those archives then
re-reads the archive's central directory: 0.14–0.32 s per task, measured
inside a task on a 4-core host.  The daemon also imports PySpark when it
starts: its worker modules take ~1.6 s from the zip's sources against
~0.45 s from the installed, byte-compiled package.  This module takes
both archives off ``sys.path`` and out of ``sys.path_importer_cache``,
then runs PySpark's own daemon.  The zip goes only when the installed
``pyspark`` is the zip's release, so workers run the PySpark the driver
runs; on a mismatch, or with no installed ``pyspark``, it stays and the
path is Spark's stock one.

Nothing outside the standard library is imported before the path is set.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile

_VERSION_RE = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def bundled_pyspark_version(zip_path: str) -> str | None:
    """``__version__`` of the ``pyspark/version.py`` in ``zip_path``, or
    None when the archive or the assignment is missing."""
    try:
        with zipfile.ZipFile(zip_path) as zf:
            source = zf.read("pyspark/version.py").decode("utf-8")
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return None
    match = _VERSION_RE.search(source)
    return match.group(1) if match else None


def worker_path(entries: list, spark_home: str | None, installed_version: str | None) -> list:
    """``entries`` (a ``sys.path``) without its ``.jar`` entries, and
    without ``$SPARK_HOME/python/lib/pyspark.zip`` when that zip's
    ``__version__`` equals ``installed_version``.  Every other entry (the
    py4j zip, user archives) keeps its place."""
    bundled = None
    if spark_home and installed_version:
        zip_path = os.path.join(spark_home, "python", "lib", "pyspark.zip")
        if bundled_pyspark_version(zip_path) == installed_version:
            bundled = os.path.realpath(zip_path)
    return [
        e
        for e in entries
        if not e.endswith(".jar") and (bundled is None or os.path.realpath(e) != bundled)
    ]


def installed_pyspark_version() -> str | None:
    try:
        return importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        return None


def main() -> None:
    keep = worker_path(sys.path, os.environ.get("SPARK_HOME"), installed_pyspark_version())
    dropped = [e for e in sys.path if e not in keep]
    sys.path[:] = keep
    # importers are cached per path entry and per package directory inside it
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in dropped):
            del sys.path_importer_cache[key]
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()

"""Spark's Python worker daemon, without the per-task zip directory re-read.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``), and on CPython 3.10 and 3.11
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive. A worker holds zipimporters over
``pyspark.zip``, the py4j source zip and the spark-core jar, so each
task re-read all three: measured 0.12 s of a one-row task's 0.125 s
launch-to-first-line gap on a 4-vCPU host at ``local[2]``. CPython 3.12
made the re-read lazy (gh-103200); before 3.10 zipimporters had no such
method at all.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
It replaces the method, in the daemon and therefore in every worker it
forks, with one that keeps the directory already read, and then runs
``pyspark.daemon`` as ``__main__`` with Spark's argv (the worker module)
intact. ``FileFinder`` invalidation is untouched, so directories added
with ``addPyFile`` are still re-scanned; a zip added with ``addPyFile``
is a new path entry whose importer reads its directory when first used.
The driver process is never patched.
"""

from __future__ import annotations

import runpy
import sys
import zipimport


def keep_directory(self) -> None:
    """``zipimporter.invalidate_caches`` as before CPython 3.10: keep
    the archive directory already read (Spark's archives do not change
    while a worker lives)."""


def main() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = keep_directory
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()

"""The Python workers of ``get_spark``'s session start from
``ds_jedai_spark.worker_daemon``: each task's ``importlib.invalidate_caches()``
no longer re-reads Spark's zip archives, and modules still import from
them."""

from __future__ import annotations

import sys

import pytest


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="zipimporter re-reads lazily from CPython 3.12")
def test_worker_tasks_do_not_reread_zip_archives(spark):
    # Submodules no engine code imports; the task imports the first one
    # its worker has not imported yet. (Defined in the test so the
    # closure ships by value: workers cannot import this test module.)
    unimported = ("pyspark.mllib.stat.distribution", "pyspark.ml.linalg",
                  "pyspark.mllib.linalg", "pyspark.ml.stat")

    def probe(_rows):
        import importlib
        import sys
        import time
        import zipimport

        installed = zipimport.zipimporter.invalidate_caches
        t = time.perf_counter()
        importlib.invalidate_caches()
        elapsed = time.perf_counter() - t
        fresh = next((m for m in unimported if m not in sys.modules), None)
        origin = fresh and importlib.import_module(fresh).__file__
        yield (installed.__qualname__ == "keep_directory", elapsed, fresh, origin)

    patched, elapsed, fresh, origin = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).first())
    assert patched
    assert elapsed < 0.020, elapsed  # the per-task re-read took ~0.12 s
    assert fresh is not None
    assert "pyspark.zip" in origin, (fresh, origin)


def test_driver_is_not_patched(spark):
    import zipimport

    from ds_jedai_spark import worker_daemon

    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.keep_directory

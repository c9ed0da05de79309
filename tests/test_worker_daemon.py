"""The Python workers of ``get_spark``'s session start from
``ds_jedai_spark.worker_daemon``: each task's ``importlib.invalidate_caches()``
no longer re-reads Spark's zip archives, and modules still import from
them. The workers import the engine whatever the driver's working
directory."""

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


def test_workers_import_engine_from_any_cwd(tmp_path):
    """A driver that runs outside the repo root, with the package on its
    own sys.path only (not installed, not on PYTHONPATH), still gets
    Python workers that import the engine: the daemon module and every
    UDF pickled by module reference."""
    import os
    import subprocess
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    code = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "from ds_jedai_spark.io.readers import read_wkt_delimited\n"
        "from ds_jedai_spark.session import get_spark\n"
        "spark = get_spark('cwd_probe')\n"
        f"df = read_wkt_delimited(spark, {root + '/fixtures/wkt_source.tsv'!r}, "
        "id_field='id', geom_field='wkt')\n"
        "print('rows', df.count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    run = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert "rows 406" in run.stdout

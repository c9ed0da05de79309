"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same conf is what we would ship on a
1000-executor cluster: AQE for runtime re-planning (partition coalescing,
skew-join splitting), Arrow for any pandas-UDF exchange, and shuffle
partitions sized to the parallelism at hand rather than the 200 default.

The Python workers start from ``ds_jedai_spark.worker_daemon`` instead
of ``pyspark.daemon`` (``spark.python.daemon.module``). Parsing,
verification and the stateful scans all run as Python tasks, and on
CPython < 3.12 each task re-read the directories of Spark's zip
archives before its first row: 0.12 s per task, more than a whole
JVM-only job (0.08 s). The daemon removes that re-read in the workers
only (see its docstring). The workers must be able to import this
package anyway: every engine UDF is pickled by module reference.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ds_jedai_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Driver testdata parquet uses TIMESTAMP(NANOS); read as long and
        # convert in the view layer (io/synthetic.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.python.daemon.module", "ds_jedai_spark.worker_daemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

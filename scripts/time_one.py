"""Time one headline query standalone, N reps, clearing cross-query
caches per rep (same protocol as bench.py). Usage:
  python scripts/time_one.py <name> [reps]
"""
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import os

from ds_jedai_spark.session import get_spark


def main():
    name = sys.argv[1]
    n_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_one")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    import bench
    from ds_jedai_spark import pins

    headline = dict(bench.build_headline(spark))
    fn = headline[name]
    for i in range(n_reps):
        # same cache protocol as bench.py, outside the timed region
        pins.clear(keep=() if name == "ann_train" else ("ann",))
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        print(f"rep {i}: {n} rows in {time.perf_counter() - t0:.3f}s",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

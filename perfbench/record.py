"""Record the gia_mixed_wkt counts row for a range of seeds.

    python3 perfbench/record.py --first 0 --last 63

Writes perfbench/recorded_mixed.json ({seed: counts row}). The benchmark
then requires every gia_mixed_wkt run on a recorded seed to return that
exact row; seeds outside the file are checked by the envelope count and
the DE-9IM implications only. Re-record only when the generator changes,
never to make a changed engine pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import gen
import oracle
import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--last", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    try:
        run.configure_env(work, trace=False)
        from ds_jedai_spark import api
        from ds_jedai_spark.config import parse_config
        from ds_jedai_spark.session import get_spark

        workload = run.WORKLOADS["gia_mixed_wkt"]
        (job,) = workload.jobs
        spark = get_spark("perfbench-record")
        out = {}
        try:
            for seed in range(args.first, args.last + 1):
                inputs = gen.make_mixed(work, seed)
                cfg = parse_config(run.config_doc(job, inputs))
                row = api.run(spark, cfg).collect()[0].asDict()
                # Seed -1 has no recorded row: check all but the exact counts.
                (want,) = oracle.expected(workload, inputs, -1)
                bad = oracle.check(job, row, want)
                if bad:
                    raise AssertionError(f"seed {seed}: {bad}")
                out[str(seed)] = row
                print(seed, row, flush=True)
        finally:
            run.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(oracle.RECORDED, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

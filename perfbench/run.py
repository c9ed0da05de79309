"""Interlinking benchmark: end-to-end job time plus a per-layer trace.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one Spark session at ``local[nproc / 2]``, a closed loop with
one job in flight. The inputs are generated from the seed, then the
engine's entry point ``api.run(spark, parse_config(doc))`` runs for each
of the workload's jobs in turn (one sample), sample after sample for
``--seconds`` seconds; every counts row is checked (oracle.py).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` starts the
session with the Spark event log on, times the same loop, then runs the
job once more layer by layer (layers.py) and prints the per-layer metrics.
The last stdout line is the result object; the line before it carries
the environment, input sizes and raw samples.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Samples run before timing starts. A fresh session's jobs get faster for
# several jobs in a row (Python workers start, the JVM compiles): the first
# takes 2-5x a warm one, the second 1.2-1.8x. Two samples (two WKT jobs,
# four box jobs) cover that steep part; the box jobs still get 10-30%
# faster over the next few samples.
WARMUP_SAMPLES = 2
MIN_SAMPLES = 2


@dataclass(frozen=True)
class Job:
    algorithm: str | None  # progressiveAlgorithm, None = full verification
    budget: int | None


@dataclass(frozen=True)
class Workload:
    family: str  # "boxes" (row-format parquet) or "mixed" (WKT TSV)
    jobs: tuple[Job, ...]  # one sample runs these back to back


# Why each workload exists: README.md, "Workloads".
WORKLOADS = {
    "gia_mixed_wkt": Workload("mixed", (Job(None, None),)),
    "progressive": Workload("boxes", (
        Job("PROGRESSIVE_GIANT", 2_000),
        Job("DYNAMIC_PROGRESSIVE_GIANT", 10_000),
    )),
}


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(work: str, trace: bool) -> dict:
    """Size the session for this machine through the variables
    session.get_spark reads, and keep every scratch file in work/.

    Spark gets half the CPUs: the other half is left to the JVM's compiler
    and GC threads and the Python driver. At local[4] on 4 CPUs a warm
    progressive job was 1.3x slower than at local[2]."""
    cpus_total = len(os.sched_getaffinity(0))
    cpus = max(1, cpus_total // 2)
    mem_mb = _mem_total_mb()
    heap_gb = max(1, min(4, mem_mb // 4096))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "events")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{events}",
        })
    submit = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    })
    return {"cpus": cpus_total, "spark_cpus": cpus, "mem_total_mb": mem_mb,
            "heap": f"{heap_gb}g", "events": events}


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRssSampler(threading.Thread):
    """Peak summed RSS of the JVM's descendant processes (the Python
    daemon and its workers), sampled every 0.2 s."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop_ev = threading.Event()

    def run(self):
        while not self._stop_ev.wait(0.2):
            kb = sum(_status_kb(p, "VmRSS:") for p in _descendants(self.jvm_pid))
            self.peak_kb = max(self.peak_kb, kb)

    def stop(self):
        self._stop_ev.set()
        self.join(timeout=5)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def config_doc(job: Job, inputs) -> dict:
    side = lambda s: {"path": s.path, "realIdField": "id", "geometryField": "wkt"}
    conf = {}
    if job.algorithm:
        conf = {"progressiveAlgorithm": job.algorithm, "mainWF": "JS",
                "budget": job.budget}
    return {"source": side(inputs.source), "target": side(inputs.target),
            "relation": "DE9IM", "configurations": conf}


def measure(args) -> dict:
    workload = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = configure_env(work, bool(args.trace))
        t = time.perf_counter()
        make = gen.make_boxes if workload.family == "boxes" else gen.make_mixed
        inputs = make(work, args.seed)
        gen_s = time.perf_counter() - t
        want = oracle.expected(workload, inputs, args.seed)
        return run_session(args, workload, inputs, want, env, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_session(args, workload, inputs, want, env, gen_s) -> dict:
    t0 = time.perf_counter()
    from ds_jedai_spark import api
    from ds_jedai_spark.config import parse_config
    from ds_jedai_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        start_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        # Memory is a traced-run metric; the sampler would compete with
        # the timed jobs otherwise.
        sampler = WorkerRssSampler(jvm_pid) if args.trace else None
        if sampler:
            sampler.start()
        cfgs = [parse_config(config_doc(j, inputs)) for j in workload.jobs]
        runs = Runs(workload, want)

        def job(cfg) -> dict:
            return api.run(spark, cfg).collect()[0].asDict()

        # Warm-up samples are checked like every sample but charged to
        # set-up, not timed.
        for _ in range(WARMUP_SAMPLES):
            runs.attempt(job, cfgs)
        warmup_s = time.perf_counter() - t0 - start_s
        setup_s = time.perf_counter() - t0

        t_end = time.perf_counter() + args.seconds
        while (time.perf_counter() < t_end
               or runs.attempted < WARMUP_SAMPLES + MIN_SAMPLES):
            runs.attempt(job, cfgs, timed=True)
        interlink_s = (statistics.median(runs.samples) if runs.samples
                       else float("nan"))

        traced = {}
        if args.trace:
            import layers

            tracer = layers.Tracer(spark)
            rows_in = len(inputs.source.ids) + len(inputs.target.ids)

            def layered(cfg) -> dict:
                return layers.layered_run(tracer, spark, cfg, rows_in)

            traced_total = runs.attempt(layered, cfgs)
            candidates = tracer.counts.get("spatial_join.candidates")
            if math.isnan(traced_total):
                pass  # failed, and counted as such by attempt()
            elif candidates == want[0].envelope_pairs * len(cfgs):
                traced["tracer"] = tracer
            else:
                runs.fail(f"tile join candidates {candidates} != envelope "
                          f"pairs {want[0].envelope_pairs} per job")
        if sampler:
            sampler.stop()
        jvm_hwm_kb = _status_kb(jvm_pid, "VmHWM:")
        spark_version = spark.version
    finally:
        stop_session(spark)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": env["cpus"], "spark_cpus": env["spark_cpus"],
        "mem_total_mb": env["mem_total_mb"],
        "heap": env["heap"], "spark": spark_version,
        "python": platform.python_version(),
        "sizes": oracle.sizes(inputs, want[0]), "gen_s": gen_s,
        "interlink_samples": runs.samples,
        "error_rate": runs.failed / runs.attempted,
        "problems": runs.problems[:10],
    }), flush=True)
    if not runs.samples or (args.trace and not traced):
        # Every timed job, or the traced run, failed: nothing to report.
        metrics = {}
    elif args.trace:
        metrics = {
            "session.start_s": (start_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "session.peak_rss_mb": ((jvm_hwm_kb + sampler.peak_kb) / 1024, "MB"),
            **layers.layer_metrics(traced["tracer"],
                                   layers.read_event_log(env["events"])),
            "trace_overhead_s": (traced_total - interlink_s, "s"),
        }
    else:
        metrics = {
            "interlink_s": (interlink_s, "s"),
            "pairs_per_s": (runs.verified / interlink_s, "1/s"),
            "setup_s": (setup_s, "s"),
        }
    return {
        "correct": not runs.problems,
        "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


class Runs:
    """Attempted samples, each the workload's jobs back to back: wall
    times of the timed ones, and the answer check of every job. A sample
    with a job that raises or answers wrong is failed."""

    def __init__(self, workload, want: list[oracle.Expected]):
        self.workload, self.want = workload, want
        self.attempted = self.failed = 0
        self.samples: list[float] = []
        self.problems: list[str] = []
        self.verified = 0  # verifications of the last correct sample

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)

    def attempt(self, run_job, cfgs, timed: bool = False) -> float:
        self.attempted += 1
        t = time.perf_counter()
        try:
            rows = [run_job(cfg) for cfg in cfgs]
        except Exception as e:  # noqa: BLE001 - counted, then reported
            self.fail(f"{type(e).__name__}: {e}")
            return float("nan")
        dt = time.perf_counter() - t
        bad = [problem
               for job, row, want in zip(self.workload.jobs, rows, self.want)
               for problem in oracle.check(job, row, want)]
        if bad:
            self.failed += 1
            self.problems.extend(bad)
            return float("nan")
        if timed:
            self.samples.append(dt)
        self.verified = sum(row["verifications"] for row in rows)
        return dt


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops Spark and removes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "ds_jedai_spark", "api.py")):
        print(f"engine sources not found under {ROOT}: run from the root of "
              "a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = measure(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

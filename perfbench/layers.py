"""Traced run: the steps of ``api.run`` called one layer at a time.

Each layer's calls run under ``sparkContext.setJobGroup(<layer>)`` and its
output is materialised (persist + count) before the next layer starts, so
the layer's wall time, row counts and Spark stage metrics are its own.
The calls mirror ``api.run``'s order for the configurations this benchmark
uses (TILES grid, no bbox, no dates, spatial entities).

Counting jobs that only serve the trace (exploded tile rows, scan groups)
run outside every span, under the ``bench.count`` group, so no layer is
charged for them.

A workload whose sample is several jobs traces each of them with one
Tracer: spans, counts and stage metrics add up over the jobs, as the
end-to-end time of a sample does.

``read_event_log`` turns the Spark event log of the traced process into
per-job-group stage metrics. It runs once, after the session stopped.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import functions as F

from ds_jedai_spark import api
from ds_jedai_spark.model.tiles import compute_theta, floor_theta, with_tiles
from ds_jedai_spark.operators import progressive as prog
from ds_jedai_spark.operators.loadbalance import auto_balance
from ds_jedai_spark.operators.progressive_state import dynamic_progressive
from ds_jedai_spark.operators.relate import RELATIONS
from ds_jedai_spark.operators.relate_general import with_general_relations
from ds_jedai_spark.operators.spatial_join import tile_join
from ds_jedai_spark.operators.weights import weight_exprs

LAYERS = (
    "io",
    "model.tiles",
    "operators.spatial_join",
    "operators.loadbalance",
    "operators.progressive",
    "operators.progressive_state",
    "operators.relate_general",
)
# Metric prefix of each layer (the module name without its package).
PREFIX = {layer: layer.rsplit(".", 1)[-1] for layer in LAYERS}
# Name of the metric holding each layer's span.
SPAN_METRIC = {layer: f"{PREFIX[layer]}.s" for layer in LAYERS} | {
    "io": "io.read_s", "model.tiles": "tiles.theta_s"}
# Counts recorded at the layer boundaries (0 where the layer did not run).
COUNTS = (
    "io.rows", "io.rows_dropped", "tiles.exploded_rows",
    "spatial_join.candidates", "loadbalance.engaged",
    "progressive.ranked_pairs", "progressive.kept",
    "progressive_state.groups", "progressive_state.kept",
    "relate_general.pairs",
)
STAGE_UNITS = {"task_s": "s", "tasks": "count", "shuffle_write_mb": "MB",
               "spill_mb": "MB"}
COUNT_GROUP = "bench.count"
# dynamic_progressive's default scan fan-out (pid = s_id mod NUM_PARTS).
NUM_PARTS = 32


def counts_aggs():
    """The DE9IM counts row of api.run."""
    aggs = [
        F.count(F.lit(1)).alias("verifications"),
        F.count(F.when(F.col("r_intersects"), True)).alias("qualifying_pairs"),
    ]
    for r in RELATIONS:
        if r != "disjoint":
            aggs.append(F.count(F.when(F.col(f"r_{r}"), True)).alias(f"n_{r}"))
    return aggs


class Tracer:
    """Spans (layer, start, end) and counts summed over the traced jobs,
    kept in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = {}
        self._held = []

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))
            self.sc.setJobGroup(COUNT_GROUP, COUNT_GROUP)

    def add(self, key: str, n: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    def materialise(self, df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = df.count()
        self._held.append(df)
        return df, n

    def release(self):
        for df in self._held:
            df.unpersist()
        self._held.clear()


def layered_run(tr: Tracer, spark, cfg, input_rows: int) -> dict:
    """Run cfg layer by layer into tr; returns the counts row."""
    try:
        return _layers(tr, spark, cfg, input_rows)
    finally:
        tr.release()


def _layers(tr: Tracer, spark, cfg, input_rows: int) -> dict:
    with tr.layer("io"):
        source, n_s = tr.materialise(api.read_dataset(spark, cfg.source))
        target, n_t = tr.materialise(api.read_dataset(spark, cfg.target))
    tr.add("io.rows", n_s + n_t)
    tr.add("io.rows_dropped", input_rows - (n_s + n_t))

    with tr.layer("model.tiles"):
        theta = floor_theta(compute_theta(source, cfg.theta_granularity), target)
    tr.add("tiles.exploded_rows", sum(
        with_tiles(df.select("minx", "miny", "maxx", "maxy"), theta).count()
        for df in (source, target)
    ))

    extras = ("gtype", "coords")
    with tr.layer("operators.spatial_join"):
        cand, n_cand = tr.materialise(tile_join(
            source, target, theta=theta, source_extra=extras, target_extra=extras
        ))
    tr.add("spatial_join.candidates", n_cand)

    alg = cfg.progressive_algorithm
    budget = cfg.budget or 3000
    if alg == "PROGRESSIVE_GIANT":
        with tr.layer("operators.progressive"):
            wexpr = weight_exprs("s_", "t_", theta[0], theta[1],
                                 api._total_blocks(source, theta))
            keys, kept = tr.materialise(
                prog.progressive_top_budget(cand, wexpr[cfg.main_wf.lower()], budget)
                .select("s_id", "t_id")
            )
            cand, _ = tr.materialise(
                cand.join(keys, on=["s_id", "t_id"], how="left_semi"))
        tr.add("progressive.ranked_pairs", n_cand)
        tr.add("progressive.kept", kept)
    elif alg == "DYNAMIC_PROGRESSIVE_GIANT":
        with tr.layer("operators.progressive_state"):
            wexpr = weight_exprs("s_", "t_", theta[0], theta[1],
                                 api._total_blocks(source, theta))
            sched, kept = tr.materialise(dynamic_progressive(
                cand, wexpr[cfg.main_wf.lower()], None, budget,
                relation="intersects",
            ))
            cand, _ = tr.materialise(cand.join(
                sched.select("s_id", "t_id"), on=["s_id", "t_id"], how="left_semi"
            ))
        tr.add("progressive_state.groups",
               sched.select(F.pmod("s_id", F.lit(NUM_PARTS))).distinct().count())
        tr.add("progressive_state.kept", kept)
    elif alg is None:
        with tr.layer("operators.loadbalance"):
            cand, engaged = auto_balance(
                cand, source, target,
                mode=str(cfg.extra.get("loadBalancer", "AUTO")),
            )
            if engaged:
                cand, _ = tr.materialise(cand)
        tr.add("loadbalance.engaged", int(engaged))
    else:
        raise ValueError(f"traced run does not cover {alg}")

    with tr.layer("operators.relate_general"):
        row = with_general_relations(cand).agg(*counts_aggs()).collect()[0]
    tr.add("relate_general.pairs", row["verifications"])
    tr.add("relate_general.qualifying", row["qualifying_pairs"])
    return row.asDict()


def layer_metrics(tr: Tracer, stages: dict) -> dict:
    """(value, unit) per layer metric: span seconds, boundary counts and
    the event-log stage metrics of each layer, plus two ratios. A layer
    the workload's path does not call reads 0."""
    span_s: dict[str, float] = {}
    for name, start, end in tr.spans:
        span_s[name] = span_s.get(name, 0.0) + end - start
    m = {}
    for layer in LAYERS:
        m[SPAN_METRIC[layer]] = (span_s.get(layer, 0.0), "s")
        st = stages.get(layer, {})
        for key, unit in STAGE_UNITS.items():
            m[f"{PREFIX[layer]}.{key}"] = (st.get(key, 0), unit)
    for key in COUNTS:
        m[key] = (tr.counts.get(key, 0), "count")
    cands = tr.counts["spatial_join.candidates"]
    m["spatial_join.useful_ratio"] = (
        tr.counts["relate_general.qualifying"] / max(cands, 1), "ratio")
    m["relate_general.pairs_per_s"] = (
        tr.counts["relate_general.pairs"] / span_s["operators.relate_general"], "1/s")
    return m


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Stage metrics summed per job group from the (uncompressed) event
    log files in log_dir: task_s (executor run time), tasks,
    shuffle_write_mb and spill_mb (memory + disk bytes spilled)."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    group_of_stage[ev["Stage Info"]["Stage ID"]] = props.get(
                        "spark.jobGroup.id", "")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out.setdefault(
                        group_of_stage.get(ev["Stage ID"], ""),
                        dict.fromkeys(STAGE_UNITS, 0),
                    )
                    g["tasks"] += 1
                    g["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return out

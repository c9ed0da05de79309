"""High-level engine façade: run a reference-style configuration end-to-end.

The reference's entry points are hard-coded RDD pipelines selected by main
class (reference: experiments/GiantExp.scala, experiments/progressive/
ProgressiveExp.scala); here ONE function interprets the parsed
configuration and assembles the equivalent DataFrame plan:

    read -> parse/validate geometry -> tile join (filtering + ref-point
    dedup) -> [temporal filter] -> [progressive scheduling] -> exact
    verification -> counts / pairs / export

Everything stays declarative until verification, which uses the
general-path DE-9IM verifier (Arrow-batched) for arbitrary WKT geometry.
"""

from __future__ import annotations

import glob as _glob
import os
import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ds_jedai_spark.config import JedaiConfig
from ds_jedai_spark.io import flatgeobuf, geopackage, readers, shapefile, writers
from ds_jedai_spark.io.fsutil import has_scheme
from ds_jedai_spark.io.scan import apply_bbox
from ds_jedai_spark.model.tiles import (  # noqa: F401 (compute_theta: api surface)
    compute_theta,
    grid_blocks,
    prologue,
)
from ds_jedai_spark.operators import progressive as prog
from ds_jedai_spark.operators.relate import RELATIONS as REL_ORDER
from ds_jedai_spark.operators.relate_general import with_general_relations
from ds_jedai_spark.operators.spatial_join import tile_join
from ds_jedai_spark.operators.weights import weight_exprs
from ds_jedai_spark.pins import pin


@dataclass(frozen=True)
class Format:
    """One dataset format of ``FORMATS``: ``read(spark, path, **kw)``
    with ``kw`` the ``fields`` of the DatasetSpec plus ``options``. A
    reader that ``prunes`` takes ``bbox=`` and applies it itself.
    ``corpus`` is the file extension a directory of this format holds
    (None: no directory corpus)."""

    read: Callable
    fields: tuple[str, ...] = ("id_field", "date_field", "date_pattern")
    options: dict = field(default_factory=dict)
    corpus: str | None = None
    prunes: bool = False


_PARSED = ("id_field", "geom_field", "date_field", "date_pattern")

# The one format decision (the reference's Reader.read dispatch,
# utils/readers/Reader.scala:38-71), keyed by extension and tried in
# this order: a directory holding a binary corpus reads as the first of
# shp, gpkg, fgb that it holds.
FORMATS: dict[str, Format] = {
    ".tsv": Format(readers.read_wkt_delimited, _PARSED, {"delimiter": "\t"}),
    ".csv": Format(readers.read_wkt_delimited, _PARSED, {"delimiter": ","}),
    ".json": Format(readers.read_geojson),
    ".geojson": Format(readers.read_geojson),
    ".nt": Format(readers.read_ntriples, ()),
    ".shp": Format(shapefile.read_shapefile, corpus=".shp", prunes=True),
    ".gpkg": Format(geopackage.read_geopackage, corpus=".gpkg", prunes=True),
    ".fgb": Format(flatgeobuf.read_flatgeobuf, corpus=".fgb", prunes=True),
    # Engine row-format parquet: zero-parse fast path; plain user
    # parquet with a WKT column parses via the geom_field fallback.
    ".parquet": Format(readers.read_parquet_dataset, _PARSED),
}


def dataset_format(path: str) -> Format:
    """The ``FORMATS`` entry that reads ``path``: the first whose key is
    the path's extension or whose corpus a local directory at ``path``
    holds. The directory is listed once, recursively."""
    ext = os.path.splitext(path)[1].lower()
    held: set[str] = set()
    if not has_scheme(path) and os.path.isdir(path):
        held = {os.path.splitext(f)[1] for f in _glob.glob(
            os.path.join(path, "**", "*"), recursive=True)}
    for key, fmt in FORMATS.items():
        if ext == key or fmt.corpus in held:
            return fmt
    raise ValueError(
        f"unsupported dataset extension: {path} "
        "(tsv/csv/json/geojson/nt/shp/gpkg/fgb/parquet, or a directory "
        "of .shp)"
    )


def read_dataset(spark: SparkSession, spec, bbox=None) -> DataFrame:
    """Read ``spec`` with the reader ``dataset_format`` picks. ``bbox`` =
    (minx,miny,maxx,maxy) restricts the scan to envelope-intersecting
    entities: the binary readers prune with it themselves (shapefile
    record headers, the FlatGeobuf R-tree, the GeoPackage R*Tree) and
    apply the exact filter; every other format gets the pushed-down
    filter of apply_bbox."""
    fmt = dataset_format(spec.path)
    kw = {f: getattr(spec, f) for f in fmt.fields} | fmt.options
    if fmt.prunes:
        return fmt.read(spark, spec.path, bbox=bbox, **kw)
    df = fmt.read(spark, spec.path, **kw)
    return df if bbox is None else apply_bbox(df, bbox)


# Known-equivalent identifiers compare equal: GeoParquet's spec
# default normalizes to OGC:CRS84 while .prj/.gpkg WGS84 yields
# EPSG:4326 — same datum/units, axis order only (the engine is
# axis-order-naive, like the reference).
_CRS_EQ = {"OGC:CRS84": "EPSG:4326"}


def _crs_of(df: DataFrame) -> str | None:
    try:
        return df.schema["gtype"].metadata.get("crs")
    except (KeyError, AttributeError, TypeError):
        return None


def _canon_crs(c: str | None) -> str | None:
    return _CRS_EQ.get(c, c)


def _maybe_auto_reproject(source: DataFrame,
                          target: DataFrame) -> DataFrame:
    """extra.autoReproject: when source and target declare a pair the
    engine can convert — the closed-form EPSG:4326/OGC:CRS84 vs
    EPSG:3857 pair (one JVM Project, no shuffle), or ANY pair when the
    env-gated pyproj tier is importable (operators/crs.py) — reproject
    the TARGET into the source's frame in-plan so the join runs in
    shared coordinates; any other mismatch falls through to the usual
    warning/strictCrs error."""
    a, b = _canon_crs(_crs_of(source)), _canon_crs(_crs_of(target))
    if a is not None and b is not None and a != b:
        from ds_jedai_spark.operators.crs import (
            have_projection_lib,
            reproject,
        )

        if {a, b} == {"EPSG:4326", "EPSG:3857"} or have_projection_lib():
            return reproject(target, a)
    return target


def _check_crs(source: DataFrame, target: DataFrame, strict: bool) -> None:
    """Warn — or raise under the strictCrs flag — when source and target
    declare DIFFERENT coordinate reference systems (the GeoParquet
    footer CRS the readers carry as column metadata on gtype). Unknown
    CRS (no footer) never participates in the comparison; the reference
    is CRS-naive, so parity is unaffected."""
    crs_of, canon = _crs_of, _canon_crs
    a, b = crs_of(source), crs_of(target)
    if a is not None and b is not None and canon(a) != canon(b):
        msg = (
            f"source and target declare different CRS ({a!r} vs {b!r}); "
            "spatial predicates assume shared planar coordinates — "
            "reproject one side upstream (configurations.strictCrs: true "
            "turns this warning into an error)"
        )
        if strict:
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, UserWarning, stacklevel=2)


def _total_blocks(df: DataFrame, theta: tuple[float, float]) -> int:
    """Grid-cell count of df's extent under theta, from its own aggregate
    (``run`` takes the source extent from its prologue instead)."""
    return grid_blocks(prologue(df).extent, theta)


# Above this budget, TakeOrderedAndProject's driver-side merge of `budget`
# rows becomes the bottleneck (reference experiment budgets reach 5M-100M,
# TSAS-Experiments/scalabilityExp.sh); dispatch switches to the
# partitioned local-budget scheduler which never funnels rows through one
# task or the driver.
LARGE_BUDGET = 100_000


def _grid_pid_sql(prefix: str, theta: tuple[float, float]) -> str:
    """Coarse spatial-partition id (8x8-theta cells) of an envelope's min
    corner; the multiplier keeps x/y cell indices disjoint."""
    tx, ty = 8.0 * theta[0], 8.0 * theta[1]
    return (
        f"(CAST(floor({prefix}minx / {tx!r}) AS BIGINT) * 1048576 + "
        f"CAST(floor({prefix}miny / {ty!r}) AS BIGINT))"
    )


def _wf_key(wf: str) -> str:
    """Config weighting-function name -> ``weight_exprs`` key."""
    return wf.lower().replace("pearson_x2", "x2")


def _schedule(
    cand: DataFrame,
    cfg: JedaiConfig,
    wexpr: dict,
    source: DataFrame,
    theta: tuple[float, float],
) -> DataFrame:
    main = wexpr[_wf_key(cfg.main_wf)]
    sec = wexpr[_wf_key(cfg.secondary_wf)] if cfg.secondary_wf else None
    budget = cfg.budget or 3000  # reference defaultBudget
    alg = cfg.progressive_algorithm
    if alg == "RANDOM":
        sched = prog.random_scheduling(cand, budget)
    elif alg in ("TOPK", "RECIPROCAL_TOPK"):
        # Per-source k = ceil(budget / |distinct sources|); the distinct
        # count is a one-row broadcast aggregate folded into the plan, not
        # a driver action over the candidate set.
        n_src = cand.agg(
            F.greatest(F.count_distinct(F.col("s_id")), F.lit(1)).alias("n_src")
        )
        with_k = cand.crossJoin(F.broadcast(n_src)).withColumn(
            "k", F.expr(f"CAST(ceil({budget} / CAST(n_src AS DOUBLE)) AS INT)")
        )
        fn = (
            prog.topk_per_entity_dynamic
            if alg == "TOPK"
            else prog.reciprocal_topk_dynamic
        )
        sched = fn(with_k, main)
    elif cfg.ws == "COMPOSITE" and sec:
        sched = prog.composite_top_budget(cand, main, sec, budget)
    elif cfg.ws == "HYBRID" and sec:
        sched = prog.hybrid_top_budget(cand, main, sec, budget)
    elif cfg.ws == "THIN_MULTI_COMPOSITE":
        sched = prog.thin_multi_top_budget(
            cand, wexpr["js"], wexpr["cf"], wexpr["mbro"], budget
        )
    elif budget >= LARGE_BUDGET:
        sched = prog.local_budget_top(
            cand, source, main, budget,
            _grid_pid_sql("s_", theta), _grid_pid_sql("", theta),
        )
    else:
        sched = prog.progressive_top_budget(cand, main, budget)
    keep = [c for c in sched.columns if c in ("s_id", "t_id")]
    return sched.select(*keep)


# Plan nodes that run Python on the executors: every non-parquet
# reader's Arrow batches, the WKT/WKB parquet fallback, decompose's fine
# envelopes and the pyproj reprojection tier.
_PYTHON_NODE = re.compile(r"\b(MapInArrow|MapInPandas)\b")


def _runs_python(df: DataFrame) -> bool:
    return bool(_PYTHON_NODE.search(
        df._jdf.queryExecution().analyzed().treeString()))


_DECOMPOSED = ("DECOMPOSED_ENTITY", "INDEXED_DECOMPOSED_ENTITY")


def _sides(spark: SparkSession, cfg: JedaiConfig) -> tuple[DataFrame, DataFrame]:
    """The source and target frames ``run`` joins: read, [reprojected,]
    bbox-filtered, [with fine envelopes]. A side whose reading runs
    Python is pinned here, once (the reference persists its parsed RDDs,
    GiantExp.scala:77): the prologue aggregate and the final query then
    read the parsed rows instead of parsing the input twice. The pin is
    lazy, so no job runs here: the prologue aggregate is the job that
    parses both sides, in parallel tasks of its one scan stage, and
    caches their blocks. Engine row-format parquet is left as a scan
    (nothing to parse). A pin is a localCheckpoint (``pins.pin``): its
    blocks live as long as the returned query references them, and
    cannot be recomputed if an executor holding them is lost."""
    bbox = cfg.extra.get("bbox")
    auto = bool(cfg.extra.get("autoReproject"))
    source = read_dataset(spark, cfg.source, bbox=bbox)
    target = read_dataset(spark, cfg.target,
                          bbox=None if auto else bbox)
    if auto:
        target = _maybe_auto_reproject(source, target)
        if bbox is not None:
            target = apply_bbox(target, bbox)
    _check_crs(source, target, strict=bool(cfg.extra.get("strictCrs")))
    if cfg.entity_type in _DECOMPOSED:
        from ds_jedai_spark.operators.decompose import with_fine_envelopes

        source = with_fine_envelopes(source)
        target = with_fine_envelopes(target)
    return tuple(pin(df, eager=False) if _runs_python(df) else df
                 for df in (source, target))


def run(spark: SparkSession, cfg: JedaiConfig) -> DataFrame:
    """Execute the configuration; returns the GiantExp-style counts row for
    DE9IM or the qualifying (s_id, t_id) pairs for a single relation.

    Before the returned query, ``run`` starts ONE aggregate (two jobs:
    its shuffle-map stage and its result), ``tiles.prologue``: theta
    floored at both domains, the source extent and, when the load
    balancer is AUTO on the full-verification path, both mean vertex
    counts. Its scan stage also parses every side that ``_sides``
    pinned, so the returned query reads those sides' cached blocks. The
    reads' own CSV-header and parquet-footer jobs come on top.

    ``extra.bbox`` = (minx,miny,maxx,maxy) restricts BOTH sides to
    envelope-intersecting entities before the join (read_dataset pushes
    it into the scan). ``extra.autoReproject`` converts a target that
    declares the one closed-form CRS pair (EPSG:4326 <-> EPSG:3857)
    into the source's frame in-plan instead of warning; with a bbox the
    target's filter applies AFTER reprojection (same frame as the box —
    the format-level index skip is traded for correctness on that
    side)."""
    source, target = _sides(spark, cfg)
    decomposed = cfg.entity_type in _DECOMPOSED
    balancer = str(cfg.extra.get("loadBalancer", "AUTO")).upper()
    verts = cfg.progressive_algorithm is None and balancer == "AUTO"
    pro = prologue(source, target, cfg.theta_granularity, verts=verts)
    theta = pro.theta
    fine = ("fine_envs",) if decomposed else ()
    extras = ("gtype", "coords") + fine + (("ts",) if cfg.source.date_field else ())
    textras = ("gtype", "coords") + fine + (("ts",) if cfg.target.date_field else ())
    if cfg.grid_type in ("KDBTREE", "QUADTREE"):
        # Sampled spatial partitioner path (the reference's gridType); the
        # quantile grid stands in for both sampled tree builds.
        from ds_jedai_spark.operators.partitioner import partitioned_join

        n = cfg.partitions or 64
        side = max(2, int(n ** 0.5))
        cand = partitioned_join(
            source, target, nx=side, ny=side,
            source_extra=extras, target_extra=textras,
        )
    else:
        cand = tile_join(
            source, target, theta=theta, source_extra=extras, target_extra=textras
        )
    if decomposed:
        # List-vs-list fine-grained envelope pre-filter (the decomposed
        # entity types' approximateIntersection) before exact verification.
        from ds_jedai_spark.operators.decompose import FINE_OVERLAP_SQL

        cand = cand.where(F.expr(FINE_OVERLAP_SQL))
    if cfg.source.date_field and cfg.target.date_field:
        # The reference's spatio-temporal qualifier: |days between| < 2
        cand = cand.where(F.abs(F.datediff(F.col("s_ts"), F.col("t_ts"))) < 2)

    if cfg.progressive_algorithm:
        wexpr = weight_exprs(
            "s_", "t_", theta[0], theta[1], grid_blocks(pro.extent, theta)
        )
    if cfg.progressive_algorithm in (
        "DYNAMIC_PROGRESSIVE_GIANT", "EARLY_STOPPING"
    ):
        # These algorithms interleave verification with scheduling (the
        # PQ reorders / the scan stops based on hits), so the scan IS the
        # verifier (reference ProgressiveLinkerT.scala:47-63): one Arrow
        # scan per group pre-classifies its pairs once, calls relate_pair
        # only for the undecided pairs it dequeues (so the budget bounds
        # the exact calls) and emits the r_* flags of every pair it
        # verified. Its output is `verified`: no semi-join back onto the
        # candidates and no second verification pass.
        from ds_jedai_spark.operators.progressive_state import (
            dynamic_progressive,
            early_stopping,
        )

        main = wexpr[_wf_key(cfg.main_wf)]
        qrel = "intersects" if cfg.relation == "DE9IM" else cfg.relation.lower()
        if cfg.progressive_algorithm == "DYNAMIC_PROGRESSIVE_GIANT":
            verified = dynamic_progressive(
                cand, main, None, cfg.budget or 3000, relation=qrel
            )
        else:
            verified = early_stopping(cand, main, None, relation=qrel)
    elif cfg.progressive_algorithm:
        pair_keys = _schedule(cand, cfg, wexpr, source, theta)
        cand = cand.join(pair_keys, on=["s_id", "t_id"], how="left_semi")
        verified = with_general_relations(cand)
    else:
        # Full-verification path: auto-engage the skew-split join when
        # per-pair verification is expensive (progressive paths are
        # budget-bounded, so the split never pays there). YAML override:
        # configurations: {loadBalancer: AUTO|ON|OFF}.
        from ds_jedai_spark.operators.loadbalance import auto_balance

        cand, _ = auto_balance(
            cand, source, target, mode=balancer,
            cost=pro.pair_cost if verts else None,
        )
        verified = with_general_relations(cand)

    if cfg.relation == "DE9IM":
        aggs = [
            F.count(F.lit(1)).alias("verifications"),
            F.count(F.when(F.col("r_intersects"), True)).alias("qualifying_pairs"),
        ]
        for r in REL_ORDER:
            if r != "disjoint":
                aggs.append(F.count(F.when(F.col(f"r_{r}"), True)).alias(f"n_{r}"))
        result = verified.agg(*aggs)
        if cfg.export_path:
            flags = verified.select(
                "s_id", "t_id", *[f"r_{r}" for r in REL_ORDER if r != "disjoint"]
            )
            writers.export_rdf(flags, cfg.export_path)
        return result

    rel = cfg.relation.lower()
    pairs = verified.where(F.col(f"r_{rel}")).select("s_id", "t_id")
    if cfg.export_path:
        writers.export_csv_pairs(pairs, cfg.export_path)
    return pairs

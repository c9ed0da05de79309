"""What api.run does before the query it returns: one pin per side whose
reading runs Python, then ONE aggregate (tiles.prologue) for theta, the
source extent and the load balancer's cost estimate.

The job counts are read from ``statusTracker`` under a job group; the
reads themselves (CSV header inference, parquet footers) start jobs of
their own, which are measured separately and not charged to the
prologue."""

from __future__ import annotations

import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ds_jedai_spark import api
from ds_jedai_spark.config import parse_config
from ds_jedai_spark.model.tiles import prologue
from ds_jedai_spark.operators import loadbalance as lb

ROOT = Path(__file__).resolve().parent.parent
FIXTURES = ROOT / "fixtures"

# One spatial fixture per Python-read format (shp_source_truth.parquet
# holds no geometry and the holes pair is a second TSV).
PYTHON_READ = {
    "tsv": "wkt_source.tsv",
    "geojson": "geo_source.geojson",
    "nt": "nt_source.nt",
    "shp": "shp_source",
    "fgb": "geo_source.fgb",
    "gpkg": "geo_source.gpkg",
    "wkb_parquet": "geo_source_wkb.parquet",
}

# The per-pair cost estimate (and the AUTO load-balance choice) of the
# estimator tiles.prologue replaced, which averaged a hash-ranked LIMIT
# sample of at most 5 000 rows a side: below that size the sample is the
# whole side, so the full-scan mean must give the same float. None of
# these engages the skew split (threshold 64); tests/test_api_cli.py has
# the corpora that do.
SAMPLED_COST = {
    "tsv": 26.44897959183674,
    "geojson": 26.44897959183674,
    "nt": 26.44897959183674,
    "shp": 26.44897959183674,
    "fgb": 26.44897959183674,
    "gpkg": 26.44897959183674,
    "wkb_parquet": 26.44897959183674,
    "wkt_holes": 42.29250891795481,
    "boxes0": 25.0,
    "boxes1": 25.0,
    "boxes2": 25.0,
    "boxes3": 25.0,
    "mixed0": 38.81593600000001,
    "mixed1": 38.286742999999994,
    "mixed2": 36.92355,
    "mixed3": 38.780926,
}
SAMPLED_ENGAGED = dict.fromkeys(SAMPLED_COST, False)


def _side(path) -> dict:
    return {"path": str(path), "realIdField": "id", "geometryField": "wkt"}


def _cfg(source, target, **conf):
    return parse_config({"source": _side(source), "target": _side(target),
                         "relation": "DE9IM", "configurations": conf})


def _row_parquet(tmp_path) -> dict[str, str]:
    """An engine row-format parquet pair: one box a side."""
    paths = {}
    for name, (x0, y0, x1, y1) in (("s", (0.0, 0.0, 4.0, 4.0)),
                                   ("t", (1.0, 1.0, 2.0, 2.0))):
        path = str(tmp_path / f"{name}.parquet")
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        pq.write_table(pa.table({
            "id": pa.array([1], pa.int64()), "gtype": ["POLYGON"],
            "coords": [[ring]], "minx": [x0], "miny": [y0],
            "maxx": [x1], "maxy": [y1],
        }), path)
        paths[name] = path
    return paths


def _jobs(spark, call) -> list[str]:
    """The first stage name of every job ``call()`` starts."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    names = []
    for job in sorted(st.getJobIdsForGroup(group)):
        stage = st.getStageInfo(min(st.getJobInfo(job).stageIds))
        names.append(stage.name if stage else "")
    return names


def _prologue_jobs(spark, cfg) -> list[str]:
    """Jobs api.run starts before it returns, less those of the reads."""
    read = _jobs(spark, lambda: [api.read_dataset(spark, s)
                                 for s in (cfg.source, cfg.target)])
    run = _jobs(spark, lambda: api.run(spark, cfg))
    for name in read:
        run.remove(name)
    return run


def test_driver_jobs_before_run_returns(spark, tmp_path):
    # WKT TSV, full verification with the AUTO balancer: two pins and
    # one aggregate (a shuffle-map job and its result job). Separate
    # actions made 8: theta (2), the target floor (2) and the cost
    # sample (4), each re-parsing the text.
    tsv = FIXTURES / "wkt_source.tsv"
    jobs = _prologue_jobs(spark, _cfg(tsv, tsv))
    assert len(jobs) == 4, jobs
    assert sum(j.startswith("localCheckpoint") for j in jobs) == 2, jobs
    collects = {j for j in jobs if j.startswith("collect")}
    assert len(collects) == 1 and "tiles.py" in collects.pop(), jobs

    # Row-format parquet, progressive: nothing to pin, the aggregate
    # alone. Separate actions made 4: theta (2) and the target floor (2).
    p = _row_parquet(tmp_path)
    jobs = _prologue_jobs(spark, _cfg(
        p["s"], p["t"], progressiveAlgorithm="PROGRESSIVE_GIANT", budget=10))
    assert len(jobs) == 2 and all(j.startswith("collect") for j in jobs), jobs


def _pinned(df) -> bool:
    return df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"


@pytest.mark.parametrize("fmt", sorted(PYTHON_READ))
def test_python_read_sides_are_pinned(spark, fmt):
    path = FIXTURES / PYTHON_READ[fmt]
    cfg = _cfg(path, path)
    source, target = api._sides(spark, cfg)
    assert _pinned(source) and _pinned(target)
    # localCheckpoint keeps the gtype column metadata the CRS rides on
    read = api.read_dataset(spark, cfg.source)
    assert api._crs_of(source) == api._crs_of(read)
    assert source.schema == read.schema


def test_pinned_sides_keep_their_crs(spark):
    # the shapefile fixture's .prj and the GeoPackage catalog declare one
    for name in ("shp_source", "geo_source.gpkg"):
        path = FIXTURES / name
        source, _ = api._sides(spark, _cfg(path, path))
        assert _pinned(source) and api._crs_of(source) is not None, name


def test_row_parquet_and_decomposed_sides(spark, tmp_path):
    p = _row_parquet(tmp_path)
    source, target = api._sides(spark, _cfg(p["s"], p["t"]))
    assert not _pinned(source) and not _pinned(target)
    # decomposing runs Python (fine envelopes), so even row parquet pins
    cfg = parse_config({"source": _side(p["s"]), "target": _side(p["t"]),
                        "relation": "DE9IM",
                        "configurations": {"entityType": "DECOMPOSED_ENTITY"}})
    source, target = api._sides(spark, cfg)
    assert _pinned(source) and _pinned(target)
    assert "fine_envs" in source.columns


def _auto_pairs(tmp_path):
    """name -> (source path, target path) of every pair the sampled
    estimator's AUTO choice was captured on: each Python-read fixture
    with itself, the holes pair, and perfbench seeds 0-3 of both input
    families (perfbench/gen.py on the path)."""
    import gen

    pairs = {fmt: (FIXTURES / f, FIXTURES / f) for fmt, f in PYTHON_READ.items()}
    pairs["wkt_holes"] = (FIXTURES / "wkt_holes_source.tsv",
                          FIXTURES / "wkt_holes_target.tsv")
    for family in ("boxes", "mixed"):
        for seed in range(4):
            d = tmp_path / f"{family}{seed}"
            d.mkdir()
            inp = getattr(gen, f"make_{family}")(str(d), seed)
            pairs[f"{family}{seed}"] = (inp.source.path, inp.target.path)
    return pairs


def test_auto_choice_matches_sampled_estimator(spark, tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT / "perfbench"))
    pairs = _auto_pairs(tmp_path)
    assert set(pairs) == set(SAMPLED_COST)
    engaged = []
    real = lb.auto_balance

    def spy(*a, **k):
        cand, on = real(*a, **k)
        engaged.append(on)
        return cand, on

    monkeypatch.setattr(lb, "auto_balance", spy)
    for name, (s, t) in pairs.items():
        cfg = _cfg(s, t)
        assert prologue(*api._sides(spark, cfg), verts=True).pair_cost \
            == SAMPLED_COST[name], name
        engaged.clear()
        api.run(spark, cfg)
        assert engaged == [SAMPLED_ENGAGED[name]], name


def test_prologue_equals_the_separate_passes(spark):
    # theta floored by both domains, the source extent and the cost
    # proxy from one aggregate equal the single-frame functions
    from ds_jedai_spark.model.tiles import compute_theta, floor_theta

    def df(rows, coords=True):
        frame = spark.createDataFrame(
            rows, "minx double, miny double, maxx double, maxy double")
        if coords:
            frame = frame.selectExpr(
                "*", "array(array(array(minx, miny), array(maxx, maxy))) coords")
        return frame

    stacked = df([(0.25, 0.25, 0.25, 0.25)] * 4)
    wide = df([(0.0, 0.0, 64.0, 64.0), (100.0, 0.0, 101.0, 1.0)], coords=False)
    for mode in ("avg", "min", "max", "avg2"):
        p = prologue(stacked, wide, mode, verts=True)
        assert p.theta == floor_theta(compute_theta(stacked, mode), wide)
        assert p.extent == (0.25, 0.25, 0.25, 0.25)
        assert p.mean_verts == (2.0, 5.0)
    empty = df([])
    p = prologue(empty, stacked, verts=True)
    assert p.extent is None and p.mean_verts == (0.0, 2.0)
    assert prologue(stacked, empty).mean_verts is None

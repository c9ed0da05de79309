"""operators/spatial_join.geodesic_distance_join: brute-force haversine
differential on pseudo-random lon/lat points (superset law: the
latitude-aware degree expansion must never lose a qualifying pair),
known-distance anchors, the CRS guard, and the -op distance -geodesic
CLI."""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest
from pyspark.sql import functions as F

from ds_jedai_spark.operators.measures import MEAN_R
from ds_jedai_spark.operators.spatial_join import geodesic_distance_join


def _hav_m(x1, y1, x2, y2):
    p1, p2 = math.radians(y1), math.radians(y2)
    a = (math.sin((p2 - p1) / 2) ** 2
         + math.cos(p1) * math.cos(p2)
         * math.sin(math.radians(x2 - x1) / 2) ** 2)
    return 2 * MEAN_R * math.asin(min(1.0, math.sqrt(a)))


def _pts(spark, rows, crs="EPSG:4326"):
    df = spark.createDataFrame(
        rows, "id long, minx double, miny double"
    ).selectExpr("id", "'POINT' AS gtype",
                 "array(array(array(minx, miny))) AS coords",
                 "minx", "miny", "minx AS maxx", "miny AS maxy")
    return df.withMetadata("gtype", {"crs": crs}) if crs else df


def test_geodesic_distance_vs_bruteforce(spark):
    """Exactly the brute-force haversine pair set, including a
    high-latitude cluster where a naive (non-latitude-aware) lon
    expansion would lose pairs."""
    import random

    rng = random.Random(3)
    # mid-latitude cloud + a 78°N cluster (meridian convergence ~4.8x)
    src = [(i, rng.uniform(-10, 10), rng.uniform(30, 50))
           for i in range(120)]
    src += [(1000 + i, rng.uniform(20, 24), rng.uniform(77, 79))
            for i in range(40)]
    tgt = [(i, x + rng.uniform(-3, 3), y + rng.uniform(-2, 2))
           for i, x, y in src[::2]]
    radius = 150_000.0
    want = {(s, t) for s, x1, y1 in src for t, x2, y2 in tgt
            if _hav_m(x1, y1, x2, y2) <= radius}
    got = {(r.s_id, r.t_id) for r in geodesic_distance_join(
        _pts(spark, src), _pts(spark, tgt), radius_m=radius
    ).collect()}
    assert got == want and want
    # distances agree with the independent formula
    dm = {(r.s_id, r.t_id): r.dist_m for r in geodesic_distance_join(
        _pts(spark, src), _pts(spark, tgt), radius_m=radius
    ).collect()}
    s_xy = {i: (x, y) for i, x, y in src}
    t_xy = {i: (x, y) for i, x, y in tgt}
    for (s, t), d in dm.items():
        w = _hav_m(*s_xy[s], *t_xy[t])
        assert abs(d - w) <= 1e-6 * max(w, 1.0)


def test_geodesic_distance_anchor_and_guard(spark):
    # one meridian degree apart = R * pi / 180 meters
    src = [(1, 10.0, 0.0)]
    tgt = [(2, 10.0, 1.0)]
    deg_m = MEAN_R * math.pi / 180.0
    got = geodesic_distance_join(
        _pts(spark, src), _pts(spark, tgt), radius_m=deg_m + 1.0
    ).collect()
    assert len(got) == 1 and abs(got[0].dist_m - deg_m) <= 1e-6
    # just under: excluded
    assert geodesic_distance_join(
        _pts(spark, src), _pts(spark, tgt), radius_m=deg_m - 1.0
    ).count() == 0
    # declared non-lon/lat input raises
    with pytest.raises(ValueError, match="EPSG:4326"):
        geodesic_distance_join(
            _pts(spark, src, crs="EPSG:3857"), _pts(spark, tgt), 10.0
        )


def test_cli_distance_geodesic(spark, tmp_path, capsys, cli_main):
    p = str(tmp_path / "pts.tsv")
    with open(p, "w") as f:
        f.write("id\twkt\n")
        for i, (x, y) in enumerate([(10.0, 0.0), (10.0, 1.0),
                                    (10.0, 0.5), (60.0, 60.0)]):
            f.write(f"{i}\tPOINT ({x} {y})\n")
    out = str(tmp_path / "gd.parquet")
    rc = cli_main(["-op", "distance", "-geodesic", "-left", p,
                   "-right", p, "-tau", "60000", "-out", out])
    assert rc == 0
    back = spark.read.parquet(out)
    pairs = {(r.s_id, r.t_id) for r in back.collect()}
    # within 60 km: self-pairs + (0,2)/(2,0) (~55.6 km) and (1,2)/(2,1)
    assert ("0", "2") in pairs and ("2", "1") in pairs
    assert ("0", "1") not in pairs  # ~111 km
    assert ("3", "0") not in pairs


def test_geodesic_distance_plan_shape(spark):
    """The geodesic join keeps the planar distance join's 100 TB shape:
    no Python in the plan (expansion + haversine are JVM expressions)
    and the only exchanges are the tile equi-join's."""
    src = _pts(spark, [(i, float(i % 30), float(i % 20)) for i in range(200)])
    tgt = _pts(spark, [(i, float(i % 30), float(i % 20)) for i in range(200)])
    df = geodesic_distance_join(src, tgt, radius_m=50_000.0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    # tile equi-join: either broadcast (small side) or one hash exchange
    # per side — never a cartesian
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_geodesic_antimeridian_wrap(spark):
    """Seam-crossing pairs (r16): a lon cluster straddling ±180 must
    match exactly the brute-force haversine pair set — the expanded
    envelope that spills past the edge re-enters as a second candidate
    piece, and no pair is duplicated by the split."""
    import random

    rng = random.Random(7)
    src = [(i, 177.0 + rng.uniform(0.0, 3.0), rng.uniform(-30.0, 30.0))
           for i in range(80)]
    src += [(100 + i, -180.0 + rng.uniform(0.0, 3.0),
             rng.uniform(-30.0, 30.0)) for i in range(80)]
    tgt = [(1000 + i, x, y) for i, x, y in src]
    radius = 150_000.0
    want = {(s, t) for s, x1, y1 in src for t, x2, y2 in tgt
            if _hav_m(x1, y1, x2, y2) <= radius}
    rows = geodesic_distance_join(
        _pts(spark, src), _pts(spark, tgt), radius_m=radius
    ).collect()
    got = [(r.s_id, r.t_id) for r in rows]
    assert len(got) == len(set(got)), "split pieces duplicated a pair"
    assert set(got) == want
    # the seam is actually exercised: some qualifying pairs sit on
    # opposite sides of ±180
    s_lon = {i: x for i, x, _ in src}
    t_lon = {i: x for i, x, _ in tgt}
    assert any(abs(s_lon[s] - t_lon[t]) > 300.0 for s, t in want)
    # distances agree with the independent formula across the seam
    s_xy = {i: (x, y) for i, x, y in src}
    t_xy = {i: (x, y) for i, x, y in tgt}
    for r in rows:
        w = _hav_m(*s_xy[r.s_id], *t_xy[r.t_id])
        assert abs(r.dist_m - w) <= 1e-6 * max(w, 1.0)


def test_geodesic_polar_full_circle_branch(spark):
    """Near a pole the lon expansion covers the full circle: a single
    [-180, 180] piece (no duplicate pairs) that still finds the
    opposite-lon neighbor a few km over the pole's side."""
    pts = [(1, 5.0, 89.9), (2, -175.0, 89.9), (3, 5.0, 89.0)]
    rows = geodesic_distance_join(
        _pts(spark, pts), _pts(spark, pts), radius_m=50_000.0
    ).collect()
    got = [(r.s_id, r.t_id) for r in rows]
    assert len(got) == len(set(got))
    assert (1, 2) in got and (2, 1) in got  # ~22.2 km across the pole cap
    assert (1, 3) not in got  # ~100 km south


def test_geodesic_point_guard(spark):
    """validate=True (default) raises in-plan on non-point or
    out-of-domain rows instead of silently measuring envelope corners;
    validate=False opts out (caller vouches)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    good = _pts(spark, [(1, 10.0, 0.0)])
    box = spark.createDataFrame(
        [(9, 0.0, 0.0, 2.0, 2.0)],
        "id long, minx double, miny double, maxx double, maxy double")
    for bad in (
        box,  # envelope, not a point
        spark.createDataFrame(
            [(9, 200.0, 0.0, 200.0, 0.0)],
            "id long, minx double, miny double, maxx double, maxy double"
        ),  # lon out of range
        spark.createDataFrame(
            [(9, float("nan"), 0.0, float("nan"), 0.0)],
            "id long, minx double, miny double, maxx double, maxy double"
        ),  # NaN
    ):
        for s, t in ((bad, good), (good, bad)):
            with pytest.raises(
                (Py4JJavaError, SparkRuntimeException),
                match="not a lon/lat POINT",
            ):
                geodesic_distance_join(s, t, radius_m=1000.0).collect()
    # the escape hatch: validate=False runs (corner semantics, caller's
    # responsibility)
    assert geodesic_distance_join(
        box, good, radius_m=10.0, validate=False
    ).count() == 0


def test_geodesic_wrap_gate_row_matches_duckdb(spark):
    """The r16 gate leg end-to-end: plans.giant.geodesic_wrap_pairs
    equals its DuckDB oracle on the driver's parquet tables (sf0.01 —
    the gate's own SF, where 597 of the 4132 pairs cross the seam)."""
    import duckdb

    from conftest import SF_MED

    from ds_jedai_spark.plans import giant

    got = sorted(
        (r.s_id, r.t_id, r.dist_m_int)
        for r in giant.geodesic_wrap_pairs(spark, SF_MED).collect()
    )
    con = duckdb.connect()
    for t in ("customer", "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_MED}/{t}.parquet')"
        )
    want = sorted(tuple(r) for r in
                  con.execute(giant.geodesic_wrap_pairs_oracle()).fetchall())
    assert got == want and got


def _ref_knn_geo(src, tgt, k):
    out = {}
    for s, x1, y1 in src:
        ds = sorted(
            (round(_hav_m(x1, y1, x2, y2) * 1000.0), t)
            for t, x2, y2 in tgt
        )
        out[s] = set()
        for mm, t in ds[:k]:
            out[s].add((t, mm))
    return out


def test_knn_geodesic_vs_bruteforce(spark):
    """Exact geodesic kNN equals the brute-force haversine top-k on a
    mixed corpus: mid-lat cloud, a 78N meridian-convergence cluster,
    and a seam cluster whose true neighbors cross +/-180."""
    import random

    from ds_jedai_spark.operators.spatial_join import (
        knn_join_exact_geodesic,
    )

    rng = random.Random(23)
    src = [(i, rng.uniform(-10, 10), rng.uniform(30, 50))
           for i in range(60)]
    src += [(500 + i, rng.uniform(20, 24), rng.uniform(77, 79))
            for i in range(25)]
    src += [(800 + i, 179.0 + rng.uniform(0.0, 1.0) if i % 2 == 0
             else -180.0 + rng.uniform(0.0, 1.0), rng.uniform(-5, 5))
            for i in range(25)]
    tgt = [(1000 + i, x + rng.uniform(-4, 4), y + rng.uniform(-3, 3))
           for i, x, y in src]
    tgt = [(t, ((x + 180.0) % 360.0) - 180.0, max(-89.9, min(89.9, y)))
           for t, x, y in tgt]
    k = 4
    want = _ref_knn_geo(src, tgt, k)
    got = {}
    rows = knn_join_exact_geodesic(
        _pts(spark, src), _pts(spark, tgt), k=k
    ).collect()
    for r in rows:
        got.setdefault(r.s_id, set()).add((r.t_id, r.dist_mm))
    assert got == want
    # every source resolved with exactly k neighbors
    assert all(len(v) == k for v in got.values())


def test_cli_knn_geodesic(spark, tmp_path, capsys, cli_main):
    p = str(tmp_path / "pts.tsv")
    with open(p, "w") as f:
        f.write("id\twkt\n")
        # seam pair: 0's nearest non-self neighbor is 1 ACROSS +/-180
        for i, (x, y) in enumerate([(179.9, 0.0), (-179.9, 0.0),
                                    (170.0, 0.0), (160.0, 0.0)]):
            f.write(f"{i}\tPOINT ({x} {y})\n")
    out = str(tmp_path / "gk.parquet")
    rc = cli_main(["-op", "knn", "-geodesic", "-k", "1", "-left", p,
                   "-right", p, "-out", out])
    assert rc == 0
    back = {r.s_id: r.t_id for r in spark.read.parquet(out).collect()}
    assert back["0"] == "1" and back["1"] == "0"  # across the seam
    assert back["3"] == "2"


def test_knn_geodesic_gate_row_matches_duckdb(spark):
    import duckdb

    from conftest import SF_SMALL

    from ds_jedai_spark.plans import giant

    got = sorted((r.s_id, r.t_id, r.dist_mm) for r in
                 giant.knn_geodesic_pairs(spark, SF_SMALL).collect())
    con = duckdb.connect()
    for t in ("customer", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_SMALL}/{t}.parquet')")
    want = sorted(tuple(r) for r in con.execute(
        giant.knn_geodesic_pairs_oracle()).fetchall())
    assert got == want and got

"""operators/geohash: published-anchor strings, an independent
pure-Python reference differential, encode->decode laws, the shared
Spark/DuckDB SQL text (double-literal parsing), and the gate row."""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ds_jedai_spark.operators.geohash import (
    BASE32,
    geohash_bounds,
    geohash_int_sql,
    geohash_str_sql,
    with_geohash,
)


def _pts(spark, rows):
    return spark.createDataFrame(
        rows, "id long, minx double, miny double"
    ).selectExpr("id", "minx", "miny", "minx AS maxx", "miny AS maxy")


def _ref_geohash(lon, lat, p):
    """Independent reference: same closed form (floor of the scaled
    offset), but via Python ints and textbook bit interleave."""
    bits = 5 * p
    nlon = (bits + 1) // 2
    nlat = bits // 2
    ix = min((1 << nlon) - 1, int(math.floor((lon + 180.0) / 360.0 * (1 << nlon))))
    iy = min((1 << nlat) - 1, int(math.floor((lat + 90.0) / 180.0 * (1 << nlat))))
    out = 0
    for j in range(nlon):
        out |= ((ix >> (nlon - 1 - j)) & 1) << (bits - 1 - 2 * j)
    for j in range(nlat):
        out |= ((iy >> (nlat - 1 - j)) & 1) << (bits - 2 - 2 * j)
    s = "".join(BASE32[(out >> (5 * (p - 1 - c))) & 31] for c in range(p))
    return out, s


def test_geohash_published_anchors(spark):
    """The two textbook anchors every public implementation agrees on."""
    rows = [(1, -5.603, 42.605), (2, 13.361389, 38.115556)]
    got = {r.id: r.geohash
           for r in with_geohash(_pts(spark, rows), 5).collect()}
    assert got[1] == "ezs42"
    assert got[2] == "sqc8b"  # Palermo, prefix of sqc8b49rny
    got9 = {r.id: r.geohash
            for r in with_geohash(_pts(spark, rows), 9).collect()}
    assert got9[2] == "sqc8b49rn"


def test_geohash_corners_clamp(spark):
    rows = [(1, -180.0, -90.0), (2, 180.0, 90.0), (3, 0.0, 0.0)]
    got = {r.id: (r.geohash, r.geohash_int)
           for r in with_geohash(_pts(spark, rows), 5,
                                 as_int=True).collect()}
    assert got[1] == ("00000", 0)
    assert got[2] == ("zzzzz", 32**5 - 1)
    assert got[3][0] == "s0000"


def test_geohash_vs_reference_random(spark):
    import random

    rng = random.Random(5)
    rows = [(i, rng.uniform(-180, 180), rng.uniform(-90, 90))
            for i in range(300)]
    for p in (1, 5, 7, 10):
        got = {r.id: (r.geohash_int, r.geohash)
               for r in with_geohash(_pts(spark, rows), p,
                                     as_int=True).collect()}
        for i, lon, lat in rows:
            assert got[i] == _ref_geohash(lon, lat, p), (i, p)


def test_geohash_shared_sql_duckdb_agrees(spark):
    """The SAME SQL text evaluates identically in DuckDB — the property
    the gate row rests on (this is where plain decimal-point literals
    broke Spark: they parse as DECIMAL there and floor(x/32^5) rounded
    up; _dlit's exponent form pins DOUBLE in both engines)."""
    import duckdb
    import random

    rng = random.Random(9)
    rows = [(i, rng.uniform(-180, 180), rng.uniform(-90, 90))
            for i in range(150)]
    isql = geohash_int_sql("minx", "miny", 7)
    ssql = geohash_str_sql("minx", "miny", 7)
    sdf = _pts(spark, rows).selectExpr(
        "id", f"CAST({isql} AS BIGINT) AS gi", f"{ssql} AS gs")
    got = {r.id: (r.gi, r.gs) for r in sdf.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, minx DOUBLE, miny DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = {i: (gi, gs) for i, gi, gs in con.execute(
        f"SELECT id, CAST({isql} AS BIGINT), {ssql} FROM t").fetchall()}
    assert got == want


def test_geohash_decode_laws(spark):
    """encode -> decode: the cell CONTAINS the point, has the exact
    dyadic width, and re-encoding the cell's center returns the same
    geohash (the cell is canonical)."""
    import random

    rng = random.Random(13)
    rows = [(i, rng.uniform(-179.9, 179.9), rng.uniform(-89.9, 89.9))
            for i in range(200)]
    p = 6
    enc = with_geohash(_pts(spark, rows), p)
    dec = geohash_bounds(enc, p).collect()
    wlon = 360.0 / (1 << ((5 * p + 1) // 2))
    wlat = 180.0 / (1 << (5 * p // 2))
    for r in dec:
        assert r.gh_minx - 1e-9 <= r.minx <= r.gh_maxx + 1e-9
        assert r.gh_miny - 1e-9 <= r.miny <= r.gh_maxy + 1e-9
        assert abs((r.gh_maxx - r.gh_minx) - wlon) < 1e-12
        assert abs((r.gh_maxy - r.gh_miny) - wlat) < 1e-12
    centers = [(r.id, (r.gh_minx + r.gh_maxx) / 2,
                (r.gh_miny + r.gh_maxy) / 2) for r in dec]
    re_enc = {r.id: r.geohash
              for r in with_geohash(_pts(spark, centers), p).collect()}
    first = {r.id: r.geohash for r in dec}
    assert re_enc == first


def test_geohash_prefix_containment(spark):
    """The defining geohash property: a point's precision-p hash is a
    PREFIX of its precision-(p+k) hash (cells nest)."""
    import random

    rng = random.Random(21)
    rows = [(i, rng.uniform(-180, 180), rng.uniform(-90, 90))
            for i in range(120)]
    g4 = {r.id: r.geohash
          for r in with_geohash(_pts(spark, rows), 4).collect()}
    g8 = {r.id: r.geohash
          for r in with_geohash(_pts(spark, rows), 8).collect()}
    assert all(g8[i].startswith(g4[i]) for i in g4)


def test_geohash_plan_pure_jvm(spark):
    rows = [(i, float(i % 100) - 50, float(i % 80) - 40)
            for i in range(50)]
    df = with_geohash(_pts(spark, rows), 9, as_int=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_geohash_gate_row_matches_duckdb(spark):
    import duckdb

    from conftest import SF_SMALL

    from ds_jedai_spark.plans import measure_plans as mp

    got = sorted((r.t_id, r.cost)
                 for r in mp.geohash_stats(spark, SF_SMALL).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/customer.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(mp.geohash_stats_oracle()).fetchall())
    assert got == want and got


def test_cli_op_geohash(spark, tmp_path, capsys, cli_main):
    p = str(tmp_path / "pts.tsv")
    with open(p, "w") as f:
        f.write("id\twkt\n")
        f.write("a\tPOINT (-5.603 42.605)\n")
        f.write("b\tPOINT (13.361389 38.115556)\n")
    out = str(tmp_path / "gh.parquet")
    rc = cli_main(["-op", "geohash", "-left", p, "-precision", "5",
                   "-out", out])
    assert rc == 0
    back = {r.id: r.geohash for r in spark.read.parquet(out).collect()}
    assert back == {"a": "ezs42", "b": "sqc8b"}


def _boxes(spark, rows):
    return spark.createDataFrame(
        rows, "id long, minx double, miny double, maxx double, "
        "maxy double")


def test_geohash_clamps_below_range_too(spark):
    """r17 ADVICE fix: lon < -180 / lat < -90 clamp into the bottom
    edge cells (same geohash as exactly -180/-90) instead of wrapping
    through negative-index bit arithmetic."""
    rows = [(1, -500.0, -95.0), (2, -180.0, -90.0), (3, 500.0, 95.0),
            (4, 180.0, 90.0)]
    got = {r.id: r.geohash
           for r in with_geohash(_pts(spark, rows), 6).collect()}
    assert got[1] == got[2]
    assert got[3] == got[4]
    assert set(got[1]) <= set(BASE32) and set(got[3]) <= set(BASE32)


def test_geohash_cover_laws(spark):
    """Covering laws: a point envelope's cover is exactly its center
    geohash; every center geohash is IN the cover; the cover size is
    the product of the axis cell spans; every covering cell's decoded
    box intersects the envelope (closed sense)."""
    from ds_jedai_spark.operators.geohash import geohash_cover

    import random

    rng = random.Random(31)
    rows = [(i, *(lambda x, y: (x, y, x + rng.random() * 3,
                                y + rng.random() * 2))(
        rng.uniform(-170, 160), rng.uniform(-80, 70)))
        for i in range(80)]
    boxes = _boxes(spark, rows)
    p = 3
    cov = geohash_cover(boxes, precision=p, as_int=True)
    cov_rows = cov.collect()
    by_id = {}
    for r in cov_rows:
        by_id.setdefault(r.id, set()).add(r.geohash)
    # center membership
    centers = {r.id: r.geohash
               for r in with_geohash(boxes, precision=p).collect()}
    for i, g in centers.items():
        assert g in by_id[i], i
    # size law
    bits = 5 * p
    nlon, nlat = (bits + 1) // 2, bits // 2
    for i, x0, y0, x1, y1 in rows:
        sx = (int(math.floor((x1 + 180.0) / 360.0 * (1 << nlon)))
              - int(math.floor((x0 + 180.0) / 360.0 * (1 << nlon))) + 1)
        sy = (int(math.floor((y1 + 90.0) / 180.0 * (1 << nlat)))
              - int(math.floor((y0 + 90.0) / 180.0 * (1 << nlat))) + 1)
        assert len(by_id[i]) == sx * sy, i
    # decode-intersection law
    dec = {(r.id, r.geohash): (r.gh_minx, r.gh_miny, r.gh_maxx, r.gh_maxy)
           for r in geohash_bounds(cov, precision=p).collect()}
    env = {i: (x0, y0, x1, y1) for i, x0, y0, x1, y1 in rows}
    for (i, _g), (gx0, gy0, gx1, gy1) in dec.items():
        x0, y0, x1, y1 = env[i]
        assert gx1 >= x0 and gx0 <= x1 and gy1 >= y0 and gy0 <= y1, i
    # point envelopes cover exactly their own cell
    pts = _pts(spark, [(900, 12.25, -33.5)])
    pc = geohash_cover(pts, precision=p).collect()
    ctr = with_geohash(pts, precision=p).first().geohash
    assert len(pc) == 1 and pc[0].geohash == ctr


def test_geohash_cover_plan_and_oracle(spark):
    """The cover plan stays pure JVM (no Python, no shuffle before any
    consumer aggregation), and the DuckDB oracle SQL reproduces the
    exact (id, geohash_int) multiset."""
    import duckdb

    from ds_jedai_spark.operators.geohash import (
        geohash_cover,
        geohash_cover_sql,
    )

    rows = [(1, -10.0, -5.0, -6.0, -1.0), (2, 100.0, 40.0, 100.1, 40.1),
            (3, 179.0, 80.0, 180.0, 90.0)]
    boxes = _boxes(spark, rows)
    cov = geohash_cover(boxes, precision=2, as_int=True)
    plan = cov._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "Exchange" not in plan  # projection + generate only
    got = sorted((r.id, r.geohash_int) for r in cov.collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE b (id BIGINT, minx DOUBLE, miny DOUBLE, "
                "maxx DOUBLE, maxy DOUBLE)")
    con.executemany("INSERT INTO b VALUES (?, ?, ?, ?, ?)", rows)
    want = sorted(tuple(r) for r in con.execute(
        geohash_cover_sql("SELECT * FROM b", 2)).fetchall())
    assert got == want


def test_cli_op_geohash_cover(tmp_path, capsys, cli_main):
    p = str(tmp_path / "pts.tsv")
    with open(p, "w") as f:
        f.write("id\twkt\n0\tPOINT (12.5 40.5)\n")
    rc = cli_main(["-op", "geohash", "-left", p, "-precision", "4",
                   "-cover", "-limit", "5"])
    assert rc == 0
    assert "geohash" in capsys.readouterr().out

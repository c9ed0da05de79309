"""operators/hull.convex_hull: differential vs an independent scipy-free
reference (full-set monotone chain run in-test), the O(n^3) SQL oracle,
degenerate shapes, partition invariance, and the gate row."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ds_jedai_spark.operators.hull import _chain, convex_hull, hull_sql


def _pts(spark, rows, parts=5):
    df = spark.createDataFrame(
        [(i, x, y) for i, x, y in rows],
        "id long, minx double, miny double")
    return df.repartition(parts)


def _ref_hull(rows):
    """Single-threaded reference: the same published algorithm run over
    the FULL set (no partition phase) — exercises the decomposability
    claim, not the chain code path it shares."""
    import numpy as np

    xs = np.array([x for _, x, y in rows])
    ys = np.array([y for _, x, y in rows])
    hx, hy = _chain(xs, ys)
    return sorted(zip(hx.tolist(), hy.tolist()))


def test_hull_vs_fullset_and_oracle(spark):
    import random

    import duckdb

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 1600) / 16.0, rng.randint(0, 1600) / 16.0)
            for i in range(500)]
    rows += [(2000 + i, float(i), float(i)) for i in range(30)]  # collinear run
    rows += rows[:15]  # duplicates
    got = sorted((r.x, r.y)
                 for r in convex_hull(_pts(spark, rows, 8)).collect())
    assert got == _ref_hull(rows)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, minx DOUBLE, miny DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = sorted((x, y) for _, x, y in con.execute(
        hull_sql("SELECT minx, miny FROM t")).fetchall())
    assert got == want


def test_hull_partition_invariance(spark):
    """The two-phase reduction returns identical corners however the
    input is partitioned — the decomposability law."""
    import random

    rng = random.Random(17)
    rows = [(i, rng.uniform(-40, 40), rng.uniform(-40, 40))
            for i in range(300)]
    base = sorted((r.rank, r.x, r.y)
                  for r in convex_hull(_pts(spark, rows, 1)).collect())
    for parts in (3, 16, 64):
        again = sorted((r.rank, r.x, r.y)
                       for r in convex_hull(_pts(spark, rows,
                                                 parts)).collect())
        assert again == base, parts


def test_hull_degenerate_shapes(spark):
    # collinear -> two endpoints
    rows = [(i, float(i), 3.0 * i) for i in range(12)]
    got = sorted((r.x, r.y) for r in convex_hull(_pts(spark, rows)).collect())
    assert got == [(0.0, 0.0), (11.0, 33.0)]
    # all-identical -> one point
    rows = [(i, 2.5, 7.25) for i in range(9)]
    got = [(r.rank, r.x, r.y)
           for r in convex_hull(_pts(spark, rows)).collect()]
    assert got == [(1, 2.5, 7.25)]
    # square with edge-interior + interior points -> 4 strict corners
    rows = [(1, 0.0, 0.0), (2, 4.0, 0.0), (3, 4.0, 4.0), (4, 0.0, 4.0),
            (5, 2.0, 0.0), (6, 4.0, 2.0), (7, 2.0, 2.0), (8, 1.0, 3.0)]
    got = sorted((r.x, r.y) for r in convex_hull(_pts(spark, rows)).collect())
    assert got == [(0.0, 0.0), (0.0, 4.0), (4.0, 0.0), (4.0, 4.0)]


def test_hull_gate_row_matches_duckdb(spark):
    import duckdb

    from conftest import SF_MED

    from ds_jedai_spark.plans import measure_plans as mp

    got = sorted((r.t_id, r.cost)
                 for r in mp.hull_stats(spark, SF_MED).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW supplier AS SELECT * FROM "
        f"read_parquet('{SF_MED}/supplier.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(mp.hull_stats_oracle()).fetchall())
    assert got == want and len(got) >= 4


def test_cli_op_hull(spark, tmp_path, capsys, cli_main):
    p = str(tmp_path / "pts.tsv")
    with open(p, "w") as f:
        f.write("id\twkt\n")
        pts = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0),
               (2.0, 2.0), (2.0, 0.0)]
        for i, (x, y) in enumerate(pts):
            f.write(f"{i}\tPOINT ({x} {y})\n")
    out = str(tmp_path / "hull.parquet")
    rc = cli_main(["-op", "hull", "-left", p, "-out", out])
    assert rc == 0
    got = sorted((r.x, r.y) for r in spark.read.parquet(out).collect())
    assert got == [(0.0, 0.0), (0.0, 4.0), (4.0, 0.0), (4.0, 4.0)]


def _pts_keyed(spark, rows, parts=5):
    df = spark.createDataFrame(
        [(i, g, x, y) for i, g, x, y in rows],
        "id long, grp long, minx double, miny double")
    return df.repartition(parts)


def test_hull_by_matches_per_group_fullset(spark):
    """convex_hull(by=...) equals one independent full-set chain per
    group — including 1-point and 2-point groups — and is partition
    invariant."""
    import random

    rng = random.Random(29)
    rows = []
    for g in range(4):
        for i in range(120):
            rows.append((g * 1000 + i, g,
                         rng.randint(0, 800) / 16.0 + g * 100,
                         rng.randint(0, 800) / 16.0))
    rows.append((9001, 7, 5.0, 5.0))                    # singleton group
    rows.append((9002, 8, 1.0, 1.0))                    # 2-point group
    rows.append((9003, 8, 2.0, 3.0))
    want = {}
    for g in sorted({r[1] for r in rows}):
        pts = [(i, x, y) for i, gg, x, y in rows if gg == g]
        want[g] = _ref_hull(pts)
    for parts in (1, 7, 32):
        got = {}
        for r in convex_hull(_pts_keyed(spark, rows, parts),
                             by="grp").collect():
            got.setdefault(r.grp, []).append((r.rank, r.x, r.y))
        assert set(got) == set(want), parts
        for g, corners in got.items():
            corners.sort()
            # ranks are 1..h and corners sort lexicographically
            assert [c[0] for c in corners] == list(
                range(1, len(corners) + 1)), (g, parts)
            assert [(c[1], c[2]) for c in corners] == want[g], (g, parts)


def test_hull_by_string_key_and_oracle(spark):
    """String group keys survive the Arrow round-trip, and the keyed
    O(n^3) SQL oracle agrees with the distributed operator."""
    import duckdb

    rows = [("a", 0.0, 0.0), ("a", 4.0, 0.0), ("a", 4.0, 4.0),
            ("a", 2.0, 1.0), ("b", 10.0, 10.0), ("b", 12.0, 10.0),
            ("c", -5.0, -5.0)]
    df = spark.createDataFrame(
        [(i, g, x, y) for i, (g, x, y) in enumerate(rows)],
        "id long, grp string, minx double, miny double").repartition(3)
    from ds_jedai_spark.operators.hull import hull_by_sql

    got = sorted((r.grp, r.rank, r.x, r.y)
                 for r in convex_hull(df, by="grp").collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id BIGINT, grp VARCHAR, minx DOUBLE, "
        "miny DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)",
                    [(i, g, x, y) for i, (g, x, y) in enumerate(rows)])
    want = sorted(tuple(r) for r in con.execute(
        hull_by_sql("SELECT grp, minx, miny FROM t", "grp")).fetchall())
    assert got == want
    assert ("c", 1, -5.0, -5.0) in got  # singleton group present


def test_hull_by_gate_row_matches_duckdb(spark):
    import duckdb

    from conftest import SF_MED

    from ds_jedai_spark.plans import measure_plans as mp

    got = sorted((r.t_id, r.cost)
                 for r in mp.hull_by_stats(spark, SF_MED).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW supplier AS SELECT * FROM "
        f"read_parquet('{SF_MED}/supplier.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(mp.hull_by_stats_oracle()).fetchall())
    assert got == want and len({t // 1000 for t, _ in got}) == 5


def test_cli_op_hull_by(spark, tmp_path, capsys, cli_main):
    p = str(tmp_path / "pts.tsv")
    with open(p, "w") as f:
        f.write("id\twkt\n")
        for i, (x, y) in enumerate([(0.0, 0.0), (4.0, 0.0), (2.0, 9.0),
                                    (1.0, 1.0)]):
            f.write(f"{i}\tPOINT ({x} {y})\n")
    out = str(tmp_path / "hb.parquet")
    rc = cli_main(["-op", "hull", "-left", p, "-by", "id", "-out", out])
    assert rc == 0
    back = spark.read.parquet(out)
    assert set(back.columns) == {"id", "rank", "x", "y"}
    assert back.count() == 4  # every point its own singleton hull

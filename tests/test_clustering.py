"""operators/clustering.dbscan: differential vs an independent
pure-Python DBSCAN on pseudo-random blobs + chains, the deterministic
border tie-break, the DuckDB oracle SQL equivalence, and the
-op dbscan CLI."""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ds_jedai_spark.operators.clustering import dbscan, dbscan_sql


def _pts(spark, rows):
    return spark.createDataFrame(
        rows, "id long, minx double, miny double"
    ).selectExpr("id", "minx", "miny", "minx AS maxx", "miny AS maxy")


def _ref_dbscan(rows, eps, min_pts):
    """Independent reference: textbook DBSCAN with the SAME canonical
    labeling (cluster = min core id of the backbone component; border
    joins the min cluster label among core neighbors; noise = -1)."""
    ids = [i for i, _, _ in rows]
    xy = {i: (x, y) for i, x, y in rows}
    e2 = eps * eps

    def near(a, b):
        dx = xy[a][0] - xy[b][0]
        dy = xy[a][1] - xy[b][1]
        return dx * dx + dy * dy <= e2

    nbrs = {i: [j for j in ids if near(i, j)] for i in ids}
    cores = {i for i in ids if len(nbrs[i]) >= min_pts}
    # union-find over core-core edges
    parent = {i: i for i in cores}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a in cores:
        for b in nbrs[a]:
            if b in cores and b != a:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for a in cores:
        comp.setdefault(find(a), []).append(a)
    label = {}
    for members in comp.values():
        lbl = min(members)
        for a in members:
            label[a] = lbl
    out = {}
    for i in ids:
        if i in cores:
            out[i] = label[i]
        else:
            core_nbr_lbls = [label[j] for j in nbrs[i] if j in cores]
            out[i] = min(core_nbr_lbls) if core_nbr_lbls else -1
    return out


def _blob_and_chain_rows():
    import random

    rng = random.Random(11)
    rows = []
    # two dense blobs
    for i in range(60):
        rows.append((i, rng.gauss(0.0, 1.0), rng.gauss(0.0, 1.0)))
    for i in range(60, 120):
        rows.append((i, 20.0 + rng.gauss(0.0, 1.0),
                     rng.gauss(0.0, 1.0)))
    # a long chain (stresses multi-round label propagation)
    for k in range(40):
        rows.append((200 + k, 40.0 + 0.8 * k, 10.0))
    # scattered noise
    for i in range(300, 320):
        rows.append((i, rng.uniform(-50, 100), rng.uniform(30, 80)))
    return rows


def test_dbscan_vs_reference(spark):
    rows = _blob_and_chain_rows()
    for eps, mp in ((1.5, 4), (1.0, 3)):
        want = _ref_dbscan(rows, eps, mp)
        got = {r.id: r.cluster
               for r in dbscan(_pts(spark, rows), eps, mp).collect()}
        assert got == want, (eps, mp)
        # the shape is non-trivial: clusters AND noise both present
        lbls = set(want.values())
        assert -1 in lbls and len(lbls) >= 3


def test_dbscan_border_tiebreak_deterministic(spark):
    """A border point within eps of TWO clusters joins the minimum
    cluster label — pinned so results are partition-order independent."""
    # two 4-point cores, one NON-core point in the middle within eps of
    # exactly one core from each side (|N| = 3 < min_pts = 4)
    rows = [(1, 0.0, 0.0), (2, 0.25, 0.0), (3, 0.5, 0.0), (4, 0.75, 0.0),
            (11, 2.75, 0.0), (12, 3.0, 0.0), (13, 3.25, 0.0),
            (14, 3.5, 0.0),
            (7, 1.75, 0.0)]
    got = {r.id: r.cluster
           for r in dbscan(_pts(spark, rows), 1.0, 4).collect()}
    assert got[7] == 1  # min of the two cluster labels {1, 11}
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[11] == got[12] == got[13] == got[14] == 11
    # sanity vs the independent reference
    assert got == _ref_dbscan(rows, 1.0, 4)


def test_dbscan_oracle_sql_equivalence(spark):
    """dbscan_sql (the recursive-CTE DuckDB oracle) computes the same
    labels as the distributed operator on the same rows."""
    import duckdb

    rows = _blob_and_chain_rows()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, minx DOUBLE, miny DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    sql = dbscan_sql(
        "SELECT id, minx, miny, minx AS maxx, miny AS maxy FROM t",
        1.5, 4)
    want = dict(con.execute(
        f"SELECT id, cluster FROM ({sql})").fetchall())
    got = {r.id: r.cluster
           for r in dbscan(_pts(spark, rows), 1.5, 4).collect()}
    assert got == want


def test_cli_op_dbscan(spark, tmp_path, capsys, cli_main):
    p = str(tmp_path / "pts.tsv")
    with open(p, "w") as f:
        f.write("id\twkt\n")
        for i, (x, y) in enumerate([(0.0, 0.0), (0.5, 0.0), (1.0, 0.0),
                                    (50.0, 50.0)]):
            f.write(f"{i}\tPOINT ({x} {y})\n")
    out = str(tmp_path / "cl.parquet")
    rc = cli_main(["-op", "dbscan", "-left", p, "-tau", "1.2",
                   "-minpts", "3", "-out", out])
    assert rc == 0
    # string ids -> string labels (cluster = lexicographic-min core id,
    # noise = '-1'), per the dbscan docstring
    back = {r.id: r.cluster for r in spark.read.parquet(out).collect()}
    assert back["0"] == back["1"] == back["2"] == "0"
    assert back["3"] == "-1"


def _assert_each_direction_once(nbr):
    """dbscan keeps a core-core edge iff its canonical form is counted
    exactly twice (c2 == 2), which is right only if the eps self-join
    emits every ordered pair once and every off-diagonal pair in both
    directions."""
    pairs = [(r.s_id, r.t_id) for r in nbr.select("s_id", "t_id").collect()]
    seen = set(pairs)
    assert len(pairs) == len(seen), "duplicate (s_id, t_id) in eps join"
    off = {(s, t) for s, t in seen if s != t}
    assert off, "expected off-diagonal neighbor pairs"
    assert all((t, s) in seen for s, t in off), "eps join is not symmetric"


def test_dbscan_plan_shape(spark):
    """The eps-graph stage keeps the tile join's scale contract: no
    cartesian product, no Python in the neighbor-join plan. Both eps
    self-joins dbscan uses emit each direction of a neighbor pair
    exactly once."""
    rows = [(i, float(i % 17), float(i % 13)) for i in range(150)]
    from ds_jedai_spark.operators.spatial_join import (
        distance_join,
        geodesic_distance_join,
    )

    nbr = distance_join(_pts(spark, rows), _pts(spark, rows), 1.5)
    plan = nbr._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "Python" not in plan
    _assert_each_direction_once(nbr)

    # the same lattice at 0.01-degree spacing near the equator, where
    # 1.7 km reaches the diagonal neighbors (~1.57 km) only
    geo = [(i, x * 0.01, y * 0.01) for i, x, y in rows]
    _assert_each_direction_once(
        geodesic_distance_join(_pts(spark, geo), _pts(spark, geo), 1700.0)
    )


def test_dbscan_geodesic_vs_reference(spark):
    """geodesic=True clusters by great-circle meters: a seam-straddling
    GPS burst clusters TOGETHER (planar degrees would split it), and
    labels match an independent haversine union-find reference."""
    import math

    from ds_jedai_spark.operators.measures import MEAN_R

    def hav(x1, y1, x2, y2):
        p1, p2 = math.radians(y1), math.radians(y2)
        a = (math.sin((p2 - p1) / 2) ** 2
             + math.cos(p1) * math.cos(p2)
             * math.sin(math.radians(x2 - x1) / 2) ** 2)
        return 2 * MEAN_R * math.asin(min(1.0, math.sqrt(a)))

    # burst A straddles the antimeridian; burst B sits at 60N where a
    # lon degree is half-length; C is isolated noise
    rows = [(1, 179.98, 0.0), (2, -179.99, 0.0), (3, 179.95, 0.01),
            (11, 10.0, 60.0), (12, 10.08, 60.0), (13, 10.16, 60.0),
            (99, 50.0, -30.0)]
    eps_m = 6000.0
    got = {r.id: r.cluster for r in dbscan(
        _pts(spark, rows), eps_m, 3, geodesic=True).collect()}
    # independent reference with the same canonical labeling
    ids = [i for i, _, _ in rows]
    xy = {i: (x, y) for i, x, y in rows}
    nbrs = {i: [j for j in ids if hav(*xy[i], *xy[j]) <= eps_m]
            for i in ids}
    cores = {i for i in ids if len(nbrs[i]) >= 3}
    parent = {i: i for i in cores}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a in cores:
        for b in nbrs[a]:
            if b in cores and b != a:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for i in ids:
        if i in cores:
            want[i] = find(i)
        else:
            cl = [find(j) for j in nbrs[i] if j in cores]
            want[i] = min(cl) if cl else -1
    assert got == want
    assert got[1] == got[2] == got[3] != -1  # seam burst clusters
    assert got[11] == got[12] == got[13] != -1
    assert got[99] == -1


def test_dbscan_geo_gate_row_matches_duckdb(spark):
    import duckdb

    from conftest import SF_SMALL

    from ds_jedai_spark.plans import measure_plans as mp

    got = sorted((r.t_id, r.cost)
                 for r in mp.dbscan_geo_stats(spark, SF_SMALL).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/customer.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(mp.dbscan_geo_stats_oracle()).fetchall())
    assert got == want and got


def test_connected_components_star_vs_unionfind(spark):
    """The star-contraction CC engine (Kiveris et al. 2014) matches
    union-find on chains, blobs, random graphs, stars, and singleton
    edges — and closes a 1000-link chain within 12 rounds (flooding
    would need ~1000)."""
    import random

    from ds_jedai_spark.operators.clustering import (
        connected_components_star,
    )

    rng = random.Random(42)

    def uf(edges, nodes):
        parent = {n: n for n in nodes}

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    cases = {
        "chain": [(i, i + 1) for i in range(1000)],
        "blobs": [(rng.randrange(50), rng.randrange(50))
                  for _ in range(200)]
        + [(100 + rng.randrange(30), 100 + rng.randrange(30))
           for _ in range(100)],
        "random": [(rng.randrange(2000), rng.randrange(2000))
                   for _ in range(1800)],
        "star": [(0, i) for i in range(1, 400)],
        "one_edge": [(7, 9)],
    }
    for name, edges in cases.items():
        edges = [(a, b) for a, b in edges if a != b]
        nodes = sorted({x for e in edges for x in e})
        df = spark.createDataFrame(edges, "a long, b long")
        kw = {"max_iter": 12} if name == "chain" else {}
        got = {r.node: r.label
               for r in connected_components_star(df, **kw).collect()}
        assert got == uf(edges, nodes), name


def test_dbscan_use_center_on_envelopes(spark):
    """use_center (r17): an envelope corpus clusters by its envelope
    CENTERS — identical labels to running the point form on the
    centers directly; the envelope extents themselves don't matter."""
    import random

    rng = random.Random(41)
    rows = _blob_and_chain_rows()
    boxes = spark.createDataFrame(
        [(i, x - rng.random(), y - rng.random(),
          x + rng.random(), y + rng.random())
         for (i, x, y), rng in
         [(r, random.Random(1000 + r[0])) for r in rows]],
        "id long, minx double, miny double, maxx double, maxy double",
    )
    centers = boxes.selectExpr(
        "id", "(minx + maxx) / 2.0 AS cx", "(miny + maxy) / 2.0 AS cy"
    ).selectExpr("id", "cx AS minx", "cy AS miny",
                 "cx AS maxx", "cy AS maxy")
    want = {r.id: r.cluster
            for r in dbscan(centers, 1.5, 4).collect()}
    got = {r.id: r.cluster
           for r in dbscan(boxes, 1.5, 4, use_center=True).collect()}
    assert got == want
    assert -1 in set(want.values()) and len(set(want.values())) >= 3


def test_dbscan_to_hull_by_composition(spark):
    """The r17 composition the keyed hull exists for: dbscan labels ->
    per-cluster footprint hulls. Every non-noise cluster yields a hull
    whose corners are cluster members and whose envelope contains every
    member point."""
    from ds_jedai_spark.operators.hull import convex_hull

    rows = _blob_and_chain_rows()
    pts = _pts(spark, rows)
    labeled = dbscan(pts, 1.5, 4).withColumnRenamed("id", "pid")
    members = pts.join(labeled, pts["id"] == labeled["pid"]) \
        .where("cluster != -1") \
        .select("id", "cluster", "minx", "miny")
    hulls = convex_hull(members, by="cluster")
    got = {}
    for r in hulls.collect():
        got.setdefault(r.cluster, []).append((r.x, r.y))
    by_cluster = {}
    for r in members.collect():
        by_cluster.setdefault(r.cluster, []).append((r.minx, r.miny))
    assert set(got) == set(by_cluster)
    for c, corners in got.items():
        pts_c = set(by_cluster[c])
        assert set(corners) <= pts_c, c
        xs = [p[0] for p in corners]
        ys = [p[1] for p in corners]
        for (px, py) in pts_c:
            assert min(xs) <= px <= max(xs) and min(ys) <= py <= max(ys), c

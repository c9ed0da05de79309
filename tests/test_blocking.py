"""JedAI-family meta-blocking ER (round 17): differential tests against
an independent pure-Python mirror, pruning-rule laws, purge laws, and
plan-shape pins."""
from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from ds_jedai_spark.operators import blocking


DOCS = [
    # two near-duplicate clusters + unrelated noise docs
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta iota"),
    (3, "alpha beta gamma delta epsilon zeta kappa mu"),
    (4, "one two three four five six seven eight nine"),
    (5, "one two three four five six seven eight ten"),
    (6, "red green blue cyan magenta yellow black white"),
    (7, "solo unique words here nothing shared at all"),
    (8, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
]


def _df(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------- pure-Python mirror

def _py_shingles(text, n=3):
    ws = [w for w in text.split(" ") if w]
    if len(ws) < n:
        return set()
    return {"_".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _py_graph(rows, max_block=blocking.PURGE_MAX, n=3):
    keys = {d: _py_shingles(t, n) for d, t in rows}
    sizes: dict[str, int] = {}
    for ks in keys.values():
        for k in ks:
            sizes[k] = sizes.get(k, 0) + 1
    kept = {k for k, c in sizes.items() if 2 <= c <= max_block}
    kb = {d: ks & kept for d, ks in keys.items()}
    graph = {}
    for (d1, k1), (d2, k2) in itertools.combinations(sorted(kb.items()), 2):
        cbs = len(k1 & k2)
        if cbs:
            graph[(d1, d2)] = (cbs, len(k1), len(k2), cbs / (len(k1) + len(k2) - cbs))
    return graph


def _py_wep(graph):
    tot = sum(v[0] for v in graph.values())
    m = len(graph)
    return {p for p, v in graph.items() if v[0] * m >= tot}


def _py_wnp(graph):
    tot: dict[int, int] = {}
    m: dict[int, int] = {}
    for (d1, d2), v in graph.items():
        for e in (d1, d2):
            tot[e] = tot.get(e, 0) + v[0]
            m[e] = m.get(e, 0) + 1
    return {
        p
        for p, v in graph.items()
        if v[0] * m[p[0]] >= tot[p[0]] or v[0] * m[p[1]] >= tot[p[1]]
    }


def _py_cnp(graph, k):
    inc: dict[int, list] = {}
    for (d1, d2), v in graph.items():
        inc.setdefault(d1, []).append((-v[0], d2))
        inc.setdefault(d2, []).append((-v[0], d1))
    keep = set()
    for e, lst in inc.items():
        for _negw, other in sorted(lst)[:k]:
            keep.add((min(e, other), max(e, other)))
    return {p for p in graph if p in keep}


def _spark_graph(spark, rows=DOCS, **kw):
    return blocking.weighted_pairs(
        blocking.purge_blocks(blocking.block_index(_df(spark, rows)), **kw)
    )


def test_weighted_pairs_match_python_mirror(spark):
    got = {
        (r["d1"], r["d2"]): (r["cbs"], r["n1"], r["n2"], r["js"])
        for r in _spark_graph(spark).collect()
    }
    want = _py_graph(DOCS)
    assert set(got) == set(want)
    for p in got:
        assert got[p][:3] == want[p][:3]
        assert got[p][3] == pytest.approx(want[p][3], abs=0)


def test_wep_wnp_cnp_match_python_mirror(spark):
    g = blocking.weighted_pairs(
        blocking.purge_blocks(blocking.block_index(_df(spark)))
    )
    graph = _py_graph(DOCS)
    got_wep = {(r["d1"], r["d2"]) for r in blocking.wep(g).collect()}
    got_wnp = {(r["d1"], r["d2"]) for r in blocking.wnp(g).collect()}
    got_cnp = {(r["d1"], r["d2"]) for r in blocking.cnp(g, 2).collect()}
    assert got_wep == _py_wep(graph)
    assert got_wnp == _py_wnp(graph)
    assert got_cnp == _py_cnp(graph, 2)


def test_exact_duplicates_survive_every_pruner(spark):
    """Docs 1 and 8 share every block — the maximum-weight edge must
    survive wep, wnp, cnp and cep."""
    g = _spark_graph(spark)
    for pruned in (blocking.wep(g), blocking.wnp(g),
                   blocking.cnp(g, 1), blocking.cep(g, 1)):
        pairs = {(r["d1"], r["d2"]) for r in pruned.collect()}
        assert (1, 8) in pairs


def test_purge_drops_singleton_and_oversized_blocks(spark):
    bi = blocking.block_index(_df(spark))
    purged = blocking.purge_blocks(bi, max_block=2)
    sizes = purged.groupBy("key").count().collect()
    assert sizes, "cap 2 must keep the doc-1/doc-8 duplicate blocks"
    assert all(r["count"] == 2 for r in sizes)
    # doc 7 shares nothing: all its blocks are singletons -> purged
    assert purged.where(F.col("doc_id") == 7).count() == 0


def test_pruned_sets_are_subsets_and_wnp_contains_wep(spark):
    g = _spark_graph(spark)
    allp = {(r["d1"], r["d2"]) for r in g.collect()}
    wep_p = {(r["d1"], r["d2"]) for r in blocking.wep(g).collect()}
    wnp_p = {(r["d1"], r["d2"]) for r in blocking.wnp(g).collect()}
    assert wep_p <= allp and wnp_p <= allp
    # every entity's local mean is <= the global max constraint in the
    # other direction — wnp keeps at least each entity's best edge, so
    # it can never be empty while the graph is nonempty
    assert allp and wnp_p


def test_wnp_keeps_each_entitys_best_edge(spark):
    g = _spark_graph(spark)
    kept = {(r["d1"], r["d2"]) for r in blocking.wnp(g).collect()}
    rows = g.collect()
    best: dict[int, tuple] = {}
    for r in rows:
        for e in (r["d1"], r["d2"]):
            cur = best.get(e)
            if cur is None or r["cbs"] > cur[0]:
                best[e] = (r["cbs"], (r["d1"], r["d2"]))
    for _e, (_w, p) in best.items():
        assert p in kept, f"max-weight edge {p} of entity {_e} pruned"


def test_cep_budget_and_determinism(spark):
    g = _spark_graph(spark)
    n = g.count()
    top2a = [(r["d1"], r["d2"]) for r in blocking.cep(g, 2).collect()]
    top2b = [(r["d1"], r["d2"]) for r in blocking.cep(g, 2).collect()]
    assert len(top2a) == min(2, n)
    assert sorted(top2a) == sorted(top2b)
    assert len({*top2a}) == len(top2a)
    full = {(r["d1"], r["d2"]) for r in blocking.cep(g, n + 10).collect()}
    assert full == {(r["d1"], r["d2"]) for r in g.collect()}


def test_er_pairs_api_and_validation(spark):
    docs = _df(spark)
    out = blocking.er_pairs(docs, prune="cnp", k=1)
    assert set(out.columns) == {"d1", "d2", "cbs", "n1", "n2", "js"}
    assert out.count() > 0
    with pytest.raises(ValueError, match="unknown prune"):
        blocking.er_pairs(docs, prune="bogus")
    with pytest.raises(ValueError, match="max_block"):
        blocking.purge_blocks(blocking.block_index(docs), max_block=1)
    with pytest.raises(ValueError, match="k must be"):
        blocking.cnp(_spark_graph(spark), 0)
    none_p = blocking.er_pairs(docs, prune="none")
    assert none_p.count() >= out.count()


def test_custom_id_and_text_columns(spark):
    rows = [(r[0] * 10, r[1]) for r in DOCS]
    df = spark.createDataFrame(rows, "eid long, body string")
    out = blocking.er_pairs(df, prune="wnp", id_col="eid", text_col="body")
    pairs = {(r["d1"], r["d2"]) for r in out.collect()}
    assert (10, 80) in pairs


def test_plan_has_no_cartesian_and_no_python(spark):
    plan = (
        blocking.er_pairs(_df(spark), prune="wnp")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cli_op_er(spark, tmp_path, capsys, cli_main):
    """-op er end to end: parquet in -> pruned pair parquet out, equal
    to the library call; custom columns; scheme validation."""

    docs = str(tmp_path / "er_docs.parquet")
    _df(spark).write.mode("overwrite").parquet(docs)
    out = str(tmp_path / "er_pairs.parquet")
    rc = cli_main(["-op", "er", "-left", docs, "-prune", "wnp", "-out", out])
    assert rc == 0
    back = spark.read.parquet(out)
    want = {
        (r["d1"], r["d2"])
        for r in blocking.er_pairs(_df(spark), prune="wnp").collect()
    }
    assert {(r["d1"], r["d2"]) for r in back.collect()} == want

    # cardinality pruner with a budget, custom id/text columns
    docs2 = str(tmp_path / "er_docs2.parquet")
    _df(spark).selectExpr("doc_id AS my_id", "text AS body").write.mode(
        "overwrite"
    ).parquet(docs2)
    rc = cli_main([
        "-op", "er", "-left", docs2, "-id-col", "my_id", "-text-col", "body",
        "-prune", "cep", "-er-k", "3", "-limit", "5",
    ])
    assert rc == 0
    assert "d1\td2" in capsys.readouterr().out

    # missing input path
    assert cli_main(["-op", "er"]) == 2

    # block filtering via -filter-ratio, equal to the library call
    rc = cli_main(["-op", "er", "-left", docs, "-prune", "wnp",
                   "-filter-ratio", "4/5", "-limit", "3"])
    assert rc == 0
    assert cli_main(["-op", "er", "-left", docs,
                     "-filter-ratio", "nope"]) == 2

    # -cluster: end-to-end ER — pairs resolved into components whose
    # label is the component-minimum id (python CC mirror)
    outc = str(tmp_path / "er_clusters.parquet")
    rc = cli_main(["-op", "er", "-left", docs, "-prune", "wnp",
                   "-cluster", "-out", outc])
    assert rc == 0
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(outc).collect()
    }
    pairs = [
        (r["d1"], r["d2"])
        for r in blocking.er_pairs(_df(spark), prune="wnp").collect()
    ]
    adj: dict[int, set] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = set()
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x] - comp)
        seen |= comp
        lab = min(comp)
        want |= {(n, lab) for n in comp}
    assert got == want


# ------------------------------ clean-clean (cross-dataset) ER (r17)


def _py_cross_graph(lrows, rrows, max_block=blocking.PURGE_MAX, n=3):
    """Mirror: purge over BOTH datasets, pairs across only."""
    keys = {d: _py_shingles(t, n) for d, t in lrows + rrows}
    sizes: dict[str, int] = {}
    for ks in keys.values():
        for k in ks:
            sizes[k] = sizes.get(k, 0) + 1
    kept = {k for k, c in sizes.items() if 2 <= c <= max_block}
    kb = {d: ks & kept for d, ks in keys.items()}
    graph = {}
    for dl, _ in lrows:
        for dr, _ in rrows:
            cbs = len(kb[dl] & kb[dr])
            if cbs:
                graph[(dl, dr)] = (
                    cbs, len(kb[dl]), len(kb[dr]),
                    cbs / (len(kb[dl]) + len(kb[dr]) - cbs),
                )
    return graph


def test_er_cross_matches_python_mirror(spark):
    lrows = [r for r in DOCS if r[0] % 2 == 0]
    rrows = [r for r in DOCS if r[0] % 2 == 1]
    got = {
        (r["d1"], r["d2"]): (r["cbs"], r["n1"], r["n2"], r["js"])
        for r in blocking.er_pairs_cross(
            _df(spark, lrows), _df(spark, rrows), prune="none"
        ).collect()
    }
    want = _py_cross_graph(lrows, rrows)
    assert set(got) == set(want)
    for p in got:
        assert got[p][:3] == want[p][:3]


def test_er_cross_never_pairs_within_a_dataset(spark):
    lrows = [r for r in DOCS if r[0] % 2 == 0]
    rrows = [r for r in DOCS if r[0] % 2 == 1]
    for prune in ("none", "wep", "wnp", "cnp", "cep"):
        out = blocking.er_pairs_cross(
            _df(spark, lrows), _df(spark, rrows), prune=prune
        ).collect()
        for r in out:
            assert r["d1"] % 2 == 0 and r["d2"] % 2 == 1, (prune, r)


def test_er_cross_cnp_keeps_reversed_orientation_pairs(spark):
    """The cnp keep-set must match pairs whose left id EXCEEDS the
    right id (the least/greatest canonicalization bug class)."""
    lrows = [(10, "alpha beta gamma delta"), (99, "one two three four")]
    rrows = [(11, "alpha beta gamma delta"), (3, "one two three four")]
    got = {
        (r["d1"], r["d2"])
        for r in blocking.er_pairs_cross(
            _df(spark, lrows), _df(spark, rrows), prune="cnp", k=1
        ).collect()
    }
    assert (99, 3) in got and (10, 11) in got


def test_er_cross_filter_ratio_and_validation(spark):
    lrows = [r for r in DOCS if r[0] % 2 == 0]
    rrows = [r for r in DOCS if r[0] % 2 == 1]
    out = blocking.er_pairs_cross(
        _df(spark, lrows), _df(spark, rrows), filter_ratio=(4, 5)
    )
    assert set(out.columns) == {"d1", "d2", "cbs", "n1", "n2", "js"}
    with pytest.raises(ValueError, match="unknown prune"):
        blocking.er_pairs_cross(
            _df(spark, lrows), _df(spark, rrows), prune="bogus"
        )


def _py_snb_cross(lrows, rrows, window=blocking.SNB_WINDOW):
    def k1(t):
        return t.replace(" ", "")[:16]

    def k2(t):
        return t.replace(" ", "")[::-1][:16]

    lids = {r[0] for r in lrows}
    pairs: dict[tuple[int, int], int] = {}
    for kf in (k1, k2):
        seq = sorted(lrows + rrows, key=lambda r: (kf(r[1]), r[0]))
        ids = [r[0] for r in seq]
        for i in range(len(ids)):
            for off in range(1, window):
                if i + off < len(ids):
                    a, b = ids[i], ids[i + off]
                    if (a in lids) == (b in lids):
                        continue
                    p = (a, b) if a in lids else (b, a)
                    pairs[p] = min(pairs.get(p, off), off)
    return pairs


def test_snb_cross_matches_mirror_and_sides(spark):
    lrows = [r for r in DOCS if r[0] % 2 == 0]
    rrows = [r for r in DOCS if r[0] % 2 == 1]
    got = {
        (r["d1"], r["d2"]): r["gap"]
        for r in blocking.sorted_neighborhood_cross(
            _df(spark, lrows), _df(spark, rrows)
        ).collect()
    }
    assert got == _py_snb_cross(lrows, rrows)
    for d1, d2 in got:
        assert d1 % 2 == 0 and d2 % 2 == 1


def test_snb_cross_sql_twin_matches(spark):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute("CREATE TABLE base (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO base VALUES (?, ?)", DOCS)
    sql = blocking.snb_cross_sql(
        "doc_id % 2 = 0", "doc_id % 2 = 1",
        "corpus AS (SELECT doc_id, text FROM base)",
    )
    want = {(d1, d2): g for d1, d2, g in con.execute(sql).fetchall()}
    lrows = [r for r in DOCS if r[0] % 2 == 0]
    rrows = [r for r in DOCS if r[0] % 2 == 1]
    got = {
        (r["d1"], r["d2"]): r["gap"]
        for r in blocking.sorted_neighborhood_cross(
            _df(spark, lrows), _df(spark, rrows)
        ).collect()
    }
    assert got == want


def test_cli_op_er_cross(spark, tmp_path, capsys, cli_main):
    lrows = [r for r in DOCS if r[0] % 2 == 0]
    rrows = [r for r in DOCS if r[0] % 2 == 1]
    lp = str(tmp_path / "er_l.parquet")
    rp = str(tmp_path / "er_r.parquet")
    _df(spark, lrows).write.parquet(lp)
    _df(spark, rrows).write.parquet(rp)
    out = str(tmp_path / "er_cc.parquet")
    rc = cli_main(["-op", "er", "-left", lp, "-right", rp,
                   "-prune", "wnp", "-out", out])
    assert rc == 0
    got = {
        (r["d1"], r["d2"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["d1"], r["d2"])
        for r in blocking.er_pairs_cross(
            _df(spark, lrows), _df(spark, rrows), prune="wnp"
        ).collect()
    }
    assert got == want and got


# ------------------------------ block filtering (r17)


def _py_block_filtering(rows, ratio=(4, 5), max_block=blocking.PURGE_MAX):
    """Mirror: purge, then each entity keeps its ceil(p/q * n) smallest
    blocks by (size asc, key asc)."""
    import math

    p, q = ratio
    keys = {d: _py_shingles(t) for d, t in rows}
    sizes: dict[str, int] = {}
    for ks in keys.values():
        for k in ks:
            sizes[k] = sizes.get(k, 0) + 1
    kept_keys = {k for k, c in sizes.items() if 2 <= c <= max_block}
    kb = {d: sorted(ks & kept_keys, key=lambda k: (sizes[k], k))
          for d, ks in keys.items()}
    out = set()
    for d, ks in kb.items():
        for k in ks[: math.ceil(p * len(ks) / q)]:
            out.add((d, k))
    return out


def test_block_filtering_matches_python_mirror(spark):
    bi = blocking.purge_blocks(blocking.block_index(_df(spark)))
    got = {
        (r["doc_id"], r["key"])
        for r in blocking.block_filtering(bi, (4, 5)).collect()
    }
    assert got == _py_block_filtering(DOCS, (4, 5))
    # a harsher ratio strictly shrinks (or keeps) every entity's keys
    harsh = {
        (r["doc_id"], r["key"])
        for r in blocking.block_filtering(bi, (1, 2)).collect()
    }
    assert harsh == _py_block_filtering(DOCS, (1, 2))
    assert harsh <= got


def test_block_filtering_identity_and_validation(spark):
    bi = blocking.purge_blocks(blocking.block_index(_df(spark)))
    full = {(r["doc_id"], r["key"]) for r in bi.collect()}
    kept = {
        (r["doc_id"], r["key"])
        for r in blocking.block_filtering(bi, (1, 1)).collect()
    }
    assert kept == full  # ceil(n) == n keeps everything
    for bad in ((0, 5), (6, 5), (4, 0)):
        with pytest.raises(ValueError, match="ratio"):
            blocking.block_filtering(bi, bad)


def test_er_pairs_filter_ratio_flows_through(spark):
    out = blocking.er_pairs(_df(spark), prune="wnp", filter_ratio=(4, 5))
    assert set(out.columns) == {"d1", "d2", "cbs", "n1", "n2", "js"}
    # the doc-1/doc-8 exact duplicate survives filtering + wnp
    assert (1, 8) in {(r["d1"], r["d2"]) for r in out.collect()}


# ------------------------------ sorted-neighborhood blocking (r17)


def _py_snb(rows, window=blocking.SNB_WINDOW):
    """Pure-Python mirror of sorted_neighborhood with the default
    SNB_KEYS (prefix and reversed-prefix of the space-stripped text)."""
    def k1(t):
        return t.replace(" ", "")[:16]

    def k2(t):
        return t.replace(" ", "")[::-1][:16]

    pairs: dict[tuple[int, int], int] = {}
    for kf in (k1, k2):
        ids = [r[0] for r in sorted(rows, key=lambda r: (kf(r[1]), r[0]))]
        for i in range(len(ids)):
            for off in range(1, window):
                if i + off < len(ids):
                    a, b = ids[i], ids[i + off]
                    p = (min(a, b), max(a, b))
                    pairs[p] = min(pairs.get(p, off), off)
    return pairs


def test_snb_matches_python_mirror(spark):
    got = {
        (r["d1"], r["d2"]): r["gap"]
        for r in blocking.sorted_neighborhood(_df(spark)).collect()
    }
    assert got == _py_snb(DOCS)


def test_snb_window_two_is_chain_adjacency(spark):
    got = {
        (r["d1"], r["d2"]): r["gap"]
        for r in blocking.sorted_neighborhood(_df(spark), window=2).collect()
    }
    want = _py_snb(DOCS, window=2)
    assert got == want
    assert all(g == 1 for g in got.values())


def test_snb_exact_duplicates_are_adjacent(spark):
    """Docs 1 and 8 share identical text — both passes sort them
    back-to-back, so the pair must appear with the minimum gap 1."""
    got = {
        (r["d1"], r["d2"]): r["gap"]
        for r in blocking.sorted_neighborhood(_df(spark)).collect()
    }
    assert got.get((1, 8)) == 1
    assert all(1 <= g <= blocking.SNB_WINDOW - 1 for g in got.values())


def test_snb_single_pass_and_validation(spark):
    one = blocking.sorted_neighborhood(
        _df(spark), keys=(blocking.SNB_KEYS[0],)
    )
    n = len(DOCS)
    # one pass over n unique ranks: exactly (w-1)*n - (1+..+(w-1)) edges
    # before pair-merging, and merging only reduces the count
    w = blocking.SNB_WINDOW
    assert one.count() <= (w - 1) * n - (w - 1) * w // 2
    with pytest.raises(ValueError, match="window"):
        blocking.sorted_neighborhood(_df(spark), window=1)
    with pytest.raises(ValueError, match="keys"):
        blocking.sorted_neighborhood(_df(spark), keys=())


def test_snb_custom_columns(spark):
    rows = [(r[0] * 10, r[1]) for r in DOCS]
    df = spark.createDataFrame(rows, "eid long, body string")
    got = {
        (r["d1"], r["d2"]): r["gap"]
        for r in blocking.sorted_neighborhood(
            df, id_col="eid", text_col="body"
        ).collect()
    }
    assert got == _py_snb(rows)


def test_snb_partition_invariance(spark):
    """The pair set must not depend on input partitioning (the global
    rank is a total order on (key, doc_id), not on physical layout)."""
    base = {
        (r["d1"], r["d2"], r["gap"])
        for r in blocking.sorted_neighborhood(_df(spark)).collect()
    }
    shuffled = {
        (r["d1"], r["d2"], r["gap"])
        for r in blocking.sorted_neighborhood(
            _df(spark).repartition(7)
        ).collect()
    }
    assert base == shuffled


def test_snb_plan_no_global_window_no_python(spark):
    plan = (
        blocking.sorted_neighborhood(_df(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snb_sql_twin_matches(spark):
    """The DuckDB oracle form produces the identical (d1, d2, gap) set
    on the same rows."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute("CREATE TABLE base (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO base VALUES (?, ?)", DOCS)
    sql = blocking.snb_sql("corpus AS (SELECT doc_id, text FROM base)")
    want = {(d1, d2): gap for d1, d2, gap in con.execute(sql).fetchall()}
    got = {
        (r["d1"], r["d2"]): r["gap"]
        for r in blocking.sorted_neighborhood(_df(spark)).collect()
    }
    assert got == want


# ------------------------------ edit-distance similarity join (r17)


def _py_lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


EDIT_DOCS = [
    # lengths crafted to straddle bucket boundaries at width d+1
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumped over the lazy dog"),   # dist 2
    (3, "the quick brown fox jumps over the lazy cat"),    # dist 3 of 1
    (4, "a completely different sentence about nothing"),
    (5, "a completely different sentence about nothings"), # dist 1 of 4
    (6, "short text"),
    (7, "short test"),                                     # dist 1 of 6
    (8, "the quick brown fox jumps over the lazy dog"),    # dup of 1
    (9, "x" * 26),
    (10, "x" * 39),                                        # dist 13: out at d=12
]


def test_edit_distance_matches_bruteforce(spark):
    from ds_jedai_spark.operators import dedup

    for d in (0, 1, 12):
        got = {
            (r["d1"], r["d2"]): r["dist"]
            for r in dedup.edit_distance_pairs(
                spark.createDataFrame(EDIT_DOCS, "doc_id long, text string"),
                d=d,
            ).collect()
        }
        want = {
            (a, b): _py_lev(ta, tb)
            for (a, ta), (b, tb) in itertools.combinations(EDIT_DOCS, 2)
            if _py_lev(ta, tb) <= d
        }
        assert got == want, f"d={d}"
    with pytest.raises(ValueError, match="d must be"):
        dedup.edit_distance_pairs(_df(spark), d=-1)


def test_cli_op_editdist_matches_library(spark, tmp_path, cli_main):
    from ds_jedai_spark.operators import dedup

    docs = spark.createDataFrame(EDIT_DOCS, "doc_id long, text string")
    src = str(tmp_path / "edit_docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "edit_pairs.parquet")
    assert cli_main(["-op", "editdist", "-left", src, "-edit-d", "3",
                     "-out", out]) == 0
    want = dedup.edit_distance_pairs(docs, d=3)
    got = spark.read.parquet(out)
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())
    assert want.count() > 0


def test_edit_distance_band_straddlers_found_once(spark):
    """Pairs whose lengths land in adjacent buckets (and equal-length
    pairs colliding in one bucket) each appear exactly once."""
    from ds_jedai_spark.operators import dedup

    d = 3
    # len 7 -> bucket 1, len 9 -> bucket 2 with width 4: adjacent
    rows = [(1, "aaaaaaa"), (2, "aaaaaaabb"), (3, "aaaaaaa")]
    out = dedup.edit_distance_pairs(
        spark.createDataFrame(rows, "doc_id long, text string"), d=d
    ).collect()
    got = {(r["d1"], r["d2"]): r["dist"] for r in out}
    assert len(out) == len(got) == 3
    assert got == {(1, 2): 2, (1, 3): 0, (2, 3): 2}


def test_edit_distance_custom_columns_and_plan(spark):
    from ds_jedai_spark.operators import dedup

    df = spark.createDataFrame(
        [(r[0] * 10, r[1]) for r in EDIT_DOCS], "eid long, body string"
    )
    out = dedup.edit_distance_pairs(df, d=2, id_col="eid", text_col="body")
    want = {
        (a * 10, b * 10): _py_lev(ta, tb)
        for (a, ta), (b, tb) in itertools.combinations(EDIT_DOCS, 2)
        if _py_lev(ta, tb) <= 2
    }
    assert {(r["d1"], r["d2"]) for r in out.collect()} == set(want)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "levenshtein" in plan


def test_edit_distance_sql_twin_matches(spark):
    from ds_jedai_spark.operators import dedup

    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute("CREATE TABLE base (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO base VALUES (?, ?)", EDIT_DOCS)
    sql = dedup.edit_distance_sql(
        "corpus AS (SELECT doc_id, text FROM base)", d=12
    )
    want = {(d1, d2): dist for d1, d2, dist in con.execute(sql).fetchall()}
    got = {
        (r["d1"], r["d2"]): r["dist"]
        for r in dedup.edit_distance_pairs(
            spark.createDataFrame(EDIT_DOCS, "doc_id long, text string"),
            d=12,
        ).collect()
    }
    assert got == want

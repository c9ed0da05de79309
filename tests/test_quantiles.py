"""Exact distributed quantiles (round 17): selection-rank mirrors,
tie laws, validation, and plan-shape pins."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ds_jedai_spark.operators.ranking import exact_quantiles, exact_quantiles_by


def _py_q(vals, permille):
    s = sorted(vals)
    return {p: s[(p * (len(s) - 1)) // 1000] for p in permille}


def test_matches_python_selection_mirror(spark):
    vals = [((i * 2654435761) % 9973) / 16.0 for i in range(2000)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )
    ps = (0, 10, 250, 500, 750, 900, 990, 1000)
    got = {
        r["permille"]: r["value"]
        for r in exact_quantiles(df, "v", ps, tiebreak=["id"]).collect()
    }
    assert got == _py_q(vals, ps)


def test_heavy_ties_select_deterministic_value(spark):
    # 1000 rows over 7 distinct values: rank tie order is arbitrary but
    # the value at every rank is fixed
    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(1000)], "id long, v double"
    )
    ps = (250, 500, 900)
    for _ in range(2):
        got = {
            r["permille"]: r["value"]
            for r in exact_quantiles(df, "v", ps, tiebreak=["id"]).collect()
        }
        assert got == _py_q([float(i % 7) for i in range(1000)], ps)


def test_extremes_and_single_row(spark):
    df = spark.createDataFrame([(1, 5.0)], "id long, v double")
    got = {
        r["permille"]: r["value"]
        for r in exact_quantiles(df, "v", (0, 500, 1000)).collect()
    }
    assert got == {0: 5.0, 500: 5.0, 1000: 5.0}


def test_validation(spark):
    df = spark.createDataFrame([(1, 5.0)], "id long, v double")
    with pytest.raises(ValueError, match="permille"):
        exact_quantiles(df, "v", (1001,))
    with pytest.raises(ValueError, match="permille"):
        exact_quantiles(df, "v", ())
    with pytest.raises(ValueError, match="permille"):
        exact_quantiles_by(df, "v", "id", (-1,))


def test_grouped_matches_mirror(spark):
    rows = [(i, i % 5, float((i * 7919) % 97)) for i in range(1500)]
    df = spark.createDataFrame(rows, "id long, g long, v double")
    ps = (250, 500, 900)
    got = {
        (r["g"], r["permille"]): r["value"]
        for r in exact_quantiles_by(df, "v", "g", ps).collect()
    }
    want = {}
    for g in range(5):
        gv = [v for _i, gg, v in rows if gg == g]
        for p, val in _py_q(gv, ps).items():
            want[(g, p)] = val
    assert got == want


def test_global_plan_has_no_single_partition_window(spark):
    from ds_jedai_spark.operators.ranking import ranked_local

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    # the rank stage (pre-checkpoint): range-partitioned, Window keyed
    # on the partition id — never a SinglePartition sort
    rank_plan = (
        ranked_local(df.select("v", "id"), ["v", "id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning(" in rank_plan
    assert "windowspecdefinition(part#" in rank_plan
    assert "SinglePartition" not in rank_plan
    # the assembled quantile plan: broadcast joins only, the single
    # SinglePartition exchange is the 1-row count aggregate
    plan = (
        exact_quantiles(df, "v", (500,), tiebreak=["id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange SinglePartition") <= 1
    assert "BroadcastHashJoin" in plan


def test_gate_legs_shape(spark):
    from ds_jedai_spark.plans import measure_plans as mp

    sf = "/root/testdata/sf0.001"
    q = mp.quantile_stats(spark, sf)
    rows = q.collect()
    assert len(rows) == len(mp.QUANTILE_PERMILLE)
    assert q.columns == ["t_id", "cost"]
    qb = mp.quantile_by_stats(spark, sf)
    rb = qb.collect()
    assert len(rb) == 7 * len(mp.QUANTILE_BY_PERMILLE)
    # values are monotone in permille within each group
    from collections import defaultdict

    groups = defaultdict(dict)
    for r in rb:
        groups[r["t_id"] // 10000][r["t_id"] % 10000] = r["cost"]
    for g, d in groups.items():
        ps = sorted(d)
        assert all(d[a] <= d[b] for a, b in zip(ps, ps[1:])), (g, d)


def test_cli_op_quantiles_matches_library(spark, tmp_path, capsys, cli_main):
    """-op quantiles, global and -by, gives the rows of the library
    calls; a malformed -permille is a usage error."""
    rows = [(i, i % 3, float((i * 7919) % 97)) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, g long, v double")
    src = str(tmp_path / "q.parquet")
    df.write.parquet(src)
    ps = (10, 500, 990)
    for by, want in (
        (None, exact_quantiles(df, "v", ps)),
        ("g", exact_quantiles_by(df, "v", "g", ps)),
    ):
        out = str(tmp_path / f"q_{by}.parquet")
        argv = ["-op", "quantiles", "-left", src, "-value-col", "v",
                "-permille", "10,500,990", "-out", out]
        assert cli_main(argv + (["-by", by] if by else [])) == 0
        got = spark.read.parquet(out)
        assert got.columns == want.columns
        assert sorted(got.collect()) == sorted(want.collect())
    capsys.readouterr()
    assert cli_main(["-op", "quantiles", "-left", src, "-value-col", "v",
                     "-permille", "10,half"]) == 2
    assert "-permille" in capsys.readouterr().err

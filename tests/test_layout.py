"""Z-order parquet layout (round 17): roundtrip losslessness, the
clustering property that makes pruning work, footer-stats metrics, and
plan-shape pins."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ds_jedai_spark.io import layout


def _points(spark, n=4000, seed=7):
    """Deterministic scattered points on [0, 128)^2 (multiples of
    1/16)."""
    return spark.range(n).selectExpr(
        "id",
        f"CAST((id * 2654435761 + {seed}) % 2048 AS DOUBLE) / 16.0 AS x",
        f"CAST((id * 40503 + {seed * 3}) % 2048 AS DOUBLE) / 16.0 AS y",
    )


BOUNDS = (0.0, 0.0, 128.0, 128.0)


def test_roundtrip_is_lossless(spark, tmp_path):
    src = _points(spark)
    out = str(tmp_path / "z.parquet")
    layout.write_zordered(src, out, bounds=BOUNDS, files=8)
    back = spark.read.parquet(out)
    assert sorted(back.columns) == ["id", "x", "y"]
    a = sorted(tuple(r) for r in src.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_zorder_clusters_tighter_than_natural(spark, tmp_path):
    """The point of the layout: the sum of per-row-group bbox areas
    under z-order must be a small fraction of the natural layout's
    (each natural file spans near the whole domain)."""
    src = _points(spark)
    nat = str(tmp_path / "nat.parquet")
    src.repartition(8).write.parquet(nat)
    zed = str(tmp_path / "zed.parquet")
    layout.write_zordered(src, zed, bounds=BOUNDS, files=8)

    def area(stats):
        return sum(
            (s["maxx"] - s["minx"]) * (s["maxy"] - s["miny"]) for s in stats
        )

    a_nat = area(layout.scan_stats(nat, "x", "y"))
    a_zed = area(layout.scan_stats(zed, "x", "y"))
    assert a_zed < 0.5 * a_nat, (a_zed, a_nat)


def test_small_bbox_touches_few_groups(spark, tmp_path):
    src = _points(spark)
    zed = str(tmp_path / "zed2.parquet")
    layout.write_zordered(src, zed, bounds=BOUNDS, files=8)
    stats = layout.scan_stats(zed, "x", "y")
    frac = layout.pruned_fraction(stats, (10.0, 10.0, 18.0, 18.0))
    # a 0.4%-area bbox must not touch most of the corpus
    assert frac["groups_touched"] < frac["groups"]
    assert frac["rows_fraction"] < 0.55, frac
    # and the filtered read agrees with the unpruned truth
    got = (
        spark.read.parquet(zed)
        .where("x >= 10 AND x <= 18 AND y >= 10 AND y <= 18")
        .count()
    )
    want = src.where("x >= 10 AND x <= 18 AND y >= 10 AND y <= 18").count()
    assert got == want


def test_bbox_filter_is_pushed_to_scan(spark, tmp_path):
    src = _points(spark)
    zed = str(tmp_path / "zed3.parquet")
    layout.write_zordered(src, zed, bounds=BOUNDS, files=4)
    df = spark.read.parquet(zed).where("x >= 10 AND x <= 18")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(x,10.0)" in plan


def test_morton_key_orders_like_python_mirror(spark):
    """The closed-form key equals a bit-interleave computed in Python
    (precision 4 -> 10 lon bits + 10 lat bits on the bounds grid)."""
    rows = [(float(x), float(y)) for x in range(0, 128, 17)
            for y in range(0, 128, 23)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = {
        (r["x"], r["y"]): int(r["z"])
        for r in df.selectExpr(
            "x", "y",
            f"CAST({layout.morton_key_sql('x', 'y', 4, BOUNDS)} AS LONG)"
            " AS z",
        ).collect()
    }

    def mirror(x, y):
        ix = min(1023, int(x / 128.0 * 1024))
        iy = min(1023, int(y / 128.0 * 1024))
        z = 0
        for b in range(10):  # interleave MSB-first, lon leads
            z |= ((ix >> (9 - b)) & 1) << (19 - 2 * b)
            z |= ((iy >> (9 - b)) & 1) << (18 - 2 * b)
        return z

    for (x, y), z in got.items():
        assert z == mirror(x, y), (x, y)


def test_validation_errors(spark):
    with pytest.raises(ValueError, match="degenerate bounds"):
        layout.morton_key_sql("x", "y", 8, (0.0, 0.0, 0.0, 90.0))
    with pytest.raises(ValueError, match="files"):
        layout.zorder_frame(_points(spark, 10), bounds=BOUNDS, files=0)


def test_cli_op_zorder(spark, tmp_path, capsys, cli_main):
    """-op zorder end to end: reader-format dataset in, z-ordered
    parquet copy out, lossless, with per-file spatial extents that
    cover disjoint z-runs."""

    src = _points(spark, 2000).selectExpr(
        "id", "'POINT' AS gtype",
        "array(array(array(x, y))) AS coords",
        "x AS minx", "y AS miny", "x AS maxx", "y AS maxy",
    )
    inp = str(tmp_path / "pts.parquet")
    src.write.parquet(inp)
    out = str(tmp_path / "z")
    rc = cli_main(["-op", "zorder", "-left", inp, "-out", out,
                   "-files", "4"])
    assert rc == 0
    assert "z-ordered 2000 rows" in capsys.readouterr().out
    back = spark.read.parquet(out)
    assert back.count() == 2000
    assert sorted(back.select("id").toPandas()["id"]) == list(range(2000))
    # missing args
    assert cli_main(["-op", "zorder", "-left", inp]) == 2


def test_zorder_frame_plan_no_python_no_global_sort(spark):
    import re

    df = layout.zorder_frame(_points(spark), bounds=BOUNDS, files=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "rangepartitioning(" in plan
    # every Sort is partition-local (the range exchange does placement)
    assert not re.search(r"Sort .*global=true", plan)

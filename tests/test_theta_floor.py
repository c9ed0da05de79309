"""Unit pins for the degenerate-theta guard (model/tiles.py GRID_CAP).

The e2e fuzz reproduces the OOM class end-to-end; these pins assert the
arithmetic contract directly so a regression fails in milliseconds
instead of killing an executor: theta never drops below domain/GRID_CAP,
the floor NEVER binds on the gate corpora's natural granularity, and the
exploded tile count per geometry stays grid-bounded for adversarial
mixes. Reference theta semantics: utils/configuration/Constants.scala
ThetaOption + TileGranularities.scala:21-47.
"""

import pytest

from ds_jedai_spark.model.tiles import (
    GRID_CAP,
    MIN_THETA,
    compute_theta,
    floor_theta,
    with_tiles,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "minx double, miny double, "
                                       "maxx double, maxy double")


@pytest.mark.parametrize("mode", ["avg", "min", "max", "avg2"])
def test_theta_floored_at_domain_over_grid_cap(spark, mode):
    # 99 points + one 4x4 box spread over a 100-unit domain: avg/min
    # extents are ~0 but the floor keeps the grid <= GRID_CAP per axis
    rows = [(float(i), float(i), float(i), float(i)) for i in range(99)]
    rows.append((0.0, 0.0, 4.0, 4.0))  # domain 0..98 both axes
    tx, ty = compute_theta(_df(spark, rows), mode)
    assert tx >= 98.0 / GRID_CAP and ty >= 98.0 / GRID_CAP


def test_all_stacked_source_floors_by_target(spark):
    # zero-extent DOMAIN: source-side floor is 0, target-side must bind
    src = _df(spark, [(0.25, 0.25, 0.25, 0.25)] * 4)
    tgt = _df(spark, [(0.0, 0.0, 64.0, 64.0), (100.0, 0.0, 101.0, 1.0)])
    theta = floor_theta(compute_theta(src), tgt)
    assert theta[0] >= 101.0 / GRID_CAP and theta[1] >= 64.0 / GRID_CAP


def test_floor_never_binds_on_gate_corpus(spark):
    # the sf0.001 lineitem-derived corpus (and everything larger) sits
    # far above domain/GRID_CAP — the floor must not move its theta
    from ds_jedai_spark.io.synthetic import (
        load_sql,
        register_views,
        source_box_sql,
    )

    register_views(spark, "/root/testdata/sf0.001")
    src = load_sql(spark, "/root/testdata/sf0.001", source_box_sql())
    w = src.selectExpr(
        "avg(maxx - minx) ax", "avg(maxy - miny) ay",
        "max(maxx) - min(minx) dx", "max(maxy) - min(miny) dy",
    ).first()
    assert w.ax > w.dx / GRID_CAP and w.ay > w.dy / GRID_CAP
    assert compute_theta(src) == (w.ax, w.ay)


def test_tile_explosion_is_grid_bounded(spark):
    # pre-fix this mix produced ~1.6e19 tiles for the box; floored theta
    # bounds it by the (GRID_CAP+2)^2 worst case
    rows = [(i / 16.0, 0.0, i / 16.0, 0.0) for i in range(6)]
    rows.append((-2.0, -2.0, 2.0, 2.0))
    df = _df(spark, rows)
    theta = compute_theta(df)
    n = with_tiles(df, theta).count()
    assert n < (GRID_CAP + 2) ** 2
    assert theta[0] > MIN_THETA and theta[1] > MIN_THETA


def test_one_aggregate_gives_the_grid_block_count(spark):
    # api.run takes theta and the source extent from one aggregate
    # (tiles.prologue); the block count must equal api._total_blocks' own
    # pass, and an empty source keeps its one vacuous block (boxes: avg
    # extent 1.5 x 1 over 0..6 x 0..4 -> 5 x 5 cells)
    from ds_jedai_spark import api
    from ds_jedai_spark.model.tiles import grid_blocks, prologue

    boxes = _df(spark, [(0.0, 0.0, 2.0, 1.0), (5.0, 3.0, 6.0, 4.0)])
    stacked = _df(spark, [(0.25, 0.25, 0.25, 0.25)] * 4)
    empty = _df(spark, [])
    for df, want in ((boxes, 5 * 5), (stacked, 1), (empty, 1)):
        for mode in ("avg", "min", "max", "avg2"):
            p = prologue(df, mode=mode)
            theta, extent = p.theta, p.extent
            assert theta == compute_theta(df, mode)
            blocks = grid_blocks(extent, theta)
            assert blocks == api._total_blocks(df, theta)
            if mode == "avg":
                assert blocks == want

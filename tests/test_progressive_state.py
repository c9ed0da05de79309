"""Golden tests for the stateful progressive scans (the reference's
WeightedPairTest pattern: exact dequeue order, including dynamic-update
reordering — src/test/scala/WeightedPairTest.scala:58-80)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest
from conftest import SF_SMALL

from ds_jedai_spark.operators.progressive_state import dynamic_progressive, early_stopping


def _cand_df(spark, rows):
    return spark.createDataFrame(rows, "s_id long, t_id long, wv double, q boolean")


def test_dynamic_boost_reorders(spark):
    # (s1,t1) qualifies first and boosts (s1,t2): 2.0 -> 4.0, overtaking
    # (s2,t3) at 2.5. Expected verification order: (1,1), (1,2), (2,3).
    rows = [(1, 1, 3.0, True), (1, 2, 2.0, False), (2, 3, 2.5, False)]
    out = dynamic_progressive(
        _cand_df(spark, rows), "wv", "q", budget=10, num_parts=1
    ).orderBy("verified_rank")
    got = [(r.s_id, r.t_id, r.w) for r in out.collect()]
    assert got == [(1, 1, 3.0), (1, 2, 4.0), (2, 3, 2.5)]


def test_dynamic_budget_caps_output(spark):
    rows = [(i, i, float(i), False) for i in range(1, 21)]
    out = dynamic_progressive(_cand_df(spark, rows), "wv", "q", budget=5, num_parts=1)
    assert out.count() == 5


def test_early_stopping_stops_after_violations(spark):
    # batch_size=2: first batch 2 matches; then all-zero batches violate
    # precision 0.5*2=1; stop after 1 violating batch -> 4 rows out.
    rows = [
        (1, 1, 10.0, True),
        (1, 2, 9.0, True),
        (2, 1, 8.0, False),
        (2, 2, 7.0, False),
        (3, 1, 6.0, False),
        (3, 2, 5.0, False),
    ]
    out = early_stopping(
        _cand_df(spark, rows),
        "wv",
        "q",
        batch_size=2,
        max_violations=1,
        precision_level=0.5,
        num_parts=1,
    )
    assert out.count() == 4


def test_stateful_plans_run_on_testdata(spark):
    from ds_jedai_spark.plans.progressive_plans import (
        dynamic_progressive_js,
        early_stopping_js,
    )

    assert dynamic_progressive_js(spark, SF_SMALL).count() > 0
    assert early_stopping_js(spark, SF_SMALL).count() > 0


def _box(x0, y0, x1, y1):
    x0, y0, x1, y1 = map(float, (x0, y0, x1, y1))
    return [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]


# Pairs relate_fast.preclassify leaves UNDECIDED (boundary contact),
# weighted above the box grid so every scan dequeues them first.
_CONTACT_ROWS = [
    # edge-sharing and corner-touching boxes
    (20, 200, 9.0, "POLYGON", _box(0, 0, 3, 3), "POLYGON", _box(3, 0, 5, 2)),
    (20, 201, 8.5, "POLYGON", _box(0, 0, 3, 3), "POLYGON", _box(3, 3, 5, 5)),
    # equal boxes
    (24, 205, 9.5, "POLYGON", _box(0, 0, 4, 4), "POLYGON", _box(0, 0, 4, 4)),
    # a line through two polygon vertices, a line ending on an edge
    (21, 202, 9.0, "LINESTRING", [[[-1.0, -1.0], [4.0, 4.0]]], "POLYGON",
     _box(0, 0, 3, 3)),
    (21, 206, 7.5, "LINESTRING", [[[3.0, 1.0], [6.0, 1.0]]], "POLYGON",
     _box(0, 0, 3, 3)),
    # a point on an edge, a multipoint with one point on a corner
    (22, 203, 8.0, "POINT", [[[1.5, 0.0]]], "POLYGON", _box(0, 0, 3, 3)),
    (23, 204, 8.0, "POLYGON", _box(0, 0, 3, 3), "MULTIPOINT",
     [[[0.0, 0.0]], [[1.0, 1.0]]]),
]
CONTACT_KEYS = {(r[0], r[1]) for r in _CONTACT_ROWS}
GEOM_SCHEMA = (
    "s_id long, t_id long, wv double, s_gtype string, "
    "s_coords array<array<array<double>>>, t_gtype string, "
    "t_coords array<array<array<double>>>"
)


def _geom_rows():
    import itertools

    boxes_s = [(i, 2.0 * (i % 5), 2.0 * (i // 5)) for i in range(1, 13)]
    boxes_t = [(100 + i, 0.5 * i, 0.25 * i) for i in range(1, 13)]
    rows = []
    for (si, sx, sy), (ti, tx, ty) in itertools.product(boxes_s, boxes_t):
        rows.append((si, ti, float(si % 7 + 1), "POLYGON",
                     _box(sx, sy, sx + 3, sy + 3), "POLYGON",
                     _box(tx, ty, tx + 2, ty + 2)))
    return rows + _CONTACT_ROWS


def _geom_cand(spark):
    """Candidates with real geometry columns: lazy in-scan verification
    must agree with precomputing the relation flags first."""
    return spark.createDataFrame(_geom_rows(), GEOM_SCHEMA)


def test_dynamic_lazy_verify_equals_precomputed(spark):
    from ds_jedai_spark.operators.relate_general import with_general_relations

    cand = _geom_cand(spark)
    lazy = dynamic_progressive(
        cand, "wv", None, budget=40, num_parts=4, relation="intersects"
    )
    pre = dynamic_progressive(
        with_general_relations(cand), "wv", "r_intersects", budget=40, num_parts=4
    )
    key = ["s_id", "t_id", "w", "verified_rank"]
    assert sorted(map(tuple, lazy.select(key).collect())) == sorted(
        map(tuple, pre.select(key).collect())
    )


def test_early_stopping_lazy_verify_equals_precomputed(spark):
    from ds_jedai_spark.operators.relate_general import with_general_relations

    cand = _geom_cand(spark)
    lazy = early_stopping(
        cand, "wv", None, batch_size=10, num_parts=2, relation="overlaps"
    )
    pre = early_stopping(
        with_general_relations(cand), "wv", "r_overlaps", batch_size=10, num_parts=2
    )
    key = ["s_id", "t_id", "w", "verified_rank"]
    assert sorted(map(tuple, lazy.select(key).collect())) == sorted(
        map(tuple, pre.select(key).collect())
    )


# Both stateful algorithms in relation mode on _geom_cand-shaped input.
_SCANS = {
    "dynamic": lambda cand: dynamic_progressive(
        cand, "wv", None, budget=40, num_parts=4, relation="intersects"
    ),
    "early_stopping": lambda cand: early_stopping(
        cand, "wv", None, batch_size=10, num_parts=2, relation="overlaps"
    ),
}


@pytest.mark.parametrize("alg", ["dynamic", "early_stopping"])
def test_scan_flags_equal_batch_verifier(spark, alg):
    """The flags the scan emits for the pairs it verified are the batch
    verifier's flags for the same pairs, boundary-contact pairs (which
    take relate_pair) included."""
    from ds_jedai_spark.operators.relate import RELATIONS
    from ds_jedai_spark.operators.relate_general import with_general_relations

    cand = _geom_cand(spark)
    scan = _SCANS[alg](cand)
    flags = ["s_id", "t_id"] + [f"r_{r}" for r in RELATIONS]
    batch = with_general_relations(cand).join(
        scan.select("s_id", "t_id"), on=["s_id", "t_id"], how="left_semi"
    )
    got = sorted(map(tuple, scan.select(flags).collect()))
    assert got == sorted(map(tuple, batch.select(flags).collect()))
    assert CONTACT_KEYS <= {g[:2] for g in got}


def _group_table(rows):
    import pyarrow as pa

    cols = list(zip(*rows))
    coords = pa.list_(pa.list_(pa.list_(pa.float64())))
    return pa.table({
        "s_id": pa.array(cols[0], pa.int64()),
        "t_id": pa.array(cols[1], pa.int64()),
        "w": pa.array(cols[2], pa.float64()),
        "s_gtype": pa.array(cols[3]),
        "s_coords": pa.array(cols[4], coords),
        "t_gtype": pa.array(cols[5]),
        "t_coords": pa.array(cols[6], coords),
    })


@pytest.mark.parametrize("alg", ["dynamic", "early_stopping"])
def test_scan_calls_relate_pair_only_on_dequeued_undecided_rows(monkeypatch, alg):
    """In process, on one group: the scan's exact calls are at most the
    pairs it dequeued, each on a row preclassify leaves UNDECIDED."""
    from functools import partial

    import pyarrow as pa

    from ds_jedai_spark.operators import progressive_state as ps
    from ds_jedai_spark.operators import relate_general as rg
    from ds_jedai_spark.operators.relate_fast import UNDECIDED, preclassify

    calls = []
    real = rg.relate_pair

    def counting(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(rg, "relate_pair", counting)
    pick = {
        "dynamic": partial(ps._dynamic_order, budget=30),
        "early_stopping": partial(
            ps._early_stopping_order, batch_size=10, max_violations=2,
            precision_level=0.5,
        ),
    }[alg]
    out = ps._scan(_group_table(_geom_rows()), pick, "intersects")
    assert 0 < len(calls) <= out.num_rows < len(_geom_rows())
    coords = pa.list_(pa.list_(pa.list_(pa.float64())))
    for ga, parts_a, gb, parts_b in calls:
        side = [
            (pa.array([g]), rg._flatten3(pa.array([[p.tolist() for p in parts]], coords)))
            for g, parts in ((ga, parts_a), (gb, parts_b))
        ]
        (sg, fs), (tg, ft) = side
        assert preclassify(sg, fs, tg, ft)[0] == UNDECIDED
    # every flag row the scan emitted is relate_pair's answer
    rows = {(r[0], r[1]): r for r in _geom_rows()}
    for rec in out.to_pylist():
        _, _, _, ga, ca, gb, cb = rows[(rec["s_id"], rec["t_id"])]
        assert rec["r_intersects"] == real(ga, ca, gb, cb)["intersects"]


@pytest.mark.parametrize("alg", ["dynamic", "early_stopping"])
def test_malformed_scan_input_raises_value_error(spark, alg):
    """A group with a null gtype, or with XYZ coords leaves, fails the scan
    with a ValueError naming the column — not an AssertionError from the
    dispatch, and not a silent 2-D answer that could boost other pairs."""
    xyz = [(1, 2, 1.0, "POINT", [[[1.0, 2.0, 5.0]]], "POINT", [[[1.0, 2.0, 7.0]]])]
    null_gtype = [(1, 2, 1.0, "POINT", [[[1.0, 2.0]]], None, [[[1.0, 2.0]]])]
    for rows, column in ((xyz, "s_coords"), (null_gtype, "t_gtype")):
        scan = _SCANS[alg](spark.createDataFrame(rows, GEOM_SCHEMA))
        with pytest.raises(Exception) as err:
            scan.collect()
        msg = str(err.value)
        assert "ValueError" in msg and repr(column) in msg

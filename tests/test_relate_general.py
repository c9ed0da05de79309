"""General-path verifier tests.

1. Golden DE-9IM cases (hand-derived JTS semantics) per type combo.
2. Equivalence (the reference IntersectionMatrixTest pattern,
   src/test/scala/IntersectionMatrixTest.scala:29-38): the Arrow
   general path must agree with the closed-form column algebra on the
   derived segment×box workload.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from conftest import SF_SMALL

from pyspark.sql import functions as F

from ds_jedai_spark.io.synthetic import line_sql, load_sql, source_box_sql
from ds_jedai_spark.model.geometry import parse_wkt
from ds_jedai_spark.operators.relate_general import relate_pair, with_general_relations
from ds_jedai_spark.operators.relate_lines import seg_box_predicates
from ds_jedai_spark.operators.spatial_join import tile_join


def rel(wkt_a: str, wkt_b: str) -> dict[str, bool]:
    ga, pa = parse_wkt(wkt_a)
    gb, pb = parse_wkt(wkt_b)
    return relate_pair(ga, pa, gb, pb)


def test_point_point():
    assert rel("POINT (1 1)", "POINT (1 1)")["equals"]
    assert rel("POINT (1 1)", "POINT (2 1)")["disjoint"]


def test_point_line():
    d = rel("POINT (1 1)", "LINESTRING (0 0, 2 2)")
    assert d["within"] and d["intersects"] and not d["touches"]
    d = rel("POINT (0 0)", "LINESTRING (0 0, 2 2)")
    assert d["touches"] and not d["within"]
    assert rel("POINT (3 0)", "LINESTRING (0 0, 2 2)")["disjoint"]


def test_point_polygon_with_hole():
    poly = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    assert rel("POINT (0.5 0.5)", poly)["within"]
    assert rel("POINT (2 2)", poly)["disjoint"]  # inside the hole
    assert rel("POINT (1 2)", poly)["touches"]  # on hole boundary
    assert rel("POINT (0 2)", poly)["touches"]  # on outer boundary


def test_line_line():
    d = rel("LINESTRING (0 0, 2 2)", "LINESTRING (0 2, 2 0)")
    assert d["crosses"] and d["intersects"]
    d = rel("LINESTRING (0 0, 1 1)", "LINESTRING (1 1, 2 0)")
    assert d["touches"] and not d["crosses"]
    d = rel("LINESTRING (0 0, 2 0)", "LINESTRING (1 0, 3 0)")
    assert d["overlaps"] and not d["crosses"]
    d = rel("LINESTRING (0 0, 3 0)", "LINESTRING (1 0, 2 0)")
    assert d["contains"] and d["covers"] and not d["overlaps"]
    d = rel("LINESTRING (0 0, 2 2)", "LINESTRING (2 2, 0 0)")
    assert d["equals"]


def test_line_rect():
    box = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert rel("LINESTRING (-1 2, 5 2)", box)["crosses"]
    d = rel("LINESTRING (1 1, 3 3)", box)
    assert d["within"] and not d["crosses"]
    d = rel("LINESTRING (0 0, 4 0)", box)  # along bottom edge
    assert d["touches"] and d["coveredby"] and not d["within"]
    d = rel("LINESTRING (-2 -2, -1 -1)", box)
    assert d["disjoint"]
    d = rel("LINESTRING (-1 5, 5 -1)", box)  # clips the corner region
    assert d["crosses"]


def test_rect_rect_matches_box_algebra():
    a = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    b = "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"
    d = rel(a, b)
    assert d["overlaps"] and d["intersects"] and not d["contains"]
    inner = "POLYGON ((0.5 0.5, 1 0.5, 1 1, 0.5 1, 0.5 0.5))"
    assert rel(a, inner)["contains"]
    edge = "POLYGON ((2 0, 3 0, 3 1, 2 1, 2 0))"
    assert rel(a, edge)["touches"]


def test_general_path_equals_closed_form(spark):
    """Segment×box: pandas-UDF verifier == closed-form SQL algebra."""
    boxes = load_sql(spark, SF_SMALL, source_box_sql()).select(
        "id", "minx", "miny", "maxx", "maxy",
        F.lit("POLYGON").alias("gtype"),
        F.array(
            F.array(
                F.array("minx", "miny"), F.array("maxx", "miny"),
                F.array("maxx", "maxy"), F.array("minx", "maxy"),
                F.array("minx", "miny"),
            )
        ).alias("coords"),
    )
    lines = load_sql(spark, SF_SMALL, line_sql()).select(
        "id", "minx", "miny", "maxx", "maxy", "x1", "y1", "x2", "y2",
        F.lit("LINESTRING").alias("gtype"),
        F.array(F.array(F.array("x1", "y1"), F.array("x2", "y2"))).alias("coords"),
    )
    # Lines as SOURCE so the general path yields line-relative relations
    # (no swap), matching seg_box_predicates' line-vs-box perspective.
    cand = tile_join(
        lines,
        boxes,
        source_extra=("gtype", "coords", "x1", "y1", "x2", "y2"),
        target_extra=("gtype", "coords"),
    )
    general = with_general_relations(cand)
    preds = seg_box_predicates(s="s_", t="t_")
    rows = general.select(
        "s_id", "t_id",
        *[F.col(f"r_{r}").alias(f"g_{r}") for r in ("intersects", "crosses", "touches", "within", "coveredby", "disjoint")],
        *[F.expr(preds[r]).alias(f"c_{r}") for r in ("intersects", "crosses", "touches", "within", "coveredby", "disjoint")],
    ).collect()
    assert rows
    for r in rows:
        for name in ("intersects", "crosses", "touches", "within", "coveredby", "disjoint"):
            assert r[f"g_{name}"] == r[f"c_{name}"], (
                r.s_id, r.t_id, name, r.asDict()
            )


def test_line_line_gapped_collinear_coverage_not_within():
    """Regression: endpoints+midpoint of the source all lie on the target
    pieces, but the target has gaps — within/equals must be False."""
    from ds_jedai_spark.operators.relate_general import relate_pair

    target = [
        [(0.0, 0.0), (0.45, 0.0)],
        [(0.48, 0.0), (0.52, 0.0)],
        [(0.55, 0.0), (1.0, 0.0)],
    ]
    source = [[(0.0, 0.0), (1.0, 0.0)]]
    d = relate_pair("MULTILINESTRING", target, "LINESTRING", source)
    assert d["intersects"] and not d["equals"]
    assert d["within"] and d["coveredby"]  # target IS inside source
    assert not d["covers"] and not d["contains"]  # gaps: source not covered
    d2 = relate_pair("LINESTRING", source, "MULTILINESTRING", target)
    assert not d2["within"] and not d2["coveredby"] and not d2["equals"]
    # Full coverage without gaps stays within/equals.
    full = [[(0.0, 0.0), (0.5, 0.0)], [(0.5, 0.0), (1.0, 0.0)]]
    d3 = relate_pair("LINESTRING", source, "MULTILINESTRING", full)
    assert d3["within"] and d3["equals"] and d3["coveredby"]


def test_ragged_arity_buckets_match_exact_path(spark):
    """Mixed ring arities + non-polygon rows in ONE batch: the grouped
    dense pre-classifier must agree with relate_pair on every row."""
    import random

    from ds_jedai_spark.operators.relate_general import with_general_relations
    from ds_jedai_spark.operators.relate import RELATIONS

    rng = random.Random(2024)

    def ring(k, cx, cy, r=3.0):
        import math

        pts = [
            [cx + r * round(16 * math.cos(2 * math.pi * i / k)) / 16,
             cy + r * round(16 * math.sin(2 * math.pi * i / k)) / 16]
            for i in range(k)
        ]
        return [pts + [pts[0]]]

    rows = []
    for i in range(200):
        kind = rng.randrange(4)
        cx, cy = rng.randint(-40, 40) / 16, rng.randint(-40, 40) / 16
        dx = rng.randint(-8, 8) / 16
        if kind == 0:      # same-arity polygons (3..6 vertices)
            k = rng.choice([3, 4, 5, 6])
            rows.append(("POLYGON", ring(k, cx, cy),
                         "POLYGON", ring(rng.choice([3, 4, 5, 6]), cx + dx, cy)))
        elif kind == 1:    # polygon with hole (multi-ring -> exact path)
            sh = ring(4, cx, cy, 4.0)[0]
            ho = ring(4, cx, cy, 1.0)[0]
            rows.append(("POLYGON", [sh, ho], "POLYGON", ring(3, cx + dx, cy)))
        elif kind == 2:    # point vs polygon
            rows.append(("POINT", [[[cx, cy]]], "POLYGON", ring(5, cx + dx, cy)))
        else:              # line vs line
            rows.append(("LINESTRING", [[[cx, cy], [cx + 2, cy + 1]]],
                         "LINESTRING", [[[cx + dx, cy - 1], [cx + dx, cy + 2]]]))
    # Two overlapping triangles, pinned to their JTS flags below.
    tri_a = [[[0.0, 0.0], [4.0, 0.0], [0.0, 4.0], [0.0, 0.0]]]
    tri_b = [[[1.0, 1.0], [5.0, 1.0], [1.0, 5.0], [1.0, 1.0]]]
    rows.append(("POLYGON", tri_a, "POLYGON", tri_b))
    triangles = []
    df = spark.createDataFrame(
        rows,
        "s_gtype string, s_coords array<array<array<double>>>, "
        "t_gtype string, t_coords array<array<array<double>>>",
    )
    for r in with_general_relations(df, spread=False).collect():
        exact = relate_pair(
            r["s_gtype"], r["s_coords"], r["t_gtype"], r["t_coords"]
        )
        got = {rel: r[f"r_{rel}"] for rel in RELATIONS}
        assert got == exact, (r["s_gtype"], r["t_gtype"], got, exact)
        if r["s_coords"] == tri_a and r["t_coords"] == tri_b:
            triangles.append(got)
    assert len(triangles) == 1
    assert triangles[0]["intersects"] and triangles[0]["overlaps"]
    assert not triangles[0]["touches"]


def test_point_in_any_multipolygon_part_even_odd():
    """_point_in_polygon is even-odd over ALL rings: a point inside the
    SECOND part of a flattened multipolygon is interior (the old
    outer-ring-first form called it exterior), holes stay exterior, and
    hole boundaries stay boundary."""
    mp = [
        [(0.0, 0.0), (6.0, 0.0), (6.0, 6.0), (0.0, 6.0), (0.0, 0.0)],
        [(10.0, 0.0), (16.0, 0.0), (16.0, 6.0), (10.0, 6.0), (10.0, 0.0)],
    ]
    d = relate_pair("MULTIPOLYGON", mp, "POINT", [[(12.0, 3.0)]])
    assert d["contains"] and d["covers"] and d["intersects"]
    assert not d["disjoint"]
    d2 = relate_pair("MULTIPOLYGON", mp, "POINT", [[(8.0, 3.0)]])  # gap
    assert d2["disjoint"]
    donut = [
        [(0.0, 0.0), (16.0, 0.0), (16.0, 16.0), (0.0, 16.0), (0.0, 0.0)],
        [(4.0, 4.0), (12.0, 4.0), (12.0, 12.0), (4.0, 12.0), (4.0, 4.0)],
    ]
    assert relate_pair("POLYGON", donut, "POINT", [[(8.0, 8.0)]])["disjoint"]
    on_hole = relate_pair("POLYGON", donut, "POINT", [[(4.0, 8.0)]])
    assert on_hole["touches"] and on_hole["covers"] and not on_hole["contains"]
    # MULTIPOINT with one point in the solid and one in a hole: crosses
    mixed = relate_pair(
        "POLYGON", donut, "MULTIPOINT", [[(8.0, 2.0)], [(8.0, 8.0)]]
    )
    assert mixed["intersects"] and mixed["crosses"] and not mixed["coveredby"]


def test_point_on_cancelled_seam_is_interior():
    """A point exactly ON a same-geometry collinear seam locates against
    the NORMALIZED region (r12): interior for fused adjacent parts,
    exterior for a fully cancelled (duplicated) region — consistent
    with the polygon x polygon answers on the same inputs."""
    two = [
        [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)],
        [(1.0, 0.0), (2.0, 0.0), (2.0, 1.0), (1.0, 1.0), (1.0, 0.0)],
    ]
    on_seam = relate_pair("MULTIPOLYGON", two, "POINT", [[(1.0, 0.5)]])
    assert on_seam["contains"] and not on_seam["touches"]
    # the fused outline is still true boundary
    on_rim = relate_pair("MULTIPOLYGON", two, "POINT", [[(0.0, 0.5)]])
    assert on_rim["touches"] and on_rim["covers"] and not on_rim["contains"]
    gone = [
        [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)],
    ] * 2
    assert relate_pair("MULTIPOLYGON", gone, "POINT",
                       [[(0.5, 0.5)]])["disjoint"]
    # MULTIPOINT straddling seam-interior and outside: crosses
    mixed = relate_pair("MULTIPOLYGON", two, "MULTIPOINT",
                        [[(1.0, 0.5)], [(5.0, 5.0)]])
    assert mixed["intersects"] and mixed["crosses"] and not mixed["touches"]


def test_malformed_batches_raise_value_error(spark):
    """The verifier reads coords leaves as [x, y] pairs. XYZ leaves (here
    two points equal in x, y but not z) and a null gtype fail the batch
    with a ValueError naming the column, not a silent 2-D answer or an
    AssertionError from the dispatch."""
    import pytest

    schema = (
        "s_gtype string, s_coords array<array<array<double>>>, "
        "t_gtype string, t_coords array<array<array<double>>>"
    )
    xyz = spark.createDataFrame(
        [("POINT", [[[1.0, 2.0, 5.0]]], "POINT", [[[1.0, 2.0, 7.0]]])], schema
    )
    null_gtype = spark.createDataFrame(
        [("POINT", [[[1.0, 2.0]]], None, [[[1.0, 2.0]]])], schema
    )
    for df, column in ((xyz, "s_coords"), (null_gtype, "t_gtype")):
        with pytest.raises(Exception) as err:
            with_general_relations(df, spread=False).collect()
        msg = str(err.value)
        assert "ValueError" in msg and repr(column) in msg and "[x, y]" in msg

"""perturb_geometries: differential vs an independent Python
re-implementation of the same formula, plus the structural laws the
reference tool violates and this one guarantees (ring closure,
reproducibility, lattice exactness)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ds_jedai_spark.io.readers import read_wkt_delimited
from ds_jedai_spark.io.synthetic import perturb_geometries

WKT_FIX = str(
    Path(__file__).resolve().parent.parent / "fixtures" / "wkt_source.tsv"
)


def _py_perturb(idh: int, parts, eps: int, seed: int):
    # idh = pmod(xxhash64(id), 1000003) — the only term taken from
    # Spark (no xxhash64 in the stdlib); everything downstream of it
    # (mixing, mode, shift, lattice) is re-derived independently.
    m = 2 * eps + 1

    def hh(x, y, extra):
        return ((idh * 2654435761 + int(x * 16) * 1315423911
                 + int(y * 16) * 2246822519 + seed * 97 + extra) % m
                + m) % m

    out = []
    for part in parts:
        np_ = []
        for x, y in part:
            shift = (float(hh(x, y, 0)) - eps) / 16.0
            mode = hh(x, y, 13) % 3
            if mode == 0:
                np_.append([x + shift, y + shift])
            elif mode == 1:
                np_.append([x - shift, y - shift])
            else:
                np_.append([x * (1.0 + shift / 16.0),
                            y * (1.0 + shift / 16.0)])
        out.append(np_)
    return out


def test_perturb_matches_python_reference(spark):
    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    )
    got = {
        int(r.id): (r.coords, r.minx, r.miny, r.maxx, r.maxy)
        for r in perturb_geometries(src, eps_steps=4, seed=7).collect()
    }
    base = {int(r.id): r.coords for r in src.collect()}
    idh = {int(r.id): r.h for r in src.selectExpr(
        "id", "pmod(xxhash64(id), 1000003) AS h").collect()}
    assert set(got) == set(base)
    for rid, parts in base.items():
        want = _py_perturb(idh[rid], parts, 4, 7)
        coords, minx, miny, maxx, maxy = got[rid]
        assert [[list(p) for p in part] for part in coords] == want, rid
        flat = [p for part in want for p in part]
        assert (minx, miny, maxx, maxy) == (
            min(p[0] for p in flat), min(p[1] for p in flat),
            max(p[0] for p in flat), max(p[1] for p in flat),
        ), rid


def test_perturb_laws(spark):
    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    )
    a = perturb_geometries(src, eps_steps=2, seed=3)
    # reproducible across evaluations / partitionings
    one = {r.id: r.coords for r in a.collect()}
    two = {r.id: r.coords for r in
           perturb_geometries(src.repartition(7), eps_steps=2, seed=3)
           .collect()}
    assert one == two
    # a different seed actually moves things
    other = {r.id: r.coords for r in
             perturb_geometries(src, eps_steps=2, seed=4).collect()}
    assert one != other
    # rings stay closed and coordinates stay on the dyadic lattice
    for r in a.collect():
        if r.gtype in ("POLYGON", "MULTIPOLYGON"):
            for ring in r.coords:
                assert list(ring[0]) == list(ring[-1]), r.id
        for part in r.coords:
            for x, y in part:
                # dyadic exactness: add/sub stay on 1/256 (x±shift with
                # shift on 1/16... conservatively 1/256), mul mode lands
                # on 1/4096 (1/16 x 1/256) — all exact power-of-two
                # denominators, never a rounded float
                for v in (x, y):
                    den = float(v).as_integer_ratio()[1]
                    assert den <= 4096, (r.id, v, den)


def test_perturb_string_ids(spark):
    """Non-numeric ids (GeoJSON string ids, shapefile 'stem:N'
    fallbacks) must perturb, not NULL out: the hash is xxhash64(id),
    never a bigint cast."""
    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    ).selectExpr("concat('doc:', id) AS id", "gtype", "coords",
                 "minx", "miny", "maxx", "maxy")
    out = perturb_geometries(src, eps_steps=3, seed=5)
    rows = out.collect()
    assert len(rows) == src.count()
    base = {r.id: r.coords for r in src.collect()}
    moved = 0
    for r in rows:
        assert r.coords is not None, r.id
        for part in r.coords:
            for pt in part:
                assert pt[0] is not None and pt[1] is not None, r.id
        assert r.minx is not None and r.maxy is not None, r.id
        if [[list(p) for p in part] for part in r.coords] != \
                [[list(p) for p in part] for part in base[r.id]]:
            moved += 1
    assert moved > 0
    # reproducible on string ids too
    again = {r.id: r.coords for r in
             perturb_geometries(src, eps_steps=3, seed=5).collect()}
    assert again == {r.id: r.coords for r in rows}


def test_cli_op_perturb(spark, tmp_path, capsys, cli_main):
    """-op perturb: any reader format in, perturbed row-format parquet
    out, deterministic per seed."""

    out1 = str(tmp_path / "p1.parquet")
    out2 = str(tmp_path / "p2.parquet")
    for out in (out1, out2):
        rc = cli_main(["-op", "perturb", "-left", WKT_FIX,
                       "-out", out, "-seed", "9"])
        assert rc == 0
        assert "wrote 406 perturbed entities" in capsys.readouterr().out
    a = {r.id: r.coords for r in spark.read.parquet(out1).collect()}
    b = {r.id: r.coords for r in spark.read.parquet(out2).collect()}
    assert a == b
    out3 = str(tmp_path / "p3.parquet")
    assert cli_main(["-op", "perturb", "-left", WKT_FIX,
                     "-out", out3, "-seed", "10"]) == 0
    c = {r.id: r.coords for r in spark.read.parquet(out3).collect()}
    assert a != c
    # the output is engine row-format parquet: relate consumes it
    rc = cli_main(["-op", "relate", "-left", out1, "-right", out1,
                   "-relation", "equals", "-limit", "2"])
    assert rc == 0

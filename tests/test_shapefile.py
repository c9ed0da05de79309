"""ESRI Shapefile reader: differential vs the WKT reader over the whole
fixture, split-planning parity (.shx byte-range splits vs sequential),
.dbf attribute extraction, .prj CRS metadata, hostile-bytes fuzz, and
the CLI/api dispatch e2e.

Fixture: fixtures/shp_source/ (scripts/make_shp_fixture.py) — the WKT
fixture's entities across four per-kind shapefiles with the invalid rows
as deliberately corrupt records."""

from __future__ import annotations

import shutil
import struct
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest
from pyspark.sql import functions as F

from ds_jedai_spark.io.shapefile import parse_shape, read_shapefile
from conftest import fuzz_examples

FIX = str(Path(__file__).resolve().parent.parent / "fixtures" / "shp_source")
WKT_FIX = str(
    Path(__file__).resolve().parent.parent / "fixtures" / "wkt_source.tsv"
)


def _mk_writer():
    """Import the fixture generator's writer helpers (scripts/ is not a
    package)."""
    import importlib.util

    p = Path(__file__).resolve().parent.parent / "scripts" / "make_shp_fixture.py"
    spec = importlib.util.spec_from_file_location("make_shp_fixture", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rowmap(df):
    return {
        r.id: (r.gtype, r.minx, r.miny, r.maxx, r.maxy,
               frozenset((x, y) for part in r.coords for x, y in part))
        for r in df.collect()
    }


def test_shapefile_matches_wkt_reader(spark):
    """Every valid WKT-fixture entity comes back with identical id,
    envelope, vertex set, and gtype modulo the format's promotions
    (single-part MULTI* collapse); invalid rows drop."""
    from ds_jedai_spark.io.readers import read_wkt_delimited
    from ds_jedai_spark.model.geometry import parse_wkt

    wm = _mk_writer()
    shp = _rowmap(read_shapefile(spark, FIX, id_field="id"))
    wkt = _rowmap(
        read_wkt_delimited(spark, WKT_FIX, id_field="id", geom_field="wkt")
    )
    assert set(shp) == set(wkt)
    import csv

    promoted = {}
    for row in csv.DictReader(open(WKT_FIX), delimiter="\t"):
        parsed = parse_wkt(row["wkt"])
        if parsed:
            promoted[row["id"]] = wm.promote(*parsed)
    for rid, (g, minx, miny, maxx, maxy, verts) in wkt.items():
        sg, sminx, sminy, smaxx, smaxy, sverts = shp[rid]
        assert sg == promoted[rid], rid
        assert (sminx, sminy, smaxx, smaxy) == (minx, miny, maxx, maxy), rid
        # ring re-orientation permutes point order but never the set
        assert sverts == verts, rid


def test_split_and_shx_modes_agree(spark, tmp_path):
    """Tiny byte-range splits (many tasks per file) and the no-.shx
    sequential fallback both reproduce the default read exactly."""
    base = _rowmap(read_shapefile(spark, FIX, id_field="id"))
    tiny = _rowmap(read_shapefile(spark, FIX, id_field="id",
                                  split_bytes=256))
    assert tiny == base
    d = tmp_path / "noshx"
    d.mkdir()
    for f in Path(FIX).iterdir():
        if f.suffix != ".shx":
            shutil.copy(f, d)
    seq = _rowmap(read_shapefile(spark, str(d), id_field="id"))
    assert seq == base
    assert len(base) == 406


def test_dbf_fields_and_recno_fallback(spark, tmp_path):
    """Explicit missing .dbf field raises with the field list; the 'id'
    default falls back to stem:recno; a date field parses to ts."""
    wm = _mk_writer()
    stem = tmp_path / "pts"
    recs = [wm.shape_content("POINT", [[[1.5, 2.5]]]),
            wm.shape_content("POINT", [[[3.0, 4.0]]])]
    wm.write_shapefile(stem, 1, recs, ["a", "b"])
    # hand-extend the dbf with a second field 'when' (C, width 19)
    ids = ["a", "b"]
    whens = ["2024-03-01 10:00:00", "2024-03-02 11:30:00"]
    hdr = struct.pack("<B3BIHH20x", 3, 24, 1, 1, 2, 33 + 64, 1 + 16 + 19)
    f1 = b"id".ljust(11, b"\0") + b"C" + struct.pack("<IBB14x", 0, 16, 0)
    f2 = b"when".ljust(11, b"\0") + b"C" + struct.pack("<IBB14x", 0, 19, 0)
    body = b"".join(
        b" " + i.ljust(16).encode() + w.ljust(19).encode()
        for i, w in zip(ids, whens)
    )
    stem.with_suffix(".dbf").write_bytes(hdr + f1 + f2 + b"\x0d" + body + b"\x1a")

    got = read_shapefile(spark, str(stem) + ".shp", id_field="id",
                         date_field="when")
    rows = sorted((r.id, str(r.ts)) for r in got.select("id", "ts").collect())
    assert rows == [("a", "2024-03-01 10:00:00"),
                    ("b", "2024-03-02 11:30:00")]
    with pytest.raises(ValueError, match="'nope'.*fields"):
        read_shapefile(spark, str(stem) + ".shp", id_field="nope")
    # 'id' default on a dbf without an id field -> stem:recno
    hdr1 = struct.pack("<B3BIHH20x", 3, 24, 1, 1, 2, 33 + 32, 1 + 19)
    body1 = b"".join(b" " + w.ljust(19).encode() for w in whens)
    stem.with_suffix(".dbf").write_bytes(
        hdr1 + f2 + b"\x0d" + body1 + b"\x1a"
    )
    got = read_shapefile(spark, str(stem) + ".shp")
    assert sorted(r.id for r in got.collect()) == ["pts:1", "pts:2"]


def test_no_dbf_explicit_id_field_raises(spark, tmp_path):
    """With no .dbf sidecar, an EXPLICITLY named id_field raises (the
    documented absent-field contract); the 'id' default and None fall
    back to stem:recno ids."""
    wm = _mk_writer()
    stem = tmp_path / "bare"
    recs = [wm.shape_content("POINT", [[[1.5, 2.5]]]),
            wm.shape_content("POINT", [[[3.0, 4.0]]])]
    wm.write_shapefile(stem, 1, recs, ["a", "b"])
    stem.with_suffix(".dbf").unlink()
    with pytest.raises(ValueError, match="'name'.*no .dbf"):
        read_shapefile(spark, str(stem) + ".shp", id_field="name")
    for fallback in ("id", None):
        got = read_shapefile(spark, str(stem) + ".shp", id_field=fallback)
        assert sorted(r.id for r in got.collect()) == ["bare:1", "bare:2"]


def test_export_id_over_dbase_cap_raises(spark, tmp_path):
    """ids longer than the dBASE 254-byte character-field cap raise
    instead of silently truncating (truncation breaks round trips and
    can collide ids)."""
    from ds_jedai_spark.io.shapefile import export_shapefile
    from ds_jedai_spark.io.readers import read_wkt_delimited

    tsv = tmp_path / "long.tsv"
    tsv.write_text("id\twkt\n" + ("x" * 300) + "\tPOINT (1.5 2.5)\n")
    src = read_wkt_delimited(spark, str(tsv), id_field="id",
                             geom_field="wkt")
    with pytest.raises(Exception, match="254"):
        export_shapefile(src, str(tmp_path / "out_shp"))
    # exactly at the cap still round-trips
    tsv2 = tmp_path / "cap.tsv"
    tsv2.write_text("id\twkt\n" + ("y" * 254) + "\tPOINT (1.5 2.5)\n")
    src2 = read_wkt_delimited(spark, str(tsv2), id_field="id",
                              geom_field="wkt")
    out = str(tmp_path / "cap_shp")
    export_shapefile(src2, out)
    back = read_shapefile(spark, out, id_field="id")
    assert [r.id for r in back.collect()] == ["y" * 254]


def test_shapefile_uri_path(spark):
    """A file:// URI for a single .shp routes through pyarrow.fs (the
    object-storage path) — sidecars (.shx/.dbf/.prj) resolve next to
    it and the rows match the bare-path read exactly."""
    shp = next(p for p in sorted(Path(FIX).glob("*.shp"))
               if p.with_suffix(".prj").exists())
    base = _rowmap(read_shapefile(spark, str(shp), id_field="id"))
    via = read_shapefile(spark, "file://" + str(shp), id_field="id")
    assert _rowmap(via) == base
    assert via.schema["gtype"].metadata.get("crs") == "EPSG:4326"


def test_prj_crs_metadata(spark):
    df = read_shapefile(spark, FIX, id_field="id")
    assert df.schema["gtype"].metadata.get("crs") == "EPSG:4326"


def test_parse_shape_hostile_bytes():
    """parse_shape never raises: random bytes, bit-flipped valid
    records, huge claimed counts (must fail on the count, not
    allocate)."""
    import random

    wm = _mk_writer()
    rng = random.Random(1303)
    valid = wm.shape_content(
        "POLYGON", [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0],
                     [0.0, 0.0]]]
    )
    for _ in range(3000):
        n = rng.randint(0, 80)
        parse_shape(bytes(rng.getrandbits(8) for _ in range(n)))
    for _ in range(3000):
        b = bytearray(valid)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        parse_shape(bytes(b))
        parse_shape(bytes(b[:rng.randrange(len(b))]))
    # 2^31-1 points claimed in 60 bytes: bound check, not allocation
    huge = (struct.pack("<i", 5) + struct.pack("<4d", 0, 0, 1, 1)
            + struct.pack("<ii", 1, 2**31 - 1) + struct.pack("<i", 0))
    assert parse_shape(huge) is None


def test_hostile_file_records_isolated(spark, tmp_path):
    """Bit-flipped record CONTENT drops only that record when .shx
    offsets isolate it — the neighbors still parse."""
    import random

    wm = _mk_writer()
    rng = random.Random(7)
    stem = tmp_path / "z"
    recs = [wm.shape_content("POINT", [[[float(i), float(i) + 0.5]]])
            for i in range(20)]
    wm.write_shapefile(stem, 1, recs, [str(i) for i in range(20)])
    raw = bytearray(stem.with_suffix(".shp").read_bytes())
    # corrupt record 5's shape type field (offset: header + 5 records)
    off = 100 + 5 * (8 + len(recs[0])) + 8
    struct.pack_into("<i", raw, off, 999)
    stem.with_suffix(".shp").write_bytes(bytes(raw))
    got = read_shapefile(spark, str(stem) + ".shp", id_field="id")
    ids = sorted(int(r.id) for r in got.collect())
    assert ids == [i for i in range(20) if i != 5]


def test_not_a_shapefile_raises(spark, tmp_path):
    p = tmp_path / "junk.shp"
    p.write_bytes(b"\x00" * 300)
    with pytest.raises(ValueError, match="bad magic"):
        read_shapefile(spark, str(p))
    with pytest.raises(ValueError, match="no .shp files"):
        read_shapefile(spark, str(tmp_path / "empty_dir_*"))


def test_polygon_ring_grouping_from_orientation_free_input():
    """Ring roles come from exact nesting depth, not orientation: a
    Polygon record whose rings are all CCW (spec-violating, common in
    the wild) still groups shell/hole/island correctly."""
    shell = [[0.0, 0.0], [20.0, 0.0], [20.0, 20.0], [0.0, 20.0], [0.0, 0.0]]
    hole = [[5.0, 5.0], [15.0, 5.0], [15.0, 15.0], [5.0, 15.0], [5.0, 5.0]]
    island = [[8.0, 8.0], [12.0, 8.0], [12.0, 12.0], [8.0, 12.0], [8.0, 8.0]]

    def rec(rings):
        starts, total = [], 0
        for r in rings:
            starts.append(total)
            total += len(r)
        pts = b"".join(struct.pack("<dd", x, y) for r in rings for x, y in r)
        return (struct.pack("<i", 5) + struct.pack("<4d", 0, 0, 20, 20)
                + struct.pack("<ii", len(rings), total)
                + struct.pack(f"<{len(rings)}i", *starts) + pts)

    g, parts = parse_shape(rec([shell, hole, island]))
    assert g == "MULTIPOLYGON"
    assert parts == [shell, hole, island]
    # hole listed FIRST still lands after its shell
    g, parts = parse_shape(rec([hole, shell]))
    assert (g, parts) == ("POLYGON", [shell, hole])
    g, parts = parse_shape(rec([shell]))
    assert (g, parts) == ("POLYGON", [shell])


def test_api_dispatch_and_cli_ops(spark, tmp_path, capsys, cli_main):
    """.shp routes through api.read_dataset (file and directory forms),
    -op relate runs on shapefile inputs, and -op convert produces a
    GeoParquet twin whose re-read matches the shapefile read."""
    from ds_jedai_spark import api
    from ds_jedai_spark.config import DatasetSpec
    from ds_jedai_spark.io.readers import read_parquet_dataset

    via_api = api.read_dataset(
        spark, DatasetSpec(path=FIX, id_field="id", geom_field=None)
    )
    assert via_api.count() == 406

    pts = str(Path(FIX) / "points.shp")
    rc = cli_main(["-op", "relate", "-left", pts, "-right", pts,
                   "-relation", "intersects", "-limit", "3"])
    assert rc == 0
    head = capsys.readouterr().out.splitlines()[0]
    assert head.split("\t") == ["s_id", "t_id"]

    out = str(tmp_path / "conv.parquet")
    rc = cli_main(["-op", "convert", "-left", pts, "-to", "geoparquet",
                   "-out", out])
    assert rc == 0
    back = _rowmap(read_parquet_dataset(spark, out))
    direct = _rowmap(read_shapefile(spark, pts, id_field="id"))
    assert back == direct


def test_export_shapefile_roundtrip(spark, tmp_path):
    """export_shapefile -> read_shapefile reproduces every WKT-fixture
    entity (modulo the format's gtype promotions; polygon rings may be
    re-oriented, never re-pointed), including a ts attribute round trip
    and the CRS -> .prj -> CRS loop."""
    from ds_jedai_spark.io.readers import read_wkt_delimited
    from ds_jedai_spark.io.shapefile import export_shapefile
    from ds_jedai_spark.model.geometry import parse_wkt

    wm = _mk_writer()
    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    ).withColumn(
        "ts",
        F.to_timestamp(
            F.concat(F.lit("2024-03-01 10:00:"),
                     F.lpad(F.col("id").cast("long") % 60, 2, "0"))
        ),
    ).withMetadata("gtype", {"crs": "EPSG:4326"})
    out = str(tmp_path / "shp_out")
    export_shapefile(src, out)

    back = read_shapefile(spark, out, id_field="id", date_field="ts")
    assert back.schema["gtype"].metadata.get("crs") == "EPSG:4326"

    def keyed(df):
        return {
            r.id: (r.gtype, r.minx, r.miny, r.maxx, r.maxy, str(r.ts),
                   frozenset((x, y) for part in r.coords for x, y in part))
            for r in df.collect()
        }

    got, want = keyed(back), keyed(src)
    assert set(got) == set(want)
    import csv

    promoted = {}
    for row in csv.DictReader(open(WKT_FIX), delimiter="\t"):
        parsed = parse_wkt(row["wkt"])
        if parsed:
            promoted[row["id"]] = wm.promote(*parsed)
    for rid, (g, *rest) in want.items():
        gg, *grest = got[rid]
        assert gg == promoted[rid], rid
        assert grest == rest, rid


def test_export_shapefile_chunking(spark, tmp_path):
    """A tiny max_file_bytes forces size chunks; every file stays under
    the cap-ish bound and the union of rows is unchanged."""
    from ds_jedai_spark.io.shapefile import export_shapefile

    rows = [(str(i), "POINT", [[[float(i), 0.5]]]) for i in range(50)]
    src = spark.createDataFrame(
        rows, "id string, gtype string, coords array<array<array<double>>>"
    ).coalesce(1)
    out = str(tmp_path / "chunked")
    export_shapefile(src, out, max_file_bytes=128)
    shp_files = sorted(Path(out).glob("*.shp"))
    assert len(shp_files) > 1
    back = read_shapefile(spark, out)
    # ids came back from the .dbf id field
    assert sorted(int(r.id) for r in back.collect()) == list(range(50))


def test_cli_convert_to_shapefile(spark, tmp_path, capsys, cli_main):
    """-op convert -to shapefile writes a directory the reader (and the
    relate op) consume directly."""

    tsv = tmp_path / "src.tsv"
    tsv.write_text(
        "id\twkt\n1\tPOINT (1.5 2.5)\n"
        "2\tPOLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))\n"
        "3\tMULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
        "((5 5, 6 5, 6 6, 5 6, 5 5)))\n"
    )
    out = str(tmp_path / "as_shp")
    rc = cli_main(["-op", "convert", "-left", str(tsv), "-to", "shapefile",
                   "-out", out])
    assert rc == 0
    assert "wrote 3 entities" in capsys.readouterr().out
    got = {r.id: r.gtype for r in read_shapefile(spark, out).collect()}
    assert got == {"1": "POINT", "2": "POLYGON", "3": "MULTIPOLYGON"}
    rc = cli_main(["-op", "relate", "-left", out, "-right", out,
                   "-relation", "equals", "-limit", "5"])
    assert rc == 0


def test_fuzz_shapefile_roundtrip(spark):
    """Differential fuzz: random lattice mixed-geometry datasets (the
    e2e-fuzz generator) through export_shapefile -> read_shapefile keep
    id set, envelopes, and vertex sets exactly. gtype is pinned exactly
    for non-polygon kinds; generated polygon rings may OVERLAP
    (invalid as shapefile input, where sibling rings must be disjoint),
    and there the shell count is representation-dependent — the region
    under even-odd semantics is what the engine guarantees, so the
    label is only pinned to the polygon family."""
    from hypothesis import HealthCheck, given, settings
    from test_e2e_fuzz import dataset

    from ds_jedai_spark.io.shapefile import export_shapefile

    import tempfile

    @settings(max_examples=fuzz_examples(15), deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(dataset())
    def run(rows):
        src = spark.createDataFrame(
            [(str(i), g, p) for i, (g, p) in enumerate(rows)],
            "id string, gtype string, coords array<array<array<double>>>",
        )
        with tempfile.TemporaryDirectory() as d:
            out = f"{d}/shp"
            export_shapefile(src, out)
            back = read_shapefile(spark, out, id_field="id")
            got = _rowmap(back)
        want = _rowmap(
            src.selectExpr(
                "*",
                "aggregate(flatten(coords), cast('inf' as double),"
                " (a, p) -> least(a, p[0])) AS minx",
                "aggregate(flatten(coords), cast('inf' as double),"
                " (a, p) -> least(a, p[1])) AS miny",
                "aggregate(flatten(coords), cast('-inf' as double),"
                " (a, p) -> greatest(a, p[0])) AS maxx",
                "aggregate(flatten(coords), cast('-inf' as double),"
                " (a, p) -> greatest(a, p[1])) AS maxy",
            )
        )
        assert set(got) == set(want)
        poly = {"POLYGON", "MULTIPOLYGON"}
        for rid, (g, minx, miny, maxx, maxy, verts) in want.items():
            gg, gminx, gminy, gmaxx, gmaxy, gverts = got[rid]
            assert (gminx, gminy, gmaxx, gmaxy) == (minx, miny, maxx, maxy)
            assert gverts == verts
            if g in poly:
                assert gg in poly
            elif g == "MULTILINESTRING" and len(verts) and gg == "LINESTRING":
                pass  # single-part promotion
            else:
                assert gg == g or (g, gg) == ("MULTILINESTRING", "LINESTRING")

    run()


def test_z_m_shape_variants_parse_xy():
    """PointZ/PointM/PolyLineZ/PolygonZ/MultiPointZ records parse their
    XY section; the trailing Z/M range+value sections are ignored (the
    engine is 2-D, like the reference)."""
    # PointZ (11): x y z [m]
    assert parse_shape(struct.pack("<iddd", 11, 1.5, 2.5, 9.0)) == (
        "POINT", [[[1.5, 2.5]]]
    )
    assert parse_shape(struct.pack("<idddd", 11, 1.5, 2.5, 9.0, 7.0)) == (
        "POINT", [[[1.5, 2.5]]]
    )
    # PointM (21): x y m
    assert parse_shape(struct.pack("<iddd", 21, 1.5, 2.5, 7.0)) == (
        "POINT", [[[1.5, 2.5]]]
    )
    # PolyLineZ (13): xy points then z-range + z values (ignored)
    body = (struct.pack("<i", 13) + struct.pack("<4d", 0, 0, 4, 4)
            + struct.pack("<ii", 1, 2) + struct.pack("<i", 0)
            + struct.pack("<4d", 0.0, 0.0, 4.0, 4.0)
            + struct.pack("<4d", 0.0, 9.0, 1.0, 9.0))  # zmin zmax z0 z1
    assert parse_shape(body) == ("LINESTRING", [[[0.0, 0.0], [4.0, 4.0]]])
    # MultiPointZ (18)
    mp = (struct.pack("<i", 18) + struct.pack("<4d", 0, 0, 4, 4)
          + struct.pack("<i", 2) + struct.pack("<4d", 0.0, 0.0, 4.0, 4.0)
          + struct.pack("<4d", 0.0, 9.0, 1.0, 9.0))
    assert parse_shape(mp) == (
        "MULTIPOINT", [[[0.0, 0.0]], [[4.0, 4.0]]]
    )
    # PolygonZ (15)
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]
    pz = (struct.pack("<i", 15) + struct.pack("<4d", 0, 0, 4, 4)
          + struct.pack("<ii", 1, 4) + struct.pack("<i", 0)
          + b"".join(struct.pack("<dd", x, y) for x, y in ring)
          + struct.pack("<6d", 0, 9, 1, 2, 3, 4))
    assert parse_shape(pz) == (
        "POLYGON", [[[x, y] for x, y in ring]]
    )


def test_dbf_d_type_date_autoparses(spark, tmp_path):
    """A dBASE 'D' (date, raw YYYYMMDD) field parses to ts without the
    caller knowing the storage pattern."""
    wm = _mk_writer()
    stem = tmp_path / "dd"
    recs = [wm.shape_content("POINT", [[[1.0, 2.0]]]),
            wm.shape_content("POINT", [[[3.0, 4.0]]])]
    wm.write_shapefile(stem, 1, recs, ["a", "b"])
    hdr = struct.pack("<B3BIHH20x", 3, 24, 1, 1, 2, 33 + 64, 1 + 16 + 8)
    f1 = b"id".ljust(11, b"\0") + b"C" + struct.pack("<IBB14x", 0, 16, 0)
    f2 = b"born".ljust(11, b"\0") + b"D" + struct.pack("<IBB14x", 0, 8, 0)
    body = b"".join(
        b" " + i.ljust(16).encode() + d.encode()
        for i, d in (("a", "20240301"), ("b", "20241215"))
    )
    stem.with_suffix(".dbf").write_bytes(hdr + f1 + f2 + b"\x0d" + body + b"\x1a")
    got = read_shapefile(spark, str(stem) + ".shp", id_field="id",
                         date_field="born")
    rows = sorted((r.id, str(r.ts)[:10]) for r in got.collect())
    assert rows == [("a", "2024-03-01"), ("b", "2024-12-15")]


def test_bbox_short_circuit_and_subset_law(spark, tmp_path):
    """bbox reads equal apply_bbox() of a full read (subset law over the
    whole fixture), and the record-header check provably runs BEFORE
    vertex decode: a hand-crafted record whose header box LIES (far
    away) about in-box vertices is skipped without decoding, while one
    whose header box lies the other way is caught by the exact
    post-filter."""
    from ds_jedai_spark.api import apply_bbox
    from ds_jedai_spark.io.shapefile import shape_content, shapefile_bytes
    from ds_jedai_spark.io.shapefile import dbf_bytes as _dbf

    full = read_shapefile(spark, FIX, id_field="id")
    rows = full.collect()
    xs = sorted(r.minx for r in rows)
    ys = sorted(r.miny for r in rows)
    box = (xs[len(xs) // 4], ys[len(ys) // 4],
           xs[3 * len(xs) // 4], ys[3 * len(ys) // 4])
    want = _rowmap(apply_bbox(full, box))
    got = _rowmap(read_shapefile(spark, FIX, id_field="id", bbox=box))
    assert got == want
    assert 0 < len(want) < len(rows)

    # far-away bbox: zero rows, from every kind including POINT files
    assert read_shapefile(spark, FIX, id_field="id",
                          bbox=(1e6, 1e6, 2e6, 2e6)).count() == 0

    # lying headers: record A has in-box vertices but a far-away header
    # box (short-circuit skips it before decode -> absent); record B has
    # an in-box header but far-away vertices (post-filter drops it);
    # record C is honest and in-box (kept)
    line = [[[1.0, 1.0], [2.0, 2.0]]]
    far_line = [[[500.0, 500.0], [501.0, 501.0]]]
    a = bytearray(shape_content("LINESTRING", line))
    a[4:36] = struct.pack("<4d", 900.0, 900.0, 901.0, 901.0)
    b = bytearray(shape_content("LINESTRING", far_line))
    b[4:36] = struct.pack("<4d", 1.0, 1.0, 2.0, 2.0)
    c = shape_content("LINESTRING", line)
    d = tmp_path / "liars"
    d.mkdir()
    shp, shx = shapefile_bytes(3, [bytes(a), bytes(b), c])
    (d / "liars.shp").write_bytes(shp)
    (d / "liars.shx").write_bytes(shx)
    (d / "liars.dbf").write_bytes(
        _dbf([("id", 16)], [("A",), ("B",), ("C",)])
    )
    got2 = {r.id for r in read_shapefile(
        spark, str(d), id_field="id", bbox=(0.0, 0.0, 10.0, 10.0)
    ).collect()}
    assert got2 == {"C"}
    # and WITHOUT bbox all three come back (the records are valid)
    assert {r.id for r in read_shapefile(
        spark, str(d), id_field="id").collect()} == {"A", "B", "C"}


def test_bbox_api_dispatch_native(spark, tmp_path):
    """api.read_dataset treats .shp as bbox-native (no doubled filter)
    and returns the same subset as apply_bbox."""
    from ds_jedai_spark import api
    from ds_jedai_spark.config import DatasetSpec

    spec = DatasetSpec(path=str(Path(FIX) / "polys.shp"),
                       id_field="id", geom_field="wkt")
    full = api.read_dataset(spark, spec)
    rows = full.collect()
    xs = sorted(r.minx for r in rows)
    box = (xs[0], -1e9, xs[len(xs) // 2], 1e9)
    want = {r.id for r in api.apply_bbox(full, box).collect()}
    got = {r.id for r in api.read_dataset(spark, spec, bbox=box).collect()}
    assert got == want and 0 < len(want) < len(rows)

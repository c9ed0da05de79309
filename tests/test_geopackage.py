"""GeoPackage reader/sink: whole-fixture differential vs the WKT
reader (exact — WKB round-trips all seven types with no promotions),
rowid-split parity, GPB hostile-bytes fuzz, catalog error contracts,
sink round trip, and the CLI convert e2e.

Fixture: fixtures/geo_source.gpkg (scripts/make_gpkg_fixture.py)."""

from __future__ import annotations

import sqlite3
import struct
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest
from pyspark.sql import functions as F

from conftest import fuzz_examples
from ds_jedai_spark.io.geopackage import (
    export_geopackage,
    read_geopackage,
    strip_gpb,
)
from ds_jedai_spark.io.scan import corpus_files

FIX = str(
    Path(__file__).resolve().parent.parent / "fixtures" / "geo_source.gpkg"
)
WKT_FIX = str(
    Path(__file__).resolve().parent.parent / "fixtures" / "wkt_source.tsv"
)


def gpkg_corpus_files(path):
    return corpus_files(path, ".gpkg")


def _rowmap(df):
    return {
        r.id: (r.gtype, r.minx, r.miny, r.maxx, r.maxy,
               tuple(tuple(tuple(p) for p in part) for part in r.coords))
        for r in df.collect()
    }


def test_gpkg_matches_wkt_reader_exactly(spark):
    from ds_jedai_spark.io.readers import read_wkt_delimited

    got = _rowmap(read_geopackage(spark, FIX, id_field="id"))
    want = _rowmap(
        read_wkt_delimited(spark, WKT_FIX, id_field="id", geom_field="wkt")
    )
    assert got == want and len(got) == 406


def test_gpkg_split_parity_and_crs(spark):
    base = read_geopackage(spark, FIX, id_field="id")
    assert base.schema["gtype"].metadata.get("crs") == "EPSG:4326"
    tiny = read_geopackage(spark, FIX, id_field="id", split_rows=7)
    assert _rowmap(tiny) == _rowmap(base)


def test_gpkg_rowid_fallback_and_errors(spark, tmp_path):
    # id default with no id column -> rowid; explicit missing -> raise
    p = str(tmp_path / "one.gpkg")
    con = sqlite3.connect(FIX)
    con.execute(f"VACUUM INTO '{p}'")
    con.close()
    con = sqlite3.connect(p)
    con.execute("ALTER TABLE features DROP COLUMN id")
    con.commit()
    con.close()
    got = read_geopackage(spark, p)
    ids = {int(r.id) for r in got.select("id").collect()}
    assert len(ids) == 406 and ids <= set(range(1, 421))
    with pytest.raises(ValueError, match="'nope' not in table"):
        read_geopackage(spark, p, id_field="nope")
    with pytest.raises(ValueError, match="not a GeoPackage"):
        junk = tmp_path / "junk.gpkg"
        junk.write_bytes(b"\x00" * 64)
        read_geopackage(spark, str(junk))
    with pytest.raises(ValueError, match="no such GeoPackage"):
        read_geopackage(spark, str(tmp_path / "missing.gpkg"))


def test_gpkg_sparse_rowids_split_by_count(spark, tmp_path):
    """Split planning scales with COUNT(*), not the rowid span: a table
    with sparse/large fids (after deletes, or externally assigned) must
    not plan span/split_rows vacuous splits — with rowids spread over
    ~42M and split_rows=7 the old planner would repartition into ~6M
    partitions."""
    p = str(tmp_path / "sparse.gpkg")
    con = sqlite3.connect(FIX)
    con.execute(f"VACUUM INTO '{p}'")
    con.close()
    con = sqlite3.connect(p)
    con.execute("UPDATE features SET rowid = rowid * 100000")
    con.commit()
    n = con.execute("SELECT count(*) FROM features").fetchone()[0]
    con.close()
    got = read_geopackage(spark, p, id_field="id", split_rows=7)
    assert got.rdd.getNumPartitions() <= -(-n // 7)
    assert _rowmap(got) == _rowmap(read_geopackage(spark, FIX,
                                                   id_field="id"))


def test_gpkg_bbox_rtree_pushdown(spark, tmp_path):
    """The sink writes the spec's gpkg_rtree_index extension; a bbox
    read pushes the envelope predicate into the container (R*Tree
    subquery per split + narrowed planning range) and returns exactly
    the envelope-intersecting subset. A file WITHOUT the index (the
    fixture) gives the same subset via the output filter alone."""
    from ds_jedai_spark.io.readers import read_wkt_delimited

    src = read_wkt_delimited(spark, WKT_FIX, id_field="id",
                             geom_field="wkt")
    p = str(tmp_path / "rt.gpkg")
    export_geopackage(src, p, crs_id=("EPSG", 4326))
    con = sqlite3.connect(p)
    names = {r[0] for r in con.execute(
        "SELECT name FROM sqlite_master").fetchall()}
    n_rt = con.execute(
        "SELECT count(*) FROM rtree_features_geom").fetchone()[0]
    ext_row = con.execute(
        "SELECT extension_name FROM gpkg_extensions").fetchone()
    con.close()
    assert "rtree_features_geom" in names
    assert n_rt == src.count()
    assert ext_row == ("gpkg_rtree_index",)

    box = (0.0, 0.0, 24.0, 24.0)
    want = {
        r.id for r in src.collect()
        if not (r.minx > box[2] or r.maxx < box[0]
                or r.miny > box[3] or r.maxy < box[1])
    }
    assert 0 < len(want) < src.count()
    got = read_geopackage(spark, p, id_field="id", bbox=box)
    assert {r.id for r in got.collect()} == want
    # fewer splits planned than a full read (range narrowed by the
    # index span + count)
    full = read_geopackage(spark, p, id_field="id", split_rows=50)
    pruned = read_geopackage(spark, p, id_field="id", split_rows=50,
                             bbox=box)
    assert pruned.rdd.getNumPartitions() <= full.rdd.getNumPartitions()
    # empty box: zero rows, no error
    assert read_geopackage(spark, p, id_field="id",
                           bbox=(1e6, 1e6, 2e6, 2e6)).count() == 0
    # index-less file: same subset via the output filter
    got_fix = read_geopackage(spark, FIX, id_field="id", bbox=box)
    assert {r.id for r in got_fix.collect()} == want
    # api dispatch threads bbox to the gpkg reader natively
    from ds_jedai_spark import api
    from ds_jedai_spark.config import DatasetSpec

    via = api.read_dataset(
        spark, DatasetSpec(path=p, id_field="id", geom_field=None),
        bbox=box)
    assert {r.id for r in via.collect()} == want


def test_strip_gpb_hostile_bytes():
    import random

    rng = random.Random(1304)
    valid = (b"GP\x00\x01" + struct.pack("<i", 4326)
             + struct.pack("<BIdd", 1, 1, 1.5, 2.5))
    assert strip_gpb(valid) == struct.pack("<BIdd", 1, 1, 1.5, 2.5)
    # envelope indicator 1: 4 doubles skipped
    env = (b"GP\x00\x03" + struct.pack("<i", 4326)
           + struct.pack("<4d", 0, 0, 0, 0)
           + struct.pack("<BIdd", 1, 1, 1.5, 2.5))
    assert strip_gpb(env) == struct.pack("<BIdd", 1, 1, 1.5, 2.5)
    assert strip_gpb(None) is None
    assert strip_gpb(b"") is None
    for _ in range(5000):
        n = rng.randint(0, 60)
        strip_gpb(bytes(rng.getrandbits(8) for _ in range(n)))
    for _ in range(3000):
        b = bytearray(valid)
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        strip_gpb(bytes(b))
        strip_gpb(bytes(b[:rng.randrange(len(b))]))


def test_multiple_feature_tables_need_selection(spark, tmp_path):
    p = str(tmp_path / "two.gpkg")
    con = sqlite3.connect(FIX)
    con.execute(f"VACUUM INTO '{p}'")
    con.close()
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE other (fid INTEGER PRIMARY KEY, id TEXT, "
                "geom BLOB)")
    con.execute("INSERT INTO other SELECT * FROM features WHERE fid <= 5")
    con.execute("INSERT INTO gpkg_contents VALUES ('other', 'features', "
                "'other', '', datetime('now'), NULL, NULL, NULL, NULL, "
                "4326)")
    con.execute("INSERT INTO gpkg_geometry_columns VALUES ('other', "
                "'geom', 'GEOMETRY', 4326, 0, 0)")
    con.commit()
    con.close()
    with pytest.raises(ValueError, match="multiple feature tables"):
        read_geopackage(spark, p)
    few = read_geopackage(spark, p, table="other", id_field="id")
    assert few.count() <= 5
    with pytest.raises(ValueError, match="'nope' not in"):
        read_geopackage(spark, p, table="nope")


def test_export_geopackage_roundtrip(spark, tmp_path):
    """Sink -> reader reproduces the row format exactly, ts and CRS
    included."""
    from ds_jedai_spark.io.readers import read_wkt_delimited

    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    ).withColumn(
        "ts",
        F.to_timestamp(
            F.concat(F.lit("2024-03-01 10:00:"),
                     F.lpad(F.col("id").cast("long") % 60, 2, "0"))
        ),
    )
    out = str(tmp_path / "export.gpkg")
    export_geopackage(src, out, crs_id=("EPSG", 3857))
    back = read_geopackage(spark, out, id_field="id", date_field="ts")
    assert back.schema["gtype"].metadata.get("crs") == "EPSG:3857"

    def keyed(df):
        return {
            r.id: (r.gtype, r.minx, r.miny, r.maxx, r.maxy, str(r.ts),
                   tuple(tuple(tuple(p) for p in part)
                         for part in r.coords))
            for r in df.collect()
        }

    assert keyed(back) == keyed(src)


def test_cli_convert_to_geopackage(spark, tmp_path, capsys, cli_main):
    out = str(tmp_path / "conv.gpkg")
    rc = cli_main(["-op", "convert", "-left", FIX, "-to", "geopackage",
                   "-out", out])
    assert rc == 0
    assert "wrote 406 entities" in capsys.readouterr().out
    back = read_geopackage(spark, out, id_field="id")
    # CRS propagated from the fixture's EPSG:4326 declaration
    assert back.schema["gtype"].metadata.get("crs") == "EPSG:4326"
    assert back.count() == 406
    # and -op relate consumes .gpkg directly through the api dispatch
    rc = cli_main(["-op", "relate", "-left", out, "-right", out,
                   "-relation", "equals", "-limit", "3"])
    assert rc == 0


def test_fuzz_gpkg_roundtrip(spark):
    """Differential fuzz: random lattice mixed-geometry datasets (the
    e2e-fuzz generator) through export_geopackage -> read_geopackage
    are IDENTITY — WKB carries all seven types with no promotions, so
    unlike the shapefile round trip this one is exact row-for-row."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from test_e2e_fuzz import dataset

    @settings(max_examples=fuzz_examples(10), deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(dataset())
    def run(rows):
        src = spark.createDataFrame(
            [(str(i), g, p) for i, (g, p) in enumerate(rows)],
            "id string, gtype string, coords array<array<array<double>>>",
        )
        with tempfile.TemporaryDirectory() as d:
            out = f"{d}/x.gpkg"
            export_geopackage(src, out)
            back = read_geopackage(spark, out, id_field="id")
            got = {
                r.id: (r.gtype,
                       tuple(tuple(tuple(p) for p in part)
                             for part in r.coords))
                for r in back.collect()
            }
        want = {
            str(i): (g, tuple(tuple(tuple(p) for p in part) for part in ps))
            for i, (g, ps) in enumerate(rows)
        }
        assert got == want

    run()


def test_cross_format_relate_with_crs_mismatch(spark, tmp_path, capsys,
                                               cli_main):
    """A shapefile source (EPSG:4326 via .prj) against a GeoPackage
    target declaring EPSG:3857 runs -op relate end-to-end AND surfaces
    the CRS mismatch warning — the two new readers meet api.run's CRS
    comparison."""
    import warnings

    from ds_jedai_spark.io.readers import read_wkt_delimited

    shp_dir = str(Path(FIX).parent / "shp_source")
    tsv = tmp_path / "t.tsv"
    tsv.write_text("id\twkt\n1\tPOINT (27.0625 39.4375)\n")
    src = read_wkt_delimited(spark, str(tsv), id_field="id",
                             geom_field="wkt")
    gp = str(tmp_path / "t3857.gpkg")
    export_geopackage(src, gp, crs_id=("EPSG", 3857))

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rc = cli_main(["-op", "relate", "-left", shp_dir, "-right", gp,
                       "-relation", "intersects", "-limit", "2"])
    assert rc == 0
    assert any("different CRS" in str(w.message) for w in caught)


def test_export_geopackage_sharded_roundtrip(spark, tmp_path):
    """Distributed sink: one spec-conformant .gpkg per partition, read
    back as ONE DataFrame identical to the source; every shard carries
    its own R*Tree; overwrite removes stale shards recursively."""
    from ds_jedai_spark.io.geopackage import export_geopackage_sharded
    from ds_jedai_spark.io.readers import read_wkt_delimited

    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    ).withColumn(
        "ts",
        F.to_timestamp(
            F.concat(F.lit("2024-03-01 10:00:"),
                     F.lpad(F.col("id").cast("long") % 60, 2, "0"))
        ),
    ).repartition(5)
    out = str(tmp_path / "shards")
    # stale shards to be wiped: one top-level, one nested
    (tmp_path / "shards" / "nest").mkdir(parents=True)
    (tmp_path / "shards" / "stale.gpkg").write_bytes(b"junk")
    (tmp_path / "shards" / "nest" / "old.gpkg").write_bytes(b"junk")
    export_geopackage_sharded(src, out, crs_id=("EPSG", 4326))
    files = gpkg_corpus_files(out)
    assert 1 <= len(files) <= 5
    assert not (tmp_path / "shards" / "stale.gpkg").exists()
    assert not (tmp_path / "shards" / "nest" / "old.gpkg").exists()
    for f in files:  # every shard: own feature table + R*Tree + catalog
        con = sqlite3.connect(f)
        try:
            names = {r[0] for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type IN "
                "('table','view')").fetchall()}
        finally:
            con.close()
        assert "features" in names and "rtree_features_geom" in names

    back = read_geopackage(spark, out, id_field="id", date_field="ts")
    assert back.schema["gtype"].metadata.get("crs") == "EPSG:4326"

    def keyed(df):
        return {
            r.id: (r.gtype, r.minx, r.miny, r.maxx, r.maxy, str(r.ts),
                   tuple(tuple(tuple(p) for p in part)
                         for part in r.coords))
            for r in df.collect()
        }

    assert keyed(back) == keyed(src)

    # corpus bbox read: subset law through the per-shard R*Trees
    rows = back.collect()
    xs = sorted(r.minx for r in rows)
    ys = sorted(r.miny for r in rows)
    box = (xs[len(xs) // 4], ys[len(ys) // 4],
           xs[3 * len(xs) // 4], ys[3 * len(ys) // 4])
    want = {
        r.id for r in rows
        if not (r.minx > box[2] or r.maxx < box[0]
                or r.miny > box[3] or r.maxy < box[1])
    }
    got = read_geopackage(spark, out, id_field="id", bbox=box)
    assert {r.id for r in got.collect()} == want
    assert 0 < len(want) < len(rows)


def test_gpkg_corpus_rowid_fallback_prefix_and_api(spark, tmp_path):
    """Rowid-fallback ids in a directory corpus get '<stem>:' prefixes
    (unique across shards); api.read_dataset dispatches directories of
    .gpkg with native bbox."""
    from ds_jedai_spark import api
    from ds_jedai_spark.config import DatasetSpec
    from ds_jedai_spark.io.geopackage import export_geopackage_sharded
    from ds_jedai_spark.io.readers import read_wkt_delimited

    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    ).drop("ts").repartition(3)
    out = str(tmp_path / "corpus")
    export_geopackage_sharded(src, out)
    # id_field=None forces the rowid fallback -> stem-prefixed ids
    back = read_geopackage(spark, out, id_field=None)
    ids = [r.id for r in back.collect()]
    assert len(ids) == len(set(ids)) == src.count()
    assert all(":" in i and i.split(":")[0].startswith("part-")
               for i in ids)

    spec = DatasetSpec(path=out, id_field="id", geom_field="wkt")
    full = api.read_dataset(spark, spec)
    rows = full.collect()
    xs = sorted(r.minx for r in rows)
    box = (xs[0], -1e9, xs[len(xs) // 2], 1e9)
    want = {r.id for r in api.apply_bbox(full, box).collect()}
    got = {r.id for r in api.read_dataset(spark, spec, bbox=box).collect()}
    assert got == want and 0 < len(want) < len(rows)


def test_cli_convert_to_sharded_geopackage(spark, tmp_path, capsys, cli_main):
    """-to geopackage with a non-.gpkg -out writes the sharded
    directory layout and reads back through the corpus reader."""
    out = str(tmp_path / "convdir")
    rc = cli_main(["-op", "convert", "-left", FIX, "-to", "geopackage",
                   "-out", out])
    assert rc == 0
    assert "wrote 406 entities" in capsys.readouterr().out
    assert len(gpkg_corpus_files(out)) >= 1
    back = read_geopackage(spark, out, id_field="id")
    assert back.schema["gtype"].metadata.get("crs") == "EPSG:4326"
    assert back.count() == 406


def test_gpkg_sharded_spatial_layout(spark, tmp_path):
    """spatial_shards: range-partitioned shards get coherent extents, so
    a corpus bbox read returns the exact subset while most shards'
    R*Tree narrowing yields zero candidate rows (whole-shard misses are
    nearly free)."""
    from ds_jedai_spark.io.geopackage import export_geopackage_sharded
    from ds_jedai_spark.io.readers import read_wkt_delimited

    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    )
    out = str(tmp_path / "spatial")
    export_geopackage_sharded(src, out, spatial_shards=4)
    files = gpkg_corpus_files(out)
    assert len(files) == 4
    # per-shard extents from gpkg_contents: range partitioning on
    # (minx, miny) must give mostly disjoint x-extents
    exts = []
    for f in files:
        con = sqlite3.connect(f)
        try:
            exts.append(con.execute(
                "SELECT min_x, max_x FROM gpkg_contents").fetchone())
        finally:
            con.close()
    exts.sort()
    # each shard's x-extent should not span the whole corpus
    whole = (min(e[0] for e in exts), max(e[1] for e in exts))
    assert sum(1 for lo, hi in exts
               if hi - lo < 0.9 * (whole[1] - whole[0])) >= 3

    rows = read_geopackage(spark, out, id_field="id").collect()
    assert len(rows) == src.count()
    xs = sorted(r.minx for r in rows)
    box = (xs[0], -1e9, xs[len(xs) // 8], 1e9)
    want = {
        r.id for r in rows
        if not (r.minx > box[2] or r.maxx < box[0])
    }
    got = read_geopackage(spark, out, id_field="id", bbox=box)
    assert {r.id for r in got.collect()} == want and want

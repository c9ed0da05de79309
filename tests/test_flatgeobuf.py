"""FlatGeobuf reader/sink: whole-fixture differential vs the WKT reader
(exact — flatbuffer features round-trip all types with no promotions),
ranged-split parity, a HAND-ASSEMBLED spec-grounding file (byte layout
written with explicit constants, independent of the module's builder),
hostile-bytes fuzz, sink round trip (Hilbert order + packed R-tree +
ts + CRS loop), catalog error contracts, and the CLI convert e2e.

Fixture: fixtures/geo_source.fgb (scripts/make_fgb_fixture.py)."""

from __future__ import annotations

import struct
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest

from ds_jedai_spark.io.flatgeobuf import (
    MAGIC,
    _decode_geometry,
    _fb,
    _parse_properties,
    _read_header,
    export_flatgeobuf,
    read_flatgeobuf,
)

FIX = str(
    Path(__file__).resolve().parent.parent / "fixtures" / "geo_source.fgb"
)
WKT_FIX = str(
    Path(__file__).resolve().parent.parent / "fixtures" / "wkt_source.tsv"
)


def _rowmap(df):
    return {
        r.id: (r.gtype, r.minx, r.miny, r.maxx, r.maxy,
               tuple(tuple(tuple(p) for p in part) for part in r.coords))
        for r in df.collect()
    }


def test_fgb_matches_wkt_reader_exactly(spark):
    from ds_jedai_spark.io.readers import read_wkt_delimited

    got = _rowmap(read_flatgeobuf(spark, FIX, id_field="id"))
    want = _rowmap(
        read_wkt_delimited(spark, WKT_FIX, id_field="id", geom_field="wkt")
    )
    assert got == want and len(got) == 406


def test_fgb_split_parity_and_crs(spark):
    base = read_flatgeobuf(spark, FIX, id_field="id")
    assert base.schema["gtype"].metadata.get("crs") == "EPSG:4326"
    tiny = read_flatgeobuf(spark, FIX, id_field="id", split_bytes=1024)
    assert _rowmap(tiny) == _rowmap(base)
    assert tiny.rdd.getNumPartitions() > base.rdd.getNumPartitions()


def test_fgb_hand_assembled_spec_grounding(spark, tmp_path):
    """A minimal unindexed single-Point file assembled byte-by-byte
    with explicit offsets computed by hand from the flatbuffers wire
    spec (negative-soffset header vtable, positive-soffset feature
    vtable) — grounds the reader in the published layout independently
    of the module's own builder."""
    # header flatbuffer: geometry_type=1 (Point), features_count=1,
    # index_node_size=0; vtable AFTER the table (soffset negative)
    hdr = b"".join([
        struct.pack("<I", 8),        # 0: root uoffset -> table at 8
        b"\x00" * 4,                 # 4: pad
        struct.pack("<i", -32),      # 8: soffset (vtable at 8+32=40)
        struct.pack("<B3x", 1),      # 12: geometry_type + pad
        struct.pack("<Q", 1),        # 16: features_count
        struct.pack("<H", 0),        # 24: index_node_size
        b"\x00" * 14,                # 26: pad to 40
        struct.pack("<HH10H", 24, 18,
                    0, 0, 4, 0, 0, 0, 0, 0, 8, 16),  # 40: vtable
    ])
    assert len(hdr) == 64
    # feature flatbuffer: vtables BEFORE tables (soffset positive)
    feat = b"".join([
        struct.pack("<I", 12),           # 0: root uoffset -> feature
        struct.pack("<3H", 6, 8, 4),     # 4: feature vtable
        b"\x00" * 2,                     # 10: pad
        struct.pack("<i", 8),            # 12: soffset -> vtable at 4
        struct.pack("<I", 12),           # 16: geometry uoffset -> 28
        struct.pack("<4H", 8, 8, 0, 4),  # 20: geometry vtable
        struct.pack("<i", 8),            # 28: soffset -> vtable at 20
        struct.pack("<I", 4),            # 32: xy uoffset -> 36
        struct.pack("<I", 2),            # 36: xy length (2 doubles)
        struct.pack("<2d", 1.5, 2.5),    # 40: the point
    ])
    assert len(feat) == 56
    p = tmp_path / "hand.fgb"
    p.write_bytes(MAGIC + struct.pack("<I", len(hdr)) + hdr
                  + struct.pack("<I", len(feat)) + feat)
    got = read_flatgeobuf(spark, str(p)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.id, r.gtype) == ("hand:1", "POINT")
    assert [list(pt) for pt in r.coords[0]] == [[1.5, 2.5]]
    assert (r.minx, r.miny, r.maxx, r.maxy) == (1.5, 2.5, 1.5, 2.5)


def test_fgb_uri_path(spark):
    """A file:// URI routes through pyarrow.fs (the object-storage
    path: same code serves s3://, hdfs://) and reads identically to
    the bare local path — driver planning AND executor ranged reads."""
    base = _rowmap(read_flatgeobuf(spark, FIX, id_field="id"))
    via_uri = read_flatgeobuf(spark, "file://" + FIX, id_field="id",
                              split_bytes=4096)
    assert _rowmap(via_uri) == base
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no such FlatGeobuf"):
        read_flatgeobuf(spark, "file:///definitely/missing.fgb")


def test_fgb_errors(spark, tmp_path):
    with pytest.raises(ValueError, match="no such FlatGeobuf"):
        read_flatgeobuf(spark, str(tmp_path / "missing.fgb"))
    junk = tmp_path / "junk.fgb"
    junk.write_bytes(b"\x00" * 64)
    with pytest.raises(ValueError, match="not a FlatGeobuf"):
        read_flatgeobuf(spark, str(junk))
    with pytest.raises(ValueError, match="'nope' not in"):
        read_flatgeobuf(spark, FIX, id_field="nope")
    with pytest.raises(ValueError, match="date column 'when'"):
        read_flatgeobuf(spark, FIX, date_field="when")


def test_fgb_hostile_bytes():
    """Random buffers and bit-flipped valid features must never crash
    the decode path (the reader wraps per-feature parsing; this drives
    the same calls directly)."""
    import random

    from ds_jedai_spark.io.flatgeobuf import _feature_bytes

    rng = random.Random(1404)
    valid = _feature_bytes(
        "POLYGON",
        [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]],
        struct.pack("<HI", 0, 2) + b"ab",
    )

    def attempt(b: bytes):
        try:
            f = _fb.root(bytes(b))
            _parse_properties(f.bytes_vector(1), [("id", 11)])
            g = f.table(0)
            if g is not None:
                _decode_geometry(g, 0)
        except Exception:
            pass  # raising is fine; the reader catches per feature

    for _ in range(4000):
        n = rng.randint(4, 120)
        attempt(bytes(rng.getrandbits(8) for _ in range(n)))
    for _ in range(4000):
        b = bytearray(valid)
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        attempt(bytes(b))
        attempt(bytes(b[:rng.randrange(4, len(b))]))


def test_export_flatgeobuf_roundtrip(spark, tmp_path):
    """export -> read reproduces every WKT-fixture entity exactly,
    including a ts attribute round trip and the CRS loop; the output
    is Hilbert-ordered behind a packed R-tree whose leaves the reader
    uses for ranged splits."""
    from pyspark.sql import functions as F

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
    out = str(tmp_path / "out.fgb")
    export_flatgeobuf(src, out, crs_id=("EPSG", 4326))

    header, feat_start, size, offsets = _read_header(out)
    assert header["n"] == 406 and len(offsets) == 406
    assert header["cols"] == [("id", 11), ("ts", 13)]

    back = read_flatgeobuf(spark, out, id_field="id", date_field="ts")
    assert back.schema["gtype"].metadata.get("crs") == "EPSG:4326"

    def keyed(df):
        return {
            r.id: (r.gtype, r.minx, r.miny, r.maxx, r.maxy, str(r.ts),
                   tuple(tuple(tuple(p) for p in part)
                         for part in r.coords))
            for r in df.collect()
        }

    assert keyed(back) == keyed(src)
    # split parity on engine-written output too
    tiny = read_flatgeobuf(spark, out, id_field="id", split_bytes=1024)
    assert _rowmap(tiny) == _rowmap(read_flatgeobuf(spark, out,
                                                    id_field="id"))


def test_fgb_bbox_pushdown(spark, tmp_path):
    """bbox reads return exactly the envelope-intersecting subset of a
    full read, while PLANNING strictly fewer feature bytes (index-leaf
    pruning — the packed R-tree doing its job)."""
    from ds_jedai_spark.io.readers import read_wkt_delimited

    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    )
    out = str(tmp_path / "hil.fgb")
    export_flatgeobuf(src, out)  # Hilbert-ordered, indexed
    full = read_flatgeobuf(spark, out, id_field="id")
    rows = full.collect()
    xs = sorted(r.minx for r in rows)
    ys = sorted(r.miny for r in rows)
    box = (xs[len(xs) // 4], ys[len(ys) // 4],
           xs[3 * len(xs) // 4], ys[3 * len(ys) // 4])
    want = {
        r.id for r in rows
        if not (r.minx > box[2] or r.maxx < box[0]
                or r.miny > box[3] or r.maxy < box[1])
    }
    got = read_flatgeobuf(spark, out, id_field="id", bbox=box)
    assert {r.id for r in got.collect()} == want
    assert 0 < len(want) < len(rows)

    # planned bytes shrink: compare leaf selection driver-side
    header, fs, size, offs, envs = _read_header(out, want_envs=True)
    kept = [i for i, e in enumerate(envs)
            if not (e[0] > box[2] or e[2] < box[0]
                    or e[1] > box[3] or e[3] < box[1])]
    assert len(kept) < len(offs)

    # a bbox outside the data: zero rows, zero feature splits
    far = read_flatgeobuf(spark, out, id_field="id",
                          bbox=(1e6, 1e6, 2e6, 2e6))
    assert far.count() == 0

    # fixture file (non-Hilbert order): same subset law
    fix_rows = read_flatgeobuf(spark, FIX, id_field="id").collect()
    want_fix = {
        r.id for r in fix_rows
        if not (r.minx > box[2] or r.maxx < box[0]
                or r.miny > box[3] or r.maxy < box[1])
    }
    got_fix = read_flatgeobuf(spark, FIX, id_field="id", bbox=box)
    assert {r.id for r in got_fix.collect()} == want_fix


def test_fgb_broken_frame_damage_bounded_to_stride(spark, tmp_path,
                                                   monkeypatch):
    """A feature whose SIZE PREFIX is destroyed breaks the parse chain
    only until the next anchor: features after it in the same stride
    are lost (bounded damage, the shapefile contract), and stem:N
    ordinals past the next anchor stay EXACT — the recno comes from the
    anchor, not a running counter."""
    import shutil

    import ds_jedai_spark.io.flatgeobuf as fgb

    monkeypatch.setattr(fgb, "MAX_SPLIT_OFFS", 8)  # force stride > 1
    p = str(tmp_path / "dmg.fgb")
    shutil.copy(FIX, p)
    header, feat_start, size, offs = _read_header(p)
    victim = 20  # ordinal mid-file; its stride swallows a few followers
    with open(p, "r+b") as f:
        f.seek(feat_start + int(offs[victim]))
        f.write(struct.pack("<I", 0xFFFFFFFF))
    got = {r.id for r in read_flatgeobuf(spark, p, id_field=None)
           .collect()}
    # baseline = the pristine fixture under the same ordinal ids (its
    # 14 corrupt-but-framed features are invalid there too, so they
    # cancel out of the comparison)
    base = {r.id.replace("geo_source:", "dmg:")
            for r in read_flatgeobuf(spark, FIX, id_field=None).collect()}
    lost = base - got
    # every id that DID come back is a true file ordinal, and the loss
    # is confined to [victim, victim + stride) — never past an anchor
    assert got <= base
    assert lost and all(
        victim <= int(x.split(":")[1]) - 1 < victim + 64 for x in lost
    ), sorted(lost)[:10]


def test_fgb_directory_corpus(spark, tmp_path):
    """A directory of .fgb files (a tiled corpus) reads as ONE
    DataFrame: per-file stem:N fallbacks, per-file id columns, bbox
    pruning skipping whole non-matching files, and a mixed-CRS corpus
    refusing with guidance."""
    from ds_jedai_spark.io.readers import read_wkt_delimited

    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    )
    lo = src.where("maxy <= 32")
    hi = src.where("maxy > 32")
    d = tmp_path / "corpus"
    d.mkdir()
    export_flatgeobuf(lo, str(d / "south.fgb"), crs_id=("EPSG", 4326))
    export_flatgeobuf(hi, str(d / "north.fgb"), crs_id=("EPSG", 4326))

    allr = read_flatgeobuf(spark, str(d), id_field="id")
    assert allr.schema["gtype"].metadata.get("crs") == "EPSG:4326"
    assert _rowmap(allr) == _rowmap(src)

    # api dispatch accepts the directory too
    from ds_jedai_spark import api
    from ds_jedai_spark.config import DatasetSpec

    via_api = api.read_dataset(spark, DatasetSpec(
        path=str(d), id_field="id", geom_field=None))
    assert via_api.count() == src.count()

    # bbox confined to the southern half: northern file contributes 0
    box = (0.0, 0.0, 70.0, 20.0)
    got = read_flatgeobuf(spark, str(d), id_field="id", bbox=box)
    want = {r.id for r in src.collect()
            if not (r.miny > box[3] or r.maxy < box[1]
                    or r.minx > box[2] or r.maxx < box[0])}
    assert {r.id for r in got.collect()} == want

    # per-file stem:N fallback when no id column is requested
    stems = {r.id.split(":")[0]
             for r in read_flatgeobuf(spark, str(d), id_field=None)
             .select("id").collect()}
    assert stems == {"south", "north"}

    # mixed CRS refuses
    export_flatgeobuf(lo.limit(3), str(d / "merc.fgb"),
                      crs_id=("EPSG", 3857))
    with pytest.raises(ValueError, match="mixed CRS"):
        read_flatgeobuf(spark, str(d), id_field="id")
    (d / "merc.fgb").unlink()

    # empty directory refuses with guidance
    e = tmp_path / "empty"
    e.mkdir()
    with pytest.raises(ValueError, match="no .fgb files"):
        read_flatgeobuf(spark, str(e))


def test_export_flatgeobuf_sharded(spark, tmp_path, capsys, cli_main):
    """The DISTRIBUTED sink writes one Hilbert-indexed .fgb per
    partition into a directory; the corpus reader reproduces every
    entity (with ts and CRS), empty partitions write no file, and the
    CLI routes -to flatgeobuf with a non-.fgb -out here."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.io.flatgeobuf import export_flatgeobuf_sharded
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
    export_flatgeobuf_sharded(src, out, crs_id=("EPSG", 4326))
    files = sorted(Path(out).glob("*.fgb"))
    assert 1 <= len(files) <= 5
    for f in files:  # every shard indexed (n>0 => R-tree present)
        header, fs, size, offs = _read_header(str(f))
        assert header["n"] > 0 and offs is not None

    back = read_flatgeobuf(spark, out, id_field="id", date_field="ts")
    assert back.schema["gtype"].metadata.get("crs") == "EPSG:4326"

    def keyed(df):
        return {
            r.id: (r.gtype, r.minx, r.miny, r.maxx, r.maxy, str(r.ts),
                   tuple(tuple(tuple(p) for p in part)
                         for part in r.coords))
            for r in df.collect()
        }

    assert keyed(back) == keyed(src)

    # spatial_shards: range-sharded layout gives each file a coherent
    # extent, so a bbox corpus read plans splits from FEWER FILES than
    # the arbitrary-partition layout touches
    sp = str(tmp_path / "spatial")
    export_flatgeobuf_sharded(src, sp, crs_id=("EPSG", 4326),
                              spatial_shards=5)
    box = (0.0, 0.0, 12.0, 12.0)
    assert keyed(read_flatgeobuf(spark, sp, id_field="id",
                                 date_field="ts")) == keyed(src)

    def files_planned(d):
        hit = 0
        for f in sorted(Path(d).glob("*.fgb")):
            hdr, fs, size, offs, envs = _read_header(str(f),
                                                     want_envs=True)
            if any(not (e[0] > box[2] or e[2] < box[0]
                        or e[1] > box[3] or e[3] < box[1])
                   for e in envs):
                hit += 1
        return hit

    assert files_planned(sp) < len(sorted(Path(sp).glob("*.fgb")))
    want_box = {r.id for r in src.collect()
                if not (r.minx > box[2] or r.maxx < box[0]
                        or r.miny > box[3] or r.maxy < box[1])}
    got_box = {r.id for r in read_flatgeobuf(spark, sp, id_field="id",
                                             bbox=box).collect()}
    assert got_box == want_box

    # overwrite semantics: a rerun with fewer rows/partitions must not
    # leave stale shards mixed into the corpus
    export_flatgeobuf_sharded(src.limit(7).repartition(1), out,
                              crs_id=("EPSG", 4326))
    again = read_flatgeobuf(spark, out, id_field="id")
    assert again.count() == 7
    assert len(sorted(Path(out).glob("*.fgb"))) == 1

    # CLI: non-.fgb -out routes to the sharded sink
    out2 = str(tmp_path / "cli_shards")
    rc = cli_main(["-op", "convert", "-left", FIX, "-to", "flatgeobuf",
                   "-out", out2])
    assert rc == 0
    assert "wrote 406 entities" in capsys.readouterr().out
    assert sorted(Path(out2).glob("*.fgb"))
    assert _rowmap(read_flatgeobuf(spark, out2, id_field="id")) == \
        _rowmap(read_flatgeobuf(spark, FIX, id_field="id"))


def test_export_flatgeobuf_empty(spark, tmp_path):
    from ds_jedai_spark.io.readers import read_wkt_delimited

    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    ).limit(0)
    out = str(tmp_path / "empty.fgb")
    export_flatgeobuf(src, out)
    assert read_flatgeobuf(spark, out).count() == 0


def test_bbox_cli_and_parquet_pushdown(spark, tmp_path, capsys, cli_main):
    """-bbox subsets any -op input (here: convert on the .fgb fixture
    and on row-format parquet); on parquet the predicate lands in the
    scan's PushedFilters so row groups prune from min/max stats."""
    from ds_jedai_spark import api

    full = read_flatgeobuf(spark, FIX, id_field="id")
    box = (0.0, 0.0, 24.0, 24.0)
    want = {
        r.id for r in full.collect()
        if not (r.minx > box[2] or r.maxx < box[0]
                or r.miny > box[3] or r.maxy < box[1])
    }
    assert 0 < len(want) < full.count()

    out = str(tmp_path / "sub.parquet")
    rc = cli_main(["-op", "convert", "-left", FIX, "-to", "rowparquet",
                   "-out", out, "-bbox", "0,0,24,24"])
    assert rc == 0
    assert f"wrote {len(want)} entities" in capsys.readouterr().out
    assert {r.id for r in spark.read.parquet(out).collect()} == want

    # parquet scan pushdown: the bbox predicate reaches PushedFilters
    rp = str(tmp_path / "all.parquet")
    full.write.parquet(rp)
    plan = api.apply_bbox(spark.read.parquet(rp), box) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    for c in ("minx", "maxx", "miny", "maxy"):
        assert c in pushed, pushed

    # the relate path honors extra.bbox end-to-end on both sides
    rc = cli_main(["-op", "relate", "-left", FIX, "-right", FIX,
                   "-relation", "intersects", "-bbox", "0,0,24,24",
                   "-limit", "2"])
    assert rc == 0

    # malformed -bbox errors with guidance
    assert cli_main(["-op", "convert", "-left", FIX, "-to", "rowparquet",
                     "-out", out, "-bbox", "9,9,1,1"]) == 2


def test_cli_convert_to_flatgeobuf(spark, tmp_path, capsys, cli_main):
    """-op convert -to flatgeobuf round-trips through the CLI, and .fgb
    files feed -op relate directly."""

    out = str(tmp_path / "conv.fgb")
    rc = cli_main(["-op", "convert", "-left", FIX, "-to", "flatgeobuf",
                   "-out", out])
    assert rc == 0
    assert "wrote 406 entities" in capsys.readouterr().out
    assert _rowmap(read_flatgeobuf(spark, out, id_field="id")) == \
        _rowmap(read_flatgeobuf(spark, FIX, id_field="id"))
    rc = cli_main(["-op", "relate", "-left", out, "-right", out,
                   "-relation", "equals", "-limit", "2"])
    assert rc == 0

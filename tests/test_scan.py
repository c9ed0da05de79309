"""The scan contract the three binary readers share (io/scan.py): a
missing file names its format, a corpus declares one CRS, a directory
reads as ONE scan, and api.read_dataset picks one reader per path.
The files are written with the sinks' byte builders, so only the plan
test starts Spark."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest

from ds_jedai_spark import api
from ds_jedai_spark.io import flatgeobuf, geopackage, shapefile

FIXTURES = Path(__file__).resolve().parent.parent / "fixtures"

READERS = {
    "shp": (shapefile.read_shapefile, "Shapefile"),
    "fgb": (flatgeobuf.read_flatgeobuf, "FlatGeobuf"),
    "gpkg": (geopackage.read_geopackage, "GeoPackage"),
}


def _write(fmt: str, path: Path, crs: str, pts) -> None:
    """One file of ``fmt`` holding POINT features at ``pts``, declaring
    ``crs`` ('EPSG:<code>')."""
    org, code = crs.split(":")
    if fmt == "shp":
        shp, shx = shapefile.shapefile_bytes(
            1, [shapefile.shape_content("POINT", [[list(p)]]) for p in pts])
        path.with_suffix(".shp").write_bytes(shp)
        path.with_suffix(".shx").write_bytes(shx)
        path.with_suffix(".prj").write_text(shapefile._prj_for(crs))
    elif fmt == "fgb":
        feats = [(x, y, x, y, flatgeobuf._row_feature(
            f"{path.stem}-{i}", "POINT", [[[x, y]]], None, False))
            for i, (x, y) in enumerate(pts)]
        flatgeobuf._write_fgb(str(path.with_suffix(".fgb")), feats,
                              {"POINT"}, False, (org, int(code)), 16)
    else:
        rows = ((f"{path.stem}-{i}", "POINT", [[[x, y]]], None)
                for i, (x, y) in enumerate(pts))
        geopackage._assemble_gpkg(str(path.with_suffix(".gpkg")), rows,
                                  "features", (org, int(code)), False)


@pytest.mark.parametrize("fmt", list(READERS))
def test_missing_file_names_its_format(fmt, tmp_path):
    read, name = READERS[fmt]
    with pytest.raises(ValueError, match=f"no such {name}"):
        read(None, str(tmp_path / f"missing.{fmt}"))


@pytest.mark.parametrize("fmt", list(READERS))
def test_mixed_crs_corpus_refuses(fmt, tmp_path):
    read, _ = READERS[fmt]
    _write(fmt, tmp_path / "a", "EPSG:4326", [(1.0, 2.0)])
    _write(fmt, tmp_path / "b", "EPSG:3857", [(3.0, 4.0)])
    with pytest.raises(ValueError, match="mixed CRS"):
        read(None, str(tmp_path))


def test_gpkg_directory_is_one_scan(spark, tmp_path):
    _write("gpkg", tmp_path / "a", "EPSG:4326", [(1.0, 2.0), (2.0, 3.0)])
    _write("gpkg", tmp_path / "b", "EPSG:4326", [(3.0, 4.0)])
    df = geopackage.read_geopackage(spark, str(tmp_path), id_field=None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert sorted(r.id for r in df.collect()) == ["a:1", "a:2", "b:1"]
    assert df.schema["gtype"].metadata.get("crs") == "EPSG:4326"


# The reader each path under fixtures/ dispatches to, by FORMATS key —
# the same readers the per-extension if-chain picked before the table.
FIXTURE_READERS = {
    "geo_source.fgb": ".fgb",
    "geo_source.geojson": ".geojson",
    "geo_source.gpkg": ".gpkg",
    "geo_source_wkb.parquet": ".parquet",
    "nt_source.nt": ".nt",
    "shp_source": ".shp",
    "shp_source_truth.parquet": ".parquet",
    "wkt_holes_source.tsv": ".tsv",
    "wkt_holes_target.tsv": ".tsv",
    "wkt_source.tsv": ".tsv",
}


def test_read_dataset_dispatch(tmp_path):
    assert sorted(p.name for p in FIXTURES.iterdir()) == \
        sorted(FIXTURE_READERS)
    for name, key in FIXTURE_READERS.items():
        assert api.dataset_format(str(FIXTURES / name)) is \
            api.FORMATS[key], name
    # sharded directories: nested shards count, shp wins over gpkg and
    # gpkg over fgb, and an extension names the format of a file
    for held, key in ((["x.fgb"], ".fgb"), (["n/x.gpkg", "y.fgb"], ".gpkg"),
                      (["x.gpkg", "n/y.shp"], ".shp")):
        d = tmp_path / key.strip(".") / str(len(held))
        for f in held:
            (d / f).parent.mkdir(parents=True, exist_ok=True)
            (d / f).write_bytes(b"")
        assert api.dataset_format(str(d)) is api.FORMATS[key], held
    with pytest.raises(ValueError, match="unsupported dataset extension"):
        api.dataset_format(str(tmp_path / "data.xyz"))

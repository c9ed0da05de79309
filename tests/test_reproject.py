"""operators/crs.reproject: differential vs an independent Python
implementation of the published spherical Web Mercator formulas, the
operator laws (roundtrip, envelope = transformed corners, clamping,
metadata rewrite, unsupported-pair contract), and the -op reproject CLI
e2e. The reference is CRS-naive; this is the engine's in-engine remedy
for the api.run CRS-mismatch warning."""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest

from ds_jedai_spark.io.readers import read_wkt_delimited
from ds_jedai_spark.operators.crs import MAX_LAT, R, reproject
from conftest import fuzz_examples

WKT_FIX = str(
    Path(__file__).resolve().parent.parent / "fixtures" / "wkt_source.tsv"
)


def _fwd(lon: float, lat: float) -> tuple[float, float]:
    lat = max(-MAX_LAT, min(MAX_LAT, lat))
    return (R * math.radians(lon),
            R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)))


def _inv(x: float, y: float) -> tuple[float, float]:
    return (math.degrees(x / R),
            math.degrees(2 * math.atan(math.exp(y / R)) - math.pi / 2))


def _src(spark):
    return read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    ).withMetadata("gtype", {"crs": "EPSG:4326"})


def test_reproject_matches_python_reference(spark):
    """Every vertex agrees with the independent formula to <= 1e-6 m
    (JVM vs CPython libm may differ in the last ulp of a ~2e7 value);
    envelopes are exactly the transformed corners."""
    src = _src(spark)
    out = reproject(src, "EPSG:3857")
    assert out.schema["gtype"].metadata.get("crs") == "EPSG:3857"
    base = {r.id: (r.coords, r.minx, r.miny, r.maxx, r.maxy)
            for r in src.collect()}
    got = {r.id: (r.coords, r.minx, r.miny, r.maxx, r.maxy)
           for r in out.collect()}
    assert set(got) == set(base)
    for rid, (parts, minx, miny, maxx, maxy) in base.items():
        gparts, gminx, gminy, gmaxx, gmaxy = got[rid]
        for part, gpart in zip(parts, gparts):
            for (lon, lat), (gx, gy) in zip(part, gpart):
                wx, wy = _fwd(lon, lat)
                assert abs(gx - wx) <= 1e-6 and abs(gy - wy) <= 1e-6, rid
        for want, have in zip(
            _fwd(minx, miny) + _fwd(maxx, maxy),
            (gminx, gminy, gmaxx, gmaxy),
        ):
            assert abs(have - want) <= 1e-6, rid
        # monotone: the corner envelope really bounds the points
        flat = [p for part in gparts for p in part]
        assert gminx <= min(p[0] for p in flat) + 1e-6
        assert gmaxy >= max(p[1] for p in flat) - 1e-6


def test_reproject_roundtrip_and_identity(spark):
    src = _src(spark)
    back = reproject(reproject(src, "EPSG:3857"), "EPSG:4326")
    assert back.schema["gtype"].metadata.get("crs") == "EPSG:4326"
    base = {r.id: r.coords for r in src.collect()}
    got = {r.id: r.coords for r in back.collect()}
    for rid, parts in base.items():
        for part, gpart in zip(parts, got[rid]):
            for (lon, lat), (glon, glat) in zip(part, gpart):
                assert abs(glon - lon) <= 1e-9
                assert abs(glat - lat) <= 1e-9, rid
    # identity rename: OGC:CRS84 counts as EPSG:4326, coords untouched
    crs84 = src.withMetadata("gtype", {"crs": "OGC:CRS84"})
    same = reproject(crs84, "EPSG:4326")
    assert same.schema["gtype"].metadata.get("crs") == "EPSG:4326"
    assert {r.id: r.coords for r in same.collect()} == base


def test_reproject_anchors_and_clamp(spark):
    """Known anchor points of the published formulas, and the ±MAX_LAT
    clamp (square world: N(MAX_LAT) == E(180))."""
    tsv_rows = ["id\twkt",
                "1\tPOINT (0 0)",
                "2\tPOINT (180 0)",
                "3\tPOINT (0 89.9)",      # beyond MAX_LAT -> clamped
                "4\tPOINT (-180 -89.9)"]
    import tempfile, os
    fd, p = tempfile.mkstemp(suffix=".tsv")
    with os.fdopen(fd, "w") as f:
        f.write("\n".join(tsv_rows) + "\n")
    try:
        src = read_wkt_delimited(
            spark, p, id_field="id", geom_field="wkt"
        ).withMetadata("gtype", {"crs": "EPSG:4326"})
        pts = {r.id: r.coords[0][0]
               for r in reproject(src, "EPSG:3857").collect()}
    finally:
        os.remove(p)
    half = math.pi * R  # 20037508.342789244
    # tan(pi/4) is 1-1ulp in doubles: y(0) lands ~7e-10 m off exact zero
    assert abs(pts["1"][0]) <= 1e-6 and abs(pts["1"][1]) <= 1e-6
    assert abs(pts["2"][0] - half) <= 1e-6
    assert abs(pts["3"][1] - half) <= 1e-6   # clamped to MAX_LAT
    assert abs(pts["4"][0] + half) <= 1e-6
    assert abs(pts["4"][1] + half) <= 1e-6


def test_reproject_contract_errors(spark):
    src = read_wkt_delimited(
        spark, WKT_FIX, id_field="id", geom_field="wkt"
    )  # no CRS metadata
    with pytest.raises(ValueError, match="source CRS unknown"):
        reproject(src, "EPSG:3857")
    # explicit from_crs substitutes for missing metadata
    out = reproject(src, "EPSG:3857", from_crs="EPSG:4326")
    assert out.schema["gtype"].metadata.get("crs") == "EPSG:3857"
    with pytest.raises(ValueError, match="unsupported pair"):
        reproject(src.withMetadata("gtype", {"crs": "EPSG:2154"}),
                  "EPSG:3857")


# The Spark operator is pinned exactly (1e-6 m) to _fwd/_inv over the
# whole fixture above, so formula-level properties proved here carry to
# the operator without a per-example Spark job.
from hypothesis import given, settings
from hypothesis import strategies as st

_lon = st.floats(min_value=-180.0, max_value=180.0,
                 allow_nan=False, allow_infinity=False)
_lat = st.floats(min_value=-MAX_LAT, max_value=MAX_LAT,
                 allow_nan=False, allow_infinity=False)


@given(_lon, _lat)
@settings(max_examples=fuzz_examples(500), deadline=None)
def test_property_roundtrip(lon, lat):
    x, y = _fwd(lon, lat)
    blon, blat = _inv(x, y)
    assert abs(blon - lon) <= 1e-9
    assert abs(blat - lat) <= 1e-9


@given(_lon, _lon, _lat, _lat)
@settings(max_examples=fuzz_examples(500), deadline=None)
def test_property_monotone_per_axis(lon1, lon2, lat1, lat2):
    """Monotonicity justifies transforming envelopes corner-wise."""
    if lon1 > lon2:
        lon1, lon2 = lon2, lon1
    if lat1 > lat2:
        lat1, lat2 = lat2, lat1
    x1, y1 = _fwd(lon1, lat1)
    x2, y2 = _fwd(lon2, lat2)
    assert x1 <= x2 and y1 <= y2
    import math as _m

    half = _m.pi * R
    assert -half - 1e-6 <= x1 <= half + 1e-6
    assert -half - 1e-6 <= y1 <= half + 1e-6


def test_auto_reproject_in_api_run(spark, tmp_path):
    """extra.autoReproject: a 4326 source joined against a 3857 target
    reprojects the target in-plan — no warning, pairs identical to the
    all-4326 run; an unconvertible pair still warns; strictCrs no
    longer errors on the convertible pair."""
    import warnings

    import pytest as _pytest

    from ds_jedai_spark import api
    from ds_jedai_spark.config import DatasetSpec, JedaiConfig
    from ds_jedai_spark.io.writers import export_geoparquet

    src = _src(spark)
    p4326 = str(tmp_path / "s.parquet")
    p3857 = str(tmp_path / "t3857.parquet")
    p2154 = str(tmp_path / "t2154.parquet")

    def crs(code):
        return {"id": {"authority": "EPSG", "code": code}}

    export_geoparquet(src, p4326, crs=crs(4326))
    export_geoparquet(reproject(src, "EPSG:3857"), p3857, crs=crs(3857))
    export_geoparquet(src, p2154, crs=crs(2154))

    def cfg(a, b, **extra):
        return JedaiConfig(
            source=DatasetSpec(path=a, id_field="id", geom_field=None),
            target=DatasetSpec(path=b, id_field="id", geom_field=None),
            relation="intersects",
            extra=extra,
        )

    def pairs(df):
        return {(r.s_id, r.t_id) for r in df.collect()}

    # truth = MANUALLY reprojecting the target back into the source
    # frame (the documented remedy): autoReproject must equal it
    # exactly — roundtrip float error (knife-edge point-equality pairs
    # shift by ~1e-9°) is inherent to reprojection itself, so an
    # all-4326 run is NOT the right oracle
    p_back = str(tmp_path / "t_back.parquet")
    export_geoparquet(
        reproject(reproject(src, "EPSG:3857"), "EPSG:4326"),
        p_back, crs=crs(4326),
    )
    want = pairs(api.run(spark, cfg(p4326, p_back)))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = pairs(api.run(spark, cfg(p4326, p3857,
                                       autoReproject=True)))
        # strictCrs composes: the convertible pair no longer errors
        strict = pairs(api.run(spark, cfg(p4326, p3857,
                                          autoReproject=True,
                                          strictCrs=True)))
    assert got == want and strict == want and want
    # an unconvertible pair still warns, autoReproject or not — unless
    # the env-gated pyproj tier is present, in which case autoReproject
    # converts ANY declared pair (r15)
    from ds_jedai_spark.operators.crs import have_projection_lib

    if not have_projection_lib():
        with _pytest.warns(UserWarning, match="different CRS"):
            api.run(spark, cfg(p4326, p2154,
                               autoReproject=True)).collect()
    else:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            api.run(spark, cfg(p4326, p2154,
                               autoReproject=True)).collect()
    # bbox composes: filter applies to the target AFTER reprojection
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        sub = pairs(api.run(spark, cfg(p4326, p3857,
                                       autoReproject=True,
                                       bbox=(0.0, 0.0, 24.0, 24.0))))
    full_box = pairs(api.run(spark, cfg(p4326, p_back,
                                        bbox=(0.0, 0.0, 24.0, 24.0))))
    assert sub == full_box


def test_cli_op_reproject(spark, tmp_path, capsys, cli_main):
    """-op reproject: any reader format in, row-format parquet out
    carrying the new CRS; feeding the result against a 3857 GeoPackage
    no longer warns (the mismatch remedy actually remedies)."""
    import warnings

    from ds_jedai_spark.io.geopackage import export_geopackage

    out = str(tmp_path / "merc.parquet")
    rc = cli_main(["-op", "reproject", "-left", WKT_FIX, "-out", out,
                   "-from-crs", "EPSG:4326", "-to-crs", "EPSG:3857"])
    assert rc == 0
    assert "EPSG:4326 -> EPSG:3857" in capsys.readouterr().out
    back = spark.read.parquet(out)
    assert back.schema["gtype"].metadata.get("crs") == "EPSG:3857"
    assert back.count() == 406

    gp = str(tmp_path / "t3857.gpkg")
    export_geopackage(
        reproject(_src(spark), "EPSG:3857").limit(5), gp,
        crs_id=("EPSG", 3857),
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rc = cli_main(["-op", "relate", "-left", out, "-right", gp,
                       "-relation", "intersects", "-limit", "2"])
    assert rc == 0
    assert not any("different CRS" in str(w.message) for w in caught)
    # missing -to-crs errors with guidance
    assert cli_main(["-op", "reproject", "-left", WKT_FIX,
                     "-out", out]) == 2


# ------------------------------------------------------- pyproj tier (gated)

def test_unsupported_pair_message_mentions_pyproj(spark):
    """Without pyproj, non-Mercator pairs raise with the install hint
    (and never silently approximate)."""
    from ds_jedai_spark.operators.crs import have_projection_lib

    if have_projection_lib():
        pytest.skip("pyproj present: the pair dispatches instead")
    with pytest.raises(ValueError, match="pyproj"):
        reproject(_src(spark), "EPSG:32633")


def test_pyproj_pair_roundtrip_and_envelopes(spark):
    """Env-gated: arbitrary-pair reprojection (UTM 33N) agrees with a
    direct pyproj transform per vertex, envelopes re-aggregate from the
    transformed vertices, metadata flips, and the round trip returns
    within 1e-6 degrees."""
    pytest.importorskip("pyproj")
    from pyproj import Transformer

    from ds_jedai_spark.operators.crs import have_projection_lib

    assert have_projection_lib()
    src = _src(spark)
    out = reproject(src, "EPSG:32633")
    assert out.schema["gtype"].metadata.get("crs") == "EPSG:32633"

    tr = Transformer.from_crs("EPSG:4326", "EPSG:32633", always_xy=True)
    want = {}
    for r in src.collect():
        pts = [tr.transform(p[0], p[1])
               for part in r.coords for p in part]
        want[r.id] = (min(x for x, _ in pts), min(y for _, y in pts),
                      max(x for x, _ in pts), max(y for _, y in pts))
    got = {r.id: r for r in out.collect()}
    assert set(got) == set(want)
    for k, (a, b, c, d) in want.items():
        g = got[k]
        for gv, wv in zip((g.minx, g.miny, g.maxx, g.maxy), (a, b, c, d)):
            assert abs(gv - wv) <= 1e-6, (k, gv, wv)
        # envelope really bounds the transformed vertices
        assert all(
            g.minx - 1e-9 <= p[0] <= g.maxx + 1e-9
            and g.miny - 1e-9 <= p[1] <= g.maxy + 1e-9
            for part in g.coords for p in part
        )

    back = reproject(out, "EPSG:4326")
    orig = {r.id: r for r in src.collect()}
    for r in back.collect():
        o = orig[r.id]
        for (px, py), (qx, qy) in zip(
            [p for part in r.coords for p in part],
            [q for part in o.coords for q in part],
        ):
            assert abs(px - qx) <= 1e-6 and abs(py - qy) <= 1e-6


def test_pyproj_invalid_pair_raises_driver_side(spark):
    """Env-gated (r16): an identifier PROJ does not know raises a clear
    ValueError on the DRIVER at plan time — never a CRSError inside an
    executor task."""
    pytest.importorskip("pyproj")
    src = _src(spark)
    with pytest.raises(ValueError, match="pyproj rejected"):
        reproject(src, "EPSG:99999999")
    # also via the explicit from_crs override
    with pytest.raises(ValueError, match="pyproj rejected"):
        reproject(src.withMetadata("gtype", {}), "EPSG:32633",
                  from_crs="NOT:ACRS")


def test_pyproj_degenerate_rows_null_envelope(spark):
    """Env-gated (r16): a vertex-free geometry and a vertex pyproj maps
    out of the target's domain (inf) both come back with a NULL
    envelope instead of crashing the Arrow task or smuggling ±inf into
    the tile join; healthy rows in the same batch are unaffected."""
    pytest.importorskip("pyproj")
    from pyproj import Transformer

    rows = [
        (1, "POINT", [[[15.0, 52.0]]]),
        (2, "GEOMETRYCOLLECTION", []),       # no vertices at all
        (3, "POINT", [[[15.0, -89.99]]]),    # far outside UTM 33N's domain
    ]
    df = spark.createDataFrame(
        [(i, g, c,
          min((p[0] for part in c for p in part), default=None),
          min((p[1] for part in c for p in part), default=None),
          max((p[0] for part in c for p in part), default=None),
          max((p[1] for part in c for p in part), default=None))
         for i, g, c in rows],
        "id long, gtype string, coords array<array<array<double>>>, "
        "minx double, miny double, maxx double, maxy double",
    ).withMetadata("gtype", {"crs": "EPSG:4326"})
    out = {r.id: r for r in reproject(df, "EPSG:32633").collect()}
    assert out[2].minx is None and out[2].maxy is None
    tr = Transformer.from_crs("EPSG:4326", "EPSG:32633", always_xy=True)
    ex, ey = tr.transform(15.0, 52.0)
    assert abs(out[1].minx - ex) <= 1e-6 and abs(out[1].miny - ey) <= 1e-6
    x3, y3 = tr.transform(15.0, -89.99)
    if not (math.isfinite(x3) and math.isfinite(y3)):
        assert out[3].minx is None and out[3].maxx is None
    else:  # PROJ build that extrapolates finitely: envelope stays finite
        assert math.isfinite(out[3].minx)

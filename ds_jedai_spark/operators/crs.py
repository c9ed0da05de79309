"""Closed-form CRS reprojection between WGS84 geographic coordinates
(EPSG:4326 / OGC:CRS84) and spherical Web Mercator (EPSG:3857).

The reference is CRS-naive (its readers never look at a .prj or a
GeoParquet footer), so this is beyond-parity hygiene completing the
engine's CRS story: the readers CARRY a declared CRS as gtype column
metadata, ``api.run`` WARNS (or errors under strictCrs) on a
source/target mismatch, and this operator is the in-engine REMEDY —
reproject one side instead of aborting the join.

Scope is the one pair that is closed-form and ubiquitous: EPSG:4326
(WGS84 lon/lat degrees — the engine stores x=lon, y=lat, matching
WKT/GeoJSON/shapefile axis conventions) and EPSG:3857 ("Popular
Visualisation Pseudo-Mercator" — every web-tile basemap). The published
spherical formulas (EPSG guidance note 7-2, method 1024):

    E = R * radians(lon)
    N = R * ln(tan(pi/4 + radians(lat)/2))
    lon = degrees(E / R)
    lat = degrees(2 * atan(exp(N / R)) - pi/2)

with R = 6378137.0 (the WGS84 semi-major axis). Anything else (ellipsoid
datum shifts, conic projections) needs a real projection library:
when ``pyproj`` is importable (feature-checked like
``multimodal.have_image_decoder``), ``reproject`` dispatches arbitrary
CRS pairs to a vectorized pyproj Transformer over the Arrow batch path
— one C-level transform call per batch, envelopes re-aggregated from
the transformed vertices (general projections are not monotone per
axis, so the closed-form pair's corner-transform shortcut does not
apply). Without pyproj, non-Mercator pairs raise with guidance rather
than approximating.

Execution model: a single ``selectExpr`` of nested ``transform`` lambdas
over the coords array with built-in JVM trig (radians/degrees/ln/tan/
atan/exp) — whole-stage codegen, no Python in the path, no shuffle, no
action; at 100 TB this is a free map over the scan. Envelopes are NOT
re-aggregated from the points: both directions are strictly monotone in
each axis independently, so the four envelope corners are transformed
directly (min stays min, max stays max).

Web Mercator's domain excludes the poles (N diverges as lat -> ±90°).
Latitudes are clamped to ±MAX_LAT = ±85.05112877980659° — the standard
square-world bound (N(MAX_LAT) = pi*R = E(180°)) used by every web-map
stack — under the default ``clamp=True``; ``clamp=False`` applies the
raw formula (poles land on huge-but-finite floats, the caller filters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# WGS84 semi-major axis (meters) — the Web Mercator sphere radius.
R = 6378137.0
# atan(sinh(pi)) in degrees: the latitude where Web Mercator's
# north-south extent equals its east-west extent (square world).
MAX_LAT = 85.05112877980659

_CANON = {"OGC:CRS84": "EPSG:4326"}

# Esri-style WKT for the .prj sidecar the shapefile sink writes.
WEB_MERCATOR_PRJ = (
    'PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",'
    'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
    'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Mercator_Auxiliary_Sphere"],'
    'PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",0.0],'
    'PARAMETER["Standard_Parallel_1",0.0],'
    'PARAMETER["Auxiliary_Sphere_Type",0.0],UNIT["Meter",1.0],'
    'AUTHORITY["EPSG","3857"]]'
)

# PROJJSON id stubs for the GeoParquet footer after reprojection.
PROJJSON_BY_CRS = {
    "EPSG:4326": {"type": "GeographicCRS", "name": "WGS 84",
                  "id": {"authority": "EPSG", "code": 4326}},
    "EPSG:3857": {"type": "ProjectedCRS",
                  "name": "WGS 84 / Pseudo-Mercator",
                  "id": {"authority": "EPSG", "code": 3857}},
}


def have_projection_lib() -> bool:
    """True when pyproj (PROJ bindings) is importable — the env-gated
    general-CRS tier, feature-checked like multimodal.have_image_decoder.

    This checks the DRIVER's environment only. The pyproj transform
    itself runs inside mapInArrow on the executors, so a cluster whose
    workers lack pyproj will still fail at task runtime — keep worker
    Python environments in sync (the standard PySpark requirement for
    any Python-UDF dependency). CRS-pair validity, by contrast, is
    checked driver-side in _reproject_pyproj before dispatch."""
    try:
        from pyproj import Transformer  # noqa: F401

        return True
    except Exception:
        return False


def _reproject_pyproj(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Arbitrary-pair reprojection through a vectorized pyproj
    Transformer (always_xy=True — the engine stores x=lon/easting,
    y=lat/northing regardless of the authority's axis order). Executes
    on the Arrow batch path: per batch, every vertex flattens into one
    numpy array, ONE C-level transform call, reassembly; envelopes are
    re-aggregated from the transformed vertices because a general
    projection is not monotone per axis.

    The CRS pair is validated DRIVER-SIDE (Transformer.from_crs here,
    before dispatch) so an unknown/invalid identifier raises a clear
    ValueError immediately instead of a CRSError inside an executor
    task. The transform itself still runs on the EXECUTORS — on a real
    cluster every worker's Python environment must have pyproj
    installed, not just the driver. Rows with no vertices keep a null
    envelope (the same contract as the measures operator); vertices
    pyproj maps out of the target's domain come back non-finite
    (inf/nan) and force that row's envelope to null too, so a bad
    point can never silently widen a tile-join envelope to ±inf."""
    try:
        from pyproj import Transformer

        Transformer.from_crs(src, dst, always_xy=True)
    except Exception as exc:
        raise ValueError(
            f"reproject: pyproj rejected the pair {src!r} -> {dst!r} "
            f"({exc}); pass authority:code identifiers known to PROJ"
        ) from exc
    meta = dict(df.schema["gtype"].metadata or {})

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from pyproj import Transformer

        tr = Transformer.from_crs(src, dst, always_xy=True)
        for batch in batches:
            rows = batch.to_pylist()
            flat_x, flat_y, shape = [], [], []
            for row in rows:
                shape.append([len(part) for part in row["coords"]])
                for part in row["coords"]:
                    for p in part:
                        flat_x.append(p[0])
                        flat_y.append(p[1])
            tx, ty = (
                tr.transform(np.asarray(flat_x), np.asarray(flat_y))
                if flat_x else (np.empty(0), np.empty(0))
            )
            out_coords, mnx, mny, mxx, mxy = [], [], [], [], []
            i = 0
            for lens in shape:
                parts, xs0 = [], i
                for ln in lens:
                    parts.append(
                        [[float(tx[j]), float(ty[j])]
                         for j in range(i, i + ln)]
                    )
                    i += ln
                out_coords.append(parts)
                seg_x, seg_y = tx[xs0:i], ty[xs0:i]
                if (seg_x.size and np.isfinite(seg_x).all()
                        and np.isfinite(seg_y).all()):
                    mnx.append(float(seg_x.min()))
                    mny.append(float(seg_y.min()))
                    mxx.append(float(seg_x.max()))
                    mxy.append(float(seg_y.max()))
                else:
                    # vertex-free row, or a vertex outside the target
                    # CRS's domain (pyproj yields inf): null envelope
                    mnx.append(None)
                    mny.append(None)
                    mxx.append(None)
                    mxy.append(None)
            keep = [
                (n, batch.column(k))
                for k, n in enumerate(batch.schema.names)
                if n not in ("coords", "minx", "miny", "maxx", "maxy")
            ]
            yield pa.RecordBatch.from_arrays(
                [c for _, c in keep]
                + [pa.array(out_coords,
                            pa.list_(pa.list_(pa.list_(pa.float64())))),
                   pa.array(mnx, pa.float64()),
                   pa.array(mny, pa.float64()),
                   pa.array(mxx, pa.float64()),
                   pa.array(mxy, pa.float64())],
                names=[n for n, _ in keep]
                + ["coords", "minx", "miny", "maxx", "maxy"],
            )

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema
        if f.name not in ("coords", "minx", "miny", "maxx", "maxy")
    )
    out = df.mapInArrow(
        run,
        (fields + ", " if fields else "")
        + "coords array<array<array<double>>>, minx double, miny double,"
        " maxx double, maxy double",
    )
    meta.pop("crs_projjson", None)
    return out.withMetadata("gtype", {**meta, "crs": dst})


def _exprs(direction: str, clamp: bool) -> tuple[str, str]:
    """(px, py) SQL expressions over a bound point ``pt`` (array<double>
    [x, y])."""
    if direction == "fwd":  # 4326 -> 3857
        lat = (f"greatest(least(pt[1], {MAX_LAT!r}), -{MAX_LAT!r})"
               if clamp else "pt[1]")
        px = f"{R!r} * radians(pt[0])"
        py = f"{R!r} * ln(tan(pi() / 4.0 + radians({lat}) / 2.0))"
    else:  # 3857 -> 4326
        px = f"degrees(pt[0] / {R!r})"
        py = f"degrees(2.0 * atan(exp(pt[1] / {R!r})) - pi() / 2.0)"
        if clamp:
            py = f"greatest(least({py}, {MAX_LAT!r}), -{MAX_LAT!r})"
    return px, py


def reproject(
    df: DataFrame,
    to_crs: str,
    from_crs: str | None = None,
    clamp: bool = True,
) -> DataFrame:
    """Reproject a row-format DataFrame between EPSG:4326 and EPSG:3857.

    ``from_crs`` defaults to the CRS the reader carried as gtype column
    metadata; passing neither a known metadata CRS nor an explicit
    ``from_crs`` raises (silent axis-unit confusion is the failure mode
    this whole surface exists to prevent). Identical source and target
    (OGC:CRS84 counts as EPSG:4326) return the input with only the
    metadata identifier rewritten. The output's gtype metadata declares
    ``to_crs`` so downstream ``api.run`` CRS checks see the new frame.
    """
    meta = dict(
        (df.schema["gtype"].metadata or {}) if "gtype" in df.columns
        else {}
    )
    src = _CANON.get(from_crs or meta.get("crs"),
                     from_crs or meta.get("crs"))
    dst = _CANON.get(to_crs, to_crs)
    if src is None:
        raise ValueError(
            "reproject: source CRS unknown — the input carries no CRS "
            "metadata; pass from_crs='EPSG:4326' (or 'EPSG:3857')"
        )
    if src == dst:
        return df.withMetadata("gtype", {**meta, "crs": to_crs})
    pair = (src, dst)
    if pair == ("EPSG:4326", "EPSG:3857"):
        direction = "fwd"
    elif pair == ("EPSG:3857", "EPSG:4326"):
        direction = "inv"
    elif have_projection_lib():
        return _reproject_pyproj(df, src, dst)
    else:
        raise ValueError(
            f"reproject: unsupported pair {src} -> {dst}; the engine's "
            "closed-form surface covers EPSG:4326 (OGC:CRS84) <-> "
            "EPSG:3857, and installing pyproj enables arbitrary pairs "
            "— otherwise reproject other frames upstream with a "
            "projection library"
        )

    px, py = _exprs(direction, clamp)

    def pt(expr: str, x: str, y: str) -> str:
        return expr.replace("pt[0]", x).replace("pt[1]", y)

    keep = [c for c in df.columns
            if c not in ("coords", "minx", "miny", "maxx", "maxy")]
    out = df.selectExpr(
        *keep,
        f"transform(coords, part -> transform(part, pt -> "
        f"array({px}, {py}))) AS coords",
        # monotone per axis: corners transform to corners
        f"{pt(px, 'minx', 'miny')} AS minx",
        f"{pt(py, 'minx', 'miny')} AS miny",
        f"{pt(px, 'maxx', 'maxy')} AS maxx",
        f"{pt(py, 'maxx', 'maxy')} AS maxy",
    )
    meta.pop("crs_projjson", None)  # stale after reprojection
    return out.withMetadata("gtype", {**meta, "crs": dst})

"""Source readers: delimited WKT, GeoJSON, RDF N-Triples, directories.

Re-expresses the reference reader surface (reference:
src/main/scala/utils/readers/Reader.scala:38-203) Spark-first: every
format lands in the engine's geometry row format (id, ts?, gtype, coords,
minx..maxy) via ``spark.read`` + JVM-side projection, with the WKT parse
as the only Python step (Arrow-batched; model/geometry.py).

Scale notes: CSV/JSON/text scans are splittable and predicate/column
pruning applies before the parse UDF (only the id/geom/date columns are
selected). Directory paths glob natively in ``spark.read`` — the
reference's per-file union loop (Reader.scala:63-70) is unnecessary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ds_jedai_spark.config import DEFAULT_DATE_PATTERN
from ds_jedai_spark.io.scan import (
    corpus_files,
    parse_ts_cell,
    record_batch,
    row_schema,
    with_ts,
)
from ds_jedai_spark.model.geometry import (
    flatten_collection_wkt,
    valid_geometries,
    with_parsed_geometry,
    with_parsed_geometry_wkb,
)

def explode_collections(df: DataFrame, wkt_col: str = "wkt") -> DataFrame:
    """One row per GEOMETRYCOLLECTION member, other columns propagated
    (reference GeometryUtils.scala:26-37). Arrow-batched; non-collection
    rows pass through unchanged."""
    def run(batches):
        for pdf in batches:
            out = pdf.copy()
            # Vectorized member expansion: map to member lists, then one
            # pandas-level explode — no per-row Python loop over the frame.
            out[wkt_col] = out[wkt_col].map(flatten_collection_wkt)
            out = out.explode(wkt_col, ignore_index=True)
            yield out[out[wkt_col].notna()]

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    return df.mapInPandas(run, fields)


def _finish(df: DataFrame, date_field: str | None, date_pattern: str) -> DataFrame:
    out = with_parsed_geometry(df, "wkt")
    out = valid_geometries(out).drop("wkt")
    return out if date_field is None else with_ts(out, date_pattern)


def read_wkt_delimited(
    spark: SparkSession,
    path: str,
    id_field: str,
    geom_field: str,
    delimiter: str = "\t",
    date_field: str | None = None,
    date_pattern: str = DEFAULT_DATE_PATTERN,
    header: bool = True,
) -> DataFrame:
    """CSV/TSV scan with a WKT column (reference Reader.loadDelimitedFile)."""
    raw = spark.read.option("header", header).option("delimiter", delimiter).csv(path)
    cols = [F.col(id_field).alias("id"), F.col(geom_field).alias("wkt")]
    if date_field is not None:
        cols.append(F.col(date_field).alias("ts_raw"))
    return _finish(raw.select(*cols), date_field, date_pattern)


def read_geojson(
    spark: SparkSession,
    path: str,
    id_field: str = "id",
    date_field: str | None = None,
    date_pattern: str = DEFAULT_DATE_PATTERN,
) -> DataFrame:
    """GeoJSON feature scan (reference Reader.loadGeoJSON): newline-
    delimited features parsed with the stdlib json module inside an
    Arrow-batched mapInPandas — all geometry types, no schema-inference
    fights with ragged coordinate nesting. Splittable text scan."""
    return _geojson_from_lines(
        spark.read.text(path), id_field=id_field,
        date_field=date_field, date_pattern=date_pattern,
    )


def geojson_parts(geom: dict) -> tuple[str, list] | None:
    """GeoJSON geometry dict -> the engine's (gtype, parts) — directly,
    no WKT round-trip. Validity rules mirror model/geometry.parse_wkt:
    finite coords, LINESTRING >= 2 points, polygon rings closed with
    >= 4 points, MULTIPOLYGON as a flattened ring list."""
    import math

    t = (geom or {}).get("type", "")
    c = (geom or {}).get("coordinates")
    if c is None:
        return None

    def pts(seq):
        out = []
        for p in seq:
            x, y = float(p[0]), float(p[1])
            if not (math.isfinite(x) and math.isfinite(y)):
                return None
            out.append([x, y])
        return out

    def ring(seq):
        r = pts(seq)
        if r is None or len(r) < 4 or r[0] != r[-1]:
            return None
        return r

    try:
        if t == "Point":
            got = pts([c])
            return ("POINT", [got]) if got else None
        if t == "MultiPoint":
            got = pts(c)
            return ("MULTIPOINT", [[p] for p in got]) if got else None
        if t == "LineString":
            got = pts(c)
            return ("LINESTRING", [got]) if got and len(got) >= 2 else None
        if t == "MultiLineString":
            parts = [pts(part) for part in c]
            if not parts or any(p is None or len(p) < 2 for p in parts):
                return None
            return ("MULTILINESTRING", parts)
        if t == "Polygon":
            rings = [ring(r) for r in c]
            if not rings or any(r is None for r in rings):
                return None
            return ("POLYGON", rings)
        if t == "MultiPolygon":
            rings = [ring(r) for poly in c for r in poly]
            if not rings or any(r is None for r in rings):
                return None
            return ("MULTIPOLYGON", rings)
    except (TypeError, ValueError, IndexError):
        return None
    return None


def _geojson_from_lines(
    lines: DataFrame,
    id_field: str,
    date_field: str | None,
    date_pattern: str,
) -> DataFrame:
    """Shared feature-parsing pipeline over a one-JSON-object-per-row
    ``value`` column (used by both the NDJSON and FeatureCollection
    readers). Arrow-native and WKT-free: JSON coordinate arrays land in
    the flat-buffer GeometryAccumulator directly (the previous pipeline
    serialized every geometry to WKT text only to regex-parse it back)."""
    import json

    from ds_jedai_spark.model.geometry import GeometryAccumulator

    def parse(batches):
        for batch in batches:
            rows = batch.column(0).to_pylist()
            feats = []
            for line in rows:
                try:
                    feats.append(json.loads(line))
                except (ValueError, TypeError):
                    continue
            acc = GeometryAccumulator(len(feats))
            ids, dates = [], []
            for feat in feats:
                props = feat.get("properties") or {}
                rid = props.get(id_field)
                # Properties may carry numeric ids; the row format's id
                # is a string column — stringify so Arrow holds.
                ids.append(None if rid is None else str(rid))
                dates.append(props.get(date_field) if date_field else None)
                parsed = geojson_parts(feat.get("geometry"))
                if parsed is None:
                    acc.add_invalid()
                else:
                    acc.add(*parsed)
            yield record_batch(
                ids, dates if date_field is not None else None, acc)

    out = valid_geometries(
        lines.mapInArrow(parse, row_schema(date_field is not None)))
    return out if date_field is None else with_ts(out, date_pattern)


GEOMETRY_PREDICATE = "<http://www.opengis.net/ont/geosparql#asWKT>"


def read_ntriples(
    spark: SparkSession,
    path: str,
    geometry_predicate: str = GEOMETRY_PREDICATE,
) -> DataFrame:
    """RDF N-Triples scan (reference Reader.loadRdfAsTextual): keep triples
    whose predicate is the geometry predicate, strip IRI brackets and
    literal quotes, parse the WKT object."""
    raw = spark.read.text(path)
    pred = geometry_predicate.replace("<", "").replace(">", "")
    parts = F.split(F.col("value"), " ", 3)
    df = (
        raw.select(
            F.regexp_replace(parts[0], "[<>]", "").alias("id"),
            F.regexp_replace(parts[1], "[<>]", "").alias("predicate"),
            F.regexp_extract(parts[2], '"(.*)"', 1).alias("wkt"),
        )
        .where(F.col("predicate") == pred)
        .drop("predicate")
    )
    return _finish(df, None, DEFAULT_DATE_PATTERN)


def read_geojson_collection(
    spark: SparkSession,
    path: str,
    id_field: str = "id",
    date_field: str | None = None,
    date_pattern: str = DEFAULT_DATE_PATTERN,
) -> DataFrame:
    """Whole-document GeoJSON FeatureCollection scan.

    Real-world GeoJSON often ships one FeatureCollection object per file
    rather than newline-delimited features. A whole-file JSON document is
    NOT splittable, so this reader targets many-small-files layouts (one
    task per file via wholeTextFiles-style `wholetext`); for a single
    multi-GB collection, convert to NDJSON first and use read_geojson.
    Parsing reuses read_geojson's feature pipeline by re-emitting each
    feature as its own JSON line inside the batch iterator."""
    import json

    import pandas as pd

    def split_features(batches):
        for pdf in batches:
            lines = []
            for doc in pdf["value"]:
                try:
                    obj = json.loads(doc)
                except (ValueError, TypeError):
                    continue
                feats = (
                    obj.get("features", [])
                    if obj.get("type") == "FeatureCollection"
                    else [obj]
                )
                lines.extend(json.dumps(f) for f in feats)
            yield pd.DataFrame({"value": lines})

    ndjson = (
        spark.read.option("wholetext", True)
        .text(path)
        .mapInPandas(split_features, "value string")
    )
    return _geojson_from_lines(
        ndjson, id_field=id_field, date_field=date_field,
        date_pattern=date_pattern,
    )


def crs_identifier(crs: dict | str | None, present: bool) -> str | None:
    """Normalize a GeoParquet column ``crs`` value to a comparable
    identifier string. PROJJSON carries the authority code under
    ``id``; a crs key that is present-but-null, or absent entirely,
    means the spec default OGC:CRS84. ``present=False`` (no geo footer
    at all) is UNKNOWN — None, never compared."""
    if not present:
        return None
    if crs is None:
        return "OGC:CRS84"
    if isinstance(crs, str):
        return crs
    cid = crs.get("id") or {}
    auth, code = cid.get("authority"), cid.get("code")
    if auth is not None and code is not None:
        return f"{auth}:{code}"
    name = crs.get("name")
    return str(name) if name else "OGC:CRS84"


def _geoparquet_geo_meta(path: str) -> tuple[str | None, dict | None]:
    """GeoParquet footer sniff: the spec stores a JSON document under the
    ``geo`` key of the file's key-value metadata naming the
    primary_column (and per-column metadata such as ``crs``).
    Returns (primary_column, that column's metadata dict). Driver-side,
    one file's footer only (a directory reads its first part file) —
    auto-detection plus CRS awareness; an explicit geom_field never
    needs the column name."""
    import json
    import os

    try:
        import pyarrow.parquet as pq

        p = path
        if os.path.isdir(p):
            hits = corpus_files(p, ".parquet")
            if not hits:
                return None, None
            p = hits[0]
        meta = pq.read_schema(p).metadata or {}
        geo = meta.get(b"geo")
        if not geo:
            return None, None
        doc = json.loads(geo.decode("utf-8"))
        col = doc.get("primary_column")
        if not isinstance(col, str):
            return None, None
        colmeta = (doc.get("columns") or {}).get(col)
        return col, (colmeta if isinstance(colmeta, dict) else {})
    except Exception:
        return None, None


def read_parquet_dataset(
    spark: SparkSession,
    path: str,
    id_field: str = "id",
    geom_field: str | None = None,
    date_field: str | None = None,
    date_pattern: str = DEFAULT_DATE_PATTERN,
) -> DataFrame:
    """Engine-native parquet ingestion: a dataset already in the row
    format (gtype/coords/envelope columns) loads with zero parsing — the
    fast path for data previously exported by this engine or prepared
    upstream. Column pruning and predicate pushdown apply directly.

    Fallbacks for plain user parquet (reference-era surface:
    utils/readers/Reader.scala:85-168 via Sedona readers):

    - **GeoParquet / WKB**: a binary geometry column parses through
      model/geometry.parse_wkb (ISO + EWKB, any endianness) inside the
      same Arrow batch path as the WKT readers. The column is found by
      ``geom_field``, else the GeoParquet ``geo`` footer metadata's
      primary_column, else a binary column named ``geometry``.
    - **WKT string column** (``geom_field``): parses like the delimited
      readers — so `-op relate -left data.parquet -geom-col wkt` works
      on plain user tables, not only engine exports."""
    df = spark.read.parquet(path)
    if date_field is not None and date_field not in df.columns:
        raise ValueError(
            f"date column {date_field!r} not in parquet dataset "
            f"{path!r} (columns: {df.columns})"
        )

    def _is_temporal(name: str) -> bool:
        return df.schema[name].dataType.typeName() in (
            "timestamp", "timestamp_ntz", "date"
        )

    cols = {"gtype", "coords", "minx", "miny", "maxx", "maxy"}
    missing = cols - set(df.columns)
    if missing:
        if (geom_field is not None and geom_field != "wkt"
                and geom_field not in df.columns):
            # An EXPLICIT geometry column that isn't there is a user
            # error (likely a -geom-col typo) — falling through to
            # auto-detection would silently parse a different column
            # than the one named. Only None and the CLI's 'wkt' default
            # may auto-detect.
            raise ValueError(
                f"geometry column {geom_field!r} not in parquet dataset "
                f"{path!r} (columns: {df.columns})"
            )
        gcol = geom_field if geom_field in df.columns else None
        geo_col, geo_colmeta = _geoparquet_geo_meta(path)
        if gcol is None:
            # geom_field not passed (or the 'wkt' default is absent):
            # fall through to GeoParquet auto-detection — `-op relate`
            # on a GeoParquet file works with zero flags even though
            # the CLI's -geom-col default is 'wkt'.
            gcol = geo_col
            if gcol not in df.columns:
                gcol = "geometry" if "geometry" in df.columns else None
        if gcol is None:
            raise ValueError(
                f"parquet dataset missing row-format columns: "
                f"{sorted(missing)}"
                + (f" and no geometry column {geom_field!r} to parse"
                   if geom_field else
                   " and no GeoParquet/WKB/WKT geometry column detected"
                   " (pass geom_field)")
            )
        # CRS awareness (read side): when the GeoParquet footer covers
        # the column being parsed, carry its CRS on the result (column
        # metadata on gtype) so api.run can warn on source/target CRS
        # mismatch. No footer -> unknown -> no metadata, never compared.
        crs_id = None
        crs_raw = None
        if geo_colmeta is not None and gcol == geo_col:
            crs_raw = geo_colmeta.get("crs")
            crs_id = crs_identifier(crs_raw, present=True)

        def _with_crs(out: DataFrame) -> DataFrame:
            if crs_id is None:
                return out
            import json as _json

            meta = {"crs": crs_id}
            if isinstance(crs_raw, dict):
                meta["crs_projjson"] = _json.dumps(crs_raw)
            return out.withMetadata("gtype", meta)

        is_wkb = df.schema[gcol].dataType.typeName() == "binary"
        geom_alias = "wkb" if is_wkb else "wkt"
        keep = [F.col(id_field).alias("id"),
                (F.col(gcol) if is_wkb
                 else F.col(gcol).cast("string")).alias(geom_alias)]
        typed_ts = date_field is not None and _is_temporal(date_field)
        if typed_ts:
            # already a temporal type: no string round-trip (an ANSI
            # to_timestamp would choke on the fractional seconds a
            # cast-to-string carries)
            keep.append(F.col(date_field).cast("timestamp").alias("ts"))
        elif date_field is not None:
            keep.append(F.col(date_field).cast("string").alias("ts_raw"))
        sel = df.select(*keep)
        if is_wkb:
            out = valid_geometries(
                with_parsed_geometry_wkb(sel, "wkb")
            ).drop("wkb")
            if date_field is not None and not typed_ts:
                out = with_ts(out, date_pattern)
            return _with_crs(out)
        return _with_crs(
            _finish(sel, None if typed_ts else date_field, date_pattern)
        )
    if id_field != "id":
        df = df.withColumnRenamed(id_field, "id")
    if date_field is not None and date_field != "ts":
        # Honor -date-col on the row-format fast path too: surface the
        # named column as the engine's `ts` (temporal types cast
        # directly; strings parse with the configured pattern) instead
        # of failing later as a missing-ts AnalysisException in the
        # temporal filter.
        df = df.drop("ts") if "ts" in df.columns else df
        ts = (F.col(date_field).cast("timestamp") if _is_temporal(date_field)
              else parse_ts_cell(F.col(date_field).cast("string"),
                                 date_pattern))
        df = df.withColumn("ts", ts).drop(date_field)
    elif date_field == "ts" and not _is_temporal("ts"):
        # -date-col ts on a row-format table whose ts column is a
        # STRING: parse it like any other named date column so the
        # temporal operators downstream get a real timestamp.
        df = df.withColumn(
            "ts", parse_ts_cell(F.col("ts").cast("string"), date_pattern)
        )
    return df

"""Result sinks (reference: src/main/scala/utils/Utils.scala:34-98).

CSV pair export, GeoSPARQL RDF triples per qualifying relation, fixed-
predicate N-Triples, and matching-pairs TSV. All are plain DataFrame
writes — distributed, no driver collection (the reference's coalesce(1)
for N-Triples is kept as an option for small outputs only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

GEOSPARQL = "http://www.opengis.net/ont/geosparql#"
RELATION_PREDICATES = {
    "contains": "sfContains",
    "coveredby": "ehCoveredBy",
    "covers": "ehCovers",
    "crosses": "sfCrosses",
    "equals": "sfEquals",
    "intersects": "sfIntersects",
    "overlaps": "sfOverlaps",
    "touches": "sfTouches",
    "within": "sfWithin",
}


def export_csv_pairs(pairs: DataFrame, path: str) -> None:
    """(s_id, t_id) pairs with header (reference exportCSV)."""
    pairs.select("s_id", "t_id").write.option("header", True).mode(
        "overwrite"
    ).csv(path)


def export_matching_pairs_tsv(pairs: DataFrame, path: str) -> None:
    """``s\\tt\\t1.0`` lines (reference exportMatchingPairs)."""
    pairs.select(
        F.col("s_id").cast("string"),
        F.col("t_id").cast("string"),
        F.lit("1.0"),
    ).write.option("delimiter", "\t").mode("overwrite").csv(path)


def export_rdf(relations: DataFrame, path: str) -> None:
    """One GeoSPARQL triple per true relation flag per pair (reference
    exportRDF): expects r_<relation> boolean columns."""
    triples = None
    for rel, pred in RELATION_PREDICATES.items():
        col = f"r_{rel}"
        if col not in relations.columns:
            continue
        t = relations.where(F.col(col)).select(
            F.concat(
                F.lit("<"),
                F.col("s_id").cast("string"),
                F.lit(f"> <{GEOSPARQL}{pred}> <"),
                F.col("t_id").cast("string"),
                F.lit("> ."),
            ).alias("value")
        )
        triples = t if triples is None else triples.union(t)
    if triples is not None:
        triples.write.mode("overwrite").text(path)


def export_ntriples(
    pairs: DataFrame, path: str, predicate: str = f"{GEOSPARQL}sfIntersects", single_file: bool = False
) -> None:
    """Fixed-predicate triples (reference exportNTRIPLES)."""
    out = pairs.select(
        F.concat(
            F.lit("<"),
            F.col("s_id").cast("string"),
            F.lit(f"> <{predicate}> <"),
            F.col("t_id").cast("string"),
            F.lit("> ."),
        ).alias("value")
    )
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)


def geojson_lines(entities: DataFrame) -> DataFrame:
    """One NDJSON Feature per entity from the engine row format
    (id, gtype, coords) — the inverse of readers.read_geojson. Arrow-
    batched; export is off the hot path by design."""
    import json

    from ds_jedai_spark.model.geometry import regroup_rings

    def to_feature(gtype: str, parts) -> dict | None:
        parts = [[list(map(float, p)) for p in part] for part in parts]
        if gtype == "POINT":
            return {"type": "Point", "coordinates": parts[0][0]}
        if gtype == "LINESTRING":
            return {"type": "LineString", "coordinates": parts[0]}
        if gtype == "POLYGON":
            return {"type": "Polygon", "coordinates": parts}
        if gtype == "MULTIPOINT":
            return {"type": "MultiPoint", "coordinates": [p[0] for p in parts]}
        if gtype == "MULTILINESTRING":
            return {"type": "MultiLineString", "coordinates": parts}
        if gtype == "MULTIPOLYGON":
            # Row-format multipolygon parts are flattened rings, shell
            # first per polygon; recover the OGC per-polygon grouping
            # with the exact nesting test (model/geometry.regroup_rings)
            # so hole-bearing multipolygons export structurally correct.
            return {"type": "MultiPolygon", "coordinates": regroup_rings(parts)}
        return None

    # A ts column round-trips through properties (read back with
    # read_geojson(date_field="ts")); the default date pattern both
    # sides share makes the export/ingest loop lossless to the second.
    has_ts = "ts" in entities.columns

    def run(batches):
        import pandas as pd

        for pdf in batches:
            lines = []
            tss = (pdf["ts"] if has_ts
                   else pd.Series([None] * len(pdf)))
            for rid, gtype, coords, ts in zip(
                pdf["id"], pdf["gtype"], pdf["coords"], tss
            ):
                geom = to_feature(gtype, coords)
                if geom is None:
                    continue
                props = {"id": str(rid)}
                if ts is not None and ts == ts:  # skip NULL/NaT
                    # RFC 3339 / ISO-8601 'T' (GeoJSON convention)
                    props["ts"] = ts.strftime("%Y-%m-%dT%H:%M:%S")
                lines.append(json.dumps({
                    "type": "Feature",
                    "geometry": geom,
                    "properties": props,
                }))
            yield pd.DataFrame({"value": lines})

    cols = ["id", "gtype", "coords"] + (["ts"] if has_ts else [])
    return entities.select(*cols).mapInPandas(run, "value string")


def export_geojson(entities: DataFrame, path: str) -> None:
    """NDJSON GeoJSON feature export (splittable on re-read)."""
    geojson_lines(entities).write.mode("overwrite").text(path)


def export_geoparquet(
    entities: DataFrame,
    path: str,
    geom_col: str = "geometry",
    crs: dict | None = None,
) -> None:
    """GeoParquet export from the engine row format: id + a binary
    ``geom_col`` column (little-endian ISO WKB via model/geometry.
    format_wkb) — the inverse of read_parquet_dataset's WKB path.

    After the distributed write, every part file's footer is stamped
    with the GeoParquet ``geo`` metadata (primary_column, WKB encoding,
    optional PROJJSON ``crs``), so external tools (GeoPandas/GDAL) and
    this engine's reader both recognize the output as GeoParquet by
    footer, not by column-name convention. Stamping rewrites each part
    file once driver-side with pyarrow (Spark's writer owns the footer
    during the job); part files are bounded by the write's partitioning,
    and export is off the hot path by design — for very large exports
    the loop parallelizes trivially per file."""
    import pandas as pd

    from ds_jedai_spark.model.geometry import format_wkb

    def run(batches):
        for pdf in batches:
            wkbs = [
                format_wkb(g, c) for g, c in zip(pdf["gtype"], pdf["coords"])
            ]
            yield pd.DataFrame({"id": pdf["id"].astype(str),
                                geom_col: wkbs})

    (
        entities.select("id", "gtype", "coords")
        .mapInPandas(run, f"id string, {geom_col} binary")
        .write.mode("overwrite")
        .parquet(path)
    )
    stamp_geo_footer(path, geom_col=geom_col, crs=crs)


def stamp_geo_footer(
    path: str, geom_col: str = "geometry", crs: dict | None = None
) -> int:
    """Add GeoParquet ``geo`` footer metadata to every parquet part file
    under ``path`` (or to ``path`` itself if it is a single file).
    Returns the number of files stamped. ``crs`` is a PROJJSON dict;
    omitted means the spec default (OGC:CRS84)."""
    import json
    import os

    import pyarrow.parquet as pq

    from ds_jedai_spark.io.scan import corpus_files

    colmeta: dict = {"encoding": "WKB", "geometry_types": []}
    if crs is not None:
        colmeta["crs"] = crs
    geo = json.dumps({
        "version": "1.0.0",
        "primary_column": geom_col,
        "columns": {geom_col: colmeta},
    }).encode("utf-8")

    # the part files the reader's footer sniff (readers.py) lists too
    files = [path] if os.path.isfile(path) else corpus_files(path, ".parquet")
    for p in files:
        table = pq.read_table(p)
        meta = dict(table.schema.metadata or {})
        meta[b"geo"] = geo
        pq.write_table(table.replace_schema_metadata(meta), p)
        # Spark's local-FS committer leaves a CRC sidecar per part file;
        # the rewrite invalidates it and a later Spark read would fail
        # with ChecksumException — drop the stale sidecar.
        crc = os.path.join(os.path.dirname(p),
                           f".{os.path.basename(p)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return len(files)

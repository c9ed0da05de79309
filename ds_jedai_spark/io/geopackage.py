"""Distributed GeoPackage (.gpkg) reader.

Format: the public OGC GeoPackage Encoding Standard — feature tables in
an SQLite container, geometry cells as GeoPackageBinary (an 8+ byte
"GP" header with optional envelope, then standard WKB, which
model/geometry.parse_wkb already handles). Stdlib sqlite3 is the only
dependency. The reference era would have reached .gpkg via GDAL/Sedona;
this engine reads it natively into the same row format as every other
reader.

Scale design: SQLite is a single file, but feature rows are addressable
by rowid, so the DRIVER reads only the catalog tables
(gpkg_contents / gpkg_geometry_columns / gpkg_spatial_ref_sys, a few
rows each) plus min/max rowid, and plans ROWID-RANGE splits; EXECUTORS
open the file read-only (sqlite URI mode=ro) and each runs one
`SELECT ... WHERE rowid BETWEEN a AND b` — index-backed, no scan
overlap, arbitrarily many concurrent readers. A directory of .gpkg
shards plans every file's splits into the same scan: the shared binary
scan (io/scan.py) runs them as one mapInArrow and owns the listing, the
absent-field rule, the Arrow batch, the exact bbox filter, the date
parse and the one-CRS rule. Like the shapefile reader, paths must be
executor-readable; convert once for object stores.

Malformed geometry cells (bad GPB magic, truncated envelope, undecodable
WKB) drop per-row exactly like unparseable WKT: None -> add_invalid ->
valid_geometries. A file that is not an SQLite database or has no
feature table is a hard user error.
"""

from __future__ import annotations

import os
import sqlite3
import struct

from pyspark.sql import DataFrame, SparkSession

from ds_jedai_spark.config import DEFAULT_DATE_PATTERN
from ds_jedai_spark.io.scan import (
    clear_corpus,
    list_files,
    resolve_fields,
    scan,
)

# Measured on a 2M-point table, 32 cores
# (`python bench_scale.py reader_scale gpkg`):
# whole-table 24.2 s, 250k-row splits 9.9 s (8 splits — starves the
# cores), 50k-row splits 4.0 s (40 splits, 6.1×). Range selects are
# index-backed so finer splits cost only a connection open each; big
# tables get proportionally more splits, small ones still one task.
# Those walls were timed without a warm-up scan (the whole-table leg
# also paid the Python-worker start), so they are unverified until
# `reader_scale gpkg` is rerun at that size.
DEFAULT_SPLIT_ROWS = 50_000

# envelope indicator (flags bits 1-3) -> number of doubles
_ENV_DOUBLES = {0: 0, 1: 4, 2: 6, 3: 6, 4: 8}


def strip_gpb(blob) -> bytes | None:
    """GeoPackageBinary -> the contained WKB bytes; None for malformed
    headers or the empty-geometry flag. Never raises on hostile bytes
    (fuzz-pinned). Header: magic 'GP', version, flags (bit 0 header
    byte order, bits 1-3 envelope indicator, bit 4 empty, bit 5
    extended), int32 srs_id, envelope doubles, then WKB."""
    try:
        b = bytes(blob)
        if len(b) < 8 or b[0] != 0x47 or b[1] != 0x50:
            return None
        flags = b[3]
        if flags & 0x20:  # extended type: vendor payload, not plain WKB
            return None
        if flags & 0x10:  # empty geometry: drops like WKT EMPTY
            return None
        env = _ENV_DOUBLES.get((flags >> 1) & 0x07)
        if env is None:
            return None
        off = 8 + 8 * env
        if off >= len(b):
            return None
        return b[off:]
    except Exception:
        return None


def _catalog(path: str, table: str | None, bbox):
    """Driver-side: (table, geom_col, crs_id, columns, lo, hi, n_rows,
    rtree). Reads only catalog rows plus one min/max/count aggregate —
    over the rows whose R*Tree envelope meets ``bbox`` when a bbox is
    given and the file carries the spec's index (gpkg_rtree_index
    extension; ``rtree`` names it, else None)."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        try:
            feats = con.execute(
                "SELECT table_name, srs_id FROM gpkg_contents "
                "WHERE data_type = 'features' ORDER BY table_name"
            ).fetchall()
        except sqlite3.DatabaseError as e:
            raise ValueError(
                f"{path!r} is not a GeoPackage ({e})"
            ) from None
        if table is None:
            if not feats:
                raise ValueError(f"{path!r} has no feature tables")
            if len(feats) > 1:
                raise ValueError(
                    f"{path!r} has multiple feature tables "
                    f"{[t for t, _ in feats]}; pass table=..."
                )
            table = feats[0][0]
        elif table not in {t for t, _ in feats}:
            raise ValueError(
                f"feature table {table!r} not in {path!r} "
                f"(tables: {[t for t, _ in feats]})"
            )
        row = con.execute(
            "SELECT column_name, srs_id FROM gpkg_geometry_columns "
            "WHERE table_name = ?", (table,)
        ).fetchone()
        if row is None:
            raise ValueError(f"{table!r} has no gpkg_geometry_columns row")
        geom_col, srs = row
        crs = None
        srs_row = con.execute(
            "SELECT organization, organization_coordsys_id "
            "FROM gpkg_spatial_ref_sys WHERE srs_id = ?", (srs,)
        ).fetchone()
        if srs_row and srs_row[0] and int(srs_row[1]) > 0:
            crs = f"{srs_row[0].upper()}:{srs_row[1]}"
        cols = [r[1] for r in con.execute(f'PRAGMA table_info("{table}")')]
        rtree = f"rtree_{table}_{geom_col}"
        if bbox is None or not con.execute(
            "SELECT 1 FROM sqlite_master WHERE name = ?", (rtree,)
        ).fetchone():
            rtree = None
            lo, hi, n_rows = con.execute(
                f'SELECT min(rowid), max(rowid), count(*) FROM "{table}"'
            ).fetchone()
        else:
            # narrow the planning range to the index's matching span;
            # the per-split subquery does the fine-grained pruning
            bx0, by0, bx1, by1 = (float(v) for v in bbox)
            lo, hi, n_rows = con.execute(
                f'SELECT min(id), max(id), count(*) FROM "{rtree}" '
                "WHERE maxx >= ? AND minx <= ? "
                "AND maxy >= ? AND miny <= ?",
                (bx0, bx1, by0, by1),
            ).fetchone()
        return table, geom_col, crs, cols, lo, hi, n_rows, rtree
    finally:
        con.close()


def _plan_file(
    path: str,
    table: str | None,
    id_field: str | None,
    date_field: str | None,
    split_rows: int,
    bbox,
    prefix: str,
) -> tuple[list[dict], str | None]:
    """Plan one file's rowid-range splits (driver-side, catalog rows
    only); each split carries the file's path and its range SELECT so a
    corpus maps through one executor closure. Rowid-fallback ids get
    ``prefix``."""
    table, geom_col, crs, cols, lo, hi, n_rows, rtree = _catalog(
        path, table, bbox)
    use_id, use_date = resolve_fields(cols, id_field, date_field,
                                      f"table {table!r}")

    sel_id = f', "{use_id}"' if use_id else ""
    sel_dt = f', "{use_date}"' if use_date else ""
    sql = (f'SELECT rowid{sel_id}{sel_dt}, "{geom_col}" FROM "{table}" '
           f"WHERE rowid BETWEEN ? AND ?")
    if rtree is not None:
        bx0, by0, bx1, by1 = (float(v) for v in bbox)
        sql += (
            f' AND rowid IN (SELECT id FROM "{rtree}" '
            f"WHERE maxx >= {bx0!r} AND minx <= {bx1!r} "
            f"AND maxy >= {by0!r} AND miny <= {by1!r})"
        )
    ctx = dict(path=path, sql=sql, use_id=bool(use_id),
               use_date=bool(use_date), prefix=prefix)
    splits: list[dict] = []
    if lo is not None and n_rows > 0:
        # Plan by ROW COUNT, not rowid span: sparse/large fids (after
        # deletes, or externally assigned) would otherwise yield an
        # enormous number of vacuous splits. Cap at ceil(n/split_rows)
        # splits by widening the rowid stride to cover the span.
        max_splits = -(-n_rows // split_rows)
        stride = max(split_rows, -(-(hi - lo + 1) // max_splits))
        a = lo
        while a <= hi:
            splits.append(dict(ctx, a=a, b=min(hi, a + stride - 1)))
            a += stride
    return splits, crs


def _decode(s: dict):
    """Executor-side: one read-only connection and one range SELECT per
    split; returns (ids, date cells, accumulator)."""
    from ds_jedai_spark.model.geometry import GeometryAccumulator, parse_wkb

    con = sqlite3.connect(f"file:{s['path']}?mode=ro", uri=True)
    try:
        rows = con.execute(s["sql"], (s["a"], s["b"])).fetchall()
    finally:
        con.close()
    acc = GeometryAccumulator(len(rows))
    ids, dates = [], []
    for r in rows:
        rowid, rest = r[0], list(r[1:])
        blob = rest.pop()
        if s["use_id"]:
            rid = rest.pop(0)
            ids.append(None if rid is None else str(rid))
        else:
            ids.append(f"{s['prefix']}{rowid}")
        dates.append(
            None if not s["use_date"] or rest[0] is None else str(rest[0])
        )
        wkb = strip_gpb(blob)
        parsed = parse_wkb(wkb) if wkb is not None else None
        if parsed is None:
            acc.add_invalid()
        else:
            acc.add(*parsed)
    return ids, dates, acc


def read_geopackage(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    id_field: str | None = "id",
    date_field: str | None = None,
    date_pattern: str = DEFAULT_DATE_PATTERN,
    split_rows: int = DEFAULT_SPLIT_ROWS,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """GeoPackage feature scan landing in the engine row format, through
    the shared binary scan (io/scan.py).

    ``path``: one .gpkg file, a directory of them (top-level *.gpkg,
    else recursive — export_geopackage_sharded's layout) or a glob
    pattern; a missing file raises ``no such GeoPackage``. Every file's
    rowid-range splits run in ONE scan. ``table`` selects the feature
    table (required only when a file has several). ``id_field`` names
    a column; None — or the 'id' default when absent — falls back to
    the table's rowid, prefixed '<stem>:' when ``path`` is a directory
    or pattern so the ids stay unique across shards (explicitly named
    absent columns raise, the parquet-reader contract). ``date_field``
    names a column parsed with ``date_pattern``. The declared SRS becomes CRS
    metadata on gtype (api.run compares source/target); files of one
    corpus declaring DIFFERENT SRS raise.

    ``bbox`` = (minx, miny, maxx, maxy) pushes the envelope predicate
    INTO the container when the file carries the spec's R*Tree index
    (gpkg_rtree_index extension, the engine sink writes it): the
    driver narrows the rowid planning range to the index's matching
    span and every split's range select adds an R*Tree subquery, so
    executors fetch only candidate rows (the index stores float32
    envelopes rounded outward — a conservative superset); the scan's
    exact envelope filter on the output finishes the job, and is the
    whole story on files without the index."""
    files = list_files(path, ".gpkg", "GeoPackage")
    splits: list[dict] = []
    crss: list[str | None] = []
    for f in files:
        prefix = ("" if files == [path]
                  else os.path.splitext(os.path.basename(f))[0] + ":")
        s, crs = _plan_file(f, table, id_field, date_field, split_rows,
                            bbox, prefix)
        splits.extend(s)
        crss.append(crs)
    return scan(
        spark, splits, _decode, path=path, ext=".gpkg", crss=crss,
        dated=date_field is not None, date_pattern=date_pattern, bbox=bbox,
    )


def export_geopackage(
    entities: DataFrame,
    path: str,
    table: str = "features",
    crs_id: tuple[str, int] | None = None,
) -> None:
    """Single-file GeoPackage sink (driver-side assembly).

    SQLite is a single-writer container, so unlike the shapefile /
    GeoParquet sinks this one funnels rows through the driver via
    toLocalIterator (partition-at-a-time, not a full collect) — use it
    for result exports and interop handoffs, not bulk data movement;
    export_geopackage_sharded (a directory of per-partition .gpkg,
    executor-written) and the geoparquet/shapefile/sharded-fgb sinks
    are the scale path. Geometry is GPB-wrapped little-endian ISO WKB;
    id (and ts when present) land as columns."""
    has_ts = "ts" in entities.columns
    cols = ["id", "gtype", "coords"] + (["ts"] if has_ts else [])
    rows = (
        (r.id, r.gtype, r.coords, r.ts if has_ts else None)
        for r in entities.select(*cols).toLocalIterator()
    )
    _assemble_gpkg(path, rows, table, crs_id, has_ts)


def _assemble_gpkg(
    path: str,
    rows,
    table: str,
    crs_id: tuple[str, int] | None,
    has_ts: bool,
) -> int:
    """Assemble ONE spec-conformant .gpkg from an iterator of
    (id, gtype, coords, ts|None) rows — called driver-side by the
    single-file sink and executor-side (one call per shard) by
    export_geopackage_sharded. Returns the feature count."""
    from ds_jedai_spark.model.geometry import format_wkb

    srs_org, srs_code = crs_id or ("NONE", 0)
    srs_id = srs_code if crs_id else 0
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.executescript(
            """
            PRAGMA application_id = 1196444487;
            PRAGMA user_version = 10300;
            CREATE TABLE gpkg_spatial_ref_sys (
              srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
              organization TEXT NOT NULL,
              organization_coordsys_id INTEGER NOT NULL,
              definition TEXT NOT NULL, description TEXT);
            CREATE TABLE gpkg_contents (
              table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL,
              identifier TEXT UNIQUE, description TEXT DEFAULT '',
              last_change DATETIME, min_x DOUBLE, min_y DOUBLE,
              max_x DOUBLE, max_y DOUBLE, srs_id INTEGER);
            CREATE TABLE gpkg_geometry_columns (
              table_name TEXT NOT NULL, column_name TEXT NOT NULL,
              geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
              z TINYINT NOT NULL, m TINYINT NOT NULL,
              CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name));
            """
        )
        con.execute(
            "INSERT INTO gpkg_spatial_ref_sys VALUES "
            "('undefined', -1, 'NONE', -1, 'undefined', NULL), "
            "('undefined', 0, 'NONE', 0, 'undefined', NULL)"
        )
        if crs_id:
            con.execute(
                "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,NULL)",
                (f"{srs_org}:{srs_code}", srs_id, srs_org, srs_code,
                 "undefined"),
            )
        ts_col = ", ts TEXT" if has_ts else ""
        con.execute(
            f'CREATE TABLE "{table}" (fid INTEGER PRIMARY KEY, '
            f"id TEXT, geom BLOB{ts_col})"
        )
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, 'geom', "
            "'GEOMETRY', ?, 0, 0)", (table, srs_id),
        )
        # flags 0x01: header ints little-endian, no envelope, not empty
        header = b"GP" + bytes([0, 0x01]) + struct.pack("<i", srs_id)
        # spec gpkg_rtree_index extension: an R*Tree over the feature
        # envelopes so THIS reader's bbox pushdown (and third-party
        # consumers) can prune candidate rows inside the container.
        # Created UP FRONT and fed from the envelopes already in hand
        # during the single insert pass below — no second fetchall()
        # of the whole table back into driver memory, no WKB re-parse
        # (ADVICE r14). Skipped gracefully on sqlite builds without
        # the rtree module.
        rt = f"rtree_{table}_geom"
        rtree_ok = True
        try:
            con.execute(
                f'CREATE VIRTUAL TABLE "{rt}" USING rtree('
                "id, minx, maxx, miny, maxy)"
            )
        except sqlite3.OperationalError:
            rtree_ok = False  # plain (spec-valid) GeoPackage
        n = 0
        box = None
        ins = (f'INSERT INTO "{table}" (fid, id, geom'
               f'{", ts" if has_ts else ""})'
               f' VALUES (?, ?, ?{", ?" if has_ts else ""})')
        ins_rt = f'INSERT INTO "{rt}" VALUES (?,?,?,?,?)'
        BATCH = 4096
        feat_batch: list[tuple] = []
        env_batch: list[tuple] = []

        def flush() -> None:
            if feat_batch:
                con.executemany(ins, feat_batch)
                feat_batch.clear()
            if env_batch:
                con.executemany(ins_rt, env_batch)
                env_batch.clear()

        for rid, gtype, coords, ts in rows:
            blob = header + format_wkb(gtype, coords)
            n += 1
            vals = [n, str(rid), blob]
            if has_ts:
                # ISO-8601 'T': the GeoPackage spec's DATETIME text
                # convention (readers here accept both via the ISO
                # fallback in parse_ts_cell)
                vals.append(
                    ts.strftime("%Y-%m-%dT%H:%M:%S")
                    if ts is not None and ts == ts else None  # NaT-safe
                )
            feat_batch.append(tuple(vals))
            xs = [p[0] for part in coords for p in part]
            ys = [p[1] for part in coords for p in part]
            b = (min(xs), min(ys), max(xs), max(ys))
            box = b if box is None else (
                min(box[0], b[0]), min(box[1], b[1]),
                max(box[2], b[2]), max(box[3], b[3]),
            )
            if rtree_ok:
                env_batch.append((n, b[0], b[2], b[1], b[3]))
            if len(feat_batch) >= BATCH:
                flush()
        flush()
        con.execute(
            "INSERT INTO gpkg_contents VALUES (?, 'features', ?, '', "
            "datetime('now'), ?, ?, ?, ?, ?)",
            (table, table, *(box or (None,) * 4), srs_id),
        )
        if rtree_ok:
            con.execute(
                "CREATE TABLE IF NOT EXISTS gpkg_extensions ("
                "table_name TEXT, column_name TEXT, "
                "extension_name TEXT NOT NULL, definition TEXT NOT NULL,"
                " scope TEXT NOT NULL)"
            )
            con.execute(
                "INSERT INTO gpkg_extensions VALUES (?, 'geom', "
                "'gpkg_rtree_index', "
                "'http://www.geopackage.org/spec/#extension_rtree', "
                "'write-only')", (table,),
            )
        con.commit()
    finally:
        con.close()
    return n


def export_geopackage_sharded(
    entities: DataFrame,
    path: str,
    table: str = "features",
    crs_id: tuple[str, int] | None = None,
    spatial_shards: int | None = None,
) -> None:
    """DISTRIBUTED GeoPackage sink: one .gpkg per input partition into a
    directory — the corpus layout read_geopackage consumes as a single
    DataFrame. SQLite is a single-WRITER container per file, so the way
    to write it in parallel is one file per executor task (exactly the
    sharded-fgb strategy, io/flatgeobuf.py): each task assembles its own
    spec-conformant .gpkg — feature table, R*Tree index, catalog rows —
    via the same _assemble_gpkg the interop sink uses. ``spatial_shards
    = N`` first repartitionByRange's on (minx, miny) so each file gets a
    coherent extent (a corpus bbox read then finds no R*Tree match in
    most shards and plans no split for them). Overwrite semantics:
    pre-existing *.gpkg under the directory, nested ones included, are
    removed first (scan.clear_corpus). Executors write
    local filesystem paths — for object stores, write locally and
    upload, like the single-file sinks."""
    clear_corpus(path, ".gpkg")
    if spatial_shards:
        entities = entities.repartitionByRange(
            int(spatial_shards), "minx", "miny")
    has_ts = "ts" in entities.columns
    sel = ["id", "gtype", "coords"] + (["ts"] if has_ts else [])

    def write_parts(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list[tuple] = []
        for pdf in batches:
            tss = pdf["ts"] if has_ts else [None] * len(pdf)
            for rid, g, coords, ts in zip(
                pdf["id"], pdf["gtype"], pdf["coords"], tss
            ):
                rows.append(
                    (rid, g, [[list(p) for p in part] for part in coords],
                     ts)
                )
        n = 0
        if rows:
            n = _assemble_gpkg(
                os.path.join(path, f"part-{pid:05d}.gpkg"),
                iter(rows), table, crs_id, has_ts,
            )
        yield pd.DataFrame({"files": [1 if rows else 0], "rows": [n]})

    entities.select(*sel).mapInPandas(
        write_parts, "files long, rows long"
    ).groupBy().sum().collect()


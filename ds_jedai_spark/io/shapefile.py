"""Distributed ESRI Shapefile (.shp / .shx / .dbf / .prj) reader + sink.

Format: the public ESRI Shapefile Technical Description (July 1998).
Reference parity: the reference *intended* to ingest shapefiles via
Sedona's ShapefileReader but its dispatch is dead code (reference
utils/readers/Reader.scala:150-155 returns null), while its benchmark
corpus (TIGER layers, config/SPATIAL-HADOOP/d1.yaml:1-19) ships as
shapefiles in the wild — so this engine implements the format natively,
landing in the same row format as every other reader.

Scale design (the interesting part — a .shp is not splittable by byte
offset alone):

- The DRIVER reads only the tiny sidecars: the .shx record index
  (8 bytes/record) and the .dbf header (field layout), plus the 100-byte
  .shp header, and plans byte-range SPLITS of the .shp (default 8 MB,
  measured — see DEFAULT_SPLIT_BYTES).
- EXECUTORS do one ranged read per split and decode its records into a
  GeometryAccumulator; the shared binary scan (io/scan.py) owns the
  listing, the absent-field rule, the Arrow batch, the exact bbox
  filter, the date parse and the one-CRS rule. A single 2 GB file (the
  format's hard cap) parallelizes ~250 ways and a many-file corpus gets
  one-or-more splits per file, all in one scan.
- Record offsets come from .shx when present, so a corrupt record stays
  isolated (its neighbors still parse); without .shx the file is one
  sequential split and a corrupt record HEADER ends that file's chain.
- .dbf attributes are fixed-width records at computable offsets
  (header + i * record_size), so each split slices exactly its own
  attribute rows with one ranged read — no join between the two files.

A single .shp may be named by a filesystem URI (file://, s3://,
hdfs:// — io/fsutil routes driver planning and executor ranged reads
through pyarrow.fs, with sidecars resolved next to it); directory and
glob listings remain local-path only.

Per-record malformation (bad counts, unclosed rings, non-finite
coordinates, truncation) drops the row exactly like an unparseable WKT
cell: None -> add_invalid -> filtered by valid_geometries. A file whose
.shp header lacks the 9994 magic is a hard user error.
"""

from __future__ import annotations

import os
import re
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ds_jedai_spark.config import DEFAULT_DATE_PATTERN
from ds_jedai_spark.io.fsutil import fs_open, fs_size
from ds_jedai_spark.io.scan import list_files, resolve_fields, scan

SHP_MAGIC = 9994
# Measured on an 8M-record (224 MB) single file, 32 cores
# (`python bench_scale.py reader_scale shp`): whole-file 46.0 s, 64 MB splits 31.1 s,
# 16 MB 15.0 s, 8 MB 7.4 s — per-split Arrow-batch assembly favors
# finer splits, and files below the split size still get one task each,
# so small-file corpora are unaffected. A 2 GB file (the format cap)
# yields ~250 tasks. Those walls were timed without a warm-up scan
# (the whole-file leg also paid the Python-worker start), so they are
# unverified until `reader_scale shp` is rerun at that size.
DEFAULT_SPLIT_BYTES = 8 << 20

# base xy layout per shape type: Z (+10) and M (+20) variants append
# range/value sections AFTER the xy data, which the parser ignores.
_SHAPE_KIND = {1: "POINT", 3: "LINE", 5: "POLY", 8: "MPOINT"}


def _kind(t: int) -> str | None:
    return _SHAPE_KIND.get(t if t < 10 else t - 10 if t < 20 else t - 20)


def parse_shape(content: bytes) -> tuple[str, list[list[list[float]]]] | None:
    """Parse one .shp record's CONTENT (after the 8-byte record header)
    into the engine's (gtype, parts) — the same contract as parse_wkt /
    parse_wkb: None for null / malformed / empty shapes. Never raises
    on hostile bytes (fuzz-pinned)."""
    try:
        (t,) = struct.unpack_from("<i", content, 0)
        kind = _kind(t)
        if kind is None:
            return None
        if kind == "POINT":
            x, y = struct.unpack_from("<dd", content, 4)
            if not (np.isfinite(x) and np.isfinite(y)):
                return None
            return "POINT", [[[x, y]]]
        if kind == "MPOINT":
            (n,) = struct.unpack_from("<i", content, 36)
            if n < 1 or 40 + 16 * n > len(content):
                return None
            vals = struct.unpack_from(f"<{2 * n}d", content, 40)
            if not all(np.isfinite(v) for v in vals):
                return None
            return "MULTIPOINT", [[[vals[2 * i], vals[2 * i + 1]]]
                                  for i in range(n)]
        # LINE / POLY: bbox(32) numParts numPoints parts[] points[]
        np_, npts = struct.unpack_from("<ii", content, 36)
        base = 44 + 4 * np_
        if np_ < 1 or npts < 1 or base + 16 * npts > len(content):
            return None
        starts = struct.unpack_from(f"<{np_}i", content, 44)
        if starts[0] != 0 or any(
            starts[i] >= starts[i + 1] for i in range(np_ - 1)
        ) or starts[-1] >= npts:
            return None
        vals = struct.unpack_from(f"<{2 * npts}d", content, base)
        if not all(np.isfinite(v) for v in vals):
            return None
        bounds = list(starts) + [npts]
        parts = [
            [[vals[2 * i], vals[2 * i + 1]] for i in range(a, b)]
            for a, b in zip(bounds, bounds[1:])
        ]
        if kind == "LINE":
            if any(len(p) < 2 for p in parts):
                return None
            return ("LINESTRING" if len(parts) == 1
                    else "MULTILINESTRING"), parts
        # POLY: rings must be closed with >= 4 points (parse_wkt rule)
        if any(len(r) < 4 or r[0] != r[-1] for r in parts):
            return None
        return _group_rings(parts)
    except (struct.error, ValueError, OverflowError):
        return None


def _group_rings(
    rings: list[list[list[float]]],
) -> tuple[str, list[list[list[float]]]]:
    """Order a Polygon record's rings into the row-format convention
    (shell first, then its holes, per member polygon) and decide
    POLYGON vs MULTIPOLYGON.

    A shapefile Polygon record carries ALL rings of all member polygons
    in one record, in any order; the spec encodes role by orientation
    (CW = shell) but real-world files routinely violate it, so roles
    are derived from exact NESTING DEPTH parity instead (the robust
    rule OGR applies): depth = number of OTHER rings strictly
    containing a representative point; even -> shell, odd -> hole of
    its innermost container. The engine's even-odd region semantics are
    order-independent, so this ordering only affects gtype and
    sink-side regrouping — never predicates."""
    if len(rings) == 1:
        return "POLYGON", rings
    from ds_jedai_spark.operators.relate_poly import (
        _rings as _close,
        _scale_parts,
        point_location,
    )

    (scaled,) = _scale_parts(rings)
    closed = _close(scaled)
    n = len(rings)
    containers: list[list[int]] = [[] for _ in range(n)]
    for i in range(n):
        probes = [(scaled[i][0][0], scaled[i][0][1], 1)]
        a = scaled[i][0]
        for b in scaled[i][1:]:
            if b != a:
                probes.append((a[0] + b[0], a[1] + b[1], 2))
                break
        for j in range(n):
            if j == i:
                continue
            for p in probes:
                loc = point_location(p, [closed[j]])
                if loc != 1:
                    break
            if loc == 2:
                containers[i].append(j)
    depth = [len(c) for c in containers]
    shells = [i for i in range(n) if depth[i] % 2 == 0]
    holes_of: dict[int, list[int]] = {i: [] for i in shells}
    for i in range(n):
        if depth[i] % 2 == 0:
            continue
        # innermost containing shell = the container at depth d-1
        parent = max(
            (j for j in containers[i] if depth[j] == depth[i] - 1),
            key=lambda j: depth[j],
            default=None,
        )
        if parent is None:  # degenerate nesting: promote to shell
            shells.append(i)
            holes_of[i] = []
        else:
            holes_of[parent].append(i)
    shells.sort()
    ordered = []
    for s in shells:
        ordered.append(rings[s])
        ordered.extend(rings[h] for h in holes_of[s])
    return ("POLYGON" if len(shells) == 1 else "MULTIPOLYGON"), ordered


# --- sidecar readers (driver-side, tiny) -------------------------------


def _sibling(shp: str, ext: str) -> str | None:
    stem = os.path.splitext(shp)[0]
    for cand in (stem + ext, stem + ext.upper()):
        if fs_size(cand) is not None:
            return cand
    return None


def _shp_header(path: str) -> int:
    """Validate the 100-byte header, return the byte size to scan."""
    with fs_open(path) as f:
        hdr = f.read(100)
    if len(hdr) < 100 or struct.unpack_from(">i", hdr, 0)[0] != SHP_MAGIC:
        raise ValueError(f"{path!r} is not a shapefile (bad magic)")
    (words,) = struct.unpack_from(">i", hdr, 24)
    return min(fs_size(path), max(100, 2 * words))


def _read_shx(path: str) -> list[int] | None:
    """Record-header byte offsets from the .shx index, or None if the
    index is absent/undersized/not-an-index (sequential fallback)."""
    try:
        with fs_open(path) as _f:
            b = _f.read()
        if len(b) < 100 or struct.unpack_from(">i", b, 0)[0] != SHP_MAGIC:
            return None
        n = (len(b) - 100) // 8
        if n == 0:
            return None
        words = struct.unpack_from(f">{2 * n}i", b, 100)[0::2]
        return [2 * w for w in words]
    except (OSError, struct.error):
        return None


def _dbf_layout(path: str):
    """(n_records, header_size, record_size, fields) where fields maps
    lowercase name -> (byte_offset_in_record, length, type_char).
    Offsets include the leading deletion-flag byte."""
    with fs_open(path) as f:
        head = f.read(32)
        if len(head) < 32:
            raise ValueError(f"{path!r}: truncated .dbf header")
        (nrec,) = struct.unpack_from("<I", head, 4)
        hdr, rsz = struct.unpack_from("<HH", head, 8)
        desc = head + f.read(max(0, hdr - 32))
    fields: dict[str, tuple[int, int, str]] = {}
    pos, off = 32, 1
    while pos + 32 <= len(desc) and desc[pos] != 0x0D:
        name = desc[pos:pos + 11].split(b"\0")[0].decode(
            "latin-1", "replace").strip().lower()
        flen = desc[pos + 16]
        fields[name] = (off, flen, chr(desc[pos + 11]))
        off += flen
        pos += 32
    return nrec, hdr, rsz, fields


def _prj_crs(path: str | None) -> str | None:
    """AUTHORITY identifier of the top-level CRS in a .prj (WKT1). The
    outermost object's AUTHORITY clause is the last one in the text."""
    if path is None:
        return None
    try:
        with fs_open(path) as _f:
            txt = _f.read().decode("utf-8", "replace")
    except OSError:
        return None
    hits = re.findall(r'AUTHORITY\s*\[\s*"([^"]+)"\s*,\s*"?(\w+)"?\s*\]', txt)
    return f"{hits[-1][0]}:{hits[-1][1]}" if hits else None


# --- split planning + distributed parse --------------------------------

# Offsets shipped per split are STRIDED to this cap: the executor seeks
# to each anchor and chains records within the stride, so a corrupt
# record damages at most one stride (stride 1 = exact per-record
# isolation on ordinary splits) while a million-record split's plan row
# stays a few KB instead of shipping the whole .shx through the plan
# (measured: an 8M-record single split spent minutes on offset
# transport alone before this cap).
MAX_SPLIT_OFFS = 4096


def _plan_file(
    shp: str,
    id_field: str | None,
    date_field: str | None,
    split_bytes: int,
    bbox: list[float] | None,
) -> list[dict]:
    size = _shp_header(shp)
    stem = os.path.splitext(os.path.basename(shp))[0]
    dbf = _sibling(shp, ".dbf")
    dbf_nrec, dbf_hdr, dbf_rsz, fields = (
        _dbf_layout(dbf) if dbf is not None else (0, 0, 0, {}))
    # without a .dbf sidecar only 'id' (the default) and None can be
    # honored, both by 'stem:N' ids
    use_id, use_date = resolve_fields(
        fields, id_field, date_field,
        repr(dbf) if dbf is not None else f"{shp!r} (no .dbf)",
    )
    id_off, id_len = fields[use_id][:2] if use_id else (-1, -1)
    date_off, date_len, date_type = (
        fields[use_date] if use_date else (-1, -1, "C"))

    base = dict(shp=shp, stem=stem, dbf=dbf, dbf_hdr=dbf_hdr,
                date_type=date_type,
                dbf_rsz=dbf_rsz, dbf_nrec=dbf_nrec, id_off=id_off,
                id_len=id_len, date_off=date_off, date_len=date_len,
                bbox=bbox)
    whole = dict(base, byte_start=100, byte_end=size, rec0=0,
                 offs=None, stride=1, n_recs=-1)
    shx = _sibling(shp, ".shx")
    offsets = _read_shx(shx) if shx else None
    if offsets is None:
        return [whole]
    offsets = [o for o in offsets if 100 <= o < size]
    splits, i = [], 0
    while i < len(offsets):
        j = i
        while (j + 1 < len(offsets)
               and offsets[j + 1] - offsets[i] <= split_bytes):
            j += 1
        end = offsets[j + 1] if j + 1 < len(offsets) else size
        group = offsets[i:j + 1]
        stride = max(1, -(-len(group) // MAX_SPLIT_OFFS))
        splits.append(dict(base, byte_start=offsets[i], byte_end=end,
                           rec0=i, offs=group[::stride], stride=stride,
                           n_recs=len(group)))
        i = j + 1
    return splits or [whole]


def read_shapefile(
    spark: SparkSession,
    path: str,
    id_field: str | None = "id",
    date_field: str | None = None,
    date_pattern: str = DEFAULT_DATE_PATTERN,
    split_bytes: int = DEFAULT_SPLIT_BYTES,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Shapefile scan landing in the engine row format (id, [ts,]
    gtype, coords, minx..maxy), through the shared binary scan
    (io/scan.py).

    ``path``: a .shp file or filesystem URI, a directory (top-level
    *.shp, else recursive), or a glob pattern; a missing file raises
    ``no such Shapefile``. ``id_field`` names a .dbf attribute; None —
    or the default 'id' when the .dbf has no such field — falls back to
    '<filename-stem>:<record-number>' ids (explicitly named fields that
    are absent raise, same contract as the parquet reader).
    ``date_field`` names a .dbf attribute parsed with ``date_pattern``.
    A .prj sidecar's AUTHORITY code is carried as CRS metadata on the
    gtype column (api.run warns on source/target CRS mismatch); files
    of one corpus whose .prj name DIFFERENT CRS raise.

    ``bbox`` = (minx, miny, maxx, maxy) keeps only envelope-intersecting
    entities. The format has no spatial index to skip byte ranges with
    (unlike .fgb/.gpkg), but every LINE/POLY/MULTIPOINT record HEADER
    carries the shape's bounding box (shapefile spec, content bytes
    4-36), so non-matching records short-circuit BEFORE vertex decode —
    the dominant parse cost — and never materialize a row. The scan's
    exact envelope filter on the output then removes any record whose
    header box OVER-covers its vertices, so for spec-correct (or
    conservative) header boxes the result equals apply_bbox() of an
    unfiltered read. A hostile header box that UNDER-covers its
    vertices is skipped before decode and cannot be restored by the
    post-filter — that one direction of header lying yields a false
    negative (pinned in
    tests/test_shapefile.py::test_bbox_short_circuit_and_subset_law);
    read without bbox if the file's headers cannot be trusted."""
    files = list_files(path, ".shp", "Shapefile")
    _bbox = [float(v) for v in bbox] if bbox is not None else None
    splits = [s for f in files
              for s in _plan_file(f, id_field, date_field, split_bytes,
                                  _bbox)]
    if (date_field is not None and date_pattern == DEFAULT_DATE_PATTERN
            and any(s["date_type"] == "D" for s in splits)):
        # dBASE 'D' fields store raw YYYYMMDD — auto-select the matching
        # pattern unless the caller overrode it explicitly
        date_pattern = "yyyyMMdd"
    return scan(
        spark, splits, _decode, path=path, ext=".shp",
        crss=[_prj_crs(_sibling(f, ".prj")) for f in files],
        dated=date_field is not None, date_pattern=date_pattern, bbox=bbox,
    )


def _header_bbox_misses(content: bytes, bbox) -> bool:
    """True when the record's HEADER bounding box (shapefile spec:
    content bytes 4-36 for MULTIPOINT/LINE/POLY, the point itself for
    POINT) provably misses ``bbox`` — the parse-time short-circuit that
    lets read_shapefile skip vertex decode entirely. False on anything
    unparseable (parse_shape then decides validity as usual)."""
    try:
        (t,) = struct.unpack_from("<i", content, 0)
        kind = _kind(t)
        if kind is None:
            return False
        if kind == "POINT":
            x, y = struct.unpack_from("<dd", content, 4)
            return not (bbox[0] <= x <= bbox[2]
                        and bbox[1] <= y <= bbox[3])
        if len(content) < 36:
            return False
        mnx, mny, mxx, mxy = struct.unpack_from("<4d", content, 4)
        return (mnx > bbox[2] or mxx < bbox[0]
                or mny > bbox[3] or mxy < bbox[1])
    except struct.error:
        return False


def _decode(s: dict):
    """Executor-side: one ranged read of the split's .shp bytes (and
    its aligned .dbf record block), per-record parse into the shared
    Arrow accumulator; returns (ids, date cells, accumulator). The
    split's ``bbox`` short-circuits non-intersecting records before
    vertex decode (they take the add_invalid slot, keeping the
    positional .dbf alignment, and are dropped by valid_geometries)."""
    from ds_jedai_spark.model.geometry import GeometryAccumulator

    bbox = s["bbox"]
    with fs_open(s["shp"]) as f:
        f.seek(s["byte_start"])
        buf = f.read(s["byte_end"] - s["byte_start"])
    base = s["byte_start"]

    recs: list[bytes | None] = []
    if s["offs"] is not None:
        # strided anchors: seek to each, chain up to `stride` records;
        # a corrupt header ends only its own stride (padded to keep the
        # positional .dbf alignment)
        anchors = s["offs"]
        stride, total = s["stride"], s["n_recs"]
        for gi, off in enumerate(anchors):
            gend = (anchors[gi + 1] - base if gi + 1 < len(anchors)
                    else len(buf))
            expected = min(stride, total - gi * stride)
            pos = off - base
            got = 0
            while got < expected and 0 <= pos and pos + 8 <= gend:
                (clen,) = struct.unpack_from(">i", buf, pos + 4)
                if clen < 2 or pos + 8 + 2 * clen > len(buf):
                    break
                recs.append(buf[pos + 8:pos + 8 + 2 * clen])
                got += 1
                pos += 8 + 2 * clen
            recs.extend([None] * (expected - got))
    else:
        pos = 0
        while pos + 8 <= len(buf):
            (clen,) = struct.unpack_from(">i", buf, pos + 4)
            if clen < 2 or pos + 8 + 2 * clen > len(buf):
                break  # corrupt header: the chain is unrecoverable
            recs.append(buf[pos + 8:pos + 8 + 2 * clen])
            pos += 8 + 2 * clen

    n = len(recs)
    acc = GeometryAccumulator(n)
    for content in recs:
        if content is None or (
            bbox is not None and _header_bbox_misses(content, bbox)
        ):
            acc.add_invalid()
            continue
        parsed = parse_shape(content)
        if parsed is None:
            acc.add_invalid()
        else:
            acc.add(*parsed)

    # aligned .dbf attribute block (one ranged read)
    ids: list[str | None]
    dates: list[str | None] = [None] * n
    rec0 = s["rec0"]
    if s["dbf"] is not None and (s["id_off"] >= 0 or s["date_off"] >= 0):
        take = max(0, min(n, s["dbf_nrec"] - rec0))
        with fs_open(s["dbf"]) as f:
            f.seek(s["dbf_hdr"] + rec0 * s["dbf_rsz"])
            block = f.read(take * s["dbf_rsz"])

        def cell(k: int, off: int, ln: int) -> str | None:
            lo = k * s["dbf_rsz"] + off
            v = block[lo:lo + ln].decode("latin-1", "replace").strip()
            return v or None

        if s["id_off"] >= 0:
            ids = [cell(k, s["id_off"], s["id_len"]) if k < take else None
                   for k in range(n)]
        else:
            ids = [f"{s['stem']}:{rec0 + k + 1}" for k in range(n)]
        if s["date_off"] >= 0:
            dates = [cell(k, s["date_off"], s["date_len"])
                     if k < take else None for k in range(n)]
    else:
        ids = [f"{s['stem']}:{rec0 + k + 1}" for k in range(n)]
    return ids, dates, acc


# --- sink ---------------------------------------------------------------
#
# The format allows ONE shape type per .shp and caps a file at 2 GB, so
# the scale-appropriate sink is a DIRECTORY of shapefiles — one per
# (partition, shape kind[, size chunk]) written executor-side, exactly
# like Spark part files. The reader above consumes such a directory
# natively (and so does OGR: a directory of shapefiles is a normal
# corpus layout, e.g. TIGER).

_KIND_CODE = {"POINT": 1, "LINESTRING": 3, "MULTILINESTRING": 3,
              "POLYGON": 5, "MULTIPOLYGON": 5, "MULTIPOINT": 8}

WGS84_PRJ = (
    'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
    'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433],'
    'AUTHORITY["EPSG","4326"]]'
)
def _prj_for(crs: str | None) -> str | None:
    if crs in ("EPSG:4326", "OGC:CRS84"):
        return WGS84_PRJ
    if crs == "EPSG:3857":
        from ds_jedai_spark.operators.crs import WEB_MERCATOR_PRJ

        return WEB_MERCATOR_PRJ
    return None


def signed_area2(ring) -> float:
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        s += x1 * y2 - x2 * y1
    return s


def _orient(ring, clockwise: bool) -> list:
    # positive doubled area = CCW under math axes; ESRI wants CW shells
    if (signed_area2(ring) > 0) == clockwise:
        return list(reversed(ring))
    return list(ring)


def _pack_pts(pts) -> bytes:
    return b"".join(struct.pack("<dd", x, y) for x, y in pts)


def _bbox(parts):
    xs = [p[0] for part in parts for p in part]
    ys = [p[1] for part in parts for p in part]
    return min(xs), min(ys), max(xs), max(ys)


def shape_content(gtype: str, parts) -> bytes:
    """One .shp record's content for a row-format geometry — the
    inverse of parse_shape. Polygon rings are regrouped with the exact
    nesting test and re-oriented to the spec (CW shells, CCW holes)."""
    if gtype == "POINT":
        return struct.pack("<i", 1) + _pack_pts(parts[0])
    if gtype == "MULTIPOINT":
        pts = [part[0] for part in parts]
        return (struct.pack("<i", 8) + struct.pack("<4d", *_bbox(parts))
                + struct.pack("<i", len(pts)) + _pack_pts(pts))
    if gtype in ("LINESTRING", "MULTILINESTRING"):
        rings = parts
    else:
        from ds_jedai_spark.model.geometry import regroup_rings

        rings = []
        for group in regroup_rings(parts):
            rings.append(_orient(group[0], clockwise=True))
            rings.extend(_orient(h, clockwise=False) for h in group[1:])
    code = 3 if gtype in ("LINESTRING", "MULTILINESTRING") else 5
    starts, total = [], 0
    for r in rings:
        starts.append(total)
        total += len(r)
    return (struct.pack("<i", code) + struct.pack("<4d", *_bbox(parts))
            + struct.pack("<ii", len(rings), total)
            + struct.pack(f"<{len(rings)}i", *starts)
            + b"".join(_pack_pts(r) for r in rings))


def shapefile_bytes(
    shape_type: int, contents: list[bytes]
) -> tuple[bytes, bytes]:
    """Assemble (.shp bytes, .shx bytes) from record contents."""
    recs, offsets, pos = [], [], 100
    box = None
    for i, content in enumerate(contents):
        if len(content) % 2:
            content += b"\0"
        offsets.append(pos)
        recs.append(struct.pack(">ii", i + 1, len(content) // 2) + content)
        pos += len(recs[-1])
        parsed = parse_shape(content)
        if parsed:
            b = _bbox(parsed[1])
            box = b if box is None else (
                min(box[0], b[0]), min(box[1], b[1]),
                max(box[2], b[2]), max(box[3], b[3]),
            )
    box = box or (0.0, 0.0, 0.0, 0.0)

    def header(length_bytes: int) -> bytes:
        return (struct.pack(">i20xi", SHP_MAGIC, length_bytes // 2)
                + struct.pack("<ii", 1000, shape_type)
                + struct.pack("<4d", *box) + struct.pack("<4d", 0, 0, 0, 0))

    shx_recs = b"".join(
        struct.pack(">ii", off // 2, (len(r) - 8) // 2)
        for off, r in zip(offsets, recs)
    )
    return (header(pos) + b"".join(recs),
            header(100 + len(shx_recs)) + shx_recs)


def dbf_bytes(fields: list[tuple[str, int]], rows: list[tuple]) -> bytes:
    """dBASE III bytes: character fields only (name, width)."""
    rsz = 1 + sum(w for _, w in fields)
    hdr = struct.pack("<B3BIHH20x", 3, 24, 1, 1, len(rows),
                      33 + 32 * len(fields), rsz)
    desc = b"".join(
        name.encode("ascii")[:10].ljust(11, b"\0") + b"C"
        + struct.pack("<IBB14x", 0, w, 0)
        for name, w in fields
    )
    body = b"".join(
        b" " + b"".join(
            ("" if v is None else str(v))[:w].ljust(w).encode(
                "latin-1", "replace")
            for (_, w), v in zip(fields, row)
        )
        for row in rows
    )
    return hdr + desc + b"\x0d" + body + b"\x1a"


def export_shapefile(
    entities: DataFrame,
    path: str,
    max_file_bytes: int = 1 << 30,
) -> None:
    """Directory-of-shapefiles sink from the engine row format.

    Executors write one .shp/.shx/.dbf triple per (partition, shape
    kind) — plus size chunks at ``max_file_bytes`` (safely under the
    format's 2 GB cap) — so the write is fully distributed and each
    output file is spec-conformant (single shape type). The .dbf
    carries ``id`` (width fitted, <= 254) and, when present, ``ts``
    (seconds precision; read back with ``date_field='ts'``). A known
    CRS on the input (gtype column metadata) becomes a .prj sidecar.
    The one non-streaming cost: a partition's file bytes assemble in
    executor memory before the write — bound partition sizes upstream
    (they already are, by the readers' split planning)."""
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)

    has_ts = "ts" in entities.columns
    cols = ["id", "gtype", "coords"] + (["ts"] if has_ts else [])
    crs = (entities.schema["gtype"].metadata or {}).get("crs")
    prj = _prj_for(crs)

    def write_parts(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        by_code: dict[int, list[tuple[bytes, str, str | None]]] = {}
        for pdf in batches:
            tss = pdf["ts"] if has_ts else [None] * len(pdf)
            for rid, g, coords, ts in zip(
                pdf["id"], pdf["gtype"], pdf["coords"], tss
            ):
                content = shape_content(g, coords)
                t = (ts.strftime("%Y-%m-%d %H:%M:%S")
                     if ts is not None and ts == ts else None)
                by_code.setdefault(_KIND_CODE[g], []).append(
                    (content, str(rid), t)
                )
        n_files = n_rows = 0
        for code, rows in by_code.items():
            chunks, cur, cur_bytes = [], [], 0
            for row in rows:
                if cur and cur_bytes + len(row[0]) > max_file_bytes:
                    chunks.append(cur)
                    cur, cur_bytes = [], 0
                cur.append(row)
                cur_bytes += len(row[0]) + 8
            chunks.append(cur)
            for ci, chunk in enumerate(chunks):
                suffix = f"-c{ci}" if len(chunks) > 1 else ""
                stem = os.path.join(path, f"part-{pid:05d}-t{code}{suffix}")
                shp, shx = shapefile_bytes(code, [c for c, _, _ in chunk])
                with open(stem + ".shp", "wb") as f:
                    f.write(shp)
                with open(stem + ".shx", "wb") as f:
                    f.write(shx)
                idw = max(1, max(len(i) for _, i, _ in chunk))
                if idw > 254:
                    over = sum(1 for _, i, _ in chunk if len(i) > 254)
                    raise ValueError(
                        f"{over} id(s) exceed the dBASE 254-byte "
                        "character-field cap (longest "
                        f"{idw} bytes); shapefile export cannot "
                        "round-trip them — shorten the ids or export "
                        "to geoparquet/geopackage instead"
                    )
                fields = [("id", idw)] + ([("ts", 19)] if has_ts else [])
                rws = [(i, t) if has_ts else (i,) for _, i, t in chunk]
                with open(stem + ".dbf", "wb") as f:
                    f.write(dbf_bytes(fields, rws))
                if prj:
                    with open(stem + ".prj", "w") as f:
                        f.write(prj)
                n_files += 1
                n_rows += len(chunk)
        yield pd.DataFrame({"files": [n_files], "rows": [n_rows]})

    entities.select(*cols).mapInPandas(
        write_parts, "files long, rows long"
    ).groupBy().sum().collect()

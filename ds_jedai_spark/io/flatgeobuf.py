"""Distributed FlatGeobuf (.fgb) reader + single-file sink.

FlatGeobuf is the third mainstream binary geo container next to
GeoParquet and GeoPackage: a single streamable file of
flatbuffer-encoded features behind an optional packed Hilbert R-tree
index (spec: https://flatgeobuf.org, flatgeobuf/src/fbs/*.fbs — all
public). The reference cannot read it at all (its Reader.scala:38-71
dispatch knows csv/tsv/geojson/nt/shp only); this closes the engine's
interop story the same way the r13 shapefile/GeoPackage work did.

No flatbuffers library exists in this environment, so both sides are
implemented from the published wire format:

* READ — `_fb` walks tables via their vtables (int32 soffset at the
  table, uint16 slot table, forward uint32 offsets for
  strings/vectors/subtables). The file layout is
  ``magic(8) | u32 len + Header | packed R-tree | (u32 len + Feature)*``.
  Split planning mirrors the shapefile reader: the DRIVER reads only
  the header and the index's LEAF level (the last ``features_count``
  40-byte nodes, whose u64 payload is each feature's byte offset),
  strides the offsets into byte-range splits (only the leaves whose
  envelopes meet a bbox), and each EXECUTOR does one ranged read and
  decodes its features into a GeometryAccumulator. The shared binary
  scan (io/scan.py) runs the splits of every file of a corpus as one
  mapInArrow and owns the listing, the absent-field rule, the Arrow
  batch, the exact bbox filter, the date parse and the one-CRS rule.
  An unindexed file (index_node_size = 0) has no offset sidecar to
  plan from and falls back to a single sequential split — documented,
  exactly like a .shp with no .shx.

* WRITE — `export_flatgeobuf` is an interop sink in the GeoPackage
  sink's mold (single-file format ⇒ driver funnel via toLocalIterator,
  partition-at-a-time; the distributed sinks remain the scale path).
  Features are serialized with a minimal back-to-front flatbuffer
  builder, Hilbert-sorted on envelope centers, and written behind a
  spec-conformant packed R-tree so third-party consumers (and this
  reader) get spatially-clustered, splittable output.

Geometry mapping into the engine row format matches parse_wkb
(model/geometry.py:260): POINT one 1-point part, MULTIPOINT one part
per point, (MULTI)LINESTRING one part per line (``ends`` delimit),
POLYGON rings as parts, MULTIPOLYGON all shells+holes flattened
(nesting re-derived on export), GeometryCollection dropped as
engine-invalid; open rings / short lines / empties -> invalid row,
counted out by the validity filter.
"""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ds_jedai_spark.config import DEFAULT_DATE_PATTERN
from ds_jedai_spark.io.fsutil import fs_open, fs_size
from ds_jedai_spark.io.scan import (
    clear_corpus,
    list_files,
    resolve_fields,
    scan,
)

MAGIC = b"fgb\x03fgb\x00"
NODE_BYTES = 40  # 4 doubles (envelope) + u64 (offset / child index)
_NODE_DT = np.dtype([("minx", "<f8"), ("miny", "<f8"),
                     ("maxx", "<f8"), ("maxy", "<f8"), ("off", "<u8")])

GEOM_TYPE_NAMES = {
    1: "POINT", 2: "LINESTRING", 3: "POLYGON", 4: "MULTIPOINT",
    5: "MULTILINESTRING", 6: "MULTIPOLYGON", 7: "GEOMETRYCOLLECTION",
}
GEOM_TYPE_CODES = {v: k for k, v in GEOM_TYPE_NAMES.items()}

# ColumnType enum (header.fbs) -> (struct fmt, byte size); length-
# prefixed types handled separately.
_COL_FIXED = {
    0: ("<b", 1), 1: ("<B", 1), 2: ("<B", 1), 3: ("<h", 2),
    4: ("<H", 2), 5: ("<i", 4), 6: ("<I", 4), 7: ("<q", 8),
    8: ("<Q", 8), 9: ("<f", 4), 10: ("<d", 8),
}
_COL_VARLEN = {11, 12, 13, 14}  # String, Json, DateTime, Binary
COLTYPE_STRING = 11
COLTYPE_DATETIME = 13


# --------------------------------------------------------------------
# flatbuffer READ side: vtable-walking accessors
# --------------------------------------------------------------------

class _fb:
    """Minimal flatbuffer table accessor over a bytes buffer."""

    __slots__ = ("b", "pos", "vt", "vt_n")

    def __init__(self, b: bytes, pos: int):
        self.b = b
        self.pos = pos
        soff = struct.unpack_from("<i", b, pos)[0]
        self.vt = pos - soff
        self.vt_n = struct.unpack_from("<H", b, self.vt)[0]

    @classmethod
    def root(cls, b: bytes) -> "_fb":
        return cls(b, struct.unpack_from("<I", b, 0)[0])

    def _slot(self, field: int) -> int:
        """Absolute position of field's inline data, or 0 if absent."""
        ventry = 4 + 2 * field
        if ventry + 2 > self.vt_n:
            return 0
        rel = struct.unpack_from("<H", self.b, self.vt + ventry)[0]
        return self.pos + rel if rel else 0

    def scalar(self, field: int, fmt: str, default):
        p = self._slot(field)
        return default if not p else struct.unpack_from(fmt, self.b, p)[0]

    def _indirect(self, field: int) -> int:
        p = self._slot(field)
        if not p:
            return 0
        return p + struct.unpack_from("<I", self.b, p)[0]

    def string(self, field: int) -> str | None:
        t = self._indirect(field)
        if not t:
            return None
        n = struct.unpack_from("<I", self.b, t)[0]
        return self.b[t + 4:t + 4 + n].decode("utf-8")

    def vector(self, field: int, fmt: str):
        t = self._indirect(field)
        if not t:
            return []
        n = struct.unpack_from("<I", self.b, t)[0]
        return list(struct.unpack_from(f"<{n}{fmt}", self.b, t + 4))

    def bytes_vector(self, field: int) -> bytes:
        t = self._indirect(field)
        if not t:
            return b""
        n = struct.unpack_from("<I", self.b, t)[0]
        return bytes(self.b[t + 4:t + 4 + n])

    def table_vector(self, field: int) -> list["_fb"]:
        t = self._indirect(field)
        if not t:
            return []
        n = struct.unpack_from("<I", self.b, t)[0]
        out = []
        for i in range(n):
            p = t + 4 + 4 * i
            out.append(_fb(self.b, p + struct.unpack_from("<I", self.b, p)[0]))
        return out

    def table(self, field: int) -> "_fb | None":
        t = self._indirect(field)
        return _fb(self.b, t) if t else None


def _decode_geometry(g: _fb, header_type: int):
    """Geometry table -> (gtype, parts) in the engine convention, or
    None for engine-invalid (empty/open/short/collection)."""
    t = g.scalar(6, "<B", 0) or header_type
    name = GEOM_TYPE_NAMES.get(t)
    if name is None or name == "GEOMETRYCOLLECTION":
        return None
    if name in ("MULTIPOLYGON",):
        subs = g.table_vector(7)
        parts: list[list[list[float]]] = []
        if subs:
            for sub in subs:
                dec = _decode_geometry(sub, GEOM_TYPE_CODES["POLYGON"])
                if dec is None:
                    return None
                parts.extend(dec[1])
            return (name, parts) if parts else None
        # single-polygon encoding: ends/xy inline, like a POLYGON
        dec = _decode_geometry(g, GEOM_TYPE_CODES["POLYGON"])
        return (name, dec[1]) if dec else None
    xy = g.vector(1, "d")
    if not xy or len(xy) % 2:
        return None
    pts = [[xy[i], xy[i + 1]] for i in range(0, len(xy), 2)]
    if name == "POINT":
        return (name, [pts]) if len(pts) == 1 else None
    if name == "MULTIPOINT":
        return name, [[p] for p in pts]
    ends = g.vector(0, "I") or [len(pts)]
    parts, at = [], 0
    for e in ends:
        if e < at or e > len(pts):
            return None
        parts.append(pts[at:e])
        at = e
    if at != len(pts):
        return None
    if name in ("LINESTRING", "MULTILINESTRING"):
        if name == "LINESTRING" and len(parts) != 1:
            return None
        if any(len(p) < 2 for p in parts):
            return None
        return name, parts
    # POLYGON rings
    if any(len(r) < 4 or r[0] != r[-1] for r in parts):
        return None
    return name, parts


def _read_header(path: str, want_envs: bool = False):
    """Driver-side: (header_dict, features_start, file_size,
    feature_offsets|None[, leaf_envelopes]). Reads magic + header +
    index leaves only; ``want_envs`` additionally returns each leaf's
    envelope (in feature-offset order) for bbox pruning."""
    with fs_open(path) as f:
        magic = f.read(8)
        if magic[:3] != MAGIC[:3] or magic[4:7] != MAGIC[4:7]:
            raise ValueError(f"{path!r} is not a FlatGeobuf file")
        hlen = struct.unpack("<I", f.read(4))[0]
        if not 0 < hlen < (1 << 24):
            raise ValueError(f"{path!r}: implausible header size {hlen}")
        h = _fb.root(f.read(hlen))
        geom_type = h.scalar(2, "<B", 0)
        n = h.scalar(8, "<Q", 0)
        node_size = h.scalar(9, "<H", 16)
        cols = [(c.string(0), c.scalar(1, "<B", 0))
                for c in h.table_vector(7)]
        crs = None
        crs_t = h.table(10)
        if crs_t is not None:
            org, code = crs_t.string(0), crs_t.scalar(1, "<i", 0)
            if org and code > 0:
                crs = f"{org.upper()}:{code}"
        index_bytes = _rtree_size(n, node_size) if node_size >= 2 else 0
        offsets = envs = None
        if index_bytes and n:
            # leaves are the LAST n nodes; their u64 is the feature's
            # byte offset relative to the features section. Vectorized:
            # a file has millions of leaves and this runs driver-side.
            f.seek(8 + 4 + hlen + index_bytes - n * NODE_BYTES)
            leaf = f.read(n * NODE_BYTES)
            arr = np.frombuffer(leaf, dtype=_NODE_DT)
            arr = arr[np.argsort(arr["off"], kind="stable")]  # file order
            offsets = arr["off"].astype(np.int64)
            if want_envs:
                envs = arr
        feat_start = 8 + 4 + hlen + index_bytes
        size = fs_size(path)
        hdr = dict(geom_type=geom_type, n=n, cols=cols, crs=crs)
        if want_envs:
            return hdr, feat_start, size, offsets, envs
        return hdr, feat_start, size, offsets


def _rtree_size(num_items: int, node_size: int) -> int:
    if num_items == 0:
        return 0
    node_size = min(max(node_size, 2), 65535)
    n, total = num_items, num_items
    while n != 1:
        n = (n + node_size - 1) // node_size
        total += n
    return total * NODE_BYTES


def _parse_properties(raw: bytes, cols: list[tuple[str, int]]) -> dict:
    """Properties byte-vector -> {column name: python value} (only the
    fixed + varlen encodings of the spec)."""
    out: dict[str, object] = {}
    at, n = 0, len(raw)
    while at + 2 <= n:
        idx = struct.unpack_from("<H", raw, at)[0]
        at += 2
        if idx >= len(cols):
            break
        name, ctype = cols[idx]
        if ctype in _COL_FIXED:
            fmt, sz = _COL_FIXED[ctype]
            if at + sz > n:
                break
            v = struct.unpack_from(fmt, raw, at)[0]
            if ctype == 2:
                v = bool(v)
            at += sz
        elif ctype in _COL_VARLEN:
            if at + 4 > n:
                break
            ln = struct.unpack_from("<I", raw, at)[0]
            at += 4
            if at + ln > n:
                break
            v = bytes(raw[at:at + ln])
            if ctype != 14:
                v = v.decode("utf-8", "replace")
            at += ln
        else:
            break
        out[name] = v
    return out


MAX_SPLIT_OFFS = 4096  # same transport bound as the shapefile reader
# 8 MB, as the shapefile reader: PLANS.md's round-14 probe, timed
# without a warm-up scan and unverified until `reader_scale fgb` is
# rerun at size.
DEFAULT_SPLIT_BYTES = 8 << 20


def _plan_file(
    path: str,
    id_field: str | None,
    date_field: str | None,
    split_bytes: int,
    bbox,
) -> tuple[list[dict], str | None]:
    """Plan one file's byte-range splits; each split carries its full
    file context (path, stem, resolved property columns, header type)
    so a multi-file corpus maps through one executor closure."""
    envs = None
    if bbox is not None:
        header, feat_start, size, offsets, envs = _read_header(
            path, want_envs=True)
    else:
        header, feat_start, size, offsets = _read_header(path)

    # ordinal runs to scan: everything, or only the index leaves
    # intersecting the bbox (small unselected gaps coalesced — fewer
    # seeks; the output-side envelope filter drops the stragglers)
    n_idx = len(offsets) if offsets is not None else 0
    runs: list[tuple[int, int]] = [(0, n_idx)] if n_idx else []
    if bbox is not None and envs is not None and n_idx:
        bx0, by0, bx1, by1 = map(float, bbox)
        keep = np.flatnonzero(
            ~((envs["minx"] > bx1) | (envs["maxx"] < bx0)
              | (envs["miny"] > by1) | (envs["maxy"] < by0))
        )
        GAP = 1 << 16
        runs = []
        for i in keep:
            i = int(i)
            if runs and (i == runs[-1][1]
                         or offsets[i] - offsets[runs[-1][1]] <= GAP):
                runs[-1] = (runs[-1][0], i + 1)
            else:
                runs.append((i, i + 1))
    stem = os.path.splitext(os.path.basename(path))[0]
    use_id, use_date = resolve_fields(
        [c for c, _ in header["cols"]], id_field, date_field, repr(path))
    ctx = dict(path=path, stem=stem, use_id=use_id, use_date=use_date,
               gtype=header["geom_type"], cols=header["cols"])

    # ---- split planning: stride leaf offsets into byte ranges,
    # independently within each ordinal run (searchsorted, not a
    # per-leaf Python loop — millions of leaves, driver-side)
    splits: list[dict] = []
    for r0, r1 in runs:
        i = r0
        while i < r1:
            j = min(
                r1 - 1,
                int(np.searchsorted(offsets,
                                    offsets[i] + split_bytes,
                                    side="right")) - 1,
            )
            j = max(j, i)
            end = (int(offsets[j + 1]) if j + 1 < n_idx
                   else size - feat_start)
            group = offsets[i:j + 1]
            stride = max(1, -(-len(group) // MAX_SPLIT_OFFS))
            splits.append(dict(
                ctx,
                start=feat_start + int(offsets[i]), end=feat_start + end,
                rec0=i, stride=stride,
                offs=[feat_start + int(o) for o in group[::stride]],
                n_recs=len(group),
            ))
            i = j + 1
    if not splits and (bbox is None or not n_idx):
        # unindexed or empty file: one sequential split (with a bbox,
        # only the output filter applies); an indexed file whose bbox
        # matched nothing keeps zero feature splits
        splits = [dict(ctx, start=feat_start, end=size, rec0=0,
                       stride=1, offs=None, n_recs=-1)]
    return splits, header["crs"]


def _decode(s: dict):
    """Executor-side: one ranged read of the split's feature bytes,
    each feature's geometry into the accumulator and its id/date
    properties into lists; returns (ids, date cells, accumulator)."""
    from ds_jedai_spark.model.geometry import GeometryAccumulator

    cols = [tuple(c) for c in s["cols"]]
    use_id, use_date = s["use_id"], s["use_date"]
    geom_type, stem = s["gtype"], s["stem"]
    with fs_open(s["path"]) as f:
        f.seek(s["start"])
        buf = f.read(s["end"] - s["start"])
    feats = []  # (recno, feature bytes)
    anchors = ([a - s["start"] for a in s["offs"]]
               if s["offs"] else [0])
    for ai, a in enumerate(anchors):
        stop = (anchors[ai + 1] if ai + 1 < len(anchors)
                else len(buf))
        # ordinal from the anchor, NOT a running counter: a broken
        # frame loses at most its own stride's tail and never
        # misnumbers stem:N ids past the next anchor
        recno = s["rec0"] + ai * s["stride"]
        at = a
        while at + 4 <= stop:
            ln = struct.unpack_from("<I", buf, at)[0]
            if ln == 0 or at + 4 + ln > len(buf):
                break  # corrupt tail: damage bounded to anchor
            feats.append((recno, buf[at + 4:at + 4 + ln]))
            recno += 1
            at += 4 + ln
    acc = GeometryAccumulator(len(feats))
    ids, dates = [], []
    for rn, fbuf in feats:
        gtype = parts = None
        props = {}
        try:
            feat = _fb.root(bytes(fbuf))
            if use_id or use_date:
                props = _parse_properties(feat.bytes_vector(1), cols)
            g = feat.table(0)
            dec = (_decode_geometry(g, geom_type)
                   if g is not None else None)
            if dec:
                gtype, parts = dec
        except Exception:
            pass
        if gtype is None:
            acc.add_invalid()
        else:
            acc.add(gtype, parts)
        if use_id:
            rid = props.get(use_id)
            ids.append(None if rid is None else str(rid))
        else:
            ids.append(f"{stem}:{rn + 1}")
        if use_date:
            d = props.get(use_date)
            dates.append(None if d is None else str(d))
    return ids, dates, acc


def read_flatgeobuf(
    spark: SparkSession,
    path: str,
    id_field: str | None = "id",
    date_field: str | None = None,
    date_pattern: str = DEFAULT_DATE_PATTERN,
    split_bytes: int = DEFAULT_SPLIT_BYTES,
    bbox: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """FlatGeobuf scan landing in the engine row format, through the
    shared binary scan (io/scan.py).

    ``path``: one .fgb file, a local directory (top-level *.fgb, else
    recursive — a tiled corpus reads as one DataFrame), a local glob
    pattern, or a filesystem URI (``file://``, ``s3://``, ``hdfs://`` —
    io/fsutil routes single-file URIs through pyarrow.fs for driver
    planning and executor ranged reads alike; directory listing stays
    local-path only). A missing file raises ``no such FlatGeobuf``.

    ``id_field`` names a property column; None — or the 'id' default
    when a file has no such column — falls back to '<stem>:N'
    (N = 1-based feature ordinal, per file). Explicitly named absent
    columns raise (the parquet-reader contract), per file.
    ``date_field`` names a property parsed with ``date_pattern``. A
    declared CRS becomes gtype column metadata for api.run's mismatch
    check; files of one corpus declaring DIFFERENT CRS raise.

    ``bbox`` = (minx, miny, maxx, maxy) pushes an envelope-intersection
    predicate INTO the scan — the packed R-tree's purpose: the driver
    keeps only index leaves intersecting the box and plans splits over
    the surviving offset runs, so non-matching file regions (or whole
    files) are never read or parsed (Hilbert order makes the survivors
    contiguous). Small gaps of non-matching features swallowed into a
    range for fewer seeks are corrected by the scan's exact envelope
    filter on the output (also applied on unindexed files, where only
    the filter, not the skip, is available)."""
    files = list_files(path, ".fgb", "FlatGeobuf")
    splits: list[dict] = []
    crss: list[str | None] = []
    for f in files:
        s, crs = _plan_file(f, id_field, date_field, split_bytes, bbox)
        splits.extend(s)
        crss.append(crs)
    return scan(
        spark, splits, _decode, path=path, ext=".fgb", crss=crss,
        dated=date_field is not None, date_pattern=date_pattern, bbox=bbox,
    )


# --------------------------------------------------------------------
# flatbuffer WRITE side: minimal back-to-front builder
# --------------------------------------------------------------------

class _FBuilder:
    """Micro flatbuffer builder (back-to-front like the reference
    implementation; offsets are distances from the buffer end)."""

    def __init__(self):
        self.buf = bytearray()  # REVERSED: append = prepend to final
        self.minalign = 1
        self.slots: list[tuple[int, int]] = []  # (field id, offset)

    def _offset(self) -> int:
        return len(self.buf)

    def _pad(self, n: int) -> None:
        self.buf.extend(b"\x00" * n)

    def _prep(self, align: int, extra: int) -> None:
        self.minalign = max(self.minalign, align)
        total = self._offset() + extra
        self._pad((align - total % align) % align)

    def _place(self, data: bytes) -> None:
        self.buf.extend(data[::-1])

    def push_scalar(self, fmt: str, v, align: int) -> None:
        self._prep(align, struct.calcsize(fmt))
        self._place(struct.pack(fmt, v))

    def push_uoffset(self, target: int) -> None:
        self._prep(4, 4)
        self._place(struct.pack("<I", self._offset() + 4 - target))

    def vector(self, fmt: str, items, align: int) -> int:
        sz = struct.calcsize(fmt)
        self._prep(4, sz * len(items))
        self._prep(align, sz * len(items))
        for v in reversed(items):
            self._place(struct.pack(fmt, v))
        self._place(struct.pack("<I", len(items)))
        return self._offset()

    def offset_vector(self, targets: list[int]) -> int:
        self._prep(4, 4 * len(targets))
        for t in reversed(targets):
            self._place(struct.pack("<I", self._offset() + 4 - t))
        self._place(struct.pack("<I", len(targets)))
        return self._offset()

    def string(self, s: str) -> int:
        raw = s.encode("utf-8") + b"\x00"
        self._prep(4, len(raw))
        self._place(raw)
        self._place(struct.pack("<I", len(raw) - 1))
        return self._offset()

    # -- table assembly: collect (field id, offset, inline size) slots,
    # then emit the vtable + soffset
    def start(self) -> None:
        self.slots = []

    def slot_scalar(self, fid: int, fmt: str, v, default=None) -> None:
        if default is not None and v == default:
            return
        align = struct.calcsize(fmt)
        self.push_scalar(fmt, v, align)
        self.slots.append((fid, self._offset(), align))

    def slot_offset(self, fid: int, target: int | None) -> None:
        if not target:
            return
        self.push_uoffset(target)
        self.slots.append((fid, self._offset(), 4))

    def end(self) -> int:
        """Emit vtable + int32 soffset. Final layout (ascending
        addresses): [vtable][soffset = table start][inline fields]; the
        stored soffset is table_pos - vtable_pos = len(vtable) > 0."""
        self._prep(4, 4)
        table = self._offset() + 4
        nfields = max((fid for fid, _, _ in self.slots), default=-1) + 1
        vt = bytearray(struct.pack("<HH", 4 + 2 * nfields, 0))
        vt.extend(b"\x00\x00" * nfields)
        end_span = 4  # the soffset itself
        for fid, off, fsz in self.slots:
            struct.pack_into("<H", vt, 4 + 2 * fid, table - off)
            end_span = max(end_span, table - off + fsz)
        struct.pack_into("<H", vt, 2, end_span)
        self._place(struct.pack("<i", len(vt)))
        self._place(bytes(vt))
        return table

    def finish(self, root: int) -> bytes:
        self._prep(self.minalign, 4)
        self.push_uoffset(root)
        return bytes(self.buf[::-1])


def _geometry_table(bld: _FBuilder, gtype: str, parts,
                    with_type: bool = True) -> int:
    """Serialize one geometry in the engine row format to a Geometry
    table; MULTIPOLYGON re-derives shell/hole nesting (regroup_rings)
    into per-polygon part tables, per the spec."""
    if gtype == "MULTIPOLYGON":
        from ds_jedai_spark.model.geometry import regroup_rings

        subs = [
            _geometry_table(bld, "POLYGON", rings, with_type=True)
            for rings in regroup_rings(parts)
        ]
        pv = bld.offset_vector(subs)
        bld.start()
        bld.slot_offset(7, pv)
        if with_type:
            bld.slot_scalar(6, "<B", GEOM_TYPE_CODES[gtype], 0)
        return bld.end()
    flat: list[float] = []
    ends: list[int] = []
    for part in parts:
        for p in part:
            flat.extend((p[0], p[1]))
        ends.append(len(flat) // 2)
    xy = bld.vector("<d", flat, 8)
    # ends only for genuinely multi-part line/ring layouts; a single
    # part is implied by its absence (the spec's convention), and
    # (MULTI)POINT has no parts at all
    ev = (bld.vector("<I", ends, 4)
          if len(ends) > 1 and gtype not in ("POINT", "MULTIPOINT")
          else None)
    bld.start()
    if with_type:
        bld.slot_scalar(6, "<B", GEOM_TYPE_CODES[gtype], 0)
    bld.slot_offset(1, xy)
    if ev:
        bld.slot_offset(0, ev)
    return bld.end()


def _feature_bytes(gtype: str, parts, props: bytes) -> bytes:
    bld = _FBuilder()
    g = _geometry_table(bld, gtype, parts)
    pv = bld.vector("<B", list(props), 1) if props else None
    bld.start()
    if pv:
        bld.slot_offset(1, pv)
    bld.slot_offset(0, g)
    return bld.finish(bld.end())


def _header_bytes(n: int, geom_type: int, cols: list[tuple[str, int]],
                  envelope, crs_id, node_size: int, name: str) -> bytes:
    bld = _FBuilder()
    col_offs = []
    for cname, ctype in cols:
        s = bld.string(cname)
        bld.start()
        bld.slot_scalar(7, "<B", 1, None)  # nullable = true (default)
        bld.slot_scalar(1, "<B", ctype, None)
        bld.slot_offset(0, s)
        col_offs.append(bld.end())
    cv = bld.offset_vector(col_offs) if col_offs else None
    crs_off = None
    if crs_id:
        org = bld.string(crs_id[0])
        bld.start()
        bld.slot_scalar(1, "<i", int(crs_id[1]), 0)
        bld.slot_offset(0, org)
        crs_off = bld.end()
    env = bld.vector("<d", list(envelope), 8) if envelope else None
    nm = bld.string(name)
    bld.start()
    if crs_off:
        bld.slot_offset(10, crs_off)
    bld.slot_scalar(9, "<H", node_size, None)  # write even when default
    bld.slot_scalar(8, "<Q", n, 0)
    if cv:
        bld.slot_offset(7, cv)
    bld.slot_scalar(2, "<B", geom_type, 0)
    if env:
        bld.slot_offset(1, env)
    bld.slot_offset(0, nm)
    return bld.finish(bld.end())


# --------------------------------------------------------------------
# packed Hilbert R-tree (write side)
# --------------------------------------------------------------------

_HILBERT_N = 1 << 16


def _hilbert_d(x: int, y: int) -> int:
    """Classic Hilbert xy->d on a 2^16 grid (the public iterative
    rotate-and-accumulate formulation)."""
    d = 0
    s = _HILBERT_N >> 1
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def _pack_rtree(items: list[tuple[float, float, float, float, int]],
                node_size: int) -> bytes:
    """items: (minx,miny,maxx,maxy,feature_byte_offset) in final file
    order. Returns the packed R-tree bytes: levels root-first, leaves
    last; internal node payload = byte offset of its first child node
    within the index (the spec's layout)."""
    n = len(items)
    node_size = min(max(node_size, 2), 65535)
    level_sizes = [n]
    m = n
    while m != 1:
        m = (m + node_size - 1) // node_size
        level_sizes.append(m)
    level_sizes.reverse()  # root first
    starts = []
    at = 0
    for sz in level_sizes:
        starts.append(at)
        at += sz
    total = at
    nodes: list[tuple[float, float, float, float, int]] = [None] * total
    leaf0 = starts[-1]
    for i, it in enumerate(items):
        nodes[leaf0 + i] = it
    for lvl in range(len(level_sizes) - 2, -1, -1):
        cstart, cn = starts[lvl + 1], level_sizes[lvl + 1]
        for i in range(level_sizes[lvl]):
            c0 = cstart + i * node_size
            kids = nodes[c0:min(c0 + node_size, cstart + cn)]
            nodes[starts[lvl] + i] = (
                min(k[0] for k in kids), min(k[1] for k in kids),
                max(k[2] for k in kids), max(k[3] for k in kids),
                c0 * NODE_BYTES,
            )
    return b"".join(struct.pack("<4dQ", *nd) for nd in nodes)


def _row_feature(rid, gtype, coords, ts, has_ts: bool) -> bytes:
    """One engine row -> serialized Feature flatbuffer bytes."""
    props = bytearray(struct.pack("<H", 0))
    raw = ("" if rid is None else str(rid)).encode("utf-8")
    props += struct.pack("<I", len(raw)) + raw
    if has_ts and ts is not None and ts == ts:  # NaT-safe
        # ISO-8601 'T' separator: the FlatGeobuf DateTime convention
        # third-party consumers expect (the engine's own reader accepts
        # both via parse_ts_cell's ISO fallback) — ADVICE r14
        t = ts.strftime("%Y-%m-%dT%H:%M:%S").encode()
        props += struct.pack("<HI", 1, len(t)) + t
    parts = [[list(p) for p in part] for part in coords]
    return _feature_bytes(gtype, parts, bytes(props))


def _write_fgb(
    path: str,
    feats: list[tuple[float, float, float, float, bytes]],
    types: set,
    has_ts: bool,
    crs_id,
    node_size: int,
) -> None:
    """Assemble one .fgb: Hilbert-sort the features on envelope
    centers, build the packed R-tree, write magic+header+index+
    features. Shared by the single-file and sharded sinks."""
    cols = [("id", COLTYPE_STRING)] + (
        [("ts", COLTYPE_DATETIME)] if has_ts else [])
    n = len(feats)
    geom_type = (GEOM_TYPE_CODES[next(iter(types))]
                 if len(types) == 1 else 0)
    if n:
        gx0 = min(f[0] for f in feats)
        gy0 = min(f[1] for f in feats)
        gx1 = max(f[2] for f in feats)
        gy1 = max(f[3] for f in feats)
        sx = (_HILBERT_N - 1) / (gx1 - gx0 or 1.0)
        sy = (_HILBERT_N - 1) / (gy1 - gy0 or 1.0)
        feats.sort(key=lambda f: _hilbert_d(
            int(((f[0] + f[2]) / 2 - gx0) * sx),
            int(((f[1] + f[3]) / 2 - gy0) * sy),
        ))
        envelope = (gx0, gy0, gx1, gy1)
    else:
        envelope = None

    hdr = _header_bytes(n, geom_type, cols, envelope, crs_id,
                        node_size if n else 0,
                        os.path.splitext(os.path.basename(path))[0])
    items = []
    off = 0
    for f in feats:
        items.append((f[0], f[1], f[2], f[3], off))
        off += 4 + len(f[4])
    index = _pack_rtree(items, node_size) if n else b""
    with open(path, "wb") as out:
        out.write(MAGIC)
        out.write(struct.pack("<I", len(hdr)))
        out.write(hdr)
        out.write(index)
        for f in feats:
            out.write(struct.pack("<I", len(f[4])))
            out.write(f[4])


def export_flatgeobuf(
    entities: DataFrame,
    path: str,
    crs_id: tuple[str, int] | None = None,
    node_size: int = 16,
) -> None:
    """Single-file FlatGeobuf sink (driver-side assembly, the
    GeoPackage-sink mold: single-file format => toLocalIterator funnel,
    partition-at-a-time — an interop handoff, not bulk data movement;
    export_flatgeobuf_sharded below is the distributed scale path).
    Features are Hilbert-sorted on envelope centers and written behind
    a spec-conformant packed R-tree, so the output is spatially
    clustered and this module's reader plans ranged splits from the
    index leaves. id lands as a String property; ts (when present) as
    a DateTime property."""
    has_ts = "ts" in entities.columns
    sel = ["id", "gtype", "coords", "minx", "miny", "maxx", "maxy"] + (
        ["ts"] if has_ts else [])

    feats: list[tuple[float, float, float, float, bytes]] = []
    types = set()
    for r in entities.select(*sel).toLocalIterator():
        feats.append((r.minx, r.miny, r.maxx, r.maxy, _row_feature(
            r.id, r.gtype, r.coords, r.ts if has_ts else None, has_ts)))
        types.add(r.gtype)
    _write_fgb(path, feats, types, has_ts, crs_id, node_size)


def export_flatgeobuf_sharded(
    entities: DataFrame,
    path: str,
    crs_id: tuple[str, int] | None = None,
    node_size: int = 16,
    spatial_shards: int | None = None,
) -> None:
    """DISTRIBUTED FlatGeobuf sink: one .fgb per input partition into a
    directory — exactly the corpus layout read_flatgeobuf consumes as a
    single DataFrame. Executors serialize, Hilbert-sort, and index
    their own partitions in parallel (no driver funnel; no shuffle
    unless ``spatial_shards`` asks for one), so unlike the single-file
    sink this scales with the cluster. ``spatial_shards=N`` first
    repartitionByRange's on (minx, miny) into N shards, giving each
    file a coherent spatial extent so a later corpus bbox read skips
    WHOLE FILES via their R-tree root envelopes — one range shuffle
    traded for file-level pruning forever after. Empty partitions
    write no file. Overwrite semantics like DataFrame.write:
    pre-existing *.fgb shards in the directory, nested ones included,
    are removed first (scan.clear_corpus) — a rerun with fewer
    partitions must not leave stale shards mixed into the corpus."""
    clear_corpus(path, ".fgb")
    if spatial_shards:
        entities = entities.repartitionByRange(
            int(spatial_shards), "minx", "miny")
    has_ts = "ts" in entities.columns
    sel = ["id", "gtype", "coords", "minx", "miny", "maxx", "maxy"] + (
        ["ts"] if has_ts else [])

    def write_parts(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        feats: list[tuple[float, float, float, float, bytes]] = []
        types: set = set()
        for pdf in batches:
            tss = pdf["ts"] if has_ts else [None] * len(pdf)
            for rid, g, coords, mnx, mny, mxx, mxy, ts in zip(
                pdf["id"], pdf["gtype"], pdf["coords"], pdf["minx"],
                pdf["miny"], pdf["maxx"], pdf["maxy"], tss
            ):
                feats.append((mnx, mny, mxx, mxy, _row_feature(
                    rid, g, coords, ts if has_ts else None, has_ts)))
                types.add(g)
        n_files = 0
        if feats:
            _write_fgb(os.path.join(path, f"part-{pid:05d}.fgb"),
                       feats, types, has_ts, crs_id, node_size)
            n_files = 1
        yield pd.DataFrame({"files": [n_files], "rows": [len(feats)]})

    entities.select(*sel).mapInPandas(
        write_parts, "files long, rows long"
    ).groupBy().sum().collect()

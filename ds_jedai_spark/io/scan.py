"""One scan frame for the binary readers (shapefile, FlatGeobuf,
GeoPackage): everything of a scan that does not depend on the container
format. The reference decides a dataset's format once and reads a
directory through one loop (utils/readers/Reader.scala:38-71); here a
format module plans its splits (.shx strides, R-tree leaf runs, rowid
ranges) and decodes one split's records, and ``scan`` does the rest:
the plan frame, one ``mapInArrow`` over every file's splits, the Arrow
batch, the validity filter, the exact bbox filter, the date parse and
the one-CRS rule. The listing, the absent-field rule, the batch
assembly and the date parse serve the text readers (io/readers.py)
too.
"""

from __future__ import annotations

import glob as _glob
import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ds_jedai_spark.config import DEFAULT_DATE_PATTERN
from ds_jedai_spark.io.fsutil import fs_size, has_scheme
from ds_jedai_spark.model.geometry import GEOM_FIELDS, valid_geometries

_GEOM_NAMES = ["gtype", "coords", "minx", "miny", "maxx", "maxy"]


def corpus_files(path: str, ext: str) -> list[str]:
    """Canonical listing of a directory corpus: top-level ``*<ext>``,
    falling back to a recursive glob for nested (e.g. date-partitioned)
    layouts. ONE definition shared by the readers, the sharded sinks'
    overwrite pass and ``api.read_dataset``'s dispatch, so all of them
    agree on what constitutes the corpus (a stale nested shard can't be
    visible to one and invisible to another)."""
    return sorted(_glob.glob(os.path.join(path, "*" + ext))) or sorted(
        _glob.glob(os.path.join(path, "**", "*" + ext), recursive=True)
    )


def clear_corpus(path: str, ext: str) -> None:
    """Make ``path`` an empty corpus directory for a sharded sink:
    overwrite semantics like DataFrame.write. Removal repeats until
    ``corpus_files`` surfaces nothing — its nested fallback only looks
    below once the top level is empty — so a rerun with fewer
    partitions never leaves stale shards mixed into the corpus."""
    os.makedirs(path, exist_ok=True)
    while old := corpus_files(path, ext):
        for f in old:
            os.remove(f)


def list_files(path: str, ext: str, fmt: str) -> list[str]:
    """The files one scan reads: a local directory's corpus, one
    existing file (a bare path or a filesystem URI — io/fsutil), or a
    local glob pattern. Directory and glob listing stay local-path
    only."""
    local = not has_scheme(path)
    if local and os.path.isdir(path):
        files = corpus_files(path, ext)
    elif fs_size(path) is not None:
        return [path]
    elif local and any(ch in path for ch in "*?["):
        files = sorted(_glob.glob(path))
    else:
        raise ValueError(f"no such {fmt}: {path!r}")
    if not files:
        raise ValueError(f"no {ext} files under {path!r}")
    return files


def resolve_fields(
    names, id_field: str | None, date_field: str | None, where: str,
) -> tuple[str | None, str | None]:
    """(id column, date column) as spelled in ``names`` — the fields
    one file carries, matched case-insensitively. The id is None when
    the reader falls back to its ``<stem>:N`` or rowid ids: for
    ``id_field`` None, or for the default 'id' when the file has no
    such field. Any other absent name raises (the parquet reader's
    contract), naming ``where`` and the fields that are there."""
    low = {n.lower(): n for n in names if n}

    def pick(name: str | None, what: str, optional: bool) -> str | None:
        if name is None or (optional and name.lower() not in low):
            return None
        if name.lower() not in low:
            raise ValueError(f"{what} {name!r} not in {where} "
                             f"(fields: {sorted(low.values())})")
        return low[name.lower()]

    return (pick(id_field, "column", id_field == "id"),
            pick(date_field, "date column", False))


def row_schema(dated: bool) -> str:
    """DDL of a scan's Arrow batches: id, [ts_raw,] the geometry."""
    return "id string, " + ("ts_raw string, " if dated else "") + GEOM_FIELDS


def record_batch(ids, ts_raw, acc):
    """One batch in the row format: the ids, the raw date cells (left
    out when ``ts_raw`` is None) and the accumulator's geometry
    columns."""
    import pyarrow as pa

    cols, names = [pa.array(ids, pa.string())], ["id"]
    if ts_raw is not None:
        cols.append(pa.array(ts_raw, pa.string()))
        names.append("ts_raw")
    return pa.RecordBatch.from_arrays(cols + acc.arrays(),
                                      names=names + _GEOM_NAMES)


def parse_ts_cell(col, date_pattern: str):
    """Tolerant timestamp parse for reader date cells: the configured
    pattern first, then — only when the pattern is the engine default —
    the no-pattern ISO-8601 parser as an interop fallback (the
    '2024-03-01T10:00:05Z' convention FlatGeobuf/GeoPackage files carry
    in the wild). try_to_timestamp, never to_timestamp: under ANSI mode
    (the Spark 4 default) a single malformed cell would otherwise fail
    the WHOLE scan, while the readers' contract is cell-level tolerance
    (null ts, row kept) — the same philosophy as invalid geometry
    cells."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.try_to_timestamp(c, F.lit(date_pattern))
    if date_pattern == DEFAULT_DATE_PATTERN:
        out = F.coalesce(out, F.try_to_timestamp(c))
    return out


def with_ts(df: DataFrame, date_pattern: str) -> DataFrame:
    """Replace the raw ``ts_raw`` date cells with the parsed ``ts``."""
    return df.withColumn(
        "ts", parse_ts_cell("ts_raw", date_pattern)
    ).drop("ts_raw")


def apply_bbox(df: DataFrame, bbox) -> DataFrame:
    """Envelope-intersection predicate on the row format. Expressed as
    four scalar comparisons so Catalyst pushes them into the scan —
    on row-format parquet they land in PushedFilters and prune row
    groups from the min/max statistics; elsewhere they run JVM-side
    before any join."""
    bx0, by0, bx1, by1 = (float(v) for v in bbox)
    return df.where(
        (F.col("minx") <= bx1) & (F.col("maxx") >= bx0)
        & (F.col("miny") <= by1) & (F.col("maxy") >= by0)
    )


def one_crs(crss, path: str, ext: str) -> str | None:
    """The CRS a corpus declares: files that declare none are ignored,
    two different declarations refuse with guidance."""
    found = sorted({c for c in crss if c})
    if len(found) > 1:
        raise ValueError(
            f"mixed CRS across {ext} corpus {path!r}: {found}; "
            "reproject to one frame first (-op reproject)"
        )
    return found[0] if found else None


def scan(
    spark: SparkSession,
    splits: list[dict],
    decode,
    *,
    path: str,
    ext: str,
    crss,
    dated: bool,
    date_pattern: str = DEFAULT_DATE_PATTERN,
    bbox=None,
) -> DataFrame:
    """The distributed scan of planned ``splits`` (JSON-able dicts, one
    task each). ``decode(split)`` runs on an executor and returns
    ``(ids, ts_raw, GeometryAccumulator)`` for one split; invalid
    geometries are dropped. ``bbox`` filters the decoded rows exactly —
    whatever the format pruned before decode is a superset. ``crss``
    holds each file's declared CRS (None: undeclared); the one the
    corpus declares becomes the gtype column's ``crs`` metadata, which
    api.run compares between source and target. With no splits (every
    file pruned away) the result is an empty frame."""
    crs = one_crs(crss, path, ext)
    schema = row_schema(dated)
    if splits:
        def run(batches):
            for batch in batches:
                for raw in batch.column(0).to_pylist():
                    ids, ts_raw, acc = decode(json.loads(raw))
                    yield record_batch(ids, ts_raw if dated else None, acc)

        plan = spark.createDataFrame(
            [(json.dumps(s),) for s in splits], "split string"
        ).repartition(len(splits))
        out = valid_geometries(plan.mapInArrow(run, schema))
    else:
        out = spark.createDataFrame([], schema)
    if bbox is not None:
        out = apply_bbox(out, bbox)
    if dated:
        out = with_ts(out, date_pattern)
    if crs is not None:
        out = out.withMetadata("gtype", {"crs": crs})
    return out

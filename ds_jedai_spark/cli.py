"""Command-line entry point mirroring the reference's spark-submit UX.

    python -m ds_jedai_spark.cli -conf conf.yaml [-export PATH] [-budget N]
    python -m ds_jedai_spark.cli -pipeline <query|list> [-data DIR] [-limit N]
    python -m ds_jedai_spark.cli -op OP -left L [-right R] [op flags] \
        [-out OUT.parquet] [-limit N]

The first form prints the same summary the reference logs (reference:
experiments/GiantExp.scala:104-127 — verifications, qualifying pairs, the
9 relation counts, total time). The second runs any named engine query
(the driver-gate surface: spatial, progressive, dedup/ANN/text/media,
streaming) against a testdata directory. The third runs one operator of
the ``OPS`` table on the user's own data and prints its first rows, or
writes them as parquet with -out:

- spatial ops read any supported geometry dataset through
  ``api.read_dataset`` (WKT tsv/csv, GeoJSON, N-Triples, Shapefile,
  GeoPackage, FlatGeobuf, GeoParquet/WKB, engine parquet), take the id
  column ``id`` and honour -bbox: relate, convert, perturb, reproject,
  measures, density, dbscan, geohash, hull, knn, distance, zorder, zonal;
- the rest read user parquet with id column ``doc_id``: as-of and
  interval joins (asof, interval), text (chunk, shuffle, dupspans,
  scrub), near-dup dedup (dedup, dedup-build, dedup-apply, editdist,
  emb-dedup), ANN (ann, ann-build, quantize), entity resolution (er) and
  table statistics (quantiles, validate, profile).

Bad input exits 2 before Spark starts: a missing needed flag, a spatial
op's input that does not exist or that no ``api.FORMATS`` entry reads,
and the flag values an op's ``check`` can judge without data.

The flagship without a YAML: `-op relate` runs the full tile join +
exact DE-9IM verification (api.run — theta sampling, ref-point dedup,
the auto skew dispatcher) on two datasets; its flags build the document
a YAML would give and go through ``config.parse_config``. `-relation
DE9IM` prints the GiantExp counts row, a single predicate prints the
qualifying (s_id, t_id) pairs.

Build-once / query-many: `-op ann-build -index P` persists the full
auto-sized ANN index (IVF centroids+cells, PQ codebooks+codes, stamped
LSH bands) as tables; `-op ann -method brute|ivf|pq [-nprobe N]
[-index P]` searches it without retraining. `-op dedup-build -index T`
persists the bucketed shingle index; `-op dedup|dedup-apply -index T` /
`-op emb-dedup -index P` run the incremental / end-to-end dedup paths
against the standing artifacts.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from dataclasses import dataclass
from typing import Callable

from ds_jedai_spark.config import ConfigError, check_budget, parse_config


class _Usage(Exception):
    """A flag value an op cannot run with: printed, exit status 2."""


def _run_pipeline(name: str, data_dir: str, limit: int) -> int:
    from ds_jedai_spark.plans import gate
    from ds_jedai_spark.session import get_spark

    if name == "list":
        for q in gate.QUERIES:
            print(q)
        return 0
    if name not in gate.QUERIES:
        print(f"unknown query {name!r}; use '-pipeline list'", file=sys.stderr)
        return 2
    if not data_dir:
        print("-pipeline needs -data DIR (or set $TESTDATA_DIR)", file=sys.stderr)
        return 2

    spark = get_spark("ds_jedai_spark_cli")
    t0 = time.perf_counter()
    _print_or_write(gate.QUERIES[name](spark, data_dir), None, limit)
    print(f"TOTAL TIME: {time.perf_counter() - t0:.2f}s")
    spark.stop()
    return 0


def _print_or_write(df, out: str | None, limit: int) -> None:
    if out:
        _write_parquet(df, out)
        return
    # take/count instead of collect: a pair query at scale would ship
    # millions of rows to the driver just to print `limit` of them.
    rows = df.take(limit + 1)
    total = len(rows) if len(rows) <= limit else df.count()
    print("\t".join(df.columns))
    for row in rows[:limit]:
        print("\t".join(str(v) for v in row))
    if total > limit:
        print(f"... ({total} rows total)")


def _report(back, out: str, msg: str) -> None:
    """Print ``msg`` with {n} = the rows of ``back`` (what an op wrote,
    read back from disk) and {out} = the path it wrote."""
    print(msg.format(n=back.count(), out=out))


def _write_parquet(df, out: str, msg: str = "wrote {n} rows to {out}") -> None:
    df.write.mode("overwrite").parquet(out)
    _report(df.sparkSession.read.parquet(out), out, msg)


def _guard_rename(df, src: str, dst: str):
    """withColumnRenamed onto a frame that ALREADY carries the target
    name produces two same-named columns and ambiguous-reference
    AnalysisExceptions far downstream — refuse up front with guidance
    instead (the user must say which column wins). The missing-column
    check runs FIRST so it also fires when src == dst (the default
    -id-col on a frame that lacks it entirely)."""
    if src not in df.columns:
        raise SystemExit(
            f"column {src!r} not found in input (got columns {df.columns})"
        )
    if src == dst:
        return df
    if dst in df.columns:
        raise SystemExit(
            f"input already has a {dst!r} column while -id-col/-text-col "
            f"names {src!r}; drop or rename one of them (got columns "
            f"{df.columns})"
        )
    return df.withColumnRenamed(src, dst)


def _ann_query_pred(corpus, n: int):
    """Query-set predicate for -op ann: the n SMALLEST vec_ids actually
    PRESENT in the corpus. The gate's literal ``vec_id < n`` convention
    only works on dense 0..n-1 ids; on user parquet with offset/hashed/
    sparse id spaces it selects nothing and the whole search silently
    wrote 0 rows. ``orderBy().limit(n)`` compiles to
    TakeOrderedAndProject (per-partition top-n + driver merge of n-row
    heads — no global sort), and n is CLI-small (default 10), so the
    collected ids embed as a literal isin list. Raises instead of
    returning an always-false predicate when the corpus is empty."""
    from pyspark.sql import functions as F

    ids = [r["vec_id"] for r in
           corpus.select("vec_id").orderBy("vec_id").limit(n).collect()]
    if not ids:
        raise SystemExit(
            "-op ann: input has no vectors — the query/seed set would be "
            "empty and the search would write 0 rows; check -left and "
            "-id-col"
        )
    return F.col("vec_id").isin(ids)


def _read(spark, path: str, ts_cols: tuple[str, ...] = ()):
    """Read user parquet for the non-spatial ops."""
    # Mirror io.synthetic.register_views' TIMESTAMP(NANOS) handling:
    # nanosAsLong is harmless for normal files; a named timestamp
    # column that comes back as long is restored ONLY when the
    # parquet footer really says timestamp[ns] — a plain BIGINT
    # column (epoch micros/millis, a common layout) must not be
    # silently divided by 1000, so it errors with guidance instead.
    from pyspark.sql import functions as F, types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    long_ts = [
        c for c in ts_cols
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType)
    ]
    if long_ts:
        import glob

        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            f = parts[0] if parts else path
        arrow = pq.read_schema(f)
        for c in long_ts:
            t = arrow.field(c).type if c in arrow.names else None
            if str(t) == "timestamp[ns]":
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"{c} div 1000"))
                )
            else:
                raise SystemExit(
                    f"column {c!r} in {path} is {t} (plain integer?) — "
                    "cast it to a parquet timestamp, or add a derived "
                    "timestamp column; refusing to guess the epoch unit"
                )
    return df


def _docs(spark, args, path: str):
    """User parquet normalized to (doc_id, text) per -id-col/-text-col."""
    from pyspark.sql import functions as F

    df = _guard_rename(_read(spark, path), args.id_col, "doc_id")
    df = _guard_rename(df, args.text_col, "text")
    return df.select("doc_id", F.col("text").cast("string"))


def _vectors(spark, args, path: str):
    """User parquet normalized to (vec_id, label, embedding)."""
    from pyspark.sql import functions as F

    df = _read(spark, path)
    if "vec_id" not in df.columns:
        # -id-col names the id column (its default "doc_id" applies to
        # document frames; embeddings accept it or any explicit name)
        if args.id_col in df.columns:
            df = _guard_rename(df, args.id_col, "vec_id")
        else:
            raise SystemExit(
                f"embedding input needs a 'vec_id' column or -id-col "
                f"naming one; got columns {df.columns}"
            )
    if "label" not in df.columns:
        df = df.withColumn("label", F.lit(0).cast("long"))
    return df.select("vec_id", "label", "embedding")


def _dataset(spark, args, path: str, dated: bool = True):
    """Any supported spatial dataset, read with -id-col/-geom-col/-bbox
    (and -date-col unless ``dated`` is False)."""
    from ds_jedai_spark import api
    from ds_jedai_spark.config import DatasetSpec

    return api.read_dataset(spark, DatasetSpec(
        path=path, id_field=args.id_col, geom_field=args.geom_col,
        date_field=args.date_col if dated else None,
    ), bbox=args.bbox)


def _gtype_meta(src) -> dict:
    """The CRS metadata readers carry on the gtype column."""
    return (src.schema["gtype"].metadata
            if "gtype" in src.columns else None) or {}


def _crs_id(src) -> tuple[str, int] | None:
    """('ORG', code) from an 'ORG:code' CRS, the form the GeoPackage and
    FlatGeobuf sinks write."""
    org, _, code = (_gtype_meta(src).get("crs") or "").partition(":")
    return (org, int(code)) if code.isdigit() else None


def _relate_config(args):
    # Flagship convenience: tile join + exact relate on arbitrary user
    # WKT (tsv/csv/geojson/nt/shapefile) or engine parquet, no YAML —
    # `-op relate -left s.tsv -right t.tsv -relation intersects`. The
    # flags fill the document a YAML would give, so parse_config is the
    # one validation path, as the reference's ConfigurationParser reads
    # flags and YAML alike (ConfigurationParser.scala:107-160).
    def given(**kw):
        return {k: v for k, v in kw.items() if v is not None}

    def side(path):
        return given(path=path, realIdField=args.id_col,
                     geometryField=args.geom_col, dateField=args.date_col)

    return parse_config({
        "source": side(args.left),
        "target": side(args.right),
        "relation": args.relation,
        "configurations": given(
            progressiveAlgorithm=args.algorithm,
            budget=args.budget,
            mainWF=args.main_wf,
            gridType=args.grid_type,
            partitions=args.partitions,
            entityType=args.entity_type,
            # -export works like the -conf form: RDF flags for DE9IM,
            # CSV pairs for a single predicate
            exportPath=args.export,
            bbox=args.bbox,
            autoReproject=args.auto_reproject or None,
        ),
    })


def _op_relate(spark, args):
    from ds_jedai_spark import api

    return api.run(spark, _relate_config(args))


_CONVERT_TO = ("rowparquet", "geoparquet", "geojson", "shapefile",
               "geopackage", "flatgeobuf")


def _check_convert(args) -> None:
    if args.to not in _CONVERT_TO:
        raise _Usage(f"unknown -to {args.to!r}; choose from "
                     f"{'/'.join(_CONVERT_TO)}")


def _op_convert(spark, args):
    # Format conversion through the full reader/writer surface: any
    # supported geometry dataset -> the engine row format, written as
    # row-format parquet (zero-parse re-reads), GeoParquet/WKB, NDJSON
    # GeoJSON, Shapefile, GeoPackage or FlatGeobuf. The ingest-side
    # converter a user runs ONCE so every later job takes the parquet
    # fast path.
    from ds_jedai_spark.io import writers

    src, out = _dataset(spark, args, args.left), args.out
    if args.to == "rowparquet":
        src.write.mode("overwrite").parquet(out)
        back = spark.read.parquet(out)
    elif args.to == "geoparquet":
        # Propagate the input's CRS (GeoParquet footer PROJJSON the
        # reader carried as gtype column metadata) into the output
        # footer, so convert round-trips CRS declarations.
        import json

        projjson = _gtype_meta(src).get("crs_projjson")
        writers.export_geoparquet(
            src, out, crs=json.loads(projjson) if projjson else None)
        back = spark.read.parquet(out)
    elif args.to == "geopackage":
        # -out ending in .gpkg: single-file interop sink (driver-side
        # assembly — SQLite is single-writer per file); anything else: a
        # DIRECTORY of per-partition .gpkg shards assembled by the
        # executors in parallel (the scale path, mirroring the fgb
        # dispatch). CRS from the input's metadata lands in
        # gpkg_spatial_ref_sys either way.
        from ds_jedai_spark.io.geopackage import (
            export_geopackage,
            export_geopackage_sharded,
            read_geopackage,
        )

        sink = (export_geopackage if out.lower().endswith(".gpkg")
                else export_geopackage_sharded)
        sink(src, out, crs_id=_crs_id(src))
        back = read_geopackage(spark, out)
    elif args.to == "flatgeobuf":
        # -out ending in .fgb: single-file interop sink (driver-side
        # assembly); anything else: a DIRECTORY of per-partition .fgb
        # shards written by the executors in parallel — the corpus
        # layout the reader consumes as one DataFrame. Both
        # Hilbert-sorted behind a packed R-tree; CRS from the input's
        # metadata lands in each header's Crs table.
        from ds_jedai_spark.io.flatgeobuf import (
            export_flatgeobuf,
            export_flatgeobuf_sharded,
            read_flatgeobuf,
        )

        sink = (export_flatgeobuf if out.lower().endswith(".fgb")
                else export_flatgeobuf_sharded)
        sink(src, out, crs_id=_crs_id(src))
        back = read_flatgeobuf(spark, out)
    elif args.to == "shapefile":
        # directory-of-shapefiles sink (one spec-conformant .shp/.shx/
        # .dbf triple per partition x shape kind; known CRS becomes a
        # .prj) — count via the reader
        from ds_jedai_spark.io.shapefile import (
            export_shapefile,
            read_shapefile,
        )

        export_shapefile(src, out)
        back = read_shapefile(spark, out)
    else:
        writers.export_geojson(src, out)
        back = spark.read.text(out)
    _report(back, out, f"wrote {{n}} entities to {{out}} ({args.to})")


def _op_perturb(spark, args):
    # the reference's GeometryTransformer experiment tool
    # (experiments/GeometryTransformer.scala:66-91) as an engine op:
    # read any supported dataset, perturb, write row-format parquet
    # (deterministic: same -seed -> same output)
    from ds_jedai_spark.io.synthetic import perturb_geometries

    _write_parquet(
        perturb_geometries(_dataset(spark, args, args.left),
                           eps_steps=args.eps_steps, seed=args.seed),
        args.out,
        "wrote {n} perturbed entities to {out} "
        f"(eps={args.eps_steps}/16, seed={args.seed})",
    )


def _op_reproject(spark, args):
    # Closed-form CRS reprojection (EPSG:4326 <-> EPSG:3857): the
    # in-engine remedy for the CRS-mismatch warning. Reads any supported
    # dataset, rewrites coordinates JVM-side (operators/crs.py), writes
    # row-format parquet carrying the new CRS in the gtype metadata.
    from ds_jedai_spark.operators.crs import reproject

    src = _dataset(spark, args, args.left)
    src_crs = args.from_crs or _gtype_meta(src).get("crs")
    _write_parquet(reproject(src, args.to_crs, from_crs=args.from_crs),
                   args.out,
                   f"wrote {{n}} entities to {{out}} "
                   f"({src_crs} -> {args.to_crs})")


def _op_measures(spark, args):
    # Per-entity geometry measures (ST_NPoints/Length/Perimeter/Area/
    # Centroid equivalents) — operators/measures.py; npoints/length/
    # perimeter are pure JVM expressions, area/centroid ride the Arrow
    # batch path.
    from ds_jedai_spark.operators.measures import with_measures

    cols = ["id", "gtype", "npoints", "length", "perimeter", "area",
            "centroid_x", "centroid_y", "unit"]
    if args.geodesic:
        cols += ["length_m", "perimeter_m", "area_m2"]
    return with_measures(_dataset(spark, args, args.left),
                         geodesic=args.geodesic, seam=args.seam).select(*cols)


def _op_density(spark, args):
    # Grid-cell density (heatmap aggregation) — operators/spatial_agg:
    # one pure-JVM groupBy on floor-snapped envelope centers.
    from ds_jedai_spark.operators.spatial_agg import grid_density

    return grid_density(
        _dataset(spark, args, args.left), cell=args.cell,
        weight_col=args.weight_col, coverage=args.coverage,
    ).orderBy("cell_x", "cell_y")


def _op_dbscan(spark, args):
    # Density-based clustering — operators/clustering.dbscan (tile-join
    # eps-graph + large-star/small-star contraction; deterministic
    # labels). eps comes from -tau.
    from ds_jedai_spark.operators.clustering import dbscan

    return dbscan(_dataset(spark, args, args.left), eps=args.tau,
                  min_pts=args.minpts, geodesic=args.geodesic,
                  use_center=args.center).orderBy("id")


def _op_geohash(spark, args):
    # Geohash cell keys — operators/geohash: pure-JVM closed-form
    # projection (no shuffle), keyed on the envelope center; -cover
    # emits every overlapped cell instead.
    from ds_jedai_spark.operators.geohash import geohash_cover, with_geohash

    src = _dataset(spark, args, args.left)
    if args.cover:
        return geohash_cover(src, precision=args.precision).select(
            "id", "geohash").orderBy("id", "geohash")
    return with_geohash(src, precision=args.precision).select(
        "id", "geohash").orderBy("id")


def _op_hull(spark, args):
    # Convex hull corners of a dataset's points/envelope corners —
    # operators/hull.convex_hull (per-partition monotone chain, one-task
    # final merge).
    from ds_jedai_spark.operators.hull import convex_hull

    return convex_hull(_dataset(spark, args, args.left), by=args.by)


def _points(spark, args):
    """-left and -right as point datasets, CRS-checked like -op relate.
    The distance/kNN joins are point-to-point by contract
    (expanded-MBR tile join / iterative radius expansion,
    operators/spatial_join.py); non-point input errors with guidance."""
    from ds_jedai_spark import api

    def read(path):
        df = _dataset(spark, args, path, dated=False)
        if df.where("minx != maxx OR miny != maxy").limit(1).count():
            raise SystemExit(
                f"-op {args.op}: {path} contains non-point geometries; "
                "the distance/kNN joins are point-to-point (reduce to "
                "centroids upstream, or use -op relate for region "
                "predicates)"
            )
        return df

    s, t = read(args.left), read(args.right)
    # same CRS-mismatch warning the relate path gives (api.run)
    api._check_crs(s, t, strict=False)
    return s, t


def _op_distance(spark, args):
    from ds_jedai_spark.operators import spatial_join as sj

    s, t = _points(spark, args)
    if args.geodesic:
        # -tau in METERS over lon/lat input (great-circle)
        return sj.geodesic_distance_join(s, t, radius_m=float(args.tau))
    return sj.distance_join(s, t, radius=float(args.tau))


def _op_knn(spark, args):
    from pyspark.sql import functions as F

    from ds_jedai_spark.operators import spatial_join as sj

    s, t = _points(spark, args)
    # Same-id exclusion is a self-join convention only: two independent
    # datasets with overlapping id spaces keep same-id pairs (consistent
    # with -op distance).
    same = os.path.realpath(args.left) == os.path.realpath(args.right)
    if args.geodesic:
        # great-circle exact kNN over lon/lat points (meters;
        # antimeridian-correct per round)
        return sj.knn_join_exact_geodesic(
            s, t, k=args.k, self_join=same).drop("dist_mm")
    # exact kNN: the final round's radius must reach the whole domain,
    # so derive it from the joint extent (one cheap 4-column aggregate)
    env = ("minx", "miny", "maxx", "maxy")
    r = (
        s.select(*env).unionByName(t.select(*env))
        .agg(F.min("minx").alias("a"), F.max("maxx").alias("b"),
             F.min("miny").alias("c"), F.max("maxy").alias("d"))
        .first()
    )
    diam = (max(r.b - r.a, r.d - r.c, 0.0) * 1.415 + 1.0
            if r.a is not None else 1.0)  # empty input
    return sj.knn_join_exact(s, t, k=args.k, rmax=max(256.0, diam),
                             self_join=same)


def _op_asof(spark, args):
    from ds_jedai_spark.operators.temporal import asof_join

    return asof_join(
        _read(spark, args.left, (args.ts,)),
        _read(spark, args.right, (args.ts,)),
        key=args.key.split(","),
        ts=args.ts,
        right_attrs=tuple(a for a in (args.right_attrs or "").split(",") if a),
        bucket_us=("auto" if args.bucket_us == "auto"
                   else int(args.bucket_us) if args.bucket_us else None),
        direction=args.direction,
        tolerance_us=args.tolerance_us,
        allow_exact_matches=not args.no_exact_matches,
    )


def _check_interval(args) -> None:
    if args.bucket_us is None:
        raise _Usage("needs a bucket width (-bucket-us N or the default "
                     "'auto', which derives it from the p95 interval "
                     "length); 'none' only applies to asof")


def _op_interval(spark, args):
    from ds_jedai_spark.operators.temporal import interval_join

    keys = [tuple(p.split("=", 1))
            for p in (args.keys.split(",") if args.keys else [])]
    ldf = _read(spark, args.left, (args.ts,))
    rdf = _read(spark, args.right, (args.right_start, args.right_end))
    # interval_join needs disjoint column names: prefix colliding right
    # columns (r_<name>) and remap the right-side refs.
    ren = {c: f"r_{c}" for c in rdf.columns if c in ldf.columns}
    for old, new in ren.items():
        rdf = rdf.withColumnRenamed(old, new)
    return interval_join(
        ldf,
        rdf,
        left_ts=args.ts,
        right_start=ren.get(args.right_start, args.right_start),
        right_end=ren.get(args.right_end, args.right_end),
        bucket_us=(int(args.bucket_us) if args.bucket_us != "auto"
                   else "auto"),
        keys=[(lk, ren.get(rk, rk)) for lk, rk in keys] or None,
        how=args.how,
    )


def _op_chunk(spark, args):
    from ds_jedai_spark.operators.textops import chunk_documents

    return chunk_documents(_docs(spark, args, args.left),
                           chunk_tokens=args.chunk_tokens,
                           overlap=args.overlap)


def _op_dedup(spark, args):
    from ds_jedai_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_cross,
    )

    left = _docs(spark, args, args.left)
    tau = args.tau if args.tau is not None else 0.8
    if args.index:
        # incremental vs the PERSISTED bucketed shingle table
        # (dedup-build): the shingle index carries everything the cross
        # path needs (band keys, verification sets, sizes), so only the
        # batch side shingles per ingest and no -right re-read of the
        # corpus is required
        return minhash_lsh_pairs_cross(left, None, tau=tau,
                                       sh_b=spark.table(args.index))
    if args.right:
        # incremental: batch (left) vs standing corpus (right)
        return minhash_lsh_pairs_cross(
            left, _docs(spark, args, args.right), tau=tau)
    return minhash_lsh_pairs(left, tau=tau)


def _op_dedup_build(spark, args):
    # Persist the standing corpus' shingle table BUCKETED by the join
    # key (pin_shingles with a table) — the multi-job index a daily
    # incremental dedup joins against with no Exchange on the index
    # side. Search with `-op dedup -right corpus.parquet -index TBL`.
    from pyspark.sql import functions as F

    from ds_jedai_spark.operators.dedup import pin_shingles

    sh = pin_shingles(_docs(spark, args, args.left), table=args.index)
    return sh.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("doc_id").alias("n_docs"),
    ).withColumn("index_table", F.lit(args.index))


def _op_dedup_apply(spark, args):
    # The full dedup pipeline in one command: MinHash-LSH pair discovery
    # -> connected-component clustering (pointer doubling) ->
    # materialize the SURVIVING corpus (one representative per cluster +
    # all unclustered docs, cluster_id = -1 for the latter). The output
    # is the deduplicated corpus itself, not pair diagnostics.
    from ds_jedai_spark.operators.dedup import (
        dedup_apply,
        duplicate_clusters,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, args, args.left)
    # -index: reuse the persisted bucketed shingle table (dedup-build
    # over the same corpus) instead of re-shingling
    sh = spark.table(args.index) if args.index else None
    pairs = minhash_lsh_pairs(
        docs, tau=args.tau if args.tau is not None else 0.8, sh=sh)
    return dedup_apply(docs, duplicate_clusters(pairs))


def _op_emb_dedup(spark, args):
    from ds_jedai_spark.operators.similarity import (
        lsh_neardup_pairs,
        lsh_neardup_pairs_cross,
    )

    left = _vectors(spark, args, args.left)
    tau = args.tau if args.tau is not None else 0.9
    if args.right:
        # -index reuses the ann-build band table; its (lsh_bands,
        # lsh_bits) stamp fixes the batch side's hyperplane parameters
        # (n_bands='auto' reads it)
        bands = spark.table(f"{args.index}_bands") if args.index else None
        return lsh_neardup_pairs_cross(
            left, _vectors(spark, args, args.right), tau,
            index_bands=bands, n_bands="auto",
        )
    if args.index:
        # self-dedup over the PERSISTED band table (-left must be the
        # corpus the index was built from): collisions come from the
        # pin, exact-cosine verification from -left
        return lsh_neardup_pairs(
            left, tau, bands=spark.table(f"{args.index}_bands"))
    return lsh_neardup_pairs(left, tau, n_bands="auto")


def _op_ann_build(spark, args):
    # Build the FULL ANN index ONCE and persist every artifact as a
    # table under -index PREFIX — the deployment shape the API's pin_*
    # table modes support (train once, query many): IVF centroids + cell
    # assignments, PQ codebooks + codes (auto-sized to the corpus), and
    # the stamped LSH band table. `-op ann -index PREFIX` then searches
    # without retraining.
    from pyspark.sql import functions as F

    from ds_jedai_spark.operators import similarity as sim

    corpus = _vectors(spark, args, args.left)
    n_corpus = corpus.count()
    if n_corpus == 0:
        raise SystemExit(
            "-op ann-build: input has no vectors; check -left/-id-col")
    dim = len(corpus.select("embedding").first()["embedding"])
    p = args.index
    cells_n = sim.auto_ivf_cells(n_corpus)
    cent = sim.pin_centroids(corpus, k=cells_n, table=f"{p}_cent")
    sim.pin_cells(corpus, cent, table=f"{p}_cells")
    m, kk = sim.auto_pq_params(n_corpus, dim)
    books = sim.pin_codebooks(corpus, k=kk, m=m, table=f"{p}_books")
    sim.pin_codes(corpus, books, table=f"{p}_codes")
    bands, bits = sim.auto_lsh_params(n_corpus, args.tau or 0.9)
    sim.pin_bands(corpus, table=f"{p}_bands", bands=bands, bits=bits)
    return spark.createDataFrame(
        [(n_corpus, dim, cells_n, m, kk, bands, bits)],
        "n_vectors long, dim int, ivf_cells int, pq_m int, "
        "pq_k int, lsh_bands int, lsh_bits int",
    ).withColumn("index_prefix", F.lit(p))


def _check_ann(args) -> None:
    if args.index and args.method == "brute":
        raise _Usage("-method brute does not use an index; drop -index")


def _op_ann(spark, args):
    from pyspark.sql import functions as F

    from ds_jedai_spark.operators import similarity as sim
    from ds_jedai_spark.pins import pin

    corpus = _vectors(spark, args, args.left)
    k = args.k
    # id-space-safe query set: the n smallest ids PRESENT (raises on an
    # empty corpus instead of writing 0 rows) — all methods; the gate's
    # literal vec_id < n is the dense-id testdata convention only.
    pred = _ann_query_pred(corpus, args.n_queries)
    if args.method == "brute":
        return sim.brute_topk(corpus, k=k, query_pred=pred)
    if args.method == "pq":
        if args.index:
            stacked = spark.table(f"{args.index}_books")
            n_m = stacked.agg(F.countDistinct("m").alias("m")).first()["m"]
            books = [stacked.where(F.col("m") == mi).select("cid", "cv")
                     for mi in range(n_m)]
            codes = spark.table(f"{args.index}_codes")
        else:
            n_corpus = corpus.count()
            dim = len(corpus.select("embedding").first()["embedding"])
            m, kk = sim.auto_pq_params(n_corpus, dim)
            books = sim.pin_codebooks(corpus, k=kk, m=m)
            codes = sim.pin_codes(corpus, books)
        return sim.pq_rerank_topk(
            corpus, k=k, shortlist=max(20, 10 * k),
            books=books, codes=codes, query_pred=pred,
        )
    if args.index:
        cent = spark.table(f"{args.index}_cent")
        cells = spark.table(f"{args.index}_cells")
    else:
        n_corpus = corpus.count()
        cent = pin(sim.train_centroids(
            corpus, k=sim.auto_ivf_cells(n_corpus)))
        if not cent.take(1):
            raise SystemExit(
                "-op ann: IVF centroid training produced no seeds "
                f"(corpus rows: {n_corpus}); check -left/-id-col"
            )
        cells = pin(sim.kmeans_assignments(corpus, cent=cent).select(
            "vec_id", "cid"))
    if args.nprobe > 1:
        # recall/latency knob: scan the nprobe nearest cells
        return sim.ivf_multiprobe_topk(
            corpus, k=k, nprobe=args.nprobe,
            cent=cent, cells=cells, query_pred=pred,
        )
    return sim.ivf_trained_topk(corpus, k=k, cent=cent, cells=cells,
                                query_pred=pred)


def _op_quantize(spark, args):
    # symmetric int8 quantization stats per vector — the 4x
    # memory-reduction pre-pass of a vector corpus (exact integer error
    # metric; see int8_quantize_stats)
    from ds_jedai_spark.operators.similarity import int8_quantize_stats

    return int8_quantize_stats(_vectors(spark, args, args.left))


def _op_shuffle(spark, args):
    from ds_jedai_spark.operators.textops import (
        SHUFFLE_SHARDS,
        corpus_shuffle_positions,
    )

    docs = _guard_rename(_read(spark, args.left), args.id_col, "doc_id")
    return corpus_shuffle_positions(docs.select("doc_id"),
                                    shards=args.shards or SHUFFLE_SHARDS)


def _op_dupspans(spark, args):
    from ds_jedai_spark.operators.textops import duplicated_spans

    return duplicated_spans(_docs(spark, args, args.left), k=args.span_words)


def _op_scrub(spark, args):
    from ds_jedai_spark.operators.textops import scrubbed_corpus

    return scrubbed_corpus(_docs(spark, args, args.left), k=args.span_words)


def _filter_ratio(args) -> tuple[int, int] | None:
    """-filter-ratio p/q of the meta blocker, or None."""
    if args.blocker != "meta" or not args.filter_ratio:
        return None
    try:
        pn, qn = args.filter_ratio.split("/")
        return int(pn), int(qn)
    except ValueError:
        raise _Usage(f"-filter-ratio expects p/q (e.g. 4/5), got "
                     f"{args.filter_ratio!r}") from None


def _op_er(spark, args):
    from ds_jedai_spark.operators import blocking

    fr = _filter_ratio(args)
    left = _docs(spark, args, args.left)
    right = _docs(spark, args, args.right) if args.right else None
    if args.blocker == "snb":
        w = args.window if args.window is not None else blocking.SNB_WINDOW
        df = (blocking.sorted_neighborhood(left, window=w) if right is None
              else blocking.sorted_neighborhood_cross(left, right, window=w))
    else:
        kw = dict(prune=args.prune, k=args.er_k, filter_ratio=fr,
                  max_block=(args.max_block if args.max_block is not None
                             else blocking.PURGE_MAX))
        # with -right, clean-clean: candidates only ACROSS -left/-right
        # (ids must be disjoint between the two datasets)
        df = (blocking.er_pairs(left, **kw) if right is None
              else blocking.er_pairs_cross(left, right, **kw))
    if not args.cluster:
        return df
    # end-to-end ER output: candidate pairs -> connected components
    # (star contraction) -> entity clusters
    from pyspark.sql import functions as F

    from ds_jedai_spark.operators.clustering import connected_components_star

    return connected_components_star(df.select("d1", "d2")).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def _op_editdist(spark, args):
    from ds_jedai_spark.operators.dedup import edit_distance_pairs

    return edit_distance_pairs(_docs(spark, args, args.left), d=args.edit_d)


def _op_zorder(spark, args):
    # Rewrite any reader-supported dataset as z-ordered parquet
    # (Morton-key layout over the envelope centers) so later -bbox scans
    # prune files/row groups instead of reading the corpus —
    # io/layout.py.
    from pyspark.sql import functions as F

    from ds_jedai_spark.io import layout

    src = _dataset(spark, args, args.left)
    ext = src.agg(
        F.min("minx"), F.min("miny"), F.max("maxx"), F.max("maxy")
    ).first()
    if ext[0] is None:
        raise _Usage("empty input")
    pad = 1e-9  # keep the max corner inside the half-open domain
    zf = layout.zorder_frame(
        src.withColumn("__cx", (F.col("minx") + F.col("maxx")) / 2)
        .withColumn("__cy", (F.col("miny") + F.col("maxy")) / 2),
        x_col="__cx", y_col="__cy",
        bounds=(float(ext[0]), float(ext[1]),
                float(ext[2]) + pad, float(ext[3]) + pad),
        files=args.files,
    ).drop("__cx", "__cy")
    _write_parquet(zf, args.out, "z-ordered {n} rows -> {out}")


def _op_zonal(spark, args):
    # Zonal statistics: per-zone point count (+ -value-col sum) through
    # tile join + exact relate + rollup.
    from ds_jedai_spark.operators.spatial_agg import zonal_stats

    zones = _dataset(spark, args, args.left, dated=False)
    pts = _dataset(spark, args, args.right, dated=False)
    return zonal_stats(zones, pts, value_col=args.value_col).orderBy("zone_id")


def _rules(args) -> dict[str, str]:
    """-rules as {name: SQL predicate}."""
    rules = {}
    for part in args.rules.split(";"):
        name, sep, pred = part.partition(":")
        if not sep or not name.strip() or not pred.strip():
            raise _Usage(f"bad -rules entry {part!r}; expected "
                         "name:predicate")
        rules[name.strip()] = pred.strip()
    return rules


def _op_validate(spark, args):
    # Declarative expectation checks (operators/validate.py): one
    # aggregate pass, exact violation counts per rule.
    from ds_jedai_spark.operators.validate import validate

    return validate(_read(spark, args.left), _rules(args))


def _op_profile(spark, args):
    # Per-column discovery profile (nulls / distinct / extrema) —
    # operators/validate.profile; one aggregate pass.
    from ds_jedai_spark.operators.validate import profile

    cols = args.cols.split(",") if args.cols else None
    return profile(_read(spark, args.left), cols).orderBy("column")


def _permille(args) -> tuple[int, ...]:
    try:
        return tuple(int(p) for p in args.permille.split(","))
    except ValueError:
        raise _Usage(f"-permille expects comma-separated integers, got "
                     f"{args.permille!r}") from None


def _op_quantiles(spark, args):
    # Exact distributed quantiles (type-1 rank selection, integer rank
    # arithmetic) — operators/ranking.py; -by switches to the per-group
    # window variant.
    from ds_jedai_spark.operators.ranking import (
        exact_quantiles,
        exact_quantiles_by,
    )

    ps = _permille(args)
    src = _read(spark, args.left)
    if args.by:
        return exact_quantiles_by(src, args.value_col, args.by, ps).orderBy(
            args.by, "permille")
    return exact_quantiles(src, args.value_col, ps).orderBy("permille")


@dataclass(frozen=True)
class Op:
    """One -op. ``body(spark, args)`` returns the frame to print or
    write, or None when it wrote and reported its own output. ``needs``
    names the argparse dests that must be set. ``spatial`` ops read
    datasets through api.read_dataset, default -id-col to ``id`` and
    accept -bbox; the others read user parquet with -id-col ``doc_id``.
    ``check(args)`` validates flag values that need no data; it raises
    _Usage (or ConfigError) before Spark starts."""

    body: Callable
    needs: tuple[str, ...] = ("left",)
    spatial: bool = False
    check: Callable | None = None


OPS: dict[str, Op] = {
    "relate": Op(_op_relate, ("left", "right"), spatial=True,
                 check=_relate_config),
    "convert": Op(_op_convert, ("left", "out"), spatial=True,
                  check=_check_convert),
    "perturb": Op(_op_perturb, ("left", "out"), spatial=True),
    "reproject": Op(_op_reproject, ("left", "out", "to_crs"), spatial=True),
    "measures": Op(_op_measures, spatial=True),
    "density": Op(_op_density, spatial=True),
    "dbscan": Op(_op_dbscan, ("left", "tau"), spatial=True),
    "geohash": Op(_op_geohash, spatial=True),
    "hull": Op(_op_hull, spatial=True),
    "knn": Op(_op_knn, ("left", "right"), spatial=True),
    "distance": Op(_op_distance, ("left", "right", "tau"), spatial=True),
    "asof": Op(_op_asof, ("left", "right")),
    "interval": Op(_op_interval, ("left", "right"), check=_check_interval),
    "chunk": Op(_op_chunk),
    "dedup": Op(_op_dedup),
    "dedup-build": Op(_op_dedup_build, ("left", "index")),
    "dedup-apply": Op(_op_dedup_apply),
    "emb-dedup": Op(_op_emb_dedup),
    "ann": Op(_op_ann, check=_check_ann),
    "ann-build": Op(_op_ann_build, ("left", "index")),
    "quantize": Op(_op_quantize),
    "shuffle": Op(_op_shuffle),
    "dupspans": Op(_op_dupspans),
    "scrub": Op(_op_scrub),
    "er": Op(_op_er, check=_filter_ratio),
    "editdist": Op(_op_editdist),
    "zorder": Op(_op_zorder, ("left", "out"), spatial=True),
    "quantiles": Op(_op_quantiles, ("left", "value_col"), check=_permille),
    "validate": Op(_op_validate, ("left", "rules"), check=_rules),
    "profile": Op(_op_profile),
    "zonal": Op(_op_zonal, ("left", "right"), spatial=True),
}
BBOX_OPS = tuple(name for name, op in OPS.items() if op.spatial)


def _flag(dest: str) -> str:
    return "-" + dest.replace("_", "-")


def _check_dataset(path: str) -> None:
    """A spatial op's input, refused before Spark starts when it names
    no local file, directory or glob, or when no api.FORMATS entry
    reads it. Filesystem URIs are left to the reader."""
    from ds_jedai_spark import api
    from ds_jedai_spark.io.fsutil import has_scheme

    if not (has_scheme(path) or os.path.exists(path)
            or any(ch in path for ch in "*?[")):
        raise _Usage(f"no such dataset: {path}")
    try:
        api.dataset_format(path)
    except ValueError as e:
        raise _Usage(str(e)) from None


def _run_op(args) -> int:
    """Run one ``OPS`` entry: refuse before Spark starts if a needed
    flag is missing, a spatial input cannot be read or the op's check
    fails; then run the body, print or write what it returns."""
    op = OPS[args.op]
    missing = [_flag(d) for d in op.needs if getattr(args, d) in (None, "")]
    if missing:
        print(f"-op {args.op} needs {' and '.join(map(_flag, op.needs))}; "
              f"missing {' and '.join(missing)}", file=sys.stderr)
        return 2
    try:
        if op.spatial:
            for dest in ("left", "right"):
                if dest in op.needs:
                    _check_dataset(getattr(args, dest))
        if op.check is not None:
            op.check(args)
    except (_Usage, ConfigError) as e:
        print(f"-op {args.op}: {e}", file=sys.stderr)
        return 2

    from ds_jedai_spark.session import get_spark

    spark = get_spark("ds_jedai_spark_cli")
    t0 = time.perf_counter()
    try:
        df = op.body(spark, args)
        if df is not None:
            _print_or_write(df, args.out, args.limit)
        print(f"TOTAL TIME: {time.perf_counter() - t0:.2f}s")
        return 0
    except (_Usage, ConfigError) as e:
        print(f"-op {args.op}: {e}", file=sys.stderr)
        return 2
    finally:
        spark.stop()


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="ds_jedai_spark")
    ap.add_argument("-conf", default=None, help="YAML configuration file")
    ap.add_argument("-export", default=None, help="override exportPath")
    ap.add_argument("-budget", type=int, default=None, help="override budget")
    ap.add_argument(
        "-pipeline",
        default=None,
        help="run a named engine query ('list' to enumerate) instead of -conf",
    )
    ap.add_argument(
        "-data",
        default=os.environ.get("TESTDATA_DIR"),
        help="testdata dir for -pipeline (default: $TESTDATA_DIR)",
    )
    ap.add_argument("-limit", type=int, default=20, help="rows to print (-pipeline)")
    ap.add_argument(
        "-op",
        default=None,
        choices=list(OPS),
        help="run one operator on user data: the spatial ops "
             f"({'/'.join(BBOX_OPS)}) read any supported geometry "
             "dataset, the others read parquet",
    )
    ap.add_argument("-index", default=None,
                    help="persisted-index name: -op ann-build/-op ann use "
                         "it as a table prefix (IVF/PQ/LSH artifacts); "
                         "-op dedup-build/-op dedup as the bucketed "
                         "shingle table; -op emb-dedup reads "
                         "<prefix>_bands")
    ap.add_argument("-bbox", default=None,
                    help="spatial subset 'minx,miny,maxx,maxy' applied "
                         f"to the inputs of {'/'.join(BBOX_OPS)} — pushed "
                         "into the scan (FlatGeobuf R-tree skip, parquet "
                         "row-group stats); envelope-intersection "
                         "semantics")
    ap.add_argument("-cell", type=float, default=1.0,
                    help="density: grid cell size in CRS units")
    ap.add_argument("-by", default=None,
                    help="hull: compute one hull PER GROUP of this "
                         "column (e.g. a dbscan cluster label) instead "
                         "of one global hull")
    ap.add_argument("-weight-col", dest="weight_col", default=None,
                    help="density: sum this column per cell instead of "
                         "counting entities (output column 'w')")
    ap.add_argument("-coverage", action="store_true",
                    help="density: count each entity once per "
                         "OVERLAPPED cell (envelope floor-span explode) "
                         "instead of once at its center")
    ap.add_argument("-prune", default="wnp",
                    choices=["wep", "wnp", "cnp", "cep", "none"],
                    help="er: meta-blocking pruning scheme — weighted "
                         "edge/node (mean-weight threshold) or "
                         "cardinality edge/node (top-K budget)")
    ap.add_argument("-max-block", dest="max_block", type=int,
                    default=None,
                    help="er: block-purging cap (keys appearing in more "
                         "entities are dropped as stopword-like)")
    ap.add_argument("-er-k", dest="er_k", type=int, default=None,
                    help="er: budget for the cnp/cep cardinality pruners")
    ap.add_argument("-blocker", default="meta", choices=["meta", "snb"],
                    help="er: blocking workflow — token meta-blocking "
                         "(block purging + pruned pair graph) or "
                         "multi-pass sorted-neighborhood")
    ap.add_argument("-window", type=int, default=None,
                    help="er -blocker snb: sliding-window size "
                         "(each entity pairs with the window-1 "
                         "following it per sort pass)")
    ap.add_argument("-edit-d", dest="edit_d", type=int, default=12,
                    help="editdist: max Levenshtein distance "
                         "(length-banded candidate join)")
    ap.add_argument("-filter-ratio", dest="filter_ratio", default=None,
                    help="er: block filtering as an exact rational p/q "
                         "(each entity keeps its ceil(p/q * n) smallest "
                         "blocks; the papers' sweet spot is 4/5)")
    ap.add_argument("-files", type=int, default=None,
                    help="zorder: output file count (default: "
                         "spark.sql.shuffle.partitions)")
    ap.add_argument("-value-col", dest="value_col", default=None,
                    help="quantiles: numeric column to rank; zonal: "
                         "weight column on the points dataset to sum "
                         "(row-format parquet carries extra columns "
                         "through; parsed text formats do not)")
    ap.add_argument("-permille", default="10,250,500,750,900,990",
                    help="quantiles: comma-separated permille points "
                         "(exact integer rank arithmetic)")
    ap.add_argument("-rules", default=None,
                    help="validate: semicolon-separated name:predicate "
                         "expectation rules (SQL booleans; NULL counts "
                         "as a violation)")
    ap.add_argument("-cols", default=None,
                    help="profile: comma-separated columns (default: "
                         "all)")
    ap.add_argument("-cluster", action="store_true",
                    help="er: resolve the candidate pairs into entity "
                         "clusters (connected components; cluster_id = "
                         "component-minimum id)")
    ap.add_argument("-minpts", type=int, default=4,
                    help="dbscan: min neighbors (incl. self) for a "
                         "core point; eps comes from -tau")
    ap.add_argument("-precision", type=int, default=7,
                    help="geohash: characters (5 bits each, 1..10)")
    ap.add_argument("-seam", choices=["null", "shift"], default="null",
                    help="measures -geodesic: antimeridian-crossing "
                         "rows get NULL meter measures ('null', "
                         "default) or are normalized +360 and measured "
                         "('shift'; still-wrapped rows stay NULL)")
    ap.add_argument("-center", action="store_true",
                    help="dbscan: cluster envelope/geometry corpora by "
                         "their envelope CENTERS (the documented "
                         "non-point reduction) instead of requiring "
                         "point rows")
    ap.add_argument("-cover", action="store_true",
                    help="geohash: emit the envelope's covering CELL "
                         "SET (one row per overlapped cell — the "
                         "blocking form) instead of the center key")
    ap.add_argument("-geodesic", action="store_true",
                    help="-op measures: also emit haversine length_m/"
                         "perimeter_m and spherical-excess area_m2; "
                         "-op knn: great-circle exact kNN over lon/lat "
                         "points; "
                         "-op distance: treat -tau as great-circle "
                         "METERS over lon/lat points "
                         "(requires declared EPSG:4326 input)")
    ap.add_argument("-auto-reproject", dest="auto_reproject",
                    action="store_true",
                    help="relate: convert a target declaring the "
                         "closed-form CRS pair (EPSG:4326 <-> "
                         "EPSG:3857) into the source frame in-plan "
                         "instead of warning on the mismatch")
    ap.add_argument("-to-crs", dest="to_crs", default=None,
                    help="reproject: target CRS (EPSG:4326 or EPSG:3857)")
    ap.add_argument("-from-crs", dest="from_crs", default=None,
                    help="reproject: source CRS override when the input "
                         "carries no CRS metadata")
    ap.add_argument("-eps-steps", dest="eps_steps", type=int, default=4,
                    help="perturb: max vertex shift in 1/16 lattice steps")
    ap.add_argument("-seed", type=int, default=1,
                    help="perturb: deterministic perturbation seed")
    ap.add_argument("-shards", type=int, default=None,
                    help="shuffle: number of training shards")
    ap.add_argument("-k", type=int, default=5,
                    help="ann / spatial knn: neighbors per query/source")
    ap.add_argument("-nprobe", type=int, default=1,
                    help="ann (ivf): probe the N nearest cells per query "
                         "(recall/latency knob; 1 = single-cell)")
    ap.add_argument("-n-queries", dest="n_queries", type=int, default=10,
                    help="ann: query the N smallest vec_ids present in "
                         "the corpus (every -method)")
    ap.add_argument("-method", default="ivf",
                    choices=["brute", "ivf", "pq"],
                    help="ann: exact brute force, auto-sized trained IVF, "
                         "or auto-sized PQ with shortlist rerank")
    ap.add_argument("-tau", type=float, default=None,
                    help="dedup: similarity threshold (jaccard/cosine); "
                         "distance: the join radius")
    ap.add_argument("-relation", default="DE9IM",
                    help="relate: DE9IM (counts row) or a single "
                         "predicate (intersects/contains/...) emitting "
                         "qualifying pairs")
    ap.add_argument("-algorithm", default=None,
                    help="relate: progressive algorithm "
                         "(progressive_giant, dynamic_progressive_giant, "
                         "topk, reciprocal_topk, random, early_stopping); "
                         "pair with -budget N. Default: full verification")
    ap.add_argument("-main-wf", dest="main_wf", default="JS",
                    help="relate: progressive weighting function "
                         "(CF, JS, MBRO, PEARSON_X2, ISP)")
    ap.add_argument("-grid-type", dest="grid_type", default="TILES",
                    help="relate: TILES (default), or KDBTREE/QUADTREE "
                         "for the sampled spatial-partitioner join")
    ap.add_argument("-partitions", type=int, default=None,
                    help="relate: partition count for -grid-type "
                         "kdbtree/quadtree")
    ap.add_argument("-entity-type", dest="entity_type",
                    default="SPATIAL_ENTITY",
                    help="relate: SPATIAL_ENTITY (default) or "
                         "DECOMPOSED_ENTITY / INDEXED_DECOMPOSED_ENTITY "
                         "for the fine-envelope pre-filter")
    ap.add_argument("-geom-col", dest="geom_col", default="wkt",
                    help="relate/convert: WKT geometry column/field name "
                         "(GeoParquet/WKB auto-detects)")
    ap.add_argument("-to", default="rowparquet",
                    help="convert: output format — rowparquet (engine "
                         "zero-parse), geoparquet (WKB binary, stamped "
                         "geo footer), geojson (NDJSON features), "
                         "shapefile (directory of .shp/.shx/.dbf), "
                         "geopackage (.gpkg single file interop, else "
                         "sharded directory), "
                         "flatgeobuf (.fgb single file, else sharded "
                         "directory; Hilbert R-tree)")
    ap.add_argument("-date-col", dest="date_col", default=None,
                    help="relate: date column on BOTH sides enables the "
                         "reference's spatio-temporal qualifier "
                         "(|days between| < 2)")
    ap.add_argument("-id-col", dest="id_col", default=None,
                    help="id column name in the input (default: id for "
                         "the spatial ops, doc_id for the others)")
    ap.add_argument("-text-col", dest="text_col", default="text",
                    help="dedup: text column name in the input parquet")
    ap.add_argument("-left", default=None, help="left/input parquet path (-op)")
    ap.add_argument("-right", default=None, help="right parquet path (-op)")
    ap.add_argument("-key", default="user_id",
                    help="asof: comma-separated by-keys")
    ap.add_argument("-keys", default=None,
                    help="interval: comma-separated lcol=rcol equalities")
    ap.add_argument("-ts", default="ts", help="left timestamp column")
    ap.add_argument("-right-attrs", dest="right_attrs", default=None,
                    help="asof: comma-separated right columns to append")
    ap.add_argument("-direction", default="backward",
                    choices=["backward", "forward", "nearest"])
    ap.add_argument("-tolerance-us", dest="tolerance_us", type=int,
                    default=None, help="asof: max match distance in µs")
    ap.add_argument("-no-exact-matches", dest="no_exact_matches",
                    action="store_true",
                    help="asof: exclude right rows at exactly left.ts")
    ap.add_argument("-bucket-us", dest="bucket_us", default="auto",
                    help="bucket width in µs; 'auto' (default for asof) "
                         "derives a skew-safe width, 'none' disables")
    ap.add_argument("-right-start", dest="right_start", default="w_start")
    ap.add_argument("-right-end", dest="right_end", default="w_end")
    ap.add_argument("-how", default="inner", choices=["inner", "left"])
    ap.add_argument("-span-words", dest="span_words", type=int, default=8,
                    help="dupspans/scrub: min duplicated run length in "
                         "words (Lee-et-al k)")
    ap.add_argument("-chunk-tokens", dest="chunk_tokens", type=int,
                    default=None, help="chunk: window size in tokens")
    ap.add_argument("-overlap", type=int, default=None,
                    help="chunk: overlapping tokens between windows")
    ap.add_argument("-out", default=None,
                    help="write the result as parquet instead of printing")
    return ap


def main(argv: list[str] | None = None) -> int:
    ap = build_parser()
    args = ap.parse_args(argv)

    if args.op is not None:
        if args.bbox is not None:
            if not OPS[args.op].spatial:
                print(f"-bbox applies only to -op {'/'.join(BBOX_OPS)}",
                      file=sys.stderr)
                return 2
            try:
                vals = tuple(float(v) for v in args.bbox.split(","))
                if len(vals) != 4 or vals[0] > vals[2] or vals[1] > vals[3]:
                    raise ValueError
            except ValueError:
                print("-bbox must be 'minx,miny,maxx,maxy' with "
                      "minx<=maxx and miny<=maxy", file=sys.stderr)
                return 2
            args.bbox = vals
        if args.id_col is None:
            args.id_col = "id" if OPS[args.op].spatial else "doc_id"
        if args.bucket_us == "none":
            args.bucket_us = None
        if args.chunk_tokens is None:
            from ds_jedai_spark.operators.textops import CHUNK_TOKENS
            args.chunk_tokens = CHUNK_TOKENS
        if args.overlap is None:
            from ds_jedai_spark.operators.textops import CHUNK_OVERLAP
            args.overlap = CHUNK_OVERLAP
        return _run_op(args)
    if args.pipeline is not None:
        return _run_pipeline(args.pipeline, args.data, args.limit)
    if args.conf is None:
        ap.error("one of -conf, -pipeline or -op is required")

    from ds_jedai_spark import api
    from ds_jedai_spark.config import load_config
    from ds_jedai_spark.session import get_spark

    try:
        cfg = load_config(args.conf)
        if args.budget is not None:
            cfg.budget = check_budget(args.budget)
    except ConfigError as e:
        print(f"-conf {args.conf}: {e}", file=sys.stderr)
        return 2
    if args.export:
        cfg.export_path = args.export

    spark = get_spark("ds_jedai_spark_cli")
    t0 = time.perf_counter()
    result = api.run(spark, cfg)
    if cfg.relation == "DE9IM":
        # Counts run: the result is a single summary row.
        r = result.collect()[0].asDict()
        dt = time.perf_counter() - t0
        for k, v in r.items():
            print(f"{k.upper()}: {v}")
    else:
        # Pair query: take/count instead of collect — at scale the
        # qualifying-pair set is millions of rows and only 20 print.
        rows = result.take(21)
        total = len(rows) if len(rows) <= 20 else result.count()
        dt = time.perf_counter() - t0
        print(f"{cfg.relation} pairs: {total}")
        for row in rows[:20]:
            print(f"  {row.s_id}\t{row.t_id}")
    print(f"TOTAL TIME: {dt:.2f}s")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

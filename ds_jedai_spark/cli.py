"""Command-line entry point mirroring the reference's spark-submit UX.

    python -m ds_jedai_spark.cli -conf conf.yaml [-export PATH]
    python -m ds_jedai_spark.cli -pipeline <query|list> [-data DIR] [-limit N]
    python -m ds_jedai_spark.cli -op asof|interval|chunk -left L.parquet \
        [-right R.parquet] [-key k1,k2] [-direction nearest] \
        [-tolerance-us N] [-bucket-us auto|none|N] [-out OUT.parquet] ...
    python -m ds_jedai_spark.cli -op relate -left s.tsv -right t.tsv \
        [-relation DE9IM|intersects|...] [-id-col id] [-geom-col wkt]

The first form prints the same summary the reference logs (reference:
experiments/GiantExp.scala:104-127 — verifications, qualifying pairs, the
9 relation counts, total time). The second runs any named engine query
(the driver-gate surface: spatial, progressive, dedup/ANN/text/media,
streaming) against a testdata directory. The third runs the temporal /
pipeline OPERATORS on arbitrary user parquet with user-chosen keys,
directions, tolerances, thresholds and chunk sizes — as-of enrichment,
interval joins, RAG chunking, MinHash near-dup dedup (self or
batch-vs-corpus incremental) and embedding near-dup (corpus-scaled LSH
parameters) from the shell, writing parquet with -out.

Build-once / query-many: `-op ann-build -index P` persists the full
auto-sized ANN index (IVF centroids+cells, PQ codebooks+codes, stamped
LSH bands) as tables; `-op ann -method brute|ivf|pq [-nprobe N]
[-index P]` searches it without retraining. `-op dedup-build -index T`
persists the bucketed shingle index; `-op dedup|dedup-apply -index T` /
`-op emb-dedup -index P` run the incremental / end-to-end dedup paths
against the standing artifacts. `-op dedup-apply` writes the
DEDUPLICATED corpus itself (pairs -> connected components -> one
survivor per cluster); `-op quantize` emits exact int8 quantization
stats per vector.

The flagship without a YAML: `-op relate` runs the full tile join +
exact DE-9IM verification (api.run — theta sampling, ref-point dedup,
the auto skew dispatcher) on two arbitrary WKT/parquet datasets;
`-relation DE9IM` prints the GiantExp counts row, a single predicate
prints the qualifying (s_id, t_id) pairs.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


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
    df = gate.QUERIES[name](spark, data_dir)
    # take/count instead of collect: a pair query at scale would ship
    # millions of rows to the driver just to print `limit` of them.
    rows = df.take(limit + 1)
    total = len(rows) if len(rows) <= limit else df.count()
    dt = time.perf_counter() - t0
    print("\t".join(df.columns))
    for row in rows[:limit]:
        print("\t".join(str(v) for v in row))
    if total > limit:
        print(f"... ({total} rows total)")
    print(f"TOTAL TIME: {dt:.2f}s")
    spark.stop()
    return 0


def _print_or_write(df, out: str | None, limit: int, t0: float) -> int:
    if out:
        df.write.mode("overwrite").parquet(out)
        n = df.sparkSession.read.parquet(out).count()
        print(f"wrote {n} rows to {out}")
        print(f"TOTAL TIME: {time.perf_counter() - t0:.2f}s")
        return 0
    rows = df.take(limit + 1)
    total = len(rows) if len(rows) <= limit else df.count()
    print("\t".join(df.columns))
    for row in rows[:limit]:
        print("\t".join(str(v) for v in row))
    if total > limit:
        print(f"... ({total} rows total)")
    print(f"TOTAL TIME: {time.perf_counter() - t0:.2f}s")
    return 0


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


def _docs_frame(df, args):
    """Normalize a user document frame to (doc_id, text)."""
    from pyspark.sql import functions as F

    df = _guard_rename(df, args.id_col, "doc_id")
    df = _guard_rename(df, args.text_col, "text")
    return df.select("doc_id", F.col("text").cast("string"))


def _emb_frame(df, args):
    """Normalize a user embedding frame to (vec_id, label, embedding)."""
    from pyspark.sql import functions as F

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


def _run_op(args) -> int:
    """User-parquet temporal/pipeline operators: asof | interval | chunk.

    The -pipeline surface runs the NAMED gate queries on testdata; this
    runs the operators themselves on arbitrary parquet with user-chosen
    keys/directions/tolerances — the shell surface for as-of
    enrichment, interval joins, and RAG chunking."""
    from ds_jedai_spark.session import get_spark

    spark = get_spark("ds_jedai_spark_cli")

    def _read(path: str, ts_cols: tuple[str, ...]) -> object:
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
            import glob as _glob
            import os as _os

            import pyarrow.parquet as pq

            f = path
            if _os.path.isdir(path):
                parts = sorted(_glob.glob(_os.path.join(path, "*.parquet")))
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

    t0 = time.perf_counter()
    try:
        if args.op == "relate":
            # Flagship convenience: tile join + exact relate on arbitrary
            # user WKT (tsv/csv/geojson/nt) or engine parquet, no YAML —
            # `-op relate -left s.tsv -right t.tsv -relation intersects`.
            from ds_jedai_spark import api
            from ds_jedai_spark.config import (
                PROGRESSIVE_ALGS,
                RELATIONS,
                WEIGHT_FUNCS,
                DatasetSpec,
                JedaiConfig,
            )

            if not (args.left and args.right):
                print("-op relate needs -left and -right (WKT tsv/csv/"
                      "geojson/nt/shapefile or engine parquet)", file=sys.stderr)
                return 2
            rel = args.relation.upper()
            if rel not in RELATIONS:
                print(f"-op relate: unknown relation {rel!r}; choose "
                      f"from {sorted(RELATIONS)}", file=sys.stderr)
                return 2
            # -algorithm/-budget: the six progressive algorithms through
            # the YAML-free path (the reference exposes these via
            # ConfigurationParser.scala:107-160)
            alg = args.algorithm.upper() if args.algorithm else None
            if alg is not None and alg not in PROGRESSIVE_ALGS:
                print(f"-op relate: unknown -algorithm {alg!r}; choose "
                      f"from {sorted(PROGRESSIVE_ALGS)}", file=sys.stderr)
                return 2
            wf = args.main_wf.upper()
            if wf not in WEIGHT_FUNCS:
                print(f"-op relate: unknown -main-wf {wf!r}; choose "
                      f"from {sorted(WEIGHT_FUNCS)}", file=sys.stderr)
                return 2
            from ds_jedai_spark.config import ENTITY_TYPES, GRID_TYPES

            grid = args.grid_type.upper()
            if grid not in GRID_TYPES:
                print(f"-op relate: unknown -grid-type {grid!r}; choose "
                      f"from {sorted(GRID_TYPES)}", file=sys.stderr)
                return 2
            etype = args.entity_type.upper()
            if etype not in ENTITY_TYPES:
                print(f"-op relate: unknown -entity-type {etype!r}; "
                      f"choose from {sorted(ENTITY_TYPES)}",
                      file=sys.stderr)
                return 2
            cfg = JedaiConfig(
                source=DatasetSpec(path=args.left, id_field=args.id_col,
                                   geom_field=args.geom_col,
                                   date_field=args.date_col),
                target=DatasetSpec(path=args.right, id_field=args.id_col,
                                   geom_field=args.geom_col,
                                   date_field=args.date_col),
                relation=rel,
                progressive_algorithm=alg,
                budget=args.budget,
                main_wf=wf,
                grid_type=grid,
                partitions=args.partitions,
                entity_type=etype,
                # -export works like the -conf form: RDF flags for
                # DE9IM, CSV pairs for a single predicate
                export_path=args.export,
                extra={
                    **({"bbox": args.bbox} if args.bbox else {}),
                    **({"autoReproject": True}
                       if args.auto_reproject else {}),
                },
            )
            df = api.run(spark, cfg)
        elif args.op == "convert":
            # Format conversion through the full reader/writer surface:
            # any supported geometry dataset (WKT tsv/csv, GeoJSON,
            # N-Triples, ESRI Shapefile, GeoPackage, engine row-format parquet,
            # GeoParquet/WKB, WKT-column parquet) -> the engine row format, written as
            # row-format parquet (zero-parse re-reads), GeoParquet/WKB,
            # or NDJSON GeoJSON. The ingest-side converter a user runs
            # ONCE so every later job takes the parquet fast path.
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.io import writers

            if not (args.left and args.out):
                print("-op convert needs -left (input dataset) and -out",
                      file=sys.stderr)
                return 2
            if args.to not in ("rowparquet", "geoparquet", "geojson",
                               "shapefile", "geopackage", "flatgeobuf"):
                print(f"-op convert: unknown -to {args.to!r}; choose "
                      "from rowparquet/geoparquet/geojson/shapefile/"
                      "geopackage/flatgeobuf", file=sys.stderr)
                return 2
            src = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=args.date_col,
            ), bbox=args.bbox)
            if args.to == "rowparquet":
                src.write.mode("overwrite").parquet(args.out)
                back = spark.read.parquet(args.out)
            elif args.to == "geoparquet":
                # Propagate the input's CRS (GeoParquet footer PROJJSON
                # the reader carried as gtype column metadata) into the
                # output footer, so convert round-trips CRS declarations.
                import json as _json

                meta = (src.schema["gtype"].metadata
                        if "gtype" in src.columns else None) or {}
                crs = (_json.loads(meta["crs_projjson"])
                       if meta.get("crs_projjson") else None)
                writers.export_geoparquet(src, args.out, crs=crs)
                back = spark.read.parquet(args.out)
            elif args.to == "geopackage":
                # -out ending in .gpkg: single-file interop sink
                # (driver-side assembly — SQLite is single-writer per
                # file); anything else: a DIRECTORY of per-partition
                # .gpkg shards assembled by the executors in parallel
                # (the scale path, mirroring the fgb dispatch). CRS
                # from the input's metadata lands in
                # gpkg_spatial_ref_sys either way.
                from ds_jedai_spark.io.geopackage import (
                    export_geopackage,
                    export_geopackage_sharded,
                    read_geopackage,
                )

                meta = (src.schema["gtype"].metadata
                        if "gtype" in src.columns else None) or {}
                crs_id = None
                if ":" in (meta.get("crs") or ""):
                    org, code = meta["crs"].split(":", 1)
                    if code.isdigit():
                        crs_id = (org, int(code))
                sink = (export_geopackage
                        if args.out.lower().endswith(".gpkg")
                        else export_geopackage_sharded)
                sink(src, args.out, crs_id=crs_id)
                back = read_geopackage(spark, args.out)
            elif args.to == "flatgeobuf":
                # -out ending in .fgb: single-file interop sink
                # (driver-side assembly); anything else: a DIRECTORY of
                # per-partition .fgb shards written by the executors in
                # parallel — the corpus layout the reader consumes as
                # one DataFrame. Both Hilbert-sorted behind a packed
                # R-tree; CRS from the input's metadata lands in each
                # header's Crs table.
                from ds_jedai_spark.io.flatgeobuf import (
                    export_flatgeobuf,
                    export_flatgeobuf_sharded,
                    read_flatgeobuf,
                )

                meta = (src.schema["gtype"].metadata
                        if "gtype" in src.columns else None) or {}
                crs_id = None
                if ":" in (meta.get("crs") or ""):
                    org, code = meta["crs"].split(":", 1)
                    if code.isdigit():
                        crs_id = (org, int(code))
                sink = (export_flatgeobuf
                        if args.out.lower().endswith(".fgb")
                        else export_flatgeobuf_sharded)
                sink(src, args.out, crs_id=crs_id)
                back = read_flatgeobuf(spark, args.out)
            elif args.to == "shapefile":
                # directory-of-shapefiles sink (one spec-conformant
                # .shp/.shx/.dbf triple per partition x shape kind;
                # known CRS becomes a .prj) — count via the reader
                from ds_jedai_spark.io.shapefile import (
                    export_shapefile,
                    read_shapefile,
                )

                export_shapefile(src, args.out)
                back = read_shapefile(spark, args.out)
            else:
                writers.export_geojson(src, args.out)
                back = spark.read.text(args.out)
            print(f"wrote {back.count()} entities to {args.out} "
                  f"({args.to})")
            print(f"TOTAL TIME: {time.perf_counter() - t0:.2f}s")
            return 0
        elif args.op == "perturb":
            # the reference's GeometryTransformer experiment tool
            # (experiments/GeometryTransformer.scala:66-91) as an engine
            # op: read any supported dataset, perturb, write row-format
            # parquet (deterministic: same -seed -> same output)
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.io.synthetic import perturb_geometries

            if not (args.left and args.out):
                print("-op perturb needs -left (input dataset) and -out",
                      file=sys.stderr)
                return 2
            src = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=args.date_col,
            ), bbox=args.bbox)
            perturb_geometries(
                src, eps_steps=args.eps_steps, seed=args.seed
            ).write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"wrote {n} perturbed entities to {args.out} "
                  f"(eps={args.eps_steps}/16, seed={args.seed})")
            print(f"TOTAL TIME: {time.perf_counter() - t0:.2f}s")
            return 0
        elif args.op == "density":
            # Grid-cell density (heatmap aggregation) over any reader
            # format — operators/spatial_agg.grid_density: one pure-JVM
            # groupBy on floor-snapped envelope centers.
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.operators.spatial_agg import grid_density

            if not args.left:
                print("-op density needs -left (input dataset)",
                      file=sys.stderr)
                return 2
            src = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=args.date_col,
            ), bbox=args.bbox)
            out = grid_density(
                src, cell=args.cell, weight_col=args.weight_col,
                coverage=args.coverage,
            ).orderBy("cell_x", "cell_y")
            return _print_or_write(out, args.out, args.limit, t0)
        elif args.op == "geohash":
            # Geohash cell keys over any reader format —
            # operators/geohash.with_geohash: pure-JVM closed-form
            # projection (no shuffle), keyed on the envelope center.
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.operators.geohash import with_geohash

            if not args.left:
                print("-op geohash needs -left (input dataset)",
                      file=sys.stderr)
                return 2
            src = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=args.date_col,
            ), bbox=args.bbox)
            if args.cover:
                from ds_jedai_spark.operators.geohash import (
                    geohash_cover,
                )

                out = geohash_cover(
                    src, precision=args.precision).select("id", "geohash")
                return _print_or_write(out.orderBy("id", "geohash"),
                                       args.out, args.limit, t0)
            out = with_geohash(src, precision=args.precision).select(
                "id", "geohash")
            return _print_or_write(out.orderBy("id"), args.out,
                                   args.limit, t0)
        elif args.op == "hull":
            # Convex hull corners of a dataset's points/envelope
            # corners — operators/hull.convex_hull (per-partition
            # monotone chain, one-task final merge).
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.operators.hull import convex_hull

            if not args.left:
                print("-op hull needs -left (input dataset)",
                      file=sys.stderr)
                return 2
            src = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=args.date_col,
            ), bbox=args.bbox)
            return _print_or_write(convex_hull(src, by=args.by),
                                   args.out, args.limit, t0)
        elif args.op == "dbscan":
            # Density-based clustering over any reader format —
            # operators/clustering.dbscan (tile-join eps-graph +
            # large-star/small-star contraction; deterministic labels).
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.operators.clustering import dbscan

            if not args.left or args.tau is None:
                print("-op dbscan needs -left (point dataset) and -tau "
                      "(eps distance); -minpts defaults to 4",
                      file=sys.stderr)
                return 2
            src = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=args.date_col,
            ), bbox=args.bbox)
            out = dbscan(src, eps=args.tau, min_pts=args.minpts,
                         geodesic=args.geodesic, use_center=args.center)
            return _print_or_write(out.orderBy("id"), args.out,
                                   args.limit, t0)
        elif args.op == "measures":
            # Per-entity geometry measures (ST_NPoints/Length/Perimeter/
            # Area/Centroid equivalents) over any reader format —
            # operators/measures.py; npoints/length/perimeter are pure
            # JVM expressions, area/centroid ride the Arrow batch path.
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.operators.measures import with_measures

            if not args.left:
                print("-op measures needs -left (input dataset)",
                      file=sys.stderr)
                return 2
            src = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=args.date_col,
            ), bbox=args.bbox)
            cols = ["id", "gtype", "npoints", "length", "perimeter",
                    "area", "centroid_x", "centroid_y", "unit"]
            if args.geodesic:
                cols += ["length_m", "perimeter_m", "area_m2"]
            out = with_measures(src, geodesic=args.geodesic,
                                seam=args.seam).select(*cols)
            return _print_or_write(out, args.out, args.limit, t0)
        elif args.op == "reproject":
            # Closed-form CRS reprojection (EPSG:4326 <-> EPSG:3857):
            # the in-engine remedy for the CRS-mismatch warning. Reads
            # any supported dataset, rewrites coordinates JVM-side
            # (operators/crs.py), writes row-format parquet carrying the
            # new CRS in the gtype metadata.
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.operators.crs import reproject

            if not (args.left and args.out and args.to_crs):
                print("-op reproject needs -left, -out and -to-crs",
                      file=sys.stderr)
                return 2
            src = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=args.date_col,
            ), bbox=args.bbox)
            out = reproject(src, args.to_crs, from_crs=args.from_crs)
            out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            src_crs = args.from_crs or (
                (src.schema["gtype"].metadata or {}).get("crs"))
            print(f"wrote {n} entities to {args.out} "
                  f"({src_crs} -> {args.to_crs})")
            print(f"TOTAL TIME: {time.perf_counter() - t0:.2f}s")
            return 0
        elif args.op in ("knn", "distance"):
            # Spatial distance / exact-kNN joins on arbitrary point
            # datasets (any reader format), completing the YAML-free
            # spatial surface next to -op relate. Both operators are
            # point-to-point by contract (expanded-MBR tile join /
            # iterative radius expansion, operators/spatial_join.py);
            # non-point input errors with guidance.
            from pyspark.sql import functions as F

            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.operators.spatial_join import (
                distance_join,
                knn_join_exact,
            )

            if not (args.left and args.right):
                print(f"-op {args.op} needs -left and -right point "
                      "datasets", file=sys.stderr)
                return 2
            if args.op == "distance" and args.tau is None:
                print("-op distance needs -tau <radius>", file=sys.stderr)
                return 2

            def _read_points(path: str):
                df = api.read_dataset(spark, DatasetSpec(
                    path=path, id_field=args.id_col,
                    geom_field=args.geom_col,
                ), bbox=args.bbox)
                bad = df.where(
                    "minx != maxx OR miny != maxy"
                ).limit(1).count()
                if bad:
                    raise SystemExit(
                        f"-op {args.op}: {path} contains non-point "
                        "geometries; the distance/kNN joins are "
                        "point-to-point (reduce to centroids upstream, "
                        "or use -op relate for region predicates)"
                    )
                return df

            s, t = _read_points(args.left), _read_points(args.right)
            # same CRS-mismatch warning the relate path gives (api.run)
            api._check_crs(s, t, strict=False)
            if args.op == "distance" and args.geodesic:
                # -tau in METERS over lon/lat input (great-circle)
                from ds_jedai_spark.operators.spatial_join import (
                    geodesic_distance_join,
                )

                df = geodesic_distance_join(s, t,
                                            radius_m=float(args.tau))
            elif args.op == "distance":
                df = distance_join(s, t, radius=float(args.tau))
            elif args.geodesic:
                # -op knn -geodesic: great-circle exact kNN over lon/lat
                # points (meters; antimeridian-correct per round)
                from ds_jedai_spark.operators.spatial_join import (
                    knn_join_exact_geodesic,
                )

                same = os.path.realpath(args.left) == os.path.realpath(
                    args.right
                )
                df = knn_join_exact_geodesic(
                    s, t, k=args.k, self_join=same
                ).drop("dist_mm")
            else:
                # exact kNN: the final round's radius must reach the
                # whole domain, so derive it from the joint extent (one
                # cheap 4-column aggregate)
                env = ("minx", "miny", "maxx", "maxy")
                r = (
                    s.select(*env).unionByName(t.select(*env))
                    .agg(F.min("minx").alias("a"), F.max("maxx").alias("b"),
                         F.min("miny").alias("c"), F.max("maxy").alias("d"))
                    .first()
                )
                diam = (max(r.b - r.a, r.d - r.c, 0.0) * 1.415 + 1.0
                        if r.a is not None else 1.0)  # empty input
                # Same-id exclusion is a self-join convention only: two
                # independent datasets with overlapping id spaces keep
                # same-id pairs (consistent with -op distance).
                same = os.path.realpath(args.left) == os.path.realpath(
                    args.right
                )
                df = knn_join_exact(
                    s, t, k=args.k, rmax=max(256.0, diam), self_join=same
                )
        elif args.op == "asof":
            from ds_jedai_spark.operators.temporal import asof_join

            if not (args.left and args.right):
                print("-op asof needs -left and -right parquet paths",
                      file=sys.stderr)
                return 2
            bucket: int | str | None
            bucket = (
                "auto" if args.bucket_us == "auto"
                else int(args.bucket_us) if args.bucket_us else None
            )
            df = asof_join(
                _read(args.left, (args.ts,)),
                _read(args.right, (args.ts,)),
                key=args.key.split(","),
                ts=args.ts,
                right_attrs=tuple(
                    a for a in (args.right_attrs or "").split(",") if a
                ),
                bucket_us=bucket,
                direction=args.direction,
                tolerance_us=args.tolerance_us,
                allow_exact_matches=not args.no_exact_matches,
            )
        elif args.op == "interval":
            from ds_jedai_spark.operators.temporal import interval_join

            if not (args.left and args.right):
                print("-op interval needs -left and -right parquet paths",
                      file=sys.stderr)
                return 2
            if args.bucket_us is None:
                print("-op interval requires a bucket width "
                      "(-bucket-us N or the default 'auto', which derives "
                      "it from the p95 interval length); 'none' only "
                      "applies to asof", file=sys.stderr)
                return 2
            keys = [
                tuple(p.split("=", 1)) for p in
                (args.keys.split(",") if args.keys else [])
            ]
            ldf = _read(args.left, (args.ts,))
            rdf = _read(args.right, (args.right_start, args.right_end))
            # interval_join needs disjoint column names: prefix colliding
            # right columns (r_<name>) and remap the right-side refs.
            ren = {
                c: f"r_{c}" for c in rdf.columns if c in ldf.columns
            }
            for old, new in ren.items():
                rdf = rdf.withColumnRenamed(old, new)
            keys = [(lk, ren.get(rk, rk)) for lk, rk in keys]
            df = interval_join(
                ldf,
                rdf,
                left_ts=args.ts,
                right_start=ren.get(args.right_start, args.right_start),
                right_end=ren.get(args.right_end, args.right_end),
                bucket_us=(
                    int(args.bucket_us)
                    if args.bucket_us != "auto"
                    else "auto"
                ),
                keys=keys or None,
                how=args.how,
            )
        elif args.op == "dedup-build":
            # Persist the standing corpus' shingle table BUCKETED by the
            # join key (pin_shingles with a table) — the multi-job
            # index a daily incremental dedup joins against with no
            # Exchange on the index side. Search with
            # `-op dedup -right corpus.parquet -index TBL`.
            from ds_jedai_spark.operators.dedup import pin_shingles

            if not (args.left and args.index):
                print("-op dedup-build needs -left parquet and -index "
                      "TABLE", file=sys.stderr)
                return 2
            docs = _docs_frame(_read(args.left, ()), args)
            sh = pin_shingles(docs, table=args.index)
            from pyspark.sql import functions as F

            df = sh.agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.countDistinct("doc_id").alias("n_docs"),
            ).withColumn("index_table", F.lit(args.index))
        elif args.op == "dedup":
            from ds_jedai_spark.operators.dedup import (
                minhash_lsh_pairs,
                minhash_lsh_pairs_cross,
            )

            if not args.left:
                print("-op dedup needs -left parquet path", file=sys.stderr)
                return 2
            left = _docs_frame(_read(args.left, ()), args)
            tau = args.tau if args.tau is not None else 0.8
            if args.index:
                # incremental vs the PERSISTED bucketed shingle table
                # (dedup-build): the shingle index carries everything the
                # cross path needs (band keys, verification sets, sizes),
                # so only the batch side shingles per ingest and no
                # -right re-read of the corpus is required
                df = minhash_lsh_pairs_cross(
                    left, None, tau=tau, sh_b=spark.table(args.index)
                )
            elif args.right:
                # incremental: batch (left) vs standing corpus (right)
                df = minhash_lsh_pairs_cross(
                    left, _docs_frame(_read(args.right, ()), args), tau=tau
                )
            else:
                df = minhash_lsh_pairs(left, tau=tau)
        elif args.op == "dedup-apply":
            # The full dedup pipeline in one command: MinHash-LSH pair
            # discovery -> connected-component clustering (pointer
            # doubling) -> materialize the SURVIVING corpus (one
            # representative per cluster + all unclustered docs,
            # cluster_id = -1 for the latter). The output is the
            # deduplicated corpus itself, not pair diagnostics.
            from ds_jedai_spark.operators.dedup import (
                dedup_apply,
                duplicate_clusters,
                minhash_lsh_pairs,
            )

            if not args.left:
                print("-op dedup-apply needs -left parquet path",
                      file=sys.stderr)
                return 2
            docs = _docs_frame(_read(args.left, ()), args)
            tau = args.tau if args.tau is not None else 0.8
            # -index: reuse the persisted bucketed shingle table
            # (dedup-build over the same corpus) instead of re-shingling
            sh = spark.table(args.index) if args.index else None
            pairs = minhash_lsh_pairs(docs, tau=tau, sh=sh)
            clusters = duplicate_clusters(pairs)
            df = dedup_apply(docs, clusters)
        elif args.op == "emb-dedup":
            from ds_jedai_spark.operators.similarity import (
                lsh_neardup_pairs,
                lsh_neardup_pairs_cross,
            )

            if not args.left:
                print("-op emb-dedup needs -left parquet path",
                      file=sys.stderr)
                return 2
            left = _emb_frame(_read(args.left, ()), args)
            tau = args.tau if args.tau is not None else 0.9
            if args.right:
                # -index reuses the ann-build band table; its
                # (lsh_bands, lsh_bits) stamp fixes the batch side's
                # hyperplane parameters (n_bands='auto' reads it)
                bands = (
                    spark.table(f"{args.index}_bands")
                    if args.index else None
                )
                df = lsh_neardup_pairs_cross(
                    left, _emb_frame(_read(args.right, ()), args), tau,
                    index_bands=bands, n_bands="auto",
                )
            elif args.index:
                # self-dedup over the PERSISTED band table (-left must be
                # the corpus the index was built from): collisions come
                # from the pin, exact-cosine verification from -left
                df = lsh_neardup_pairs(
                    left, tau, bands=spark.table(f"{args.index}_bands")
                )
            else:
                df = lsh_neardup_pairs(left, tau, n_bands="auto")
        elif args.op == "ann-build":
            # Build the FULL ANN index ONCE and persist every artifact
            # as a table under -index PREFIX — the deployment shape the
            # API's pin_* table modes support (train once, query many):
            # IVF centroids + cell assignments, PQ codebooks + codes
            # (auto-sized to the corpus), and the stamped LSH band
            # table. `-op ann -index PREFIX` then searches without
            # retraining.
            from pyspark.sql import functions as F

            from ds_jedai_spark.operators.similarity import (
                auto_ivf_cells,
                auto_lsh_params,
                auto_pq_params,
                pin_bands,
                pin_cells,
                pin_centroids,
                pin_codebooks,
                pin_codes,
            )

            if not (args.left and args.index):
                print("-op ann-build needs -left parquet and -index PREFIX",
                      file=sys.stderr)
                return 2
            corpus = _emb_frame(_read(args.left, ()), args)
            n_corpus = corpus.count()
            if n_corpus == 0:
                raise SystemExit(
                    "-op ann-build: input has no vectors; check -left/-id-col"
                )
            dim = len(corpus.select("embedding").first()["embedding"])
            p = args.index
            cells_n = auto_ivf_cells(n_corpus)
            cent = pin_centroids(corpus, k=cells_n, table=f"{p}_cent")
            pin_cells(corpus, cent, table=f"{p}_cells")
            m, kk = auto_pq_params(n_corpus, dim)
            books = pin_codebooks(corpus, k=kk, m=m, table=f"{p}_books")
            pin_codes(corpus, books, table=f"{p}_codes")
            bands, bits = auto_lsh_params(n_corpus, args.tau or 0.9)
            pin_bands(corpus, table=f"{p}_bands", bands=bands, bits=bits)
            df = spark.createDataFrame(
                [(n_corpus, dim, cells_n, m, kk, bands, bits)],
                "n_vectors long, dim int, ivf_cells int, pq_m int, "
                "pq_k int, lsh_bands int, lsh_bits int",
            ).withColumn("index_prefix", F.lit(p))
        elif args.op == "ann":
            from ds_jedai_spark.operators.similarity import (
                auto_ivf_cells,
                auto_pq_params,
                brute_topk,
                ivf_multiprobe_topk,
                ivf_trained_topk,
                kmeans_assignments,
                pin_codebooks,
                pin_codes,
                pq_rerank_topk,
                train_centroids,
            )

            if not args.left:
                print("-op ann needs -left parquet path", file=sys.stderr)
                return 2
            corpus = _emb_frame(_read(args.left, ()), args)
            k = args.k
            # id-space-safe query set: the n smallest ids PRESENT (raises
            # on an empty corpus instead of writing 0 rows) — all
            # methods; the gate's literal vec_id < n is the dense-id
            # testdata convention only.
            pred = _ann_query_pred(corpus, args.n_queries)
            if args.index and args.method == "brute":
                print("-method brute does not use an index; drop -index",
                      file=sys.stderr)
                return 2
            if args.method == "brute":
                df = brute_topk(corpus, k=k, query_pred=pred)
            elif args.method == "pq":
                if args.index:
                    from pyspark.sql import functions as F
                    stacked = spark.table(f"{args.index}_books")
                    n_m = stacked.agg(
                        F.countDistinct("m").alias("m")
                    ).first()["m"]
                    books = [
                        stacked.where(F.col("m") == mi).select("cid", "cv")
                        for mi in range(n_m)
                    ]
                    codes = spark.table(f"{args.index}_codes")
                else:
                    n_corpus = corpus.count()
                    dim = len(
                        corpus.select("embedding").first()["embedding"]
                    )
                    m, kk = auto_pq_params(n_corpus, dim)
                    books = pin_codebooks(corpus, k=kk, m=m)
                    codes = pin_codes(corpus, books)
                df = pq_rerank_topk(
                    corpus, k=k, shortlist=max(20, 10 * k),
                    books=books, codes=codes, query_pred=pred,
                )
            else:
                if args.index:
                    cent = spark.table(f"{args.index}_cent")
                    cells = spark.table(f"{args.index}_cells")
                else:
                    n_corpus = corpus.count()
                    cells_n = auto_ivf_cells(n_corpus)
                    cent = train_centroids(
                        corpus, k=cells_n
                    ).localCheckpoint()
                    if not cent.take(1):
                        raise SystemExit(
                            "-op ann: IVF centroid training produced no "
                            f"seeds (corpus rows: {n_corpus}); check "
                            "-left/-id-col"
                        )
                    cells = kmeans_assignments(corpus, cent=cent).select(
                        "vec_id", "cid"
                    ).localCheckpoint()
                if args.nprobe > 1:
                    # recall/latency knob: scan the nprobe nearest cells
                    df = ivf_multiprobe_topk(
                        corpus, k=k, nprobe=args.nprobe,
                        cent=cent, cells=cells, query_pred=pred,
                    )
                else:
                    df = ivf_trained_topk(
                        corpus, k=k, cent=cent, cells=cells,
                        query_pred=pred,
                    )
        elif args.op == "quantize":
            # symmetric int8 quantization stats per vector — the 4x
            # memory-reduction pre-pass of a vector corpus (exact
            # integer error metric; see int8_quantize_stats)
            from ds_jedai_spark.operators.similarity import (
                int8_quantize_stats,
            )

            if not args.left:
                print("-op quantize needs -left parquet path",
                      file=sys.stderr)
                return 2
            df = int8_quantize_stats(_emb_frame(_read(args.left, ()), args))
        elif args.op == "shuffle":
            from ds_jedai_spark.operators.textops import (
                SHUFFLE_SHARDS,
                corpus_shuffle_positions,
            )

            if not args.left:
                print("-op shuffle needs -left parquet path", file=sys.stderr)
                return 2
            d0 = _guard_rename(_read(args.left, ()), args.id_col, "doc_id")
            df = corpus_shuffle_positions(
                d0.select("doc_id"),
                shards=args.shards or SHUFFLE_SHARDS,
            )
        elif args.op == "chunk":
            from ds_jedai_spark.operators.textops import chunk_documents

            if not args.left:
                print("-op chunk needs -left parquet path", file=sys.stderr)
                return 2
            # _docs_frame: honor -id-col/-text-col and give the guided
            # missing/colliding-column errors (chunk previously read the
            # raw frame and ignored both flags)
            df = chunk_documents(
                _docs_frame(_read(args.left, ()), args),
                chunk_tokens=args.chunk_tokens,
                overlap=args.overlap,
            )
        elif args.op in ("dupspans", "scrub"):
            from ds_jedai_spark.operators.textops import (
                duplicated_spans,
                scrubbed_corpus,
            )

            if not args.left:
                print(f"-op {args.op} needs -left parquet path",
                      file=sys.stderr)
                return 2
            d0 = _docs_frame(_read(args.left, ()), args)
            if args.op == "dupspans":
                df = duplicated_spans(d0, k=args.span_words)
            else:
                df = scrubbed_corpus(d0, k=args.span_words)
        elif args.op == "er":
            from ds_jedai_spark.operators import blocking

            if not args.left:
                print("-op er needs -left parquet path", file=sys.stderr)
                return 2
            if args.blocker == "snb":
                w = (args.window if args.window is not None
                     else blocking.SNB_WINDOW)
                if args.right:
                    df = blocking.sorted_neighborhood_cross(
                        _docs_frame(_read(args.left, ()), args),
                        _docs_frame(_read(args.right, ()), args),
                        window=w,
                    )
                else:
                    df = blocking.sorted_neighborhood(
                        _docs_frame(_read(args.left, ()), args), window=w
                    )
            else:
                fr = None
                if args.filter_ratio:
                    try:
                        pn, qn = args.filter_ratio.split("/")
                        fr = (int(pn), int(qn))
                    except ValueError:
                        print(f"-filter-ratio expects p/q (e.g. 4/5), "
                              f"got {args.filter_ratio!r}", file=sys.stderr)
                        return 2
                mb = (args.max_block if args.max_block is not None
                      else blocking.PURGE_MAX)
                if args.right:
                    # clean-clean: candidates only ACROSS -left/-right
                    # (ids must be disjoint between the two datasets)
                    df = blocking.er_pairs_cross(
                        _docs_frame(_read(args.left, ()), args),
                        _docs_frame(_read(args.right, ()), args),
                        prune=args.prune, max_block=mb, k=args.er_k,
                        filter_ratio=fr,
                    )
                else:
                    df = blocking.er_pairs(
                        _docs_frame(_read(args.left, ()), args),
                        prune=args.prune, max_block=mb, k=args.er_k,
                        filter_ratio=fr,
                    )
            if args.cluster:
                # end-to-end ER output: candidate pairs -> connected
                # components (star contraction) -> entity clusters
                from pyspark.sql import functions as F

                from ds_jedai_spark.operators.clustering import (
                    connected_components_star,
                )

                df = connected_components_star(
                    df.select("d1", "d2")
                ).select(
                    F.col("node").alias("doc_id"),
                    F.col("label").alias("cluster_id"),
                )
        elif args.op == "zorder":
            # Rewrite any reader-supported dataset as z-ordered parquet
            # (Morton-key layout over the envelope centers) so later
            # -bbox scans prune files/row groups instead of reading the
            # corpus — io/layout.py.
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.io import layout
            from pyspark.sql import functions as F

            if not args.left or not args.out:
                print("-op zorder needs -left (dataset) and -out "
                      "(directory for the z-ordered parquet copy)",
                      file=sys.stderr)
                return 2
            src = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=args.date_col,
            ), bbox=args.bbox)
            ext = src.agg(
                F.min("minx"), F.min("miny"), F.max("maxx"), F.max("maxy")
            ).first()
            if ext[0] is None:
                print("-op zorder: empty input", file=sys.stderr)
                return 2
            pad = 1e-9  # keep the max corner inside the half-open domain
            zf = layout.zorder_frame(
                src.withColumn("__cx", (F.col("minx") + F.col("maxx")) / 2)
                .withColumn("__cy", (F.col("miny") + F.col("maxy")) / 2),
                x_col="__cx", y_col="__cy",
                bounds=(float(ext[0]), float(ext[1]),
                        float(ext[2]) + pad, float(ext[3]) + pad),
                files=args.files,
            ).drop("__cx", "__cy")
            zf.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"z-ordered {n} rows -> {args.out}")
            print(f"TOTAL TIME: {time.perf_counter() - t0:.2f}s")
            return 0
        elif args.op == "zonal":
            # Zonal statistics: per-zone point count (+ -value-col sum)
            # through tile join + exact relate + rollup.
            from ds_jedai_spark import api
            from ds_jedai_spark.config import DatasetSpec
            from ds_jedai_spark.operators.spatial_agg import zonal_stats

            if not args.left or not args.right:
                print("-op zonal needs -left (zones) and -right (points)",
                      file=sys.stderr)
                return 2
            zones = api.read_dataset(spark, DatasetSpec(
                path=args.left, id_field=args.id_col,
                geom_field=args.geom_col, date_field=None,
            ), bbox=args.bbox)
            pts = api.read_dataset(spark, DatasetSpec(
                path=args.right, id_field=args.id_col,
                geom_field=args.geom_col, date_field=None,
            ), bbox=args.bbox)
            df = zonal_stats(
                zones, pts, value_col=args.value_col
            ).orderBy("zone_id")
        elif args.op == "validate":
            # Declarative expectation checks (operators/validate.py):
            # one aggregate pass, exact violation counts per rule.
            from ds_jedai_spark.operators.validate import validate

            if not args.left or not args.rules:
                print("-op validate needs -left parquet and -rules "
                      "'name:predicate;name2:predicate2'",
                      file=sys.stderr)
                return 2
            rules = {}
            for part in args.rules.split(";"):
                name, sep, pred = part.partition(":")
                if not sep or not name.strip() or not pred.strip():
                    print(f"bad -rules entry {part!r}; expected "
                          f"name:predicate", file=sys.stderr)
                    return 2
                rules[name.strip()] = pred.strip()
            df = validate(_read(args.left, ()), rules)
        elif args.op == "profile":
            # Per-column discovery profile (nulls / distinct / extrema)
            # — operators/validate.profile; one aggregate pass.
            from ds_jedai_spark.operators.validate import profile

            if not args.left:
                print("-op profile needs -left parquet path",
                      file=sys.stderr)
                return 2
            src = _read(args.left, ())
            cols = args.cols.split(",") if args.cols else None
            df = profile(src, cols).orderBy("column")
        elif args.op == "quantiles":
            # Exact distributed quantiles (type-1 rank selection,
            # integer rank arithmetic) — operators/ranking.py; -by
            # switches to the per-group window variant.
            from ds_jedai_spark.operators.ranking import (
                exact_quantiles,
                exact_quantiles_by,
            )

            if not args.left or not args.value_col:
                print("-op quantiles needs -left parquet and -value-col",
                      file=sys.stderr)
                return 2
            try:
                ps = tuple(int(p) for p in args.permille.split(","))
            except ValueError:
                print(f"-permille expects comma-separated integers, got "
                      f"{args.permille!r}", file=sys.stderr)
                return 2
            src = _read(args.left, ())
            if args.by:
                df = exact_quantiles_by(src, args.value_col, args.by, ps)
                df = df.orderBy(args.by, "permille")
            else:
                df = exact_quantiles(src, args.value_col, ps)
                df = df.orderBy("permille")
        elif args.op == "editdist":
            from ds_jedai_spark.operators import dedup as dd

            if not args.left:
                print("-op editdist needs -left parquet path",
                      file=sys.stderr)
                return 2
            df = dd.edit_distance_pairs(
                _docs_frame(_read(args.left, ()), args), d=args.edit_d
            )
        else:
            print(f"unknown op {args.op!r}", file=sys.stderr)
            return 2
        return _print_or_write(df, args.out, args.limit, t0)
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
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
        choices=["relate", "convert", "perturb", "reproject",
                 "measures", "density", "dbscan", "geohash", "hull",
                 "knn", "distance", "asof", "interval",
                 "chunk", "dedup", "dedup-build", "dedup-apply", "emb-dedup",
                 "ann", "ann-build", "quantize", "shuffle", "dupspans",
                 "scrub", "er", "editdist", "zorder", "quantiles",
                 "validate", "profile", "zonal"],
        help="run a temporal/pipeline operator on user parquet",
    )
    ap.add_argument("-index", default=None,
                    help="persisted-index name: -op ann-build/-op ann use "
                         "it as a table prefix (IVF/PQ/LSH artifacts); "
                         "-op dedup-build/-op dedup as the bucketed "
                         "shingle table; -op emb-dedup reads "
                         "<prefix>_bands")
    ap.add_argument("-bbox", default=None,
                    help="spatial subset 'minx,miny,maxx,maxy' applied "
                         "to the inputs of relate/convert/perturb/"
                         "reproject/knn/distance — pushed into the scan "
                         "(FlatGeobuf R-tree skip, parquet row-group "
                         "stats); envelope-intersection semantics")
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
                    help="ann (brute): query ids are vec_id < N")
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
                    help="id column name in the input (default: doc_id "
                         "for dedup/text ops, id for relate)")
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
    args = ap.parse_args(argv)

    if args.op is not None:
        if args.bbox is not None:
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
            args.id_col = ("id" if args.op in ("relate", "convert",
                                               "perturb", "reproject",
                                               "measures", "density",
                                               "dbscan", "geohash",
                                               "hull", "knn",
                                               "distance", "zorder",
                                               "zonal")
                           else "doc_id")
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

    cfg = load_config(args.conf)
    if args.export:
        cfg.export_path = args.export
    if args.budget:
        cfg.budget = args.budget

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

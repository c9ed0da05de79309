"""Table-mode ANN index pins: build the index as persisted tables,
reopen it in a fresh plan, and assert search results equal the
local-checkpoint pins — the cross-job deployment path (a 100 TB index
is trained once and reopened by every later job, not localCheckpointed
inside one session).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ds_jedai_spark.operators import similarity
from ds_jedai_spark.plans import pipeline_plans as pl
from tests.conftest import SF_SMALL


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_table_mode_pins_match_local_mode(spark):
    emb = pl._emb(spark, SF_SMALL)

    books_l = similarity.pin_codebooks(emb)
    cent_l = similarity.pin_centroids(emb)
    codes_l = similarity.pin_codes(emb, books_l)
    cells_l = similarity.pin_cells(emb, cent_l)
    bands_l = similarity.pin_bands(emb)

    books_t = similarity.pin_codebooks(emb, table="t_pq_books")
    cent_t = similarity.pin_centroids(emb, table="t_ivf_cent")
    codes_t = similarity.pin_codes(emb, books_t, table="t_pq_codes")
    cells_t = similarity.pin_cells(emb, cent_t, table="t_ivf_cells")
    bands_t = similarity.pin_bands(emb, table="t_lsh_bands")

    # Fresh frames read FROM the tables (not the build lineage): searches
    # over them must match the local-mode searches bit-for-bit.
    cent_r = spark.table("t_ivf_cent")
    cells_r = spark.table("t_ivf_cells")
    codes_r = spark.table("t_pq_codes")
    bands_r = spark.table("t_lsh_bands")
    books_stacked = spark.table("t_pq_books")
    books_r = [
        books_stacked.where(F.col("m") == m).select("cid", "cv")
        for m in range(similarity.PQ_M)
    ]

    cols = ["qid", "vid", "cos"]
    assert _rows(
        similarity.ivf_trained_topk(emb, cent=cent_r, cells=cells_r), cols
    ) == _rows(
        similarity.ivf_trained_topk(emb, cent=cent_l, cells=cells_l), cols
    )
    assert _rows(
        similarity.pq_rerank_topk(emb, books=books_r, codes=codes_r), cols
    ) == _rows(
        similarity.pq_rerank_topk(emb, books=books_l, codes=codes_l), cols
    )
    pcols = ["d1", "d2", "cos"]
    assert _rows(
        similarity.lsh_neardup_pairs(emb, pl.TAU_COS, bands=bands_r), pcols
    ) == _rows(
        similarity.lsh_neardup_pairs(emb, pl.TAU_COS, bands=bands_l), pcols
    )

    # No re-training: the table-backed search plan scans the pinned
    # tables and contains no Lloyd/encode lineage (no aggregate over the
    # full corpus feeding the code/cell inputs).
    plan = (
        similarity.pq_rerank_topk(emb, books=books_r, codes=codes_r)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "t_pq_codes" in plan and "t_pq_books" in plan

    for t in ("t_pq_books", "t_ivf_cent", "t_pq_codes", "t_ivf_cells",
              "t_lsh_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

"""Stateful progressive algorithms — the irreducibly sequential pair.

DYNAMIC_PROGRESSIVE_GIANT (reference:
src/main/scala/linkers/progressive/DynamicProgressiveGIAnt.scala:25-88 +
model/structures/ComparisonPQ.scala:55-70): verify candidates in weight
order; each time a pair qualifies, boost the weight of every remaining
pair sharing an endpoint to ``w * (1 + relatedMatches)``, re-ordering the
queue mid-scan.

EARLY_STOPPING (reference:
src/main/scala/linkers/progressive/EarlyStoppingLinker.scala:34-131):
verify in weight-ordered batches; stop after ``max_violations``
consecutive batches whose match count falls below
``precision_level * first_batch_matches``.

Both mutate a priority structure as a function of verification *results*,
so they cannot be expressed as window functions. Spark-first this means:
keep candidate generation + weighting as DataFrame plans, then run the
sequential scan per partition group with ``groupBy("pid").applyInArrow``
(one Python pass per group over one Arrow table — the same
operator-per-partition shape the reference uses,
linkers/DistributedInterlinking.scala:37-44). Both algorithms share one
scan body (``_scan``): sort the group by (w desc, s_id, t_id) with
``pyarrow.compute.sort_indices``, pick pairs with the algorithm's order
function, emit them with their rank.

With ``relation=...`` the scan is also the verifier, as in the reference
(ProgressiveLinkerT.scala:47-63, each dequeued pair is related once and
its intersection matrix emitted). The group's verdict is
``relate_general.Verdict``, the batch verifier's own: it checks the group's
geometry once (a null gtype/coords or a non-[x, y] coords leaf raises
ValueError naming the column) and ``relate_fast.preclassify`` codes the
whole group in one vectorised call. The qualifier reads ``CODE_FLAGS``
for decided rows; only UNDECIDED rows the scan dequeues call
``relate_pair`` (memoised), so exact calls never exceed the pairs
dequeued, which the budget bounds. The output carries
the ten ``r_<relation>`` flags of every pair it verified, the same
columns ``with_general_relations`` appends; ``api.run`` reads them as the
verification result. With a precomputed ``qualifies_col`` the same body
reads that column instead and emits only s_id, t_id, w and
verified_rank.

Groups are formed by bucketing the source id into ``num_parts`` buckets
(``s_id % num_parts`` — portable modular bucketing so the DuckDB oracle can
reproduce the grouping bit-for-bit) and each group gets a budget share
proportional to its candidate count (reference localBudget,
ProgressiveGIAnt.scala:26). The group total needed for that share is a
broadcast one-row aggregate joined onto the candidates — no driver-side
``count()`` action, so the candidate set is scanned exactly once.

The scan input is repartitioned explicitly by ``pid`` into
``min(num_parts, spark.sql.shuffle.partitions)`` partitions, after the
group totals are taken (so their aggregate stays a map-side count). Left to
``groupBy``, the ``hashpartitioning(pid)`` exchange is one AQE may
coalesce, and on a small candidate set it coalesced into ONE partition:
the whole scan ran as one task with the other cores idle (the
``progressive`` perfbench workload at ``local[2]``). A
repartition-by-number exchange is never coalesced, and ``groupBy("pid")``
reuses its partitioning (no second Exchange). The groups, and so the
output, do not depend on the partition count.
"""

from __future__ import annotations

import heapq
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ds_jedai_spark.operators.relate import RELATIONS

# Scan output after the id columns (whose types follow the input's); with
# bigint ids the schema is "s_id long, t_id long, w double, verified_rank
# long". Relation mode appends one r_<relation> boolean per RELATIONS.
OUT_COLS = "w double, verified_rank long"

GEOM_COLS = ("s_gtype", "s_coords", "t_gtype", "t_coords")

_SORT_KEYS = [("w", "descending"), ("s_id", "ascending"), ("t_id", "ascending")]


def _verifier(table: pa.Table, order: np.ndarray, relation: str):
    """(qual_of, flags_of) over the sorted positions of one group.
    ``qual_of(k)`` answers ``relation`` for sorted row k; ``flags_of(ks)``
    returns the r_* columns of rows ks, all of which qual_of has seen."""
    from ds_jedai_spark.operators.relate_fast import CODE_FLAGS, UNDECIDED
    from ds_jedai_spark.operators.relate_general import Verdict

    v = Verdict(pa.RecordBatch.from_arrays(
        [table.column(c).combine_chunks() for c in GEOM_COLS], list(GEOM_COLS)
    ))
    codes, qual = v.codes[order], CODE_FLAGS[relation]

    def qual_of(k: int) -> bool:
        code = codes[k]
        if code != UNDECIDED:
            return bool(qual[code])
        return v.exact(int(order[k]))[relation]

    return qual_of, lambda ks: v.flags(order[ks])


def _scan(table: pa.Table, pick, relation: str | None) -> pa.Table:
    """The shared scan body over one group. ``pick(s_ids, t_ids, w0,
    qual_of)`` gets the group's sorted id columns (Arrow) and weights and
    returns the sorted positions it verified, in verification order, and
    the weight each had when dequeued."""
    order = pc.sort_indices(table, sort_keys=_SORT_KEYS)
    s_ids = table.column("s_id").take(order)
    t_ids = table.column("t_id").take(order)
    w0 = table.column("w").take(order).to_numpy().tolist()
    order = order.to_numpy()
    if relation is None:
        q = table.column("qualifies").to_numpy(zero_copy_only=False)[order]
        qual_of, flags_of = (lambda k: bool(q[k])), None
    else:
        qual_of, flags_of = _verifier(table, order, relation)
    picked, w = pick(s_ids, t_ids, w0, qual_of)
    ks = np.asarray(picked, dtype=np.int64)
    out = {
        "s_id": s_ids.take(ks),
        "t_id": t_ids.take(ks),
        "w": np.asarray(w, dtype=np.float64),
        "verified_rank": np.arange(1, len(ks) + 1, dtype=np.int64),
    }
    if flags_of is not None:
        out.update(flags_of(ks))
    return pa.table(out)


def _dynamic_order(s_ids, t_ids, w0, qual_of, budget: int):
    """Dynamic-PQ order over one sorted group: up to ``budget`` dequeues;
    a qualifying pair boosts every pending pair sharing an endpoint. Ties
    in weight break on the ids as integers."""
    s_ids, t_ids = (
        pc.cast(c, pa.int64()).to_numpy().tolist() for c in (s_ids, t_ids)
    )
    n = len(s_ids)
    by_s: dict[int, list[int]] = {}
    by_t: dict[int, list[int]] = {}
    for i in range(n):
        by_s.setdefault(s_ids[i], []).append(i)
        by_t.setdefault(t_ids[i], []).append(i)

    rm = [0] * n  # relatedMatches per pending pair
    eff = list(w0)
    done = [False] * n
    # Heap entries: (-w_eff, s_id, t_id, idx, w_at_push); stale entries
    # (w_at_push != current eff) are skipped lazily.
    heap = [(-eff[i], s_ids[i], t_ids[i], i, eff[i]) for i in range(n)]
    heapq.heapify(heap)

    picked, out_w = [], []
    while heap and len(picked) < budget:
        _, _, _, i, w_at_push = heapq.heappop(heap)
        if done[i] or w_at_push != eff[i]:
            continue
        done[i] = True
        picked.append(i)
        out_w.append(eff[i])
        if qual_of(i):
            for j in by_s[s_ids[i]] + by_t[t_ids[i]]:
                if not done[j]:
                    rm[j] += 1
                    eff[j] = w0[j] * (1 + rm[j])
                    heapq.heappush(heap, (-eff[j], s_ids[j], t_ids[j], j, eff[j]))
    return picked, out_w


def _early_stopping_order(s_ids, t_ids, w0, qual_of, batch_size: int,
                          max_violations: int, precision_level: float):
    """Batch order over one sorted group, cut by the stopping rule."""
    n = len(w0)
    end = n
    first_batch_matches = None
    violations = 0
    for start in range(0, n, batch_size):
        matches = sum(qual_of(k) for k in range(start, min(start + batch_size, n)))
        if first_batch_matches is None:
            first_batch_matches = max(matches, 1)
            continue
        if matches < precision_level * first_batch_matches:
            violations += 1
            if violations >= max_violations:
                end = min(start + batch_size, n)
                break
        else:
            violations = 0
    return list(range(end)), w0[:end]


def _scan_input(cand, weight_sql, qualifies_col, relation, num_parts):
    """(pid, s_id, t_id, w, qualifies | geometry) frame and the scan's
    output schema."""
    cols = ["pid", "s_id", "t_id", "w"]
    base = cand.withColumn("w", F.expr(weight_sql)).withColumn(
        "pid", F.pmod(F.col("s_id"), F.lit(num_parts))
    )
    if relation is None:
        base = base.withColumn("qualifies", F.col(qualifies_col))
        cols.append("qualifies")
    else:
        cols.extend(GEOM_COLS)
    base = base.select(*cols)
    schema = ", ".join(
        f"{c} {base.schema[c].dataType.simpleString()}" for c in ("s_id", "t_id")
    ) + ", " + OUT_COLS
    if relation is not None:
        schema += "".join(f", r_{r} boolean" for r in RELATIONS)
    return base, schema


def _by_pid(base: DataFrame, num_parts: int):
    """``base`` grouped by pid over an explicit pid repartition (see the
    module docstring: AQE would coalesce groupBy's own exchange)."""
    shuffle_parts = int(base.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return base.repartition(min(num_parts, shuffle_parts), "pid").groupBy("pid")


def dynamic_progressive(
    cand: DataFrame,
    weight_sql: str,
    qualifies_col: str | None,
    budget: int,
    num_parts: int = 32,
    relation: str | None = None,
) -> DataFrame:
    """cand must carry s_id, t_id and either a precomputed qualifies column
    (closed-form box algebra — free JVM column math) or, with
    ``relation=...``, the geometry columns (s_gtype/s_coords/t_gtype/
    t_coords): the scan then verifies each dequeued pair once and emits
    its r_* flags."""
    base, schema = _scan_input(cand, weight_sql, qualifies_col, relation,
                               num_parts)
    totals = base.agg(F.count(F.lit(1)).alias("n_total"))
    base = base.crossJoin(F.broadcast(totals))

    def scan(table: pa.Table) -> pa.Table:
        total = max(table.column("n_total")[0].as_py(), 1)
        # Integer-exact ceil so the SQL oracle's `(a + b - 1) // b` matches.
        local_budget = max(1, (budget * table.num_rows + total - 1) // total)
        return _scan(table, partial(_dynamic_order, budget=local_budget),
                     relation)

    return _by_pid(base, num_parts).applyInArrow(scan, schema)


def early_stopping(
    cand: DataFrame,
    weight_sql: str,
    qualifies_col: str | None,
    batch_size: int = 100,
    max_violations: int = 4,
    precision_level: float = 0.18,
    num_parts: int = 32,
    relation: str | None = None,
) -> DataFrame:
    """Batch-verified scan with the reference's stopping rule (defaults are
    the reference case-class defaults, EarlyStoppingLinker.scala:21-23).
    With ``relation=...`` each batch is verified inside the scan, so
    batches after the stopping point are never verified at all."""
    base, schema = _scan_input(cand, weight_sql, qualifies_col, relation,
                               num_parts)
    pick = partial(
        _early_stopping_order, batch_size=batch_size,
        max_violations=max_violations, precision_level=precision_level,
    )
    return _by_pid(base, num_parts).applyInArrow(
        lambda table: _scan(table, pick, relation), schema
    )

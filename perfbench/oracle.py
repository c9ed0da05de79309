"""Answer checks for the interlinking benchmark.

The reference answers are computed from the generated envelopes, never
from the engine's own output, with one exception: the mixed WKT family,
whose exact counts come from ``recorded_mixed.json`` (written by
``record.py``).

- Every workload: the candidate pairs are the envelope-overlap pairs,
  joined in DuckDB.
- Box workloads: the pairs each algorithm schedules are selected again
  here from the closed-form JS weight (``progressive_top_budget``'s top
  budget by weight, s_id, t_id; ``dynamic_progressive``'s boosted scan per
  s_id bucket), and the eleven counts of the selected pairs follow from
  closed-form box predicates.

``check`` returns the list of violated conditions; empty means correct.
"""

from __future__ import annotations

import heapq
import json
import os
from collections import defaultdict
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDED = os.path.join(HERE, "recorded_mixed.json")
# The engine's tile-granularity floors (model/tiles.py) and the stateful
# scan's bucket count (operators/progressive_state.py), restated.
GRID_CAP = 512
MIN_THETA = 1e-9
SCAN_GROUPS = 32


@dataclass
class Expected:
    envelope_pairs: int
    row: dict | None  # every count of the answer, when known


def _candidates(inputs) -> pd.DataFrame:
    """(source, target) pairs whose closed envelopes intersect — what the
    tile join must return, each pair once — with both envelopes."""
    con = duckdb.connect()
    try:
        cols = ["minx", "miny", "maxx", "maxy"]
        for name, side in (("s", inputs.source), ("t", inputs.target)):
            df = pd.DataFrame(side.env, columns=cols)
            df.insert(0, "id", side.ids)
            con.register(name, df)
        return con.execute(
            "SELECT s.id AS s_id, t.id AS t_id, s.minx AS s_minx, "
            "s.miny AS s_miny, s.maxx AS s_maxx, s.maxy AS s_maxy, "
            "t.minx AS t_minx, t.miny AS t_miny, t.maxx AS t_maxx, "
            "t.maxy AS t_maxy FROM s JOIN t ON s.minx <= t.maxx AND "
            "t.minx <= s.maxx AND s.miny <= t.maxy AND t.miny <= s.maxy"
        ).df()
    finally:
        con.close()


def _theta(inputs) -> tuple[float, float]:
    """Tile size per axis: the mean source extent, floored by each side's
    domain over GRID_CAP cells. Sums of 1/16 multiples are exact, so the
    mean rounds exactly as Spark's avg does."""
    s, t = inputs.source.env, inputs.target.env
    out = []
    for lo, hi in ((0, 2), (1, 3)):
        mean = (s[:, hi] - s[:, lo]).sum() / len(s)
        domain = max(e[:, hi].max() - e[:, lo].min() for e in (s, t))
        out.append(float(max(mean, domain / GRID_CAP, MIN_THETA)))
    return out[0], out[1]


def _js_weight(c: pd.DataFrame, theta) -> np.ndarray:
    """Jaccard similarity of the two envelopes' tile sets."""
    spans = []
    for axis, th in zip("xy", theta):
        lo_s, hi_s = np.floor(c[f"s_min{axis}"] / th), np.floor(c[f"s_max{axis}"] / th)
        lo_t, hi_t = np.floor(c[f"t_min{axis}"] / th), np.floor(c[f"t_max{axis}"] / th)
        spans.append((hi_s - lo_s + 1, hi_t - lo_t + 1,
                      np.minimum(hi_s, hi_t) - np.maximum(lo_s, lo_t) + 1))
    (sx, tx, cx), (sy, ty, cy) = spans
    sb, tb, cb = sx * sy, tx * ty, cx * cy
    return (cb / (sb + tb - cb)).to_numpy()


def _top_budget(c: pd.DataFrame, w: np.ndarray, budget: int) -> np.ndarray:
    """Indices of the budget heaviest pairs, ties by s_id then t_id."""
    order = np.lexsort((c["t_id"].to_numpy(), c["s_id"].to_numpy(), -w))
    return order[:budget]


def _boosted_scan(s, t, w, idx: list[int], quota: int) -> list[int]:
    """DYNAMIC_PROGRESSIVE_GIANT on one bucket: take pairs in order of
    effective weight (then s_id, t_id); every taken box pair qualifies, so
    it multiplies the weight of each pending pair sharing an endpoint by
    (1 + its related matches so far)."""
    matches = dict.fromkeys(idx, 0)
    sharing = defaultdict(list)
    for i in idx:
        sharing["s", s[i]].append(i)
        sharing["t", t[i]].append(i)
    heap = [(-w[i], s[i], t[i], i) for i in idx]
    heapq.heapify(heap)
    taken: list[int] = []
    done: set[int] = set()
    while heap and len(taken) < quota:
        neg, _, _, i = heapq.heappop(heap)
        if i in done or -neg != w[i] * (1 + matches[i]):
            continue  # taken already, or an outdated weight
        done.add(i)
        taken.append(i)
        for j in sharing["s", s[i]] + sharing["t", t[i]]:
            if j not in done:
                matches[j] += 1
                heapq.heappush(heap, (-(w[j] * (1 + matches[j])), s[j], t[j], j))
    return taken


def _dynamic(c: pd.DataFrame, w: np.ndarray, budget: int) -> list[int]:
    """Each s_id bucket gets ceil(budget * bucket size / candidates)."""
    s, t, wl = c["s_id"].tolist(), c["t_id"].tolist(), w.tolist()
    buckets = defaultdict(list)
    for i, sid in enumerate(s):
        buckets[sid % SCAN_GROUPS].append(i)
    total = len(s)
    out: list[int] = []
    for idx in buckets.values():
        out += _boosted_scan(s, t, wl, idx, max(1, -(-budget * len(idx) // total)))
    return out


def _box_counts(c: pd.DataFrame) -> dict:
    """The DE9IM counts of box pairs with intersecting envelopes (boxes of
    positive width and height): all intersect, covers == contains,
    coveredBy == within, touching boundaries only is touches, sharing
    interior without either covering the other is overlaps, no crosses."""
    s_cov = ((c.s_minx <= c.t_minx) & (c.s_miny <= c.t_miny)
             & (c.t_maxx <= c.s_maxx) & (c.t_maxy <= c.s_maxy))
    t_cov = ((c.t_minx <= c.s_minx) & (c.t_miny <= c.s_miny)
             & (c.s_maxx <= c.t_maxx) & (c.s_maxy <= c.t_maxy))
    inner = ((np.minimum(c.s_maxx, c.t_maxx) > np.maximum(c.s_minx, c.t_minx))
             & (np.minimum(c.s_maxy, c.t_maxy) > np.maximum(c.s_miny, c.t_miny)))
    n = len(c)
    return {
        "verifications": n, "qualifying_pairs": n, "n_intersects": n,
        "n_contains": int(s_cov.sum()), "n_covers": int(s_cov.sum()),
        "n_within": int(t_cov.sum()), "n_coveredby": int(t_cov.sum()),
        "n_equals": int((s_cov & t_cov).sum()),
        "n_touches": int((~inner).sum()),
        "n_overlaps": int((inner & ~s_cov & ~t_cov).sum()),
        "n_crosses": 0,
    }


def recorded(seed: int) -> dict | None:
    with open(RECORDED) as f:
        return json.load(f).get(str(seed))


def expected(workload, inputs, seed: int) -> list[Expected]:
    """The answer each job of workload on inputs must return."""
    c = _candidates(inputs)
    if workload.family != "boxes":
        return [Expected(len(c), recorded(seed)) for _ in workload.jobs]
    w = _js_weight(c, _theta(inputs))
    out = []
    for job in workload.jobs:
        pick = {"PROGRESSIVE_GIANT": _top_budget,
                "DYNAMIC_PROGRESSIVE_GIANT": _dynamic}[job.algorithm]
        out.append(Expected(len(c), _box_counts(c.iloc[pick(c, w, job.budget)])))
    return out


def _de9im_implications(row: dict) -> list[str]:
    bad = []
    if row["qualifying_pairs"] != row["n_intersects"]:
        bad.append("qualifying != intersects")
    if row["n_contains"] > row["n_covers"]:
        bad.append("contains > covers")
    if row["n_within"] > row["n_coveredby"]:
        bad.append("within > coveredBy")
    if row["n_equals"] > min(row["n_covers"], row["n_coveredby"]):
        bad.append("equals > min(covers, coveredBy)")
    if row["n_intersects"] > row["verifications"]:
        bad.append("intersects > verifications")
    return bad


def check(job, row: dict, want: Expected) -> list[str]:
    """Violations of the expected answer for one job's counts row."""
    bad = _de9im_implications(row)
    n = row["verifications"]
    if job.algorithm is None and n != want.envelope_pairs:
        bad.append(f"verifications {n} != envelope pairs {want.envelope_pairs}")
    if job.algorithm == "PROGRESSIVE_GIANT" and n != job.budget:
        bad.append(f"verifications {n} != budget {job.budget}")
    if want.row is not None:
        diff = {k: (row.get(k), v) for k, v in want.row.items() if row.get(k) != v}
        if diff:
            bad.append(f"counts (got, want) differ: {diff}")
    return bad


def sizes(inputs, want: Expected) -> dict:
    return {
        "source_rows": int(len(inputs.source.ids)),
        "target_rows": int(len(inputs.target.ids)),
        "target_kinds": (
            {k: int(v) for k, v in zip(*np.unique(inputs.target.kinds,
                                                   return_counts=True))}
            if inputs.target.kinds is not None else None
        ),
        "candidates": want.envelope_pairs,
    }

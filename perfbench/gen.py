"""Seeded input generator for the interlinking benchmark.

Every coordinate is an integer multiple of 1/16 (the engine's lattice
contract), so every predicate the engine evaluates is exact and the
answers can be checked with closed forms and DuckDB.

Two input families:

- ``boxes``: axis-aligned rectangles written as engine row-format parquet
  (id, gtype, coords, minx, miny, maxx, maxy) — the reader needs no
  parsing. Used by the ``progressive`` workload.
- ``mixed``: convex 5-16-gons (source) against a mix of points,
  linestrings and convex polygons (target), written as WKT TSV — the
  reader parses every row.

The envelopes of every generated geometry are returned alongside the
files so the oracle never reads the engine's output to build its answer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UNIT = 1.0 / 16.0

# Sizes (geometries per side). Chosen so one warm api.run on two cores
# takes 2-6 s: a benchmark run (JVM start, two warm-up samples, two or
# three timed samples) then stays near 45 s, so a full ten-seed comparison
# of two commits finishes within the hour. Twice the boxes made the
# progressive job 30% slower, and more sensitive to a busy host. WKT
# verification costs ~0.1 ms per candidate. README.md, "Where the time
# goes", has the per-layer split at these sizes.
BOX_ROWS = 10_000
BOX_DOMAIN = 3_072  # lattice units per side of the square domain
MIXED_SOURCE_ROWS = 1_000
MIXED_TARGET_ROWS = 1_000
MIXED_DOMAIN = 768


@dataclass
class Side:
    """One generated dataset: its file and the envelope of every row."""

    path: str
    ids: np.ndarray
    env: np.ndarray  # (n, 4) float64: minx, miny, maxx, maxy
    kinds: np.ndarray | None = None  # gtype per row (mixed only)


@dataclass
class Inputs:
    source: Side
    target: Side


def _box_envelopes(rng: np.random.Generator, n: int) -> np.ndarray:
    """Lattice boxes with a long-tailed size mix (10% large ones), so the
    counts cover contains/within as well as overlaps and touches."""
    large = rng.random(n) < 0.1
    w = np.where(large, rng.integers(24, 97, n), rng.integers(2, 25, n))
    h = np.where(large, rng.integers(24, 97, n), rng.integers(2, 25, n))
    x0 = rng.integers(0, BOX_DOMAIN - w)
    y0 = rng.integers(0, BOX_DOMAIN - h)
    return np.stack([x0, y0, x0 + w, y0 + h], axis=1).astype(np.int64)


def _box_targets(rng: np.random.Generator, src: np.ndarray, n: int) -> np.ndarray:
    """Fresh boxes plus 1% exact copies of source boxes (equals) and 1%
    edge-adjacent copies (touches)."""
    tgt = _box_envelopes(rng, n)
    k = n // 100
    pick = rng.choice(len(src), size=2 * k, replace=False)
    tgt[:k] = src[pick[:k]]
    adj = src[pick[k:]].copy()
    w = adj[:, 2] - adj[:, 0]
    shift = np.where(adj[:, 2] + w < BOX_DOMAIN, w, -w)
    adj[:, 0] += shift
    adj[:, 2] += shift
    tgt[k : 2 * k] = adj
    return tgt


def _write_box_parquet(path: str, ids: np.ndarray, env_units: np.ndarray) -> np.ndarray:
    env = env_units.astype(np.float64) * UNIT
    n = len(env)
    x0, y0, x1, y1 = env.T
    ring = np.stack(
        [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0], axis=1
    ).reshape(-1)
    xy = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * 10 + 1, 2, dtype=np.int32)), pa.array(ring)
    )
    pts = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * 5 + 1, 5, dtype=np.int32)), xy
    )
    parts = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n + 1, dtype=np.int32)), pts
    )
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "gtype": pa.array(["POLYGON"] * n, pa.string()),
        "coords": parts,
        "minx": x0, "miny": y0, "maxx": x1, "maxy": y1,
    })
    pq.write_table(table, path)
    return env


def _hull(pts: np.ndarray) -> np.ndarray:
    """Strict convex hull (Andrew's monotone chain, collinear points
    dropped) of integer points, counter-clockwise, not closed."""
    p = np.unique(pts, axis=0)
    if len(p) < 3:
        return p

    def half(seq):
        out: list = []
        for q in seq:
            while len(out) >= 2:
                (ax, ay), (bx, by) = out[-2], out[-1]
                if (bx - ax) * (q[1] - ay) - (by - ay) * (q[0] - ax) > 0:
                    break
                out.pop()
            out.append((int(q[0]), int(q[1])))
        return out

    lower, upper = half(p), half(p[::-1])
    return np.array(lower[:-1] + upper[:-1], dtype=np.int64)


def _convex(rng, lo_v, hi_v, r_lo, r_hi, domain):
    """A convex lattice polygon with lo_v..hi_v vertices, counter-clockwise."""
    while True:
        k = int(rng.integers(lo_v, hi_v + 1))
        r = int(rng.integers(r_lo, r_hi + 1))
        c = rng.integers(r + 1, domain - r - 1, 2)
        ang = np.sort(rng.random(k)) * 2 * np.pi
        pts = np.rint(c + r * np.stack([np.cos(ang), np.sin(ang)], 1))
        hull = _hull(pts.astype(np.int64))
        if lo_v <= len(hull) <= hi_v:
            return hull


def _linestring(rng, domain):
    while True:
        k = int(rng.integers(2, 7))
        start = rng.integers(40, domain - 40, 2)
        steps = rng.integers(-16, 17, (k - 1, 2))
        pts = np.vstack([start, start + np.cumsum(steps, axis=0)])
        if np.all(np.any(np.diff(pts, axis=0) != 0, axis=1)):
            return pts


def _fmt(pts_units: np.ndarray) -> str:
    return ", ".join(f"{x * UNIT!r} {y * UNIT!r}" for x, y in pts_units)


def _wkt(kind: str, pts: np.ndarray) -> str:
    if kind == "POINT":
        return f"POINT ({_fmt(pts)})"
    if kind == "LINESTRING":
        return f"LINESTRING ({_fmt(pts)})"
    return f"POLYGON (({_fmt(np.vstack([pts, pts[:1]]))}))"


def _write_wkt_tsv(path: str, ids, kinds, shapes) -> np.ndarray:
    env = np.empty((len(shapes), 4), dtype=np.float64)
    with open(path, "w") as f:
        f.write("id\twkt\n")
        for i, (rid, kind, pts) in enumerate(zip(ids, kinds, shapes)):
            f.write(f"{rid}\t{_wkt(kind, pts)}\n")
            env[i] = (*pts.min(axis=0), *pts.max(axis=0))
    return env * UNIT


def make_boxes(workdir: str, seed: int) -> Inputs:
    rng = np.random.default_rng([seed, 1])
    src = _box_envelopes(rng, BOX_ROWS)
    tgt = _box_targets(rng, src, BOX_ROWS)
    sp, tp = (os.path.join(workdir, f"boxes_{s}.parquet") for s in ("s", "t"))
    s_ids = np.arange(BOX_ROWS, dtype=np.int64)
    t_ids = np.arange(BOX_ROWS, 2 * BOX_ROWS, dtype=np.int64)
    return Inputs(
        Side(sp, s_ids, _write_box_parquet(sp, s_ids, src)),
        Side(tp, t_ids, _write_box_parquet(tp, t_ids, tgt)),
    )


def make_mixed(workdir: str, seed: int) -> Inputs:
    rng = np.random.default_rng([seed, 2])
    s_shapes = [_convex(rng, 5, 16, 10, 48, MIXED_DOMAIN)
                for _ in range(MIXED_SOURCE_ROWS)]
    s_kinds = np.array(["POLYGON"] * MIXED_SOURCE_ROWS)
    t_kinds = rng.choice(
        np.array(["POINT", "LINESTRING", "POLYGON"]), MIXED_TARGET_ROWS
    )
    t_shapes = []
    for kind in t_kinds:
        if kind == "POINT":
            t_shapes.append(rng.integers(0, MIXED_DOMAIN, (1, 2)))
        elif kind == "LINESTRING":
            t_shapes.append(_linestring(rng, MIXED_DOMAIN))
        else:
            t_shapes.append(_convex(rng, 3, 8, 3, 24, MIXED_DOMAIN))
    sp, tp = (os.path.join(workdir, f"mixed_{s}.tsv") for s in ("s", "t"))
    s_ids = np.arange(MIXED_SOURCE_ROWS, dtype=np.int64)
    t_ids = np.arange(MIXED_SOURCE_ROWS, MIXED_SOURCE_ROWS + MIXED_TARGET_ROWS,
                      dtype=np.int64)
    return Inputs(
        Side(sp, s_ids, _write_wkt_tsv(sp, s_ids, s_kinds, s_shapes), s_kinds),
        Side(tp, t_ids, _write_wkt_tsv(tp, t_ids, t_kinds, t_shapes), t_kinds),
    )

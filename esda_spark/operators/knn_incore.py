"""Broadcast-kernel exact kNN — the small-target fast path.

The distributed builder in :mod:`esda_spark.operators.weights` pays
~10 fixed Spark jobs (density metadata, per-round candidate joins,
window sorts, checkpoint counts) regardless of input size; at the
150k-point scale those fixed costs dominate (BASELINE.md round 5:
"at this size fixed job overhead dominates and 32 threads buy
nothing").  This module is the gated fast path, following the same
precedent as ``components._incore_components`` (round-4/5 accepted):
when the TARGET side fits comfortably in a broadcast
(``gate.KNN_INCORE_TARGETS``, 2M rows ≈ 110 MB of numpy arrays),
collect it once, broadcast the grid index, and compute
every focal's exact top-k inside ONE ``mapInPandas`` job:

- zero shuffles (the focal side streams through in place),
- candidate generation, the (d2 asc, neighbor asc) top-k, settlement
  guards and radius-doubling all happen vectorized in numpy,
- stragglers brute-force against the full broadcast target array
  in-kernel (no extra Spark rounds).

Results are bit-identical to the distributed builder: d2 is computed
with the same IEEE sequence (dx*dx + dy*dy), ties break on
(d2, neighbor id) exactly as the window sort does, and the settlement
guard is the same "k candidates strictly inside radius*cell_size"
argument (any point outside the searched Chebyshev ring is farther
than the guard, so a settled focal's top-k is globally exact).

Density skew uses a two-level grid: level 0 sized for ~k occupancy;
targets in hot level-0 cells (> max(4k, 32) points) are additionally
indexed at a fine size halved until the max fine-cell count fits the
threshold.  Focals in hot cells search the fine grid from radius 4
(their dense neighborhood guarantees quick settlement); everyone else
searches level 0 from radius 1.  The guard pre-filter (drop candidates
at d2 >= (rad*cell)^2 before the top-k) is exact: if k candidates
survive the filter the top-k equals the unfiltered top-k (the guard
bound proves no farther point can enter), and if fewer survive the
focal goes to the next doubling round exactly as before.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

_CY = 1 << 32
_OFF = 1 << 20


def _keys(x: np.ndarray, y: np.ndarray, s: float) -> np.ndarray:
    cx = np.floor(x / s).astype(np.int64) + _OFF
    cy = np.floor(y / s).astype(np.int64) + _OFF
    return cx * _CY + cy


def build_target_index(tid: np.ndarray, tx: np.ndarray, ty: np.ndarray,
                       k: int) -> dict:
    """Driver-side grid index over the target points (pure numpy)."""
    n = len(tid)
    area = max((tx.max() - tx.min()) * (ty.max() - ty.min()), 1e-12) \
        if n else 1e-12
    s0 = max(math.sqrt(1.0 * k * area / max(n, 1)), 1e-9)
    threshold = max(4 * k, 32)

    key0 = _keys(tx, ty, s0)
    order0 = np.argsort(key0, kind="stable")
    sk0 = key0[order0]
    uniq0_start = np.nonzero(np.r_[True, sk0[1:] != sk0[:-1]])[0]
    cnt0 = np.diff(np.r_[uniq0_start, len(sk0)])
    hot = sk0[uniq0_start[cnt0 > threshold]]

    s_f, order_f, sk_f = s0, order0, sk0
    if len(hot):
        # halve the fine size until the max cell count fits the
        # threshold (count iterations run on the hot subset only; the
        # final full binning covers every target — a hot focal's fine
        # ring can reach into sparse cells).  Coincident points put a
        # floor under what halving can achieve (the orders table packs
        # up to 50 points on one coordinate), so the stop bound is
        # max(threshold, duplicate multiplicity) — halving past that
        # only empties the ring and blows up the doubling search.
        hot_mask = np.isin(key0, hot)
        hx, hy = tx[hot_mask], ty[hot_mask]
        _, dup_c = np.unique(hx + 1j * hy, return_counts=True)
        stop = max(threshold, int(dup_c.max()))
        s_f = s0
        for _ in range(12):
            _, c = np.unique(_keys(hx, hy, s_f), return_counts=True)
            if c.max() <= stop:
                break
            s_f /= 2.0
        key_f = _keys(tx, ty, s_f)
        order_f = np.argsort(key_f, kind="stable")
        sk_f = key_f[order_f]

    return {
        "tid": tid, "tx": tx, "ty": ty, "n": n,
        "s0": s0, "sk0": sk0, "order0": order0, "hot": hot,
        "s_f": s_f, "sk_f": sk_f, "order_f": order_f,
        "threshold": threshold,
        # world-coverage bound: a ring of this radius (in cells of the
        # level being searched) covers the whole target extent
        "extent": float(
            max(tx.max() - tx.min(), ty.max() - ty.min()) if n else 0.0
        ),
    }


def _trunc_div(a: np.ndarray, g: int) -> np.ndarray:
    """Integer division truncating toward zero — Spark's ``div``
    semantics (numpy ``//`` floors, which differs for negatives)."""
    q = np.abs(a) // g
    return np.where(a >= 0, q, -q)


def _gather_ring(fx, fy, s, rad, sk, order):
    """Flat (focal_row, target_pos) candidate pairs from the
    (2*rad+1)^2 Chebyshev ring, fully vectorized."""
    m = len(fx)
    cx = np.floor(fx / s).astype(np.int64) + _OFF
    cy = np.floor(fy / s).astype(np.int64) + _OFF
    r = int(rad)
    side = 2 * r + 1
    # (m, side^2) probe keys
    dx = np.repeat(np.arange(-r, r + 1), side)
    dy = np.tile(np.arange(-r, r + 1), side)
    probe = (cx[:, None] + dx[None, :]) * _CY + (cy[:, None] + dy[None, :])
    flat = probe.ravel()
    lo = np.searchsorted(sk, flat)
    hi = np.searchsorted(sk, flat, side="right")
    cnt = hi - lo
    total = int(cnt.sum())
    if total == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64))
    # ragged expansion: for segment j emit lo[j] + (0..cnt[j]-1)
    seg = np.repeat(np.arange(len(cnt)), cnt)
    within = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    tpos = order[lo[seg] + within]
    focal_row = seg // (side * side)
    return focal_row, tpos


def _topk_segments(frow, d2, nid, m, k):
    """Per-focal top-k by (d2 asc, id asc) over flat candidates.

    Returns (sel_frow, sel_nid, sel_d2, count_per_focal) where sel_*
    hold at most k rows per focal in rank order."""
    order = np.lexsort((nid, d2, frow))
    fo = frow[order]
    # rank within focal segment
    seg_start = np.nonzero(np.r_[True, fo[1:] != fo[:-1]])[0]
    seg_len = np.diff(np.r_[seg_start, len(fo)])
    rank = np.arange(len(fo)) - np.repeat(seg_start, seg_len)
    keepm = rank < k
    counts = np.zeros(m, dtype=np.int64)
    counts[fo[seg_start]] = np.minimum(seg_len, k)
    sel = order[keepm]
    return frow[sel], nid[sel], d2[sel], counts


def knn_batch(fid, fx, fy, idx, k, exclude_self, group_div):
    """Exact kNN of one focal batch against the broadcast index.

    Returns (focal, neighbor, d2) flat arrays, at most k rows per
    focal, globally exact under (d2 asc, neighbor asc)."""
    tid, tx, ty = idx["tid"], idx["tx"], idx["ty"]
    m = len(fid)
    out_f, out_n, out_d = [], [], []
    if idx["n"] == 0 or m == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.float64))

    # level assignment: hot level-0 cell -> fine grid from radius 4
    key0 = _keys(fx, fy, idx["s0"])
    if len(idx["hot"]):
        pos = np.minimum(np.searchsorted(idx["hot"], key0),
                         len(idx["hot"]) - 1)
        is_hot = idx["hot"][pos] == key0
    else:
        is_hot = np.zeros(m, bool)

    fgrp = _trunc_div(fid, group_div) if group_div else None

    def solve(rows, s, sk, order, rad0):
        """Doubling-ring settlement for one level group; returns the
        row indices that did NOT settle (world fallback)."""
        active = rows
        rad = rad0
        while len(active):
            if rad * s > max(idx["extent"], 1e-9) * 2.0:
                return active  # ring covers the world: brute force
            if (2 * rad + 1) ** 2 * len(active) > 50_000_000:
                # probe-budget safety: a pathological density profile
                # (rings doubling through mostly-empty cells) costs
                # more in searchsorted probes than the brute force
                return active
            frow, tpos = _gather_ring(fx[active], fy[active], s, rad,
                                      sk, order)
            if len(frow) == 0:
                rad *= 2
                continue
            dx = fx[active][frow] - tx[tpos]
            dy = fy[active][frow] - ty[tpos]
            d2 = dx * dx + dy * dy
            guard = float(rad) * s
            keep = d2 < guard * guard
            if exclude_self:
                keep &= tid[tpos] != fid[active][frow]
            if group_div:
                keep &= _trunc_div(tid[tpos], group_div) == \
                    fgrp[active][frow]
            frow, tpos, d2 = frow[keep], tpos[keep], d2[keep]
            if len(frow):
                sf, sn, sd, counts = _topk_segments(
                    frow, d2, tid[tpos], len(active), k
                )
                settled = counts >= k
                smask = settled[sf]
                out_f.append(fid[active][sf[smask]])
                out_n.append(sn[smask])
                out_d.append(sd[smask])
                active = active[~settled]
            rad *= 2
        return active

    lv0 = np.nonzero(~is_hot)[0]
    lvf = np.nonzero(is_hot)[0]
    strag = []
    if len(lv0):
        strag.append(solve(lv0, idx["s0"], idx["sk0"], idx["order0"], 1))
    if len(lvf):
        strag.append(solve(lvf, idx["s_f"], idx["sk_f"], idx["order_f"], 4))
    strag = np.concatenate(strag) if strag else np.empty(0, np.int64)

    # world brute force for the stragglers, chunked to bound memory
    chunk = max(1, int(8_000_000 // max(idx["n"], 1)))
    for c0 in range(0, len(strag), chunk):
        rows = strag[c0:c0 + chunk]
        dx = fx[rows][:, None] - tx[None, :]
        dy = fy[rows][:, None] - ty[None, :]
        d2 = dx * dx + dy * dy
        mc = len(rows)
        frow = np.repeat(np.arange(mc), idx["n"])
        tpos = np.tile(np.arange(idx["n"]), mc)
        d2 = d2.ravel()
        keep = np.ones(len(frow), bool)
        if exclude_self:
            keep &= tid[tpos] != fid[rows][frow]
        if group_div:
            keep &= _trunc_div(tid[tpos], group_div) == fgrp[rows][frow]
        frow, tpos, d2 = frow[keep], tpos[keep], d2[keep]
        if len(frow) == 0:
            continue
        sf, sn, sd, _ = _topk_segments(frow, d2, tid[tpos], mc, k)
        out_f.append(fid[rows][sf])
        out_n.append(sn)
        out_d.append(sd)

    if not out_f:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.float64))
    return (np.concatenate(out_f), np.concatenate(out_n),
            np.concatenate(out_d))


def knn_edges_incore(
    focals,
    tpdf: pd.DataFrame,
    k: int,
    binary: bool = True,
    exclude_self: bool = True,
    keep_d2: bool = False,
    group_div: int | None = None,
):
    """Broadcast-kernel exact kNN edge build (the fast path).

    ``focals`` is a DataFrame with (id, x, y); ``tpdf`` is the target
    side already collected (:func:`gate.collect_within`) with the same
    columns.  Its grid index is broadcast and the focal side streams
    through a single ``mapInPandas`` job.  Output matches the distributed
    builder bit-for-bit (same d2 arithmetic, same (d2, neighbor)
    tie-break, same weight column).  The result is eagerly
    materialized (localCheckpoint) exactly like the distributed
    builder, so "build time" keeps meaning "materialized edges".
    """
    spark = focals.sparkSession
    tid = tpdf["id"].to_numpy(np.int64)
    tx = tpdf["x"].to_numpy(np.float64)
    ty = tpdf["y"].to_numpy(np.float64)
    idx = build_target_index(tid, tx, ty, k)
    bc = spark.sparkContext.broadcast(idx)
    kk = int(k)
    excl = bool(exclude_self)
    gdiv = int(group_div) if group_div else None
    want_d2 = bool(keep_d2)
    is_binary = bool(binary)

    schema = "focal long, neighbor long, weight double"
    if want_d2:
        schema += ", d2 double"

    def run(batches):
        idx_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            f, n, d2 = knn_batch(
                pdf["id"].to_numpy(np.int64),
                pdf["x"].to_numpy(np.float64),
                pdf["y"].to_numpy(np.float64),
                idx_, kk, excl, gdiv,
            )
            with np.errstate(divide="ignore"):  # coincident: inf
                w = (np.ones(len(f)) if is_binary
                     else 1.0 / np.sqrt(d2))
            res = {"focal": f, "neighbor": n, "weight": w}
            if want_d2:
                res["d2"] = d2
            yield pd.DataFrame(res)

    out = focals.select("id", "x", "y").mapInPandas(run, schema=schema)
    return out.localCheckpoint(eager=True)

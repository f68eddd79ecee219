"""One size policy for every in-core fast path.

Each gated operator has a distributed plan that holds at any size and
a driver-side (or broadcast) fast path that wins below a budget: the
distributed plan pays a fixed number of Spark jobs whatever the input,
the fast path pays one collect.  The budgets are the constants below
(PLANS.md tabulates them), and every collect that decides between the
two paths goes through :func:`collect_within`: count, then collect,
which measured cheaper than a ``limit(n + 1)`` probe (CollectLimit runs
as several sequentially scaled-up jobs).

A budget of 0 means "never collect".  Callers read the budgets through
this module at call time, so tests force a distributed path with
``monkeypatch.setattr(gate, "<BUDGET>", 0)``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

# knn_edges / knn_join: target points of the broadcast-kernel kNN
# (knn_incore), ~55 B/row of numpy arrays broadcast to each Python
# worker; 2M rows ≈ 110 MB -- comfortable for local workers and cluster
# executors alike, far above every driver-testdata table.  The focal
# side streams at any size.
KNN_INCORE_TARGETS = 2_000_000

# cosine_topk / lsh_topk / ivf_topk: corpus rows scored on the driver
# (~100 MB of float64); above it the corpus streams through one
# mapInPandas.  The query side is always collected and broadcast.
ANN_INCORE_ROWS = 200_000

# cosine_topk scores the whole (queries x corpus) matrix at once on the
# driver: 5e7 float64 sims ≈ 400 MB is the ceiling.
ANN_INCORE_SCORES = 50_000_000

# minhash_dedup_groups / near_dup_groups: LSH candidate pairs verified
# on the driver (near_dup_groups collects raw bucket-pair rows, up to
# this many per hash table).  Candidate sets are LSH-thresholded,
# tiny next to the corpus.
DEDUP_INCORE_PAIRS = 200_000

# connected_components: edges for the driver-side union-find (the
# ``incore_max_edges`` argument overrides it): star contraction pays ~2
# shuffle stages x O(log n) rounds of fixed job latency, which dwarfs
# the work on small graphs (the ADBSCAN 150k regression in VERDICT r4).
# 2M edges is ~32 MB of driver memory -- far below any driver heap, far
# above every "small" graph.
CC_INCORE_EDGES = 2_000_000

# point_in_polygon: vertices below which the refine kernel gets the
# geometry as a broadcast dict instead of carrying xs/ys on every
# candidate row: the cell join then moves only (id, x, y, poly_id) into
# Python.  1M vertices is 16 MB of coordinates; the bound is on
# vertices, not rings, so a few huge rings cannot pull gigabytes onto
# the driver.
PIP_BCAST_VERTICES = 1_000_000

# conditional_randomization mode="auto" (and local_stats' fused crand
# calls): below this many sites the broadcast path (driver collect +
# broadcast of the value vector) measurably wins -- interleaved A/B at
# 1M sites: broadcast 24.7 s vs tiled 35-45 s at 9999 perms on
# local[8], a tie at 999 perms -- so the switch sits where the O(n)
# driver collect itself becomes the wall (~160 MB of doubles at 2e7
# sites), not where the tiled path merely exists.
CRAND_BROADCAST_SITES = 20_000_000

# Distributed knn_edges / knn_join: level-0 ring-candidate rows below
# which skewed inputs skip the quadtree refinement: one round-1
# settlement over <= this many (focal, candidate) pairs is cheaper than
# the density pass it replaces.  Sized
# by measurement, not by what fits in memory: the quadtree pass costs
# ~10 s of fixed jobs, and a settlement frame shuffles ~36 B/candidate
# through the top-k window sort, so the crossover sits at the ~1e7
# pairs a round-1 sort absorbs in a few seconds.  (The original 2e8 --
# "fits comfortably in a shuffle" -- sent the 150k orders table flat at
# 86M pairs, turning a 23 s build into 255 s of shuffle-bound sort; see
# BASELINE.md round 5.)  k=1 settlements aggregate map-side (min-struct,
# no window sort) and get 20x this budget.  0 always refines.
FLAT_RING_CANDIDATES = 10_000_000


def fits(size: int, limit: int) -> bool:
    """True when ``size`` rows are within ``limit`` (0 never fits)."""
    return limit > 0 and size <= limit


def collect_within(df: DataFrame, limit: int,
                   size: int | None = None) -> pd.DataFrame | None:
    """``df`` as a driver-side pandas frame if its size is at most
    ``limit``, else None (the caller takes its distributed path).

    ``size`` is the caller's own measure when it already has one (a
    known row count, or a vertex sum for polygon layers): it replaces
    the count job.  ``limit == 0`` never collects and runs no job."""
    if limit <= 0:
        return None
    if size is None:
        size = df.count()
    return df.toPandas() if fits(size, limit) else None

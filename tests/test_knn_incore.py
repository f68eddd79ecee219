"""Round-6 fast paths: broadcast-kernel kNN, in-core dedup closures.

Every gated fast path must agree EXACTLY with the distributed path it
replaces (the oracle only ever sees whichever side of the gate the
driver data lands on, so the cross-gate parity lives here)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from esda_spark.operators import gate
from esda_spark.operators import weights as W
from tests import oracle_numpy as onp


def _skewed_points(spark, seed=11, n_hot=400, n_sparse=200, dups=True):
    """One hot cluster + sparse field + exact coordinate duplicates
    (the orders-table regime that broke the first fine-halving)."""
    rng = np.random.default_rng(seed)
    hot = rng.normal(loc=(5.0, 5.0), scale=0.05, size=(n_hot, 2))
    sparse = rng.uniform(0, 100, size=(n_sparse, 2))
    xy = np.vstack([hot, sparse])
    if dups:
        # 50 points stacked on one coordinate + 3 stacked pairs
        xy[:50] = xy[0]
        xy[100:106] = np.repeat(xy[100:103], 2, axis=0)
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)]
    return xy, spark.createDataFrame(rows, "id long, x double, y double")


def _edge_set(df, keep_d2=False):
    cols = ("focal", "neighbor", "d2") if keep_d2 else ("focal", "neighbor")
    return {tuple(getattr(r, c) for c in cols) for r in df.collect()}


def test_incore_vs_distributed_knn_edges(spark, monkeypatch):
    xy, pts = _skewed_points(spark)
    fast = W.knn_edges(pts, k=8, keep_d2=True)
    monkeypatch.setattr(gate, "KNN_INCORE_TARGETS", 0)
    dist = W.knn_edges(pts, k=8, keep_d2=True)
    assert _edge_set(fast, keep_d2=True) == _edge_set(dist, keep_d2=True)
    # and both equal the brute-force reference
    want = {tuple(e) for e in onp.brute_knn_edges(xy, 8)}
    assert {(f, n) for f, n, _ in _edge_set(fast, keep_d2=True)} == want


def test_incore_knn_nonbinary_weights(spark):
    xy, pts = _skewed_points(spark, n_hot=80, n_sparse=60, dups=False)
    got = {(r.focal, r.neighbor): r.weight
           for r in W.knn_edges(pts, k=4, binary=False).collect()}
    for (f, n), w in got.items():
        d = np.sqrt(((xy[f] - xy[n]) ** 2).sum())
        assert w == pytest.approx(1.0 / d, rel=1e-12)


def test_knn_nonbinary_coincident_points(spark, monkeypatch):
    """binary=False with coincident neighbours (d2 == 0, distinct ids):
    weight inf on both sides of the gate, as 1 / 0 in numpy and
    distance_band_edges' pow(0, -1); every other weight is 1 / d."""
    xy, pts = _skewed_points(spark, n_hot=80, n_sparse=60)
    fast = {(r.focal, r.neighbor): r.weight
            for r in W.knn_edges(pts, k=4, binary=False).collect()}
    monkeypatch.setattr(gate, "KNN_INCORE_TARGETS", 0)
    dist = {(r.focal, r.neighbor): r.weight
            for r in W.knn_edges(pts, k=4, binary=False).collect()}
    assert fast == dist
    d = {e: np.sqrt(((xy[e[0]] - xy[e[1]]) ** 2).sum()) for e in fast}
    assert any(v == 0.0 for v in d.values())
    for e, w in fast.items():
        assert w == (np.inf if d[e] == 0.0 else pytest.approx(1.0 / d[e],
                                                               rel=1e-12))


def test_incore_vs_distributed_knn_join(spark, monkeypatch):
    from esda_spark.operators.spatial_join import knn_join

    rng = np.random.default_rng(3)
    lxy = rng.uniform(0, 50, size=(150, 2))
    rxy = rng.uniform(0, 50, size=(60, 2))
    left = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(lxy)],
        "id long, x double, y double")
    right = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(rxy)],
        "id long, x double, y double")
    fast = knn_join(left, right, k=3).select(
        "left_id", "right_id", "rank").collect()
    monkeypatch.setattr(gate, "KNN_INCORE_TARGETS", 0)
    dist = knn_join(left, right, k=3).select(
        "left_id", "right_id", "rank").collect()
    assert {tuple(r) for r in fast} == {tuple(r) for r in dist}


def test_incore_knn_join_group_div(spark, monkeypatch):
    """Same-group constraint: composite ids g*base+id, matches must
    never cross groups even when the other group's points are nearer
    — in BOTH the fast and the distributed path."""
    from esda_spark.operators.spatial_join import knn_join

    rng = np.random.default_rng(5)
    base = 1000
    rows_l, rows_r = [], []
    for g in range(3):
        pts = rng.uniform(0, 10, size=(40, 2))
        tgt = rng.uniform(0, 10, size=(8, 2)) + g * 0.001
        rows_l += [(g * base + i, float(x), float(y))
                   for i, (x, y) in enumerate(pts)]
        rows_r += [(g * base + i, float(x), float(y))
                   for i, (x, y) in enumerate(tgt)]
    left = spark.createDataFrame(rows_l, "id long, x double, y double")
    right = spark.createDataFrame(rows_r, "id long, x double, y double")

    def run():
        out = knn_join(left, right, k=1, group_div=base).collect()
        assert all(r.left_id // base == r.right_id // base for r in out)
        assert len(out) == len(rows_l)
        return {(r.left_id, r.right_id) for r in out}

    fast = run()
    monkeypatch.setattr(gate, "KNN_INCORE_TARGETS", 0)
    assert fast == run()


def test_incore_knn_tiny_and_degenerate(spark):
    # fewer targets than k: emit what exists; identical coordinates tie
    # on (d2, neighbor id)
    rows = [(0, 1.0, 1.0), (1, 1.0, 1.0), (2, 1.0, 1.0), (3, 5.0, 5.0)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    got = sorted((r.focal, r.neighbor)
                 for r in W.knn_edges(pts, k=8).collect())
    # every point gets the 3 others, ordered ties by id
    assert len(got) == 12
    assert (0, 1) in got and (0, 2) in got and (0, 3) in got


def test_minhash_dedup_groups_incore_vs_distributed(spark, monkeypatch):
    from esda_spark.operators.text import minhash_dedup_groups

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 7} eta theta "
             f"iota kappa lambda mu nu xi omicron pi rho")
         for i in range(80)],
        "doc_id long, text string",
    )
    fast = minhash_dedup_groups(docs, threshold=0.8).collect()
    monkeypatch.setattr(gate, "DEDUP_INCORE_PAIRS", 0)
    dist = minhash_dedup_groups(docs, threshold=0.8).collect()
    assert {tuple(r) for r in fast} == {tuple(r) for r in dist}


def test_near_dup_groups_incore_vs_distributed(spark, monkeypatch):
    from esda_spark.operators.similarity import near_dup_groups

    rng = np.random.default_rng(9)
    base = rng.normal(size=(30, 16))
    vecs = np.vstack([base, base + 0.001 * rng.normal(size=(30, 16))])
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    fast = near_dup_groups(emb, threshold=0.99, mode="lsh",
                           num_planes=4, num_tables=4).collect()
    monkeypatch.setattr(gate, "DEDUP_INCORE_PAIRS", 0)
    dist = near_dup_groups(emb, threshold=0.99, mode="lsh",
                           num_planes=4, num_tables=4).collect()
    assert {tuple(r) for r in fast} == {tuple(r) for r in dist}


def test_near_dup_groups_above_a_nonzero_gate(spark, monkeypatch):
    """A small nonzero budget sends the gate's size (the bucket-pair
    count from the signatures) above the limit: the distributed path
    runs through the gate, not around it, and agrees with the driver."""
    from esda_spark.operators.similarity import near_dup_groups

    rng = np.random.default_rng(9)
    base = rng.normal(size=(30, 16))
    vecs = np.vstack([base, base + 0.001 * rng.normal(size=(30, 16))])
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    kw = dict(threshold=0.99, mode="lsh", num_planes=4, num_tables=4)
    fast = {tuple(r) for r in near_dup_groups(emb, **kw).collect()}
    seen = []
    collect_within = gate.collect_within

    def spy(df, limit, size=None):
        out = collect_within(df, limit, size)
        seen.append((limit, size, out is None))
        return out

    monkeypatch.setattr(gate, "collect_within", spy)
    monkeypatch.setattr(gate, "DEDUP_INCORE_PAIRS", 1)
    dist = {tuple(r) for r in near_dup_groups(emb, **kw).collect()}
    # 30 planted pairs collide in all 4 tables: >= 120 raw bucket pairs
    assert seen[0][0] == 4 and seen[0][1] >= 120 and seen[0][2]
    assert dist == fast
    assert sum(1 for _, g, c in fast if c == 0) == 30


def test_near_dup_verify_threshold_at_a_pair_sim(spark, monkeypatch):
    """Both sides of the near-dup gate verify with one kernel (unit rows,
    column-ordered dot): a threshold equal to a planted pair's kernel
    sim keeps that pair on both sides, and zero vectors (cosine 0) are
    singletons instead of an error."""
    import esda_spark.operators.similarity as S

    rng = np.random.default_rng(21)
    base = rng.normal(size=(30, 16))
    vecs = np.vstack([base, base + 0.001 * rng.normal(size=(30, 16)),
                      np.zeros((2, 16))])
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )

    def kernel_sim(i, j):
        return S._pair_dot(S._unit(vecs[[i]]), S._unit(vecs[[j]]))[0]

    def fold_sim(i, j):
        # a left fold over the raw vectors divided by the norms: the
        # arithmetic a Catalyst aggregate(zip_with) verify would use
        dot = lambda a, b: sum((x * y for x, y in zip(a, b)), 0.0)
        a, b = vecs[i], vecs[j]
        return dot(a, b) / (np.sqrt(dot(a, a)) * np.sqrt(dot(b, b)))

    # prefer a pair the fold arithmetic would place below the threshold
    i = next((i for i in range(30) if fold_sim(i, 30 + i)
              < kernel_sim(i, 30 + i)), 0)
    kw = dict(threshold=kernel_sim(i, 30 + i), mode="lsh", num_planes=4,
              num_tables=4)
    fast = {r.vec_id: r.group_id
            for r in S.near_dup_groups(emb, **kw).collect()}
    monkeypatch.setattr(gate, "DEDUP_INCORE_PAIRS", 0)
    dist = {r.vec_id: r.group_id
            for r in S.near_dup_groups(emb, **kw).collect()}
    assert fast == dist
    assert fast[30 + i] == fast[i] == i
    assert fast[60] == 60 and fast[61] == 61


def _emb_fixture(spark, n=400, dim=16, seed=4):
    rng = np.random.default_rng(seed)
    V = rng.normal(size=(n, dim))
    return spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(V)],
        "vec_id long, embedding array<double>",
    )


def _q_of(emb, nq=10):
    return emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "embedding")


# the fixture's corpus rows: the gate at n - 1 takes the distributed
# path, at n and n + 1 the driver path
_N = 400


def _gate_pair(monkeypatch, rows, run):
    """(result with ANN_INCORE_ROWS = rows, result on the other side of
    the gate: distributed when ``rows`` admits the corpus, else the
    default driver path)."""
    monkeypatch.setattr(gate, "ANN_INCORE_ROWS", rows)
    at_gate = run()
    monkeypatch.setattr(gate, "ANN_INCORE_ROWS",
                        0 if rows >= _N else 10 * _N)
    return at_gate, run()


@pytest.mark.parametrize("rows", [_N - 1, _N, _N + 1])
def test_lsh_topk_incore_vs_distributed(spark, monkeypatch, rows):
    import esda_spark.operators.similarity as S

    emb = _emb_fixture(spark, n=_N)
    q = _q_of(emb)
    at_gate, across = _gate_pair(monkeypatch, rows, lambda: {
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in S.lsh_topk(emb, q, dim=16, k=5, num_planes=5,
                            num_tables=4).collect()})
    # bitwise parity incl. sims: one kernel on both sides
    assert at_gate == across
    assert len(at_gate) == 50


@pytest.mark.parametrize("rows", [_N - 1, _N, _N + 1])
def test_cosine_topk_incore_vs_distributed(spark, monkeypatch, rows):
    import esda_spark.operators.similarity as S

    emb = _emb_fixture(spark, n=_N, seed=6)
    q = _q_of(emb)
    at_gate, across = _gate_pair(monkeypatch, rows, lambda: {
        (r.query_id, r.vec_id, r.rank)
        for r in S.cosine_topk(emb, q, k=5).collect()})
    # rank-level parity: both paths score with BLAS, whose LSBs are
    # shape-dependent — the operator's contract (and the ann_topk
    # oracle) is the id/rank projection
    assert at_gate == across
    assert len(at_gate) == 50


@pytest.mark.parametrize("rows", [_N - 1, _N, _N + 1])
def test_ivf_topk_incore_vs_distributed(spark, monkeypatch, rows):
    import esda_spark.operators.similarity as S

    emb = _emb_fixture(spark, n=_N, seed=8)
    q = _q_of(emb)
    centers = S.kmeans_fit(emb, k=8, max_iters=4, seed=3)
    at_gate, across = _gate_pair(monkeypatch, rows, lambda: {
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in S.ivf_topk(emb, q, centers, k=5, nprobe=2).collect()})
    assert at_gate == across
    assert len(at_gate) == 50


def test_ann_topk_above_gate_plan_is_one_map_in_pandas(spark, monkeypatch):
    """Above the gate, lsh_topk and ivf_topk(mode="broadcast") stream
    the corpus through one mapInPandas with the queries broadcast: no
    corpus signature table, no join, no dedup exchange."""
    import esda_spark.operators.similarity as S

    emb = _emb_fixture(spark, n=60)
    q = _q_of(emb)
    centers = np.random.default_rng(2).normal(size=(4, 16))
    monkeypatch.setattr(gate, "ANN_INCORE_ROWS", 0)
    for out in (S.lsh_topk(emb, q, dim=16, k=5, num_planes=4),
                S.ivf_topk(emb, q, centers, k=5, nprobe=2,
                           mode="broadcast")):
        assert out.count() == 50
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
        assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_ann_topk_zero_norm_rows(spark, monkeypatch):
    """A zero query row and a zero corpus row: cosine 0 against
    everything, the same rows on both sides of the gate, no error."""
    import esda_spark.operators.similarity as S

    rng = np.random.default_rng(12)
    V = rng.normal(size=(60, 8))
    V[0] = 0.0   # a query (ids < 10 query) and a corpus row
    V[30] = 0.0  # a corpus row only
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(V)],
        "vec_id long, embedding array<double>",
    )
    q = _q_of(emb)
    centers = rng.normal(size=(4, 8))
    ops = {
        "cosine": lambda: S.cosine_topk(emb, q, k=3),
        "lsh": lambda: S.lsh_topk(emb, q, dim=8, k=3, num_planes=4),
        "ivf": lambda: S.ivf_topk(emb, q, centers, k=3, nprobe=2),
    }
    for name, op in ops.items():
        fast = sorted(tuple(r) for r in op().collect())
        monkeypatch.setattr(gate, "ANN_INCORE_ROWS", 0)
        dist = sorted(tuple(r) for r in op().collect())
        monkeypatch.undo()
        if name == "cosine":
            # id/rank contract; BLAS sims may differ in the last bits
            assert [r[:3] for r in fast] == [r[:3] for r in dist], name
            assert np.allclose([r[3] for r in fast], [r[3] for r in dist],
                               rtol=1e-12, atol=0), name
        else:
            assert fast == dist, name
        zero_q = [r for r in fast if r[0] == 0]
        assert zero_q and all(r[3] == 0.0 for r in zero_q), name
        assert all(r[3] == 0.0 for r in fast if r[1] in (0, 30)), name
    # the exact operator ranks a zero query's ties by vec_id
    assert [r[1] for r in sorted(tuple(r) for r in ops["cosine"]().collect())
            if r[0] == 0] == [1, 2, 3]


@pytest.mark.parametrize("side", ["corpus", "queries"])
def test_ann_topk_empty_side(spark, side):
    """An empty corpus or query side gives an empty top-k with the
    output schema from every ANN operator, not a crash."""
    import esda_spark.operators.similarity as S

    emb = _emb_fixture(spark, n=40)
    q = _q_of(emb)
    if side == "corpus":
        emb = emb.where(F.lit(False))
    else:
        q = q.where(F.lit(False))
    centers = np.random.default_rng(1).normal(size=(4, 16))
    for out in (S.cosine_topk(emb, q, k=5),
                S.lsh_topk(emb, q, dim=16, k=5, num_planes=4),
                S.ivf_topk(emb, q, centers, k=5, nprobe=2)):
        assert out.schema.simpleString() == (
            "struct<query_id:bigint,vec_id:bigint,rank:int,sim:double>")
        assert out.count() == 0


def test_gather_tiles_seed_mismatch_raises(spark):
    from esda_spark.operators.crand import (
        conditional_randomization,
        gather_neighborhoods,
    )

    n = 40
    pts = spark.range(n).select(
        F.col("id"), (F.rand(1) * 10).alias("z"))
    edges = spark.createDataFrame(
        [(i, (i + 1) % n, 1.0) for i in range(n)],
        "focal long, neighbor long, weight double",
    )
    gathered = gather_neighborhoods(edges, tiles=4, seed=111)
    obs = pts.select("id", F.col("z").alias("observed"))
    with pytest.raises(ValueError, match="tiles/seed"):
        conditional_randomization(
            pts, edges, obs, "moran_local", permutations=9, seed=222,
            mode="tiled", tiles=4, gathered=gathered,
        )

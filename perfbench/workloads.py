"""The benchmark's two workloads: seeded inputs, one pass, and the
checks on each pass's outputs.

Inputs are generated with numpy from the workload seed, written as
Parquet under the run's work directory, and read back through
``esda_spark.sources`` -- esda_spark only ever sees DataFrames.  Each
call into an esda_spark module runs inside ``ops.call(name, ...)``,
which times it, records a span in traced runs, and counts it as one
operation; ``ops.check`` marks the operation failed when its output
is wrong.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Recall floors for the approximate top-k searches, against exact
# cosine top-k on the same queries.
LSH_RECALL_FLOOR = 0.85
IVF_RECALL_FLOOR = 0.85

K_NN = 8
WORLD = (-180.0, -90.0, 180.0, 90.0)

ESDA_SITES = 15_000  # sf0.1 customer
ESDA_PERMS = 999
SCALE_POINTS = 60_000
SCALE_PERMS = 99
DOCS = 5_000  # sf0.1 documents
SMALL_VECS = 2_000  # sf0.1 embeddings, below the in-core ANN gate
CORPUS = 204_800  # above the 200k-row in-core ANN gate
DIM = 64  # sf0.1 embeddings
CORPUS_DIM = 16
QUERIES = 50
IVF_LISTS = 256  # k-means centroids, fitted on every 8th corpus row
KMEANS_ITERS = 5

_VOCAB = np.array(
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector customer the join dup".split()
)


def _unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _vectors(ids: np.ndarray, x: np.ndarray) -> pa.Table:
    flat = pa.array(x.astype(np.float32).ravel())
    vec = pa.FixedSizeListArray.from_arrays(flat, x.shape[1])
    return pa.table({"vec_id": ids, "embedding": vec.cast(pa.list_(pa.float32()))})


# ---------------------------------------------------------------- inputs


def make_spatial_inputs(seed: int, out: str) -> dict:
    """sf0.1-shaped ``customer`` (dense keys 0..n-1, which the geocode
    maps to sites, and a seeded account balance as the value), and a
    canonical ``points`` table: 70% uniform over the world box, 30% in
    five seeded gaussian hot spots, valued by a smooth field plus
    noise so the local statistics find clusters."""
    rng = np.random.default_rng(seed)
    bal = np.round(rng.uniform(-999.99, 9999.99, ESDA_SITES), 2)
    pq.write_table(pa.table({
        "c_custkey": np.arange(ESDA_SITES, dtype=np.int64), "c_acctbal": bal,
    }), os.path.join(out, "customer.parquet"))

    n, hot = SCALE_POINTS, int(0.3 * SCALE_POINTS)
    centers = np.column_stack([rng.uniform(-150, 150, 5), rng.uniform(-60, 60, 5)])
    which = rng.integers(0, 5, hot)
    sigma = rng.uniform(0.3, 1.5, 5)[which]
    x = np.concatenate([rng.uniform(-180, 180, n - hot),
                        centers[which, 0] + sigma * rng.normal(size=hot)])
    y = np.concatenate([rng.uniform(-85, 85, n - hot),
                        centers[which, 1] + sigma * rng.normal(size=hot)])
    y_cont = 100 * (np.sin(x / 25) + np.cos(y / 20)) + rng.normal(0, 30, n)
    pq.write_table(pa.table({
        "id": np.arange(n, dtype=np.int64), "x": x, "y": y, "y_cont": y_cont,
        "y_bin": (y_cont > np.median(y_cont)).astype(np.float64),
        "e": rng.poisson(5, n).astype(np.float64) + 1.0,
        "b": rng.uniform(50, 1000, n),
    }), os.path.join(out, "points.parquet"))
    return {"perm_seed": int(rng.integers(1, 2**31))}


def make_dedup_inputs(seed: int, out: str) -> dict:
    """sf0.1-shaped ``documents`` (31-word vocabulary, 10-100 tokens,
    planted exact and near copies) and ``embeddings`` (2k x 64 in 10
    clusters, planted exact and near copies), plus a corpus above the
    ANN in-core gate (2,048 tight clusters of 16-dimensional unit
    vectors) and seeded query samples of both."""
    rng = np.random.default_rng(seed)
    texts, exact = [], 0
    for i in range(DOCS):
        u = rng.random()
        if i and u < 0.004:
            texts.append(texts[rng.integers(0, i)])
            exact += 1
        elif i and u < 0.024:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:  # "dup", the last word, only ends near copies
            n_tok = rng.integers(10, 101)
            texts.append(" ".join(_VOCAB[rng.integers(0, len(_VOCAB) - 1, n_tok)]))
    pq.write_table(pa.table({
        "doc_id": np.arange(DOCS, dtype=np.int64), "text": texts,
    }), os.path.join(out, "documents.parquet"))

    label = rng.integers(0, 10, SMALL_VECS)
    small = _unit_rows(0.3 * rng.normal(size=(10, DIM))[label]
                       + rng.normal(size=(SMALL_VECS, DIM)))
    u = rng.random(SMALL_VECS)
    src = (rng.random(SMALL_VECS) * np.arange(SMALL_VECS)).astype(np.int64)
    near = (u < 0.03) & (np.arange(SMALL_VECS) > 0)
    near &= ~near[src]  # a copy's source is an original row
    small[near] = _unit_rows(small[src[near]]  # copies of earlier rows
                             + (u[near] >= 0.01)[:, None] * 0.002
                             * rng.normal(size=(int(near.sum()), DIM)))
    pq.write_table(_vectors(np.arange(SMALL_VECS, dtype=np.int64), small),
                   os.path.join(out, "embeddings.parquet"))

    clusters = CORPUS // 100
    centers = _unit_rows(rng.normal(size=(clusters, CORPUS_DIM)))
    corpus = _unit_rows(centers[np.arange(CORPUS) % clusters] + 0.35 / np.sqrt(
        CORPUS_DIM) * rng.normal(size=(CORPUS, CORPUS_DIM)))
    pq.write_table(_vectors(np.arange(CORPUS, dtype=np.int64), corpus),
                   os.path.join(out, "corpus.parquet"))
    return {
        "exact_copies": exact,
        "small_exact_copies": int((near & (u < 0.01)).sum()),
        "kmeans_seed": int(rng.integers(1, 2**31)),
        "small_queries": np.sort(rng.choice(SMALL_VECS, 100, replace=False)).tolist(),
        "large_queries": np.sort(rng.choice(CORPUS, QUERIES, replace=False)).tolist(),
    }


# ---------------------------------------------------------------- loading


def _cached(df, cpus):
    df = df.repartition(cpus).cache()
    df.count()
    return df


def load_spatial(spark, ops, d, meta, cpus):
    from esda_spark.sources.points import points_from_table
    from esda_spark.sources.polygons import rotated_tiling
    from esda_spark.sources.tables import load_table

    with ops.call("sources.load") as c:
        sites = _cached(points_from_table(spark, d, "customer"), cpus)
        pts = _cached(load_table(spark, "points", d), cpus)
        polys = rotated_tiling(spark, 24, WORLD, theta=0.3).cache()
        c.rows = ESDA_SITES + SCALE_POINTS + polys.count()
    return {"sites": sites, "pts": pts, "polys": polys, **meta}


def load_dedup(spark, ops, d, meta, cpus):
    from pyspark.sql import functions as F

    from esda_spark.operators.similarity import kmeans_fit
    from esda_spark.sources.tables import load_table

    with ops.call("sources.load") as c:
        docs = _cached(load_table(spark, "documents", d), cpus)
        small = _cached(load_table(spark, "embeddings", d), cpus)
        corpus = _cached(load_table(spark, "corpus", d), cpus)
        q_small = _queries(small, meta["small_queries"], cpus)
        q_large = _queries(corpus, meta["large_queries"], cpus)
        c.rows = DOCS + SMALL_VECS + CORPUS
    with ops.call("similarity.kmeans_fit"):
        centers = kmeans_fit(corpus.where(F.col("vec_id") % 8 == 0), IVF_LISTS,
                             max_iters=KMEANS_ITERS, seed=meta["kmeans_seed"])
    ops.check("similarity.kmeans_fit", centers.shape == (IVF_LISTS, CORPUS_DIM)
              and bool(np.isfinite(centers).all()), f"centres {centers.shape}")
    return {"docs": docs, "small": small, "corpus": corpus, "q_small": q_small,
            "q_large": q_large, "centers": centers, **meta}


def _queries(df, ids, cpus):
    from pyspark.sql import functions as F

    return _cached(df.where(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"), "embedding"), cpus)


# ---------------------------------------------------------------- passes


def _lisa_summary(df, perms):
    """(rows, sum of p_sim x (perms+1)): p_sim is (hits+1)/(perms+1),
    so the scaled sum is an exact integer that must repeat bit for bit."""
    from pyspark.sql import functions as F

    r = df.agg(F.count("*").alias("n"), F.sum(F.round(
        F.col("p_sim") * (perms + 1)).cast("long")).alias("s")).first()
    return int(r["n"]), int(r["s"])


def _moran_matches(edges, pts, got: float):
    """Moran's I with row-standardized weights, recomputed in numpy from
    the collected edges and values."""
    e = edges.select("focal", "neighbor", "weight").toPandas()
    v = pts.select("id", "y_cont").toPandas()
    y = np.zeros(int(v["id"].max()) + 1)
    y[v["id"].to_numpy()] = v["y_cont"].to_numpy()
    z = y - y.mean()
    f, nb, w = (e[c].to_numpy() for c in ("focal", "neighbor", "weight"))
    w = w / np.bincount(f, weights=w, minlength=len(y))[f]
    want = len(y) / w.sum() * float(np.sum(w * z[f] * z[nb])) / float(z @ z)
    return abs(got - want) <= 1e-9 * max(1.0, abs(want)), f"I={got!r}, numpy {want!r}"


def _knn(ops, name, pts, n):
    from esda_spark.operators.weights import knn_edges

    with ops.call(name) as c:
        edges = knn_edges(pts, k=K_NN).cache()
        c.rows = edges.count()
    ops.check(name, c.rows == n * K_NN, f"{c.rows} edges, expected {n * K_NN}")
    return edges


def pass_spatial(spark, ops, data):
    """The esda queries on the 15k sf0.1 sites (999 permutations: the
    permutation kernel dominates), then LISA with 99 permutations on
    the 60k hot-spot points (the neighbourhood exchange dominates),
    its output checkpointed and resumed, and those points joined to a
    24 x 24 rotated tiling."""
    from esda_spark.operators.global_stats import geary, getis_g, moran
    from esda_spark.operators.local_stats import g_local, moran_local
    from esda_spark.operators.spatial_join import point_in_polygon
    from esda_spark.plans.checkpoint import stage

    sites, seed, n = data["sites"], data["perm_seed"], ESDA_SITES
    w = _knn(ops, "weights.knn_edges", sites, n)
    with ops.call("global_stats.moran"):
        mi = moran(sites, w, "y_cont", "r")["I"]
    ops.after("global_stats.moran", lambda: _moran_matches(w, sites, mi))
    with ops.call("global_stats.geary"):
        geary(sites, w, "y_cont", "r")
    with ops.call("global_stats.getis_g"):
        getis_g(sites, w, "y_cont")
    with ops.call("local_stats.moran_local") as c:
        c.rows, psum = _lisa_summary(moran_local(
            sites, w, "y_cont", permutations=ESDA_PERMS, seed=seed), ESDA_PERMS)
    ops.same("local_stats.moran_local", (c.rows, psum), n)
    with ops.call("local_stats.g_local") as c:
        c.rows, gsum = _lisa_summary(g_local(
            sites, w, "y_cont", star=True, transform="R",
            permutations=ESDA_PERMS, seed=seed), ESDA_PERMS)
    ops.same("local_stats.g_local", (c.rows, gsum), n)

    pts, n = data["pts"], SCALE_POINTS
    edges = _knn(ops, "weights.knn_edges_scale", pts, n)
    with ops.call("local_stats.moran_local_scale") as c:
        lisa = moran_local(pts, edges, "y_cont", permutations=SCALE_PERMS,
                           seed=seed).cache()
        c.rows, psum = _lisa_summary(lisa, SCALE_PERMS)
    ops.same("local_stats.moran_local_scale", (c.rows, psum), n)

    path, fp = os.path.join(ops.scratch, "lisa"), f"lisa-{seed}"
    with ops.call("checkpoint.stage_write"):
        stage(spark, path, fp, lambda: lisa)

    def rebuilt():
        raise RuntimeError("checkpoint not resumed")

    with ops.call("checkpoint.stage_resume") as c:
        c.rows, rsum = _lisa_summary(stage(spark, path, fp, rebuilt), SCALE_PERMS)
    ops.check("checkpoint.stage_resume", (c.rows, rsum) == (n, psum),
              f"resumed {(c.rows, rsum)}, written {(n, psum)}")
    with ops.call("spatial_join.point_in_polygon") as c:
        c.rows = point_in_polygon(pts, data["polys"], 25.0).count()
    ops.check("spatial_join.point_in_polygon", c.rows == n,
              f"{c.rows} matches for {n} points")


def _topk(df) -> dict:
    out: dict = {}
    for r in df.select("query_id", "vec_id", "rank").collect():
        out.setdefault(r[0], []).append((r[2], r[1]))
    return {q: [v for _, v in sorted(vs)] for q, vs in out.items()}


def _recall(approx: dict, exact: dict, k: int = 10) -> float:
    return float(np.mean([len(set(approx.get(q, [])[:k]) & set(v[:k])) / k
                          for q, v in exact.items()]))


def pass_dedup(spark, ops, data):
    """MinHash signatures, LSH candidate pairs, SimHash and MinHash
    dedup groups on the 5k documents; exact cosine top-10 for 100
    queries against the 2k embeddings (below the in-core ANN gate) and
    near-duplicate groups of those embeddings; exact, LSH and IVF
    top-10 for 50 queries against the 204,800-row corpus (above it),
    with the recall of LSH and IVF checked against the exact result."""
    from pyspark.sql import functions as F

    from esda_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        lsh_topk,
        near_dup_groups,
    )
    from esda_spark.operators.text import (
        lsh_candidate_pairs,
        minhash_dedup_groups,
        minhash_signatures,
        simhash_signatures,
    )

    docs, n = data["docs"], DOCS
    with ops.call("text.minhash_signatures") as c:
        sigs = minhash_signatures(docs, num_hashes=16).cache()
        c.rows = sigs.count()
    ops.check("text.minhash_signatures", c.rows == n, f"{c.rows} signatures")
    with ops.call("text.lsh_candidate_pairs") as c:
        c.rows = lsh_candidate_pairs(sigs, 16, 4).count()
    ops.same("text.lsh_candidate_pairs", c.rows)
    with ops.call("text.simhash_signatures") as c:
        c.rows = simhash_signatures(docs).count()
    ops.check("text.simhash_signatures", c.rows == n, f"{c.rows} signatures")
    with ops.call("text.minhash_dedup_groups") as c:
        r = minhash_dedup_groups(docs, threshold=0.8).agg(
            F.count("*"), F.sum(1 - F.col("is_canonical"))).first()
        c.rows, dups = int(r[0]), int(r[1])
    ops.check("text.minhash_dedup_groups", c.rows == n and dups >= data["exact_copies"],
              f"{c.rows} rows, {dups} duplicates < {data['exact_copies']} copies")
    ops.same("text.minhash_dedup_groups", dups)

    with ops.call("similarity.cosine_topk_small") as c:
        small = _topk(cosine_topk(data["small"], data["q_small"], k=10))
        c.rows = sum(map(len, small.values()))
    ops.check("similarity.cosine_topk_small", c.rows == 100 * 10, f"{c.rows} rows")
    with ops.call("similarity.near_dup_groups") as c:
        r = near_dup_groups(data["small"], threshold=0.95, dim=DIM).agg(
            F.count("*"), F.sum(1 - F.col("is_canonical"))).first()
        c.rows, dups = int(r[0]), int(r[1])
    want = data["small_exact_copies"]
    ops.check("similarity.near_dup_groups", c.rows == SMALL_VECS and dups >= want,
              f"{c.rows} rows, {dups} duplicates < {want} copies")
    ops.same("similarity.near_dup_groups", dups)

    corpus, q, nq = data["corpus"], data["q_large"], QUERIES
    with ops.call("similarity.cosine_topk_large") as c:
        exact = _topk(cosine_topk(corpus, q, k=10))
        c.rows = sum(map(len, exact.values()))
    ops.check("similarity.cosine_topk_large", c.rows == nq * 10, f"{c.rows} rows")
    with ops.call("similarity.lsh_topk") as c:
        approx = _topk(lsh_topk(corpus, q, dim=CORPUS_DIM, k=10, num_tables=4,
                                n_corpus=CORPUS))
        c.rows = sum(map(len, approx.values()))
    recall = _recall(approx, exact)
    ops.note("ann_recall_at_10", recall)
    ops.check("similarity.lsh_topk", recall >= LSH_RECALL_FLOOR, f"recall@10 {recall:.3f}")
    with ops.call("similarity.ivf_topk") as c:
        approx = _topk(ivf_topk(corpus, q, data["centers"], k=10, nprobe=8))
        c.rows = sum(map(len, approx.values()))
    recall = _recall(approx, exact)
    ops.note("ivf_recall_at_10", recall)
    ops.check("similarity.ivf_topk", recall >= IVF_RECALL_FLOOR, f"recall@10 {recall:.3f}")


WORKLOADS = {
    "spatial": (make_spatial_inputs, load_spatial, pass_spatial),
    "dedup_ann": (make_dedup_inputs, load_dedup, pass_dedup),
}

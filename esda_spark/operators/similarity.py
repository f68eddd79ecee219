"""Similarity search over embedding columns (array<float>).

Every ANN top-k operator scores with one numpy kernel.  The query side
is collected once and broadcast; the corpus goes through
``gate.collect_within(corpus, gate.ANN_INCORE_ROWS)`` and is scored on
the driver below the gate, or streamed through one ``mapInPandas``
above it (no join).  Both paths apply one ranking, (sim desc, vec_id
asc) with the self-match dropped.

- :func:`cosine_topk` — exact top-k (:func:`_dense_topk`: one BLAS
  block per corpus batch).  The baseline every ANN variant is
  validated against; :func:`cosine_topk_distributed` runs the same
  kernel with both sides distributed.
- :func:`lsh_topk` — random-hyperplane LSH: a query scores only the
  corpus rows sharing one of its probe buckets
  (:func:`_candidate_topk`), trading recall for a ~buckets-fold scan
  reduction.
- :func:`ivf_topk` — inverted lists over :func:`kmeans_fit`
  centroids, the same candidate kernel keyed by list id.
- :func:`embedding_near_dup_pairs` / :func:`near_dup_groups` —
  threshold pairs and their transitive groups.

Vectors are normalized by :func:`_unit`, whose norm floor maps a zero
vector to zero: its cosine with anything is 0 on every path.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esda_spark.operators import gate
from esda_spark.plans.checkpoint import persisted_rdd_ids, unpersist_rdds

_TOPK_SCHEMA = "query_id long, vec_id long, rank int, sim double"
_CAND_SCHEMA = "query_id long, vec_id long, sim double"


# Catalyst dot product and norm: only the exact near-dup lane uses them
# (its DuckDB oracle compares rounded sims, see PLANS.md "ANN kernels").
def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _matrix(col: pd.Series) -> np.ndarray:
    """A pandas column of vectors as a float64 (rows, dim) matrix."""
    return np.vstack(col.to_numpy()).astype(np.float64)


def _unit(X: np.ndarray) -> np.ndarray:
    """Rows of ``X`` scaled to unit L2 norm.  The 1e-12 norm floor maps
    a zero row to zero.  Each row's norm depends on that row only, so a
    vector normalizes bitwise-identically in any batch."""
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _pair_dot(A: np.ndarray, B: np.ndarray,
              ai: np.ndarray | None = None,
              bi: np.ndarray | None = None) -> np.ndarray:
    """Row-wise dot products ``A[ai] . B[bi]`` by a left-to-right
    accumulation over the columns.  Each product depends on its two
    rows only, so the driver and every ``mapInPandas`` batch compute
    bitwise-equal sims.  The optional row gathers are applied PER
    COLUMN so the working set stays (n,)-sized: a (n, dim) gather
    allocated ~100 MB of fresh pages per call, which in the long-lived
    driver process measured 20-30x the standalone cost (allocator /
    page-fault churn, CPU time == wall)."""
    a0 = A[ai, 0] if ai is not None else A[:, 0]
    b0 = B[bi, 0] if bi is not None else B[:, 0]
    acc = a0 * b0
    for j in range(1, A.shape[1]):
        aj = A[ai, j] if ai is not None else A[:, j]
        bj = B[bi, j] if bi is not None else B[:, j]
        acc += aj * bj
    return acc


def _topk_with_ties(sims: np.ndarray, vec_ids: np.ndarray,
                    kk: int) -> np.ndarray:
    """(rows, kk) column indices of each row's top-``kk`` by (sim desc,
    vec_id asc).

    Plain ``argpartition`` keeps an arbitrary subset when more than kk
    entries tie exactly at the cutoff sim, so the lowest-vec_id tie the
    final ranking would select can be dropped — and in the bucketed
    kernel that makes results depend on ``n_buckets``.  Rows with no tie
    at the cutoff (the generic case) stay on the pure argpartition path;
    only tied rows pay the vec_id-ordered widening.
    """
    m, n = sims.shape
    if n <= kk:
        return np.broadcast_to(np.arange(n), (m, n))
    part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
    kept = np.take_along_axis(sims, part, axis=1)
    thresh = kept.min(axis=1)
    tied_total = (sims == thresh[:, None]).sum(axis=1)
    tied_kept = (kept == thresh[:, None]).sum(axis=1)
    for qi in np.nonzero(tied_total > tied_kept)[0]:
        row = sims[qi]
        cols = part[qi]
        greater = cols[row[cols] > thresh[qi]]
        tied_all = np.nonzero(row == thresh[qi])[0]
        order = np.argsort(vec_ids[tied_all], kind="stable")
        part[qi] = np.concatenate(
            [greater, tied_all[order[: kk - len(greater)]]]
        )
    return part


def _first_k(group: np.ndarray, vec_ids: np.ndarray, sims: np.ndarray,
             k: int) -> tuple[np.ndarray, np.ndarray]:
    """(indices, 1-based ranks) of the first ``k`` entries of each
    ``group`` under (sim desc, vec_id asc), ordered by group then rank."""
    order = np.lexsort((vec_ids, -sims, group))
    g = group[order]
    starts = np.nonzero(np.r_[True, g[1:] != g[:-1]])[0]
    rank = (np.arange(len(g))
            - np.repeat(starts, np.diff(np.r_[starts, len(g)])) + 1)
    keep = rank <= k
    return order[keep], rank[keep]


def _rank(cand: pd.DataFrame, k: int) -> pd.DataFrame:
    """The driver-side ranking: per-query top-``k`` of kernel output
    (query_id, vec_id, sim) by (sim desc, vec_id asc), self-match
    dropped.  :func:`_window_rank` is the same ranking in Spark."""
    q = cand["query_id"].to_numpy(np.int64)
    v = cand["vec_id"].to_numpy(np.int64)
    s = cand["sim"].to_numpy(np.float64)
    keep = q != v
    q, v, s = q[keep], v[keep], s[keep]
    sel, rank = _first_k(q, v, s, k)
    return pd.DataFrame({"query_id": q[sel], "vec_id": v[sel],
                         "rank": rank.astype(np.int32), "sim": s[sel]})


def _window_rank(scored: DataFrame, k: int) -> DataFrame:
    """:func:`_rank` over a distributed (query_id, vec_id, sim) frame."""
    win = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.where(F.col("query_id") != F.col("vec_id"))
        .withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def _dense_topk(pdf: pd.DataFrame, qids: np.ndarray, Qu: np.ndarray, *,
                k: int) -> pd.DataFrame:
    """Exact cosine kernel: one BLAS (queries x block) score matrix over
    the corpus block ``pdf`` (vec_id, cv), local top-(k+1) per query (+1
    survives the self-match drop).  ``Qu`` holds the unit query rows."""
    cids = pdf["vec_id"].to_numpy(np.int64)
    sims = Qu @ _unit(_matrix(pdf["cv"])).T
    cols = _topk_with_ties(sims, cids, min(k + 1, len(cids)))
    rows = np.repeat(np.arange(len(qids)), cols.shape[1])
    cols = cols.ravel()
    return pd.DataFrame({"query_id": qids[rows], "vec_id": cids[cols],
                         "sim": sims[rows, cols]})


def _candidate_topk(pdf: pd.DataFrame, qids: np.ndarray, Qu: np.ndarray,
                    probes: np.ndarray, *, keys, k: int) -> pd.DataFrame:
    """Approximate kernel over the corpus block ``pdf`` (vec_id, cv):
    query ``i`` scores the rows whose key is one of ``probes[i]``.
    ``keys(X)`` gives each raw row its (rows, tables) keys; a row
    reached through several tables is scored once.  Sims are
    :func:`_pair_dot` on unit rows; local top-(k+1) per query."""
    cids = pdf["vec_id"].to_numpy(np.int64)
    X = _matrix(pdf["cv"])
    ck = keys(X)
    order = np.argsort(ck.ravel(), kind="stable")
    sk = ck.ravel()[order]
    lo = np.searchsorted(sk, probes.ravel())
    cnt = np.searchsorted(sk, probes.ravel(), side="right") - lo
    pos = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
    qrow = np.repeat(np.arange(probes.size) // probes.shape[1], cnt)
    n = len(cids)
    pair = np.unique(qrow * n + order[pos] // ck.shape[1])
    qrow, crow = pair // n, pair % n
    sim = _pair_dot(Qu, _unit(X), qrow, crow)
    sel, _ = _first_k(qrow, cids[crow], sim, k + 1)
    return pd.DataFrame({"query_id": qids[qrow[sel]],
                         "vec_id": cids[crow[sel]], "sim": sim[sel]})


def _gated_topk(corpus: DataFrame, cpdf: pd.DataFrame | None, kernel,
                qside: tuple, k: int) -> DataFrame:
    """Top-``k`` of ``kernel(block, *qside)`` over ``corpus`` (vec_id,
    cv): on the driver when the gate collected it (``cpdf``), else in
    one ``mapInPandas`` with ``qside`` broadcast."""
    spark = corpus.sparkSession
    if cpdf is not None:
        if len(cpdf) == 0:
            return spark.createDataFrame([], _TOPK_SCHEMA)
        return spark.createDataFrame(_rank(kernel(cpdf, *qside), k),
                                     _TOPK_SCHEMA)
    bc = spark.sparkContext.broadcast(qside)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q = bc.value
        for pdf in batches:
            if len(pdf):
                yield kernel(pdf, *q)

    return _window_rank(corpus.mapInPandas(score, _CAND_SCHEMA), k)


def _cogroup_topk(corpus: DataFrame, queries: DataFrame, key: str,
                  k: int) -> DataFrame:
    """Exact top-``k`` with both sides distributed: each ``key`` group
    of the corpus (vec_id, cv) cogroups with the queries (query_id, qv)
    carrying that key and runs :func:`_dense_topk`."""

    def score(_, cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if len(cpdf) == 0 or len(qpdf) == 0:
            return pd.DataFrame({"query_id": [], "vec_id": [], "sim": []})
        return _dense_topk(cpdf, qpdf["query_id"].to_numpy(np.int64),
                           _unit(_matrix(qpdf["qv"])), k=k)

    return _window_rank(
        corpus.groupBy(key).cogroup(queries.groupBy(key))
        .applyInPandas(score, schema=_CAND_SCHEMA),
        k,
    )


def _corpus(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return embeddings.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("cv"))


def _queries(queries: DataFrame, query_id_col: str,
             vec_col: str) -> DataFrame:
    return queries.select(F.col(query_id_col).alias("query_id"),
                          F.col(vec_col).alias("qv"))


def _query_arrays(qpdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(query ids, raw float64 query matrix) of a collected query side;
    the matrix is None when there are no queries."""
    qids = qpdf["query_id"].to_numpy(np.int64)
    return qids, _matrix(qpdf["qv"]) if len(qids) else None


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, rank, sim): exact cosine top-k per query.

    The query matrix is collected and normalized once.  When the corpus
    fits ``gate.ANN_INCORE_ROWS`` (and the (queries x corpus) score
    matrix ``gate.ANN_INCORE_SCORES``) it is scored on the driver;
    otherwise each corpus partition streams through one ``mapInPandas``
    with the query matrix broadcast.  Either way the kernel is
    :func:`_dense_topk`: one BLAS score matrix per block and only its
    local top-(k+1) per query out, so the ranking window sees
    O(partitions * q * k) rows, never the naive crossJoin's q * n.

    Bound: the QUERY side is collected and broadcast (q * dim * 8 bytes
    — ~1 GB at q=1e6, dim=128), as it is in :func:`lsh_topk` and
    :func:`ivf_topk` ``mode="broadcast"``.  A large-q workload should
    go through :func:`cosine_topk_distributed` or :func:`ivf_topk`
    ``mode="cogroup"``, which keep both sides distributed.
    """
    spark = embeddings.sparkSession
    qids, Q = _query_arrays(_queries(queries, query_id_col,
                                     vec_col).toPandas())
    if len(qids) == 0:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    corpus = _corpus(embeddings, id_col, vec_col)
    cpdf = gate.collect_within(
        corpus,
        min(gate.ANN_INCORE_ROWS, gate.ANN_INCORE_SCORES // len(qids)),
    )
    return _gated_topk(corpus, cpdf, partial(_dense_topk, k=k),
                       (qids, _unit(Q)), k)


def cosine_topk_distributed(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """(query_id, vec_id, rank, sim): exact cosine top-k with BOTH
    sides distributed — the large-q posture :func:`cosine_topk` (which
    collects + broadcasts the query matrix, ~1 GB at q=1e6 dim=128)
    explicitly does not cover.

    Shape: the corpus hashes into ``n_buckets`` buckets; queries
    replicate once per bucket through a broadcast crossJoin of the tiny
    bucket-id range (shuffle volume q * n_buckets rows — choose
    n_buckets ~ cores so replication stays ~O(cluster), while each
    cogroup task's BLAS is (q, corpus/n_buckets)); each (corpus bucket,
    query block) cogroup emits its local top-(k+1) per query and a
    final per-query window merges bucket winners (n_buckets * q * (k+1)
    rows).  No driver-side collect of either side at any point; total
    flops identical to the broadcast path.  Results are exactly
    :func:`cosine_topk`'s (same kernel, same (sim desc, vec_id)
    tie-break).
    """
    spark = embeddings.sparkSession
    nb = int(n_buckets or spark.sparkContext.defaultParallelism)
    corp = _corpus(embeddings, id_col, vec_col).withColumn(
        "cb", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(nb)).cast("int"))
    buckets = spark.range(nb).select(F.col("id").cast("int").alias("cb"))
    qrep = _queries(queries, query_id_col, vec_col).crossJoin(
        F.broadcast(buckets))
    return _cogroup_topk(corp, qrep, "cb", k)


def _planes(seed: int, num_tables: int, num_planes: int,
            dim: int) -> np.ndarray:
    """(tables, planes, dim) seeded random hyperplanes."""
    return np.random.default_rng(seed).normal(
        size=(num_tables, num_planes, dim))


def _buckets(X: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(rows, tables) bucket ids: bit j of table t is the sign of the
    projection on ``planes[t, j]``."""
    pows = (1 << np.arange(planes.shape[1])).astype(np.int64)
    return np.stack([((X @ H.T) > 0) @ pows for H in planes], axis=1)


def _lsh_keys(X: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(rows, tables) bucket ids made distinct across tables."""
    offsets = np.arange(len(planes), dtype=np.int64) << planes.shape[1]
    return _buckets(X, planes) + offsets


def hyperplane_signatures(
    embeddings: DataFrame,
    dim: int,
    num_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 1,
) -> DataFrame:
    """(vec_id, table, bucket): sign-pattern bucket ids from seeded
    random hyperplanes (broadcast (tables*planes, dim) matrix, one
    Arrow pass).  ``num_tables > 1`` is OR-amplification: each table is
    an independent plane set; candidates union across tables, which
    trades candidate volume for recall without lengthening any single
    signature.  (Round-6 note: carrying the vectors back out of the
    kernel next to each bucket row was tried and measured 4x SLOWER
    than the vec_id equi-join it replaced — per-row array conversion
    at the Python->JVM Arrow boundary dwarfs a broadcast hash join.)"""
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(
        _planes(seed, num_tables, num_planes, dim))

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        H = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            b = _buckets(_matrix(pdf[vec_col]), H)
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf[id_col].to_numpy(), len(H)),
                "table": np.tile(np.arange(len(H), dtype=np.int64), len(b)),
                "bucket": b.ravel(),
            })

    return embeddings.select(id_col, vec_col).mapInPandas(
        sig, schema="vec_id long, table long, bucket long"
    )


def auto_num_planes(n_corpus: int, target_occupancy: int = 25) -> int:
    """Plane count giving ~``target_occupancy`` vectors per bucket
    (n / 2^planes ≈ target): the knob the measured recall table in
    BASELINE.md was built around (20k corpus -> 10 planes, 100k -> 12
    — both ≥ 0.97 recall@10 clustered with 8 tables + multiprobe).
    Clamped to [4, 30] so tiny corpora stay bucketed and the bucket id
    fits comfortably in an int64."""
    import math

    raw = math.ceil(math.log2(max(n_corpus, 2) / float(target_occupancy)))
    return int(min(max(raw, 4), 30))


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_tables: int = 4,
    multiprobe: int = 1,
    n_corpus: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing a (table,
    bucket) with the query in at least one of ``num_tables``
    independent hash tables (OR-amplified hyperplane LSH).

    ``multiprobe=1`` additionally probes every Hamming-distance-1
    bucket of each query signature (flip one plane's sign bit): a
    near-neighbor lost to one marginal hyperplane is recovered without
    growing the corpus index at all — only the broadcast query side
    fans out (x ``1 + num_planes`` probe keys per table).  This is the
    standard multi-probe LSH trade (Lv et al., VLDB 2007): candidate
    volume grows ~(1 + planes * p_neighbor_flip) while recall compounds
    across probes AND tables.  ``multiprobe=0`` restores exact-bucket
    probing.

    ``num_planes=None`` (default) sizes the signature from the corpus
    count via :func:`auto_num_planes` (~25 vectors/bucket) — the
    setting the measured recall table in BASELINE.md shows ≥ 0.9
    recall@10 on clustered corpora without hand-tuning.

    The query probes are computed once on the driver; each corpus
    block buckets its own rows inside :func:`_candidate_topk`, so no
    corpus signature table, join or cross-table dedup exchange exists.
    """
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe must be 0 or 1 (Hamming probe radius)")
    spark = embeddings.sparkSession
    qids, Q = _query_arrays(_queries(queries, query_id_col,
                                     vec_col).toPandas())
    if len(qids) == 0:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    corpus = _corpus(embeddings, id_col, vec_col)
    cpdf = gate.collect_within(corpus, gate.ANN_INCORE_ROWS)
    if num_planes is None:
        # auto-sizing needs the corpus count; callers that know it pass
        # n_corpus and skip the count job (ADVICE r5)
        num_planes = auto_num_planes(
            n_corpus if n_corpus is not None
            else len(cpdf) if cpdf is not None else embeddings.count()
        )
    planes = _planes(seed, num_tables, num_planes, dim)
    flips = np.array([0] + ([1 << j for j in range(num_planes)]
                            if multiprobe else []), dtype=np.int64)
    qkeys = _lsh_keys(Q, planes)
    probes = (qkeys[:, :, None] ^ flips).reshape(len(qids), -1)
    kernel = partial(_candidate_topk, keys=partial(_lsh_keys, planes=planes),
                     k=k)
    return _gated_topk(corpus, cpdf, kernel, (qids, _unit(Q), probes), k)


def recall_at_k(
    approx: DataFrame, exact: DataFrame, k: int,
    query_id_col: str = "query_id", id_col: str = "vec_id",
) -> float:
    """Mean recall@k of an approximate top-k result against the exact
    one: |approx_topk(q) ∩ exact_topk(q)| / k averaged over queries.

    Both inputs are (query_id, vec_id, rank, ...) as produced by
    :func:`cosine_topk` / :func:`lsh_topk`.  One inner join + two tiny
    aggregates — usable as a validation job next to any ANN index
    build (the LSH path's bucket count trades recall for candidate
    volume; this measures that trade).
    """
    a = approx.where(F.col("rank") <= k).select(
        F.col(query_id_col).alias("_q"), F.col(id_col).alias("_v")
    )
    e = exact.where(F.col("rank") <= k).select(
        F.col(query_id_col).alias("_q"), F.col(id_col).alias("_v")
    )
    hits = a.join(e, ["_q", "_v"], "left_semi").groupBy("_q").count()
    per_q = e.select("_q").distinct().join(hits, "_q", "left").select(
        F.coalesce(F.col("count"), F.lit(0)).alias("h")
    )
    row = per_q.agg(F.avg(F.col("h") / F.lit(float(k)))).collect()[0]
    return float(row[0]) if row[0] is not None else 0.0


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    mode: str = "lsh",
    dim: int | None = None,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_a, vec_b, sim): embedding-cosine near-duplicate pairs
    (vec_a < vec_b, cosine >= threshold) — the embedding-space analogue
    of MinHash/SimHash dedup for a training-data pipeline.

    mode="lsh" (the scale path): candidates are pairs sharing a
    (table, bucket) in OR-amplified hyperplane LSH; only candidates pay
    the exact cosine, scored by :func:`_pair_dot` on :func:`_unit` rows
    in a ``mapInPandas`` — the arithmetic of :func:`near_dup_groups`'
    in-core verify, so both sides of its gate take the same threshold
    decisions.  True near-duplicates (cosine ~ 1) collide in a given
    table with probability (1 - theta/pi)^p ~ (1 - eps)^p, so a handful
    of tables gives near-perfect recall at high thresholds.
    mode="exact": all-pairs — O(n^2), for validation and small inputs
    only; sims are the Catalyst fold the DuckDB oracle compares.
    """
    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
    if mode == "exact":
        a = e.select(F.col("vec_id").alias("vec_a"),
                     F.col(vec_col).alias("va"),
                     _norm(F.col(vec_col)).alias("na"))
        b = e.select(F.col("vec_id").alias("vec_b"),
                     F.col(vec_col).alias("vb"),
                     _norm(F.col(vec_col)).alias("nb"))
        cand = a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
        sim_expr = (_dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")))
        return (
            cand.withColumn("sim", sim_expr)
            .where(F.col("sim") >= threshold)
            .select("vec_a", "vec_b", "sim")
        )
    if dim is None:
        dim = len(e.select(vec_col).first()[0])
    sig = hyperplane_signatures(
        e, dim, num_planes, seed, "vec_id", vec_col, num_tables
    )
    keyed = e.join(sig, "vec_id")
    a = keyed.select(F.col("vec_id").alias("vec_a"),
                     F.col(vec_col).alias("va"), "table", "bucket")
    b = keyed.select(F.col("vec_id").alias("vec_b"),
                     F.col(vec_col).alias("vb"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "va", "vb")
        .dropDuplicates(["vec_a", "vec_b"])
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sim = _pair_dot(_unit(_matrix(pdf["va"])),
                            _unit(_matrix(pdf["vb"])))
            keep = sim >= threshold
            yield pd.DataFrame({"vec_a": pdf["vec_a"].to_numpy()[keep],
                                "vec_b": pdf["vec_b"].to_numpy()[keep],
                                "sim": sim[keep]})

    return cand.mapInPandas(verify, "vec_a long, vec_b long, sim double")


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    max_iters: int = 10,
    seed: int = 42,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """(k, dim) spherical k-means centroids by distributed Lloyd's:
    centers broadcast each iteration, assignment + per-center partial
    sums computed in ONE Arrow pass per partition (a BLAS scores
    matrix then bincount-style accumulation), reduced with a tiny
    groupBy — the classic Spark k-means shape.  Per-iteration shuffle
    is O(partitions * k * dim) partial sums, never O(n).

    Centers seed from a hash-sample of the corpus; empty clusters
    keep their previous center.  Returns L2-normalized centers (the
    coarse quantizer for :func:`ivf_topk`).
    """
    spark = embeddings.sparkSession
    sample = (
        embeddings.select(F.col(vec_col))
        .where(F.pmod(F.xxhash64(F.col(id_col)) + seed, 997) < 200)
        .limit(int(k))
        .collect()
    )
    if len(sample) < k:
        sample += embeddings.select(F.col(vec_col)).limit(
            k - len(sample)).collect()
    C = _unit(np.array([np.asarray(r[0], dtype=np.float64)
                        for r in sample[:k]]))
    dim = C.shape[1]

    prepared = embeddings.select(F.col(vec_col).alias("_v"))
    for _ in range(max_iters):
        bc = spark.sparkContext.broadcast(C)

        def partial_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            C_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = _unit(_matrix(pdf["_v"]))
                a = np.argmax(X @ C_.T, axis=1)
                sums = np.zeros_like(C_)
                np.add.at(sums, a, X)
                cnt = np.bincount(a, minlength=len(C_)).astype(np.float64)
                nz = np.nonzero(cnt)[0]
                yield pd.DataFrame({
                    "c": nz,
                    "s": list(sums[nz]),
                    "n": cnt[nz],
                })

        partials = prepared.mapInPandas(
            partial_sums, schema="c long, s array<double>, n double"
        )
        if dim <= 256:
            reduced = partials.groupBy("c").agg(
                F.array(*[
                    F.sum(F.col("s")[i]).alias(f"_{i}") for i in range(dim)
                ]).alias("s"),
                F.sum("n").alias("n"),
            )
        else:
            # wide embeddings: a dim-expression aggregate builds dim
            # Catalyst sums (plan-construction and codegen blow up past
            # ~1k dims) — reduce the per-center partials in one Arrow
            # kernel instead (input rows: one per (partition, center))
            def reduce_center(key, pdf: pd.DataFrame) -> pd.DataFrame:
                s = np.vstack(pdf["s"].to_numpy()).sum(axis=0)
                return pd.DataFrame(
                    {"c": [key[0]], "s": [s], "n": [float(pdf["n"].sum())]}
                )

            reduced = partials.groupBy("c").applyInPandas(
                reduce_center, schema="c long, s array<double>, n double"
            )
        rows = reduced.collect()
        newC = C.copy()
        for r in rows:
            if r.n > 0:
                v = np.asarray(r.s, dtype=np.float64) / r.n
                nv = np.linalg.norm(v)
                if nv > 1e-12:
                    newC[r.c] = v / nv
        shift = float(np.abs(newC - C).max())
        C = newC
        bc.destroy()
        if shift < tol:
            break
    return C


def _ivf_lists(X: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """(rows, 1) inverted-list id of each raw row: its nearest unit
    centroid."""
    return np.argmax(_unit(X) @ centers.T, axis=1)[:, None]


def _ivf_probes(X: np.ndarray, centers: np.ndarray,
                nprobe: int) -> np.ndarray:
    """(rows, nprobe) ids of each raw row's ``nprobe`` nearest lists."""
    return np.argsort(-(_unit(X) @ centers.T), axis=1)[:, :nprobe]


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centers: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    mode: str = "auto",
    broadcast_max_probe_rows: int = 1_000_000,
) -> DataFrame:
    """(query_id, vec_id, rank, sim): IVF approximate top-k — the
    second ANN scale path next to :func:`lsh_topk`.

    Each corpus vector belongs to the inverted list of its nearest
    k-means centroid; each query probes its ``nprobe`` closest
    centroids and scores ONLY those lists' members.

    mode="broadcast": the query side is collected, its probes computed
    once and broadcast; each corpus block assigns its own rows to lists
    inside :func:`_candidate_topk` (on the driver below
    ``gate.ANN_INCORE_ROWS``, else in one ``mapInPandas``) — lowest
    latency, bounded by the broadcast size at millions of queries.
    mode="cogroup": the large-q posture — probes stay distributed and
    each inverted list cogroups with its probing queries (one BLAS per
    list, local top-(k+1), final per-query window merge), exactly
    :func:`cosine_topk_distributed`'s shape keyed by list id instead
    of a hash bucket.  No collect or broadcast of either side.
    mode="auto" (default) collects the queries when q * nprobe is at
    most ``broadcast_max_probe_rows`` and takes the cogroup otherwise.

    Expected candidate volume ~ n * nprobe / k_lists per query either
    way; in the cogroup, skewed lists (dense regions) are handled by
    AQE like any other hot key.
    """
    if mode not in ("auto", "broadcast", "cogroup"):
        raise ValueError(f"unknown ivf_topk mode {mode!r}")
    spark = embeddings.sparkSession
    Cn = _unit(centers)
    corpus = _corpus(embeddings, id_col, vec_col)
    qside = _queries(queries, query_id_col, vec_col)
    qpdf = None
    if mode == "broadcast":
        qpdf = qside.toPandas()
    elif mode == "auto":
        qpdf = gate.collect_within(qside, broadcast_max_probe_rows // nprobe)
    if qpdf is not None:
        qids, Q = _query_arrays(qpdf)
        if len(qids) == 0:
            return spark.createDataFrame([], _TOPK_SCHEMA)
        cpdf = gate.collect_within(corpus, gate.ANN_INCORE_ROWS)
        kernel = partial(_candidate_topk,
                         keys=partial(_ivf_lists, centers=Cn), k=k)
        return _gated_topk(corpus, cpdf, kernel,
                           (qids, _unit(Q), _ivf_probes(Q, Cn, nprobe)), k)

    def assign(lists, vec: str):
        """mapInPandas adding ``list_id``: one row per list ``lists(X)``
        gives each input row."""

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = lists(_matrix(pdf[vec]))
                m = ids.shape[1]
                yield pd.DataFrame({
                    c: np.repeat(pdf[c].to_numpy(), m) for c in pdf.columns
                }).assign(list_id=ids.ravel())

        return run

    vec_t = "array<double>"
    lists = corpus.mapInPandas(
        assign(partial(_ivf_lists, centers=Cn), "cv"),
        schema=f"vec_id long, cv {vec_t}, list_id long",
    )
    probes = qside.mapInPandas(
        assign(partial(_ivf_probes, centers=Cn, nprobe=nprobe), "qv"),
        schema=f"query_id long, qv {vec_t}, list_id long",
    )
    # each corpus vector lives in exactly one list, so (query, vec)
    # pairs are unique across the nprobe lists — no dedup needed
    return _cogroup_topk(lists, probes, "list_id", k)


def near_dup_groups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    mode: str = "lsh",
    dim: int | None = None,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, group_id, is_canonical): transitive near-duplicate
    groups over embedding cosine — the grouping/canonical-selection
    step a dedup pipeline runs after pair finding (keep one document
    per group, drop the rest), as in SemDeDup-style embedding dedup.

    group_id = minimum vec_id reachable through pairs with cosine >=
    threshold (connected components of the near-dup graph; singletons
    are their own group).  is_canonical = 1 for the group minimum —
    ``where(is_canonical = 1)`` is the surviving corpus.

    Scale posture: pair finding is hyperplane-LSH bucketed (never
    all-pairs) and the closure is the distributed large-star/small-star
    contraction from ``operators.components`` — no driver-sized
    collects anywhere, so the whole pipeline holds at corpus scale.
    mode="exact" (all-pairs) exists for validation and small inputs.
    """
    from esda_spark.operators.components import (
        connected_components,
        incore_components_arrays,
    )

    spark = embeddings.sparkSession

    def _groups_df(comp_map_df):
        ids = embeddings.select(F.col(id_col).alias("vec_id"))
        return (
            ids.join(comp_map_df, "vec_id", "left")
            .select(
                "vec_id",
                F.coalesce("component", F.col("vec_id")).alias("group_id"),
                F.when(
                    F.coalesce("component", F.col("vec_id"))
                    == F.col("vec_id"), 1,
                ).otherwise(0).alias("is_canonical"),
            )
        )

    if mode == "lsh" and gate.DEDUP_INCORE_PAIRS > 0:
        # in-core fast path (components-operator precedent): bucket
        # candidates are id pairs only (one signature materialization,
        # no embedding arrays through the self-join); the exact cosine
        # verify, the transitive closure and the canonical selection
        # run on the driver from two bounded collects.
        e = embeddings.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col))
        d = dim or len(e.select(vec_col).first()[0])
        sc = spark.sparkContext
        pids_before = persisted_rdd_ids(sc)
        sig = hyperplane_signatures(
            e, d, num_planes, seed, "vec_id", vec_col, num_tables
        ).localCheckpoint(eager=True)
        a = sig.select(F.col("vec_id").alias("vec_a"), "table", "bucket")
        b = sig.select(F.col("vec_id").alias("vec_b"), "table", "bucket")
        # raw bucket-pair rows (dups deduped driver-side — cheaper
        # than a distinct exchange; the gate bounds the collect at
        # num_tables x distinct pairs).  Sized without the self-join:
        # sum C(n_b, 2) over the (table, bucket) counts (an upper
        # bound if ids repeat), so above the gate the join never runs.
        n_raw = sig.groupBy("table", "bucket").count().agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)
        ).first()[0]
        cand_pdf = gate.collect_within(
            a.join(b, ["table", "bucket"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b"),
            gate.DEDUP_INCORE_PAIRS * num_tables,
            size=int(n_raw or 0),
        )
        unpersist_rdds(sc, persisted_rdd_ids(sc) - pids_before)
        if cand_pdf is not None:
            ids = embeddings.select(F.col(id_col).alias("vec_id"))
            if len(cand_pdf) == 0:
                return ids.select(
                    "vec_id", F.col("vec_id").alias("group_id"),
                    F.lit(1).alias("is_canonical"),
                )
            pairs_np = np.unique(np.stack([
                cand_pdf["vec_a"].to_numpy(np.int64),
                cand_pdf["vec_b"].to_numpy(np.int64),
            ], axis=1), axis=0)
            ua, va = pairs_np[:, 0], pairs_np[:, 1]
            cids = np.unique(np.concatenate([ua, va]))
            cid_df = spark.createDataFrame(
                [(int(i),) for i in cids], "vec_id long"
            )
            vec_pdf = e.join(F.broadcast(cid_df), "vec_id",
                             "left_semi").toPandas()
            vid = vec_pdf["vec_id"].to_numpy(np.int64)
            V = _unit(_matrix(vec_pdf[vec_col]))
            order = np.argsort(vid)
            vid, V = vid[order], V[order]
            # the distributed verify's arithmetic (embedding_near_dup_pairs)
            sims = _pair_dot(V, V, np.searchsorted(vid, ua),
                             np.searchsorted(vid, va))
            keep = sims >= threshold
            if not keep.any():
                return ids.select(
                    "vec_id", F.col("vec_id").alias("group_id"),
                    F.lit(1).alias("is_canonical"),
                )
            nodes, comp = incore_components_arrays(ua[keep], va[keep])
            comp_df = spark.createDataFrame(
                [(int(n), int(c)) for n, c in zip(nodes, comp)],
                "vec_id long, component long",
            )
            return _groups_df(F.broadcast(comp_df))
        # gate exceeded: fall through to the distributed closure

    pairs = embedding_near_dup_pairs(
        embeddings, threshold=threshold, mode=mode, dim=dim,
        num_planes=num_planes, num_tables=num_tables, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    comp = connected_components(pairs, src="vec_a", dst="vec_b")
    return _groups_df(comp.withColumnRenamed("id", "vec_id"))

"""IVF (inverted-file) ANN index over an embedding column — the second ANN
scale path next to the hyperplane-LSH variant (queries/simops.py), per the
task brief's similarity-search component ("an IVF or LSH-bucketed variant as
the scale path").

Public design (FAISS-style IVF-Flat, spherical k-means for cosine):

* **Train** — distributed Lloyd iterations: centroids live in a broadcast
  numpy array; assignment is one Arrow-batched pandas UDF doing a single
  ``(batch, dim) @ (dim, k)`` matmul per batch (vectorized, no per-row
  Python); the centroid update is JVM-side ``posexplode`` → per-(cluster,
  dim-position) partial sums — a k·dim-row shuffle regardless of input size,
  then a k·dim-row collect.  Init is deterministic: the k sample vectors
  with the lowest ``xxhash64(id)`` (a seeded uniform draw that is stable
  across partitioning and cluster size).
* **Index** — every vector gets its nearest-centroid ``cluster_id``; the
  caller persists the result ``partitionBy('cluster_id')`` so probes prune
  whole partitions at the parquet-scan level (asserted in
  tests/test_ann.py).
* **Search** — a table of queries: each probes its ``nprobe`` best
  inverted lists, exact cosine inside the probed lists only, top-k.  Work
  scales with ``nprobe / k`` of the data instead of all of it; recall vs
  the exact brute-force baseline is asserted in tests.

At 100 TB: train on a hashed sample (the ``sample_mod`` knob), k in the
thousands; the only full-data passes are the final assignment (one narrow
map stage) and the probed-partition scans at query time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

IVF_K = 16
IVF_ITERS = 5
#: default probed lists.  The testdata embeddings are near-uniform random
#: (no cluster structure), where IVF recall is fundamentally ~nprobe/k-ish;
#: measured on sf0.01: recall@10 = 0.46 at nprobe=4, 0.88 at nprobe=8, 1.0
#: at nprobe=k.  Real embedding corpora cluster, so production setups run
#: far smaller nprobe/k fractions; the test asserts the measured curve.
IVF_NPROBE = 8


def as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    """Left fold in array order, like DuckDB's ``list_sum``: the package's
    one cosine (with ``norm``), bit-equal to the simops SQL oracles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def _assign_udf(centroids: np.ndarray):
    """Pandas UDF: nearest (max-dot, i.e. cosine on normalized) centroid id.

    One numpy matmul per Arrow batch; ties break to the lowest cluster id
    (np.argmax) so assignment is deterministic."""
    cT = np.ascontiguousarray(_normalize_rows(centroids).T)

    @F.pandas_udf(IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        m = _normalize_rows(np.stack(emb.to_numpy()).astype(np.float64))
        return pd.Series(np.argmax(m @ cT, axis=1).astype(np.int32))

    return assign


def train_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    sample_mod: int = 1,
) -> np.ndarray:
    """Spherical k-means centroids, (k, dim) float64, unit rows.

    ``sample_mod`` > 1 trains on the deterministic hashed sample
    ``xxhash64(id) % sample_mod == 0`` — at 100 TB training never needs the
    full table, only the final assignment does."""
    vecs = emb.select(
        F.col(id_col).alias("_id"),
        as_double(F.col(vec_col)).alias("_v"),
    )
    if sample_mod > 1:
        vecs = vecs.filter(F.pmod(F.xxhash64("_id"), F.lit(sample_mod)) == 0)
    init_rows = (
        vecs.orderBy(F.xxhash64("_id"), "_id").limit(k).select("_v").collect()
    )
    if len(init_rows) < k:
        raise ValueError(f"need >= {k} vectors to train, got {len(init_rows)}")
    centroids = _normalize_rows(
        np.array([r["_v"] for r in init_rows], dtype=np.float64)
    )
    dim = centroids.shape[1]
    for _ in range(iters):
        assigned = vecs.withColumn("_c", _assign_udf(centroids)(F.col("_v")))
        # element-wise mean per cluster: k*dim groups regardless of input
        # size (partial aggregation map-side, tiny shuffle + collect)
        sums = (
            assigned.select("_c", F.posexplode("_v").alias("_p", "_x"))
            .groupBy("_c", "_p")
            .agg(F.sum("_x").alias("_s"), F.count("*").alias("_n"))
            .collect()
        )
        new = centroids.copy()  # empty clusters keep their previous centroid
        acc = np.zeros((k, dim), dtype=np.float64)
        cnt = np.zeros(k, dtype=np.int64)
        for r in sums:
            acc[r["_c"], r["_p"]] = r["_s"]
            cnt[r["_c"]] = r["_n"]
        nonempty = cnt > 0
        new[nonempty] = acc[nonempty] / cnt[nonempty, None]
        centroids = _normalize_rows(new)
    return centroids


def build_index(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach ``cluster_id`` (the inverted-list key) to every row.

    Persist the result ``.write.partitionBy('cluster_id')`` so searches
    prune unprobed lists at the file level."""
    return emb.withColumn(
        "cluster_id",
        _assign_udf(centroids)(as_double(F.col(vec_col))),
    )


def _probe_udf(centroids: np.ndarray, nprobe: int):
    """Pandas UDF: each query's ``nprobe`` nearest centroid ids (one matmul
    per Arrow batch; ties to the lower cluster id)."""
    cT = np.ascontiguousarray(_normalize_rows(centroids).T)

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        m = _normalize_rows(np.stack(emb.to_numpy()).astype(np.float64))
        idx = np.argsort(-(m @ cT), axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(idx.astype(np.int32)))

    return probe


def search_topk_batch(
    index: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    nprobe: int = IVF_NPROBE,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every query in a TABLE of queries, inside each
    query's ``nprobe`` probed inverted lists only, in a single plan (one
    query is a one-row table).

    Shape: probe assignment is the same per-batch matmul UDF as indexing
    (centroids ride the closure broadcast), exploded to one
    ``(query_id, cluster_id)`` row per probed list, then a broadcast-hash
    equi-join on ``cluster_id`` against the index (queries ≪ index), so the
    index streams ONCE with no shuffle, and on a
    ``partitionBy('cluster_id')`` table Spark's dynamic partition pruning
    skips unprobed lists at the file level (asserted in tests/test_ann.py).
    Scoring stays JVM-side (``zip_with``/``aggregate``); per-query top-k is
    a window over the probed candidates only."""
    qv = as_double(F.col(query_vec_col))
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            qv.alias("_q"),
            _probe_udf(centroids, nprobe)(qv).alias("_probes"),
        )
        .select("query_id", "_q", F.explode("_probes").alias("cluster_id"))
    )
    v = as_double(F.col(vec_col))
    w = Window.partitionBy("query_id").orderBy(F.desc("raw_cos"), id_col)
    return (
        index.join(F.broadcast(q), "cluster_id")
        .withColumn("raw_cos", dot(v, F.col("_q")) / (norm(v) * norm(F.col("_q"))))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= topk)
        .select(
            "query_id", id_col, "cluster_id",
            F.round("raw_cos", 6).alias("cosine"),
            F.col("_rk").alias("rank"),
        )
    )

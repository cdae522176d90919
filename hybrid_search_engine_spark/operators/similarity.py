"""Similarity search over embedding columns (array<float>).

- knn_brute: exact cosine top-k of a query vector against the table —
  single scan, column arithmetic only (zip_with/aggregate → whole-stage
  codegen), TakeOrderedAndProject top-k. The correctness baseline.
- knn_batch_pandas: exact top-k for MANY query vectors via one Arrow
  pandas-UDF pass (numpy matmul per batch) — the throughput path; at 100 TB
  this is a broadcast of the query matrix into a mapInPandas over the
  embedding table, no shuffle at all until the final per-query merge.
- ivf_*: inverted-file ANN, the scale path — spherical-k-means coarse
  quantizer trained on a deterministic driver sample, vectors assigned to
  their nearest centroid's list, probes scan only the nprobe nearest
  lists, exact cosine re-rank on candidates only (FAISS IndexIVFFlat
  shape).
- hyperplane_bucket: random-hyperplane sign bucket as a native
  expression — the banding key of dedup.embedding_near_dup_pairs.

Reference semantics: the engine's semantic side holds the full matrix in
driver RAM and brute-forces (indexer.py:229-243, utils.py:28-54) with an
optional FAISS sidecar (core.py:244-252) — both replaced by distributed
scans and IVF lists here.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot_lit(vec_col, qvec: list[float]):
    arr = F.array(*[F.lit(float(x)) for x in qvec])
    return F.aggregate(F.zip_with(vec_col, arr, lambda x, y: x.cast("double") * y),
                       F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0).cast("double"),
                              lambda acc, v: acc + v.cast("double") * v))


def knn_brute(emb: DataFrame, qvec: list[float], k: int = 10) -> DataFrame:
    """emb(vec_id, embedding) → (vec_id, cosine) exact top-k,
    deterministic tie-break on id."""
    qn = float(np.sqrt(np.dot(qvec, qvec))) or 1.0
    cos = _dot_lit(F.col("embedding"), qvec) / (
        _norm(F.col("embedding")) * F.lit(qn))
    return (
        emb.select("vec_id", cos.alias("cosine"))
        .orderBy(F.round(F.col("cosine"), 9).desc(), F.col("vec_id").asc())
        .limit(k)
    )


def knn_batch_pandas(spark: SparkSession, emb: DataFrame,
                     queries: dict[int, list[float]], k: int = 10
                     ) -> DataFrame:
    """emb(vec_id, embedding) → (query_id, rank, vec_id, cosine): all
    queries in one Arrow pass.

    Per partition: candidates = top-k of Q · Eᵀ — numpy matmul over the
    Arrow batch; ≤k rows per (partition, query) survive to the global
    window merge. Per-batch truncation uses the SAME total order as the
    global merge (round-half-up(cosine, 9) desc, vec_id asc), so pruning is
    lossless: batch-local top-k under a total order commutes with the
    global top-k."""
    qids = sorted(queries)
    qm = np.array([queries[q] for q in qids], dtype=np.float64)
    qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)

    out_schema = T.StructType([
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("cosine", T.DoubleType(), False),
    ])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            E /= np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
            sims = qm @ E.T  # (Q, N)
            ids = pdf["vec_id"].to_numpy(np.int64)
            takes = min(k, ids.size)
            # HALF_UP to 9 decimals, matching Spark's round() (np.round is
            # half-even and can disagree at the k-th boundary)
            r9 = np.sign(sims) * np.floor(np.abs(sims) * 1e9 + 0.5)
            out_q, out_i, out_c = [], [], []
            for r, qid in enumerate(qids):
                sel = np.lexsort((ids, -r9[r]))[:takes]
                out_q.append(np.full(takes, qid, np.int32))
                out_i.append(ids[sel])
                out_c.append(sims[r, sel])
            yield pd.DataFrame({"query_id": np.concatenate(out_q),
                                "vec_id": np.concatenate(out_i),
                                "cosine": np.concatenate(out_c)})

    local = emb.select("vec_id", "embedding").mapInPandas(fn,
                                                          schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("vec_id").asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane buckets
# ---------------------------------------------------------------------------

def hyperplane_bucket(vec_col, n_planes: int = 8, seed: int = 7):
    """Deterministic random-hyperplane sign bucket as a native expression.
    Plane j's i-th component = ±1 from xxhash64(seed, j, i)."""
    d = F.size(vec_col)

    def sign_bit(j):
        return (
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.transform(F.sequence(F.lit(0), d - 1),
                                lambda i: F.when(
                                    F.pmod(F.xxhash64(F.lit(seed), F.lit(j), i),
                                           F.lit(2)) == 0,
                                    F.lit(1.0)).otherwise(F.lit(-1.0))),
                    lambda x, s: x.cast("double") * s,
                ),
                F.lit(0.0).cast("double"), lambda acc, v: acc + v,
            ) > 0
        ).cast("int")

    b = F.lit(0)
    for j in range(n_planes):
        b = b * 2 + sign_bit(j)
    return b


def ivf_train_centroids(emb: DataFrame, n_lists: int = 16,
                        sample_size: int = 4096, iters: int = 10,
                        seed: int = 7) -> np.ndarray:
    """emb(vec_id, embedding) → spherical k-means coarse quantizer for the
    IVF index — the analogue of FAISS's IndexIVF training (reference
    sidecar: core.py:244-252).

    Trains on a DETERMINISTIC hash-ordered sample collected to the driver:
    ``orderBy(xxhash64(id, seed)).limit(sample_size)`` is a TakeOrdered (no
    full sort materializes) and is stable across partitionings, so the same
    corpus always yields the same centroids. The centroid matrix is tiny
    (n_lists × dim ≪ broadcast threshold) — driver-side numpy k-means over
    ≤ sample_size vectors is the right cost shape even at 100 TB, exactly
    like FAISS which trains on a sample, never the full collection.

    Returns a (n_lists, dim) float64 matrix of L2-normalized centroids
    (spherical k-means: assignment by max dot == max cosine)."""
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
        .limit(sample_size)
        .collect()
    )
    if not sample:
        raise ValueError(
            "cannot train IVF centroids on an empty embedding table")
    X = np.array([r["embedding"] for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n_lists = min(n_lists, len(X))
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=n_lists, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_lists):
            members = X[assign == j]
            if len(members):
                c = members.sum(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
            else:
                # re-seed an empty list from the worst-covered point
                C[j] = X[np.argmin(np.max(X @ C.T, axis=1))]
    return C


def build_ivf_index(emb: DataFrame, centroids: np.ndarray) -> DataFrame:
    """emb(vec_id, embedding) → (list_id int, vec_id, embedding): each
    vector assigned to its nearest (max-cosine) centroid. One Arrow
    pandas-UDF pass — assignment is a dense (batch × dim) @ (dim ×
    n_lists) matmul + argmax per batch; a native per-centroid F.aggregate
    expression would emit n_lists × dim codegen terms and trip the Janino
    method-size fallback at realistic list counts (FAISS uses k ≈ √N
    lists, thousands at web scale), so the vectorized-numpy path is the
    scale-correct choice here.

    Write the result ``partitionBy("list_id")`` (save_ivf_index) and probes
    read only nprobe list directories."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if vs.empty:
            return pd.Series([], dtype="int32")
        X = np.stack(vs.to_numpy()).astype(np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(X @ C.T, axis=1).astype(np.int32))

    return emb.select(
        assign(F.col("embedding")).alias("list_id"), "vec_id", "embedding")


def save_ivf_index(ivf_index: DataFrame, centroids: np.ndarray,
                   path: str) -> None:
    """Persist the IVF table partitioned by list_id + a sidecar with the
    centroid matrix (the coarse quantizer IS the metadata). The sidecar is
    replaced atomically: a crash mid-write leaves the previous one."""
    import os

    from ..build.manifest import write_json_atomic

    ivf_index.write.partitionBy("list_id").mode("overwrite").parquet(path)
    write_json_atomic(os.path.join(path, "_ivf_meta.json"),
                      {"centroids": np.asarray(centroids).tolist()})


def load_ivf_index(spark: SparkSession, path: str):
    """→ (ivf_index DataFrame, centroids ndarray)."""
    import json
    import os

    with open(os.path.join(path, "_ivf_meta.json")) as f:
        meta = json.load(f)
    return spark.read.parquet(path), np.asarray(meta["centroids"], np.float64)


def ivf_search(ivf_index: DataFrame, centroids: np.ndarray,
               qvec: list[float], k: int = 10, nprobe: int = 4) -> DataFrame:
    """Probe the nprobe nearest lists (driver-side argsort over the tiny
    centroid matrix), exact cosine re-rank on candidates only. With
    nprobe == n_lists this is exactly knn_brute (tested invariant); at
    scale the isin(list_id) filter partition-prunes the parquet scan to
    nprobe directories."""
    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(qvec, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    order = np.lexsort((np.arange(len(C)), -np.round(C @ q, 9)))
    probes = [int(j) for j in order[: min(nprobe, len(C))]]
    cand = ivf_index.where(F.col("list_id").isin(probes))
    return knn_brute(cand, qvec, k=k)

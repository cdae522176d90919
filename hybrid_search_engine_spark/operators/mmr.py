"""Maximal Marginal Relevance (MMR) diversification.

Reference semantics: pipelines.py:514-614 (``DiversityPipeline._mmr`` +
``search``): candidates come from an upstream ranker (the reference fetches
top_k·4), relevance scores are min-max normalized with a +1e-8 denominator
guard, then greedy selection maximizes

    mmr(d) = λ·rel(d) − (1−λ)·max_{s ∈ selected} cos(emb_d, emb_s)

with ties resolved to the earliest candidate in rank order (Python ``max``
returns the first maximum). The first pick has max_sim = 0.

Spark shape: MMR is inherently sequential *within* a query but embarrassingly
parallel *across* queries, and the pool is pipeline-bounded (k·4 ≈ dozens of
rows), so the right plan is ``groupBy(query).applyInPandas`` — one Arrow
group per query, a numpy greedy loop inside, no driver collect and no
shuffle beyond the one groupBy. At 100 TB the candidate tables are the
output of top-k operators and stay tiny per query regardless of corpus size.

Portability: all score comparisons use round-half-up to 9 decimals — the
same (-round(x,9), id) total-order protocol the rest of the engine uses —
so an oracle replaying the greedy loop in another engine agrees despite
last-ulp float differences.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _round9(x: np.ndarray) -> np.ndarray:
    """Round half away from zero at 9 decimals (Spark/DuckDB round())."""
    return np.sign(x) * np.floor(np.abs(x) * 1e9 + 0.5)


def mmr_select(emb: np.ndarray, rel: np.ndarray, lambda_param: float,
               k: int) -> list[int]:
    """Greedy MMR over one candidate pool. ``emb`` rows are the candidate
    embeddings (any scale — cosine normalizes), ``rel`` the already-
    normalized relevance scores, both in candidate rank order. Returns
    selected indices in selection order (parity: pipelines.py:531-566)."""
    n = rel.size
    if n == 0:
        return []
    E = emb / np.maximum(np.linalg.norm(emb, axis=1, keepdims=True), 1e-12)
    # max_sim = 0 only while NOTHING is selected (pipelines.py:555-556);
    # once one doc is selected, max over selected can be NEGATIVE — seeding
    # a running max with 0 would silently clamp anti-similar docs
    max_sim = np.zeros(n)
    remaining = np.ones(n, bool)
    out: list[int] = []
    for it in range(min(k, n)):
        mmr9 = _round9(lambda_param * rel - (1.0 - lambda_param) * max_sim)
        mmr9[~remaining] = -np.inf
        best = int(np.argmax(mmr9))  # first occurrence = earliest rank
        out.append(best)
        remaining[best] = False
        sims = E @ E[best]
        if it == 0:
            max_sim = sims
        else:
            np.maximum(max_sim, sims, out=max_sim)
    return out


def mmr_rerank(candidates: DataFrame, k: int, lambda_param: float = 0.5
               ) -> DataFrame:
    """candidates(query_id, doc_id, score, embedding) → (query_id, doc_id,
    score, diversity_rank): per-query greedy MMR.

    Rank order within a pool is (round(score,9) desc, id) — the engine's
    standard total order. The relevance fed to the λ-tradeoff is min-max
    normalized per pool with the reference's +1e-8 denominator
    (pipelines.py:588)."""
    from .. import ensure_udf_serializable

    ensure_udf_serializable()
    df = candidates.select("query_id", "doc_id",
                           F.col("score").cast("double").alias("score"),
                           F.col("embedding").alias("emb"))

    schema = T.StructType([
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("diversity_rank", T.IntegerType(), False),
    ])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["score"].to_numpy(np.float64)
        order = np.lexsort((pdf["doc_id"].to_numpy(np.int64), -_round9(s)))
        pdf = pdf.iloc[order]
        s = s[order]
        rel = (s - s.min()) / (s.max() - s.min() + 1e-8)
        E = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
        sel = mmr_select(E, rel, lambda_param, k)
        return pd.DataFrame({
            "query_id": pdf["query_id"].to_numpy(np.int32)[sel],
            "doc_id": pdf["doc_id"].to_numpy(np.int64)[sel],
            "score": s[sel],
            "diversity_rank": np.arange(len(sel), dtype=np.int32),
        })

    return df.groupBy("query_id").applyInPandas(fn, schema=schema)

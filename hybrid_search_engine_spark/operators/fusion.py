"""Hybrid score fusion + IR evaluation metrics.

Fusion parity (reference semantics):
- min-max normalization with the all-equal → 1.0 edge case
  (utils.py:57-71: when max == min, every score becomes 1.0)
- hybrid = w_sem·sem_norm + w_lex·lex_norm, default 0.7/0.3, weights must
  sum to 1 (core.py:225-233, 264-271)
- max-normalization variant used by HybridBM25Pipeline (pipelines.py:315-343)

Evaluation parity (evaluation.py:80-129): Precision@k, Recall@k, F1, MRR
(reciprocal rank of the first relevant), NDCG@k with binary relevance and
log2(i+2) discounts — here as set-based column expressions over a ranked
results table, so the whole harness runs as one distributed plan instead of
a per-query Python loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def minmax_normalize(df: DataFrame, score_col: str, out_col: str,
                     partition_cols: list[str] | None = None) -> DataFrame:
    """(x - min)/(max - min); all-equal group → 1.0 (utils.py:69-70)."""
    w = Window.partitionBy(*(partition_cols or []))
    mn, mx = F.min(score_col).over(w), F.max(score_col).over(w)
    return df.withColumn(
        out_col,
        F.when(mx == mn, F.lit(1.0)).otherwise(
            (F.col(score_col) - mn) / (mx - mn)),
    )


def fuse_hybrid(sem: DataFrame, lex: DataFrame, w_sem: float = 0.7,
                w_lex: float = 0.3, id_col: str = "doc_id",
                query_col: str | None = "query_id", k: int | None = None,
                n_docs: int | None = None) -> DataFrame:
    """Full outer join of the two score tables, min-max normalize each side
    per query, weighted sum, optional per-query top-k.

    **Dense parity mode** (``n_docs`` = corpus size): the reference
    normalizes DENSE all-docs score vectors (core.py:264-268 building
    num_docs-length vectors, utils.py:57-71 min-max over them), where a doc
    absent from a side holds literal 0.0 — so 0 participates in that side's
    min/max whenever any corpus doc is missing from it. With ``n_docs``
    given, each per-query side min is clamped to ≤0 (and max to ≥0) iff the
    side covers fewer than n_docs docs, and a doc missing from one side is
    filled with that side's normalized-zero value rather than raw 0 — this
    reproduces the reference fused scores exactly for every doc present in
    at least one side. (Docs absent from BOTH sides — all scored the
    side-constant fill by the reference — are not emitted; they can never
    outrank an emitted doc when weights are positive. A query with an empty
    side contributes 0 for that side; the reference's degenerate all-equal
    →1.0 edge on an all-zero dense vector is not reproduced.)

    ``n_docs=None`` is sparse mode: min/max over present rows only, missing
    side → 0. NOT reference parity — use for candidate-pool fusion where
    the candidate set, not the corpus, is the universe."""
    if abs(w_sem + w_lex - 1.0) > 1e-9:
        raise ValueError("weights must sum to 1.0 (core.py:232)")
    keys = [query_col, id_col] if query_col else [id_col]
    part = [query_col] if query_col else []

    def side_stats(df: DataFrame, score_col: str):
        """Per-query (mn, mx, fill): dense-clamped bounds + the normalized
        value of an absent doc's 0.0 score."""
        g = df.groupBy(*part)
        st = g.agg(F.min(score_col).alias("mn"), F.max(score_col).alias("mx"),
                   F.count(F.lit(1)).alias("cnt"))
        if n_docs is not None:
            sparse = F.col("cnt") < F.lit(int(n_docs))
            st = st.select(
                *part,
                F.when(sparse, F.least(F.col("mn"), F.lit(0.0)))
                .otherwise(F.col("mn")).alias("mn"),
                F.when(sparse, F.greatest(F.col("mx"), F.lit(0.0)))
                .otherwise(F.col("mx")).alias("mx"),
            )
            fill = F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
                (F.lit(0.0) - F.col("mn")) / (F.col("mx") - F.col("mn")))
        else:
            st = st.select(*part, "mn", "mx")
            fill = F.lit(0.0)
        return st.withColumn("fill", fill)

    def normalize(df: DataFrame, score_col: str, out: str, st: DataFrame):
        j = df.join(F.broadcast(st), part) if part else df.crossJoin(F.broadcast(st))
        normed = F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
            (F.col(score_col) - F.col("mn")) / (F.col("mx") - F.col("mn")))
        return j.select(*keys, normed.alias(out))

    st_s, st_l = side_stats(sem, "sem_score"), side_stats(lex, "lex_score")
    s = normalize(sem, "sem_score", "sem_n", st_s)
    l = normalize(lex, "lex_score", "lex_n", st_l)
    joined = s.join(l, keys, "full_outer")
    fill_s = st_s.select(*part, F.col("fill").alias("sem_fill"))
    fill_l = st_l.select(*part, F.col("fill").alias("lex_fill"))
    if part:
        joined = (joined.join(F.broadcast(fill_s), part, "left")
                  .join(F.broadcast(fill_l), part, "left"))
    else:
        joined = (joined.crossJoin(F.broadcast(fill_s))
                  .crossJoin(F.broadcast(fill_l)))
    joined = (
        joined
        .withColumn("sem_n", F.coalesce("sem_n", "sem_fill", F.lit(0.0)))
        .withColumn("lex_n", F.coalesce("lex_n", "lex_fill", F.lit(0.0)))
        .withColumn("hybrid_score",
                    F.lit(w_sem) * F.col("sem_n") + F.lit(w_lex) * F.col("lex_n"))
        .drop("sem_fill", "lex_fill")
    )
    if k is not None:
        w = Window.partitionBy(*(part or [F.lit(1)])).orderBy(
            F.round(F.col("hybrid_score"), 9).desc(), F.col(id_col).asc())
        joined = (joined.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k))
    return joined


def learned_weights(query_history: DataFrame, feedback: DataFrame,
                    min_samples: int = 10):
    """Average weights over positively-judged queries, gated on ≥10 samples
    (core.py:63-74: relevance_score >= 4 OR clicked)."""
    pos = feedback.where((F.col("relevance_score") >= 4) | F.col("clicked"))
    agg = (
        query_history.join(pos, "query_id")
        .agg(F.avg("semantic_weight").alias("w_sem"),
             F.avg("lexical_weight").alias("w_lex"),
             F.count(F.lit(1)).alias("n"))
    )
    return agg.where(F.col("n") >= min_samples)


def test_set_from_feedback(query_history: DataFrame, feedback: DataFrame,
                           min_relevant: int = 1) -> DataFrame:
    """A8: bootstrap an evaluation test set from feedback
    (evaluation.py:269-297: relevance_score >= 3 OR clicked, ARRAY_AGG of
    doc ids per query_text, HAVING count >= min)."""
    rel = feedback.where((F.col("relevance_score") >= 3) | F.col("clicked"))
    return (
        query_history.join(rel, "query_id")
        .groupBy("query_text")
        .agg(F.collect_list("doc_id").alias("relevant_doc_ids"),
             F.count(F.lit(1)).alias("n_judgments"))
        .where(F.col("n_judgments") >= min_relevant)
    )


def query_stats(query_history: DataFrame, feedback: DataFrame) -> DataFrame:
    """A6 (core.py:84-98): corpus-level query/feedback statistics."""
    qh = query_history.agg(
        F.count(F.lit(1)).alias("total_queries"),
        F.countDistinct("query_text").alias("unique_queries"),
        F.round(F.avg("semantic_weight"), 6).alias("avg_semantic_weight"),
    )
    fb = feedback.agg(
        F.count(F.lit(1)).alias("total_feedback"),
        F.sum(F.when(F.col("clicked"), 1).otherwise(0)).alias("total_clicks"),
        F.round(F.avg("relevance_score"), 6).alias("avg_relevance"),
    )
    return qh.crossJoin(fb)


# ---------------------------------------------------------------------------
# IR evaluation metrics (evaluation.py:80-129 formulas, distributed)
# ---------------------------------------------------------------------------

def evaluate_rankings(results: DataFrame, truth: DataFrame, k: int = 10
                      ) -> DataFrame:
    """results(query_id, rank, doc_id) × truth(query_id, doc_id relevant)
    → per-query precision@k, recall@k, f1, mrr (reciprocal rank of first
    relevant), ndcg@k (binary gains, log2(i+1) discount at 1-based rank i+1
    — evaluation.py:113-126). Precision divides by the number of rows
    actually retrieved (≤ k), matching evaluation.py:82-88 — not by k —
    so sparse queries aren't penalized twice."""
    r = results.where(F.col("rank") <= k)
    hit = r.join(truth.withColumn("rel", F.lit(1)), ["query_id", "doc_id"],
                 "left").fillna({"rel": 0})
    n_rel = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_relevant"))
    per_q = (
        hit.groupBy("query_id")
        .agg(
            F.sum("rel").alias("n_hits"),
            F.count(F.lit(1)).alias("n_returned"),
            F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
            F.sum(F.when(F.col("rel") == 1,
                         1.0 / F.log2(F.col("rank") + 1)).otherwise(0.0)
                  ).alias("dcg"),
        )
        .join(n_rel, "query_id", "left")
        .fillna({"n_relevant": 0})
    )
    # ideal DCG for binary relevance: sum over first min(n_rel, k) positions
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_relevant"), F.lit(k))),
        F.lit(0.0).cast("double"),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0),
    )
    prec = F.when(F.col("n_returned") > 0,
                  F.col("n_hits") / F.col("n_returned")).otherwise(F.lit(0.0))
    rec = F.when(F.col("n_relevant") > 0,
                 F.col("n_hits") / F.col("n_relevant")).otherwise(F.lit(0.0))
    return per_q.select(
        "query_id",
        F.round(prec, 9).alias("precision_at_k"),
        F.round(rec, 9).alias("recall_at_k"),
        F.round(F.when(prec + rec > 0, 2 * prec * rec / (prec + rec))
                .otherwise(F.lit(0.0)), 9).alias("f1"),
        F.round(F.when(F.col("first_rel").isNotNull(),
                       1.0 / F.col("first_rel")).otherwise(F.lit(0.0)), 9
                ).alias("mrr"),
        F.round(F.when(F.col("n_relevant") > 0, F.col("dcg") / idcg)
                .otherwise(F.lit(0.0)), 9).alias("ndcg_at_k"),
    )

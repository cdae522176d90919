"""Fuzzy lexical scoring (the reference's non-BM25 lexical path).

Reference semantics (core.py:178-197): per doc,
    lexical = 0.7 · partial_ratio(query, doc)/100 + 0.3 · |q ∩ d| / |q|
where partial_ratio is rapidfuzz's best-window similarity and the second
term is token-set overlap.

rapidfuzz is not available in this environment; `partial_ratio` here is a
faithful reimplementation of its DEFINITION (fuzz.py partial_ratio: the best
``fuzz.ratio`` — normalized InDel similarity, i.e. ``100·2·LCS/(|a|+|b|)`` —
over every contiguous alignment of the shorter string against the longer,
including edge overlaps). The LCS length per window is computed with the
Allison–Dix bit-parallel algorithm (one Python bigint per window — O(|w|)
bit-ops), so the scan over all windows is O(|long|·|short|/wordsize) rather
than quadratic DP per window. Unlike difflib.SequenceMatcher (greedy
matching blocks — NOT the true LCS, and only block-aligned windows), this
matches the rapidfuzz optimum on every input. Scores are in [0, 100].

It runs as an Arrow pandas UDF over candidate sets only — this path is for
re-scoring top-k candidates (pipelines.py stage shapes), never a full-corpus
scan at scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokens_native


def _match_masks(short: str) -> dict[str, int]:
    pm: dict[str, int] = {}
    for i, ch in enumerate(short):
        pm[ch] = pm.get(ch, 0) | (1 << i)
    return pm


def _lcs_len(m: int, pm: dict[str, int], window: str) -> int:
    """Allison–Dix bit-parallel LCS length of `short` (length m, masks pm)
    vs `window`."""
    full = (1 << m) - 1
    v = full
    for ch in window:
        mt = pm.get(ch, 0)
        v = ((v + (v & mt)) | (v & ~mt)) & full
    return m - bin(v).count("1")


def partial_ratio(a: str, b: str) -> float:
    """Best-alignment InDel similarity ∈ [0,100] (pure Python, deterministic).

    max over windows w of the longer string of 100·2·LCS(short,w)/(m+|w|),
    where windows are every length-m substring plus the clipped edge
    overlaps (alignments hanging off either end)."""
    if not a and not b:
        return 100.0
    if not a or not b:
        return 0.0
    short, long_ = (a, b) if len(a) <= len(b) else (b, a)
    if short == long_ or short in long_:
        return 100.0
    m, n = len(short), len(long_)
    pm = _match_masks(short)
    best = 0.0
    for i in range(-(m - 1), n):
        w_start, w_end = max(0, i), min(n, i + m)
        wlen = w_end - w_start
        # upper bound: LCS ≤ min(m, wlen); skip windows that cannot win
        if 200.0 * min(m, wlen) / (m + wlen) <= best:
            continue
        lcs = _lcs_len(m, pm, long_[w_start:w_end])
        r = 200.0 * lcs / (m + wlen)
        if r > best:
            best = r
            if best == 100.0:
                break
    return round(best, 6)


def lexical_fuzzy_scores(candidates: DataFrame, query: str,
                         w_fuzzy: float = 0.7, w_overlap: float = 0.3
                         ) -> DataFrame:
    """candidates(doc_id, text, …) → + lexical_score (core.py:191 weights)."""
    from .. import ensure_udf_serializable
    from ..reference_semantics import tokenize

    ensure_udf_serializable()
    q_tokens = sorted(set(tokenize(query)))
    qlen = max(len(q_tokens), 1)

    @F.pandas_udf(T.DoubleType())
    def fuzzy_udf(texts: pd.Series) -> pd.Series:
        return pd.Series([partial_ratio(query, t or "") / 100.0 for t in texts])

    overlap = (
        F.size(F.array_intersect(
            F.array_distinct(tokens_native("text")),
            F.array(*[F.lit(t) for t in q_tokens]))).cast("double") / qlen
    )
    return candidates.withColumn(
        "lexical_score",
        F.lit(w_fuzzy) * fuzzy_udf(F.col("text")) + F.lit(w_overlap) * overlap,
    )

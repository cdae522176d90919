"""Unigram-LM document scoring — corpus cross-entropy as a quality signal.

Web-pipeline curation stacks (CCNet, Gopher, RefinedWeb) score documents by
language-model perplexity and keep/bucket by score. A full LM is out of
scope for this container, but the unigram corpus model is the canonical
degenerate case and is exactly expressible as relational algebra — so it
ships as a first-class, oracle-checked operator rather than a stub.

Model: p(t) = cf(t) / total_tokens over the SAME corpus being scored
(self-perplexity — no held-out smoothing needed since every scored token
has corpus support by construction). Per document:

    avg_nll(d) = - (1/|d|) * sum over token occurrences t in d of ln p(t)

Low avg_nll ≈ stopword-heavy/templated text, high ≈ rare-token soup — the
two tails a curation pipeline trims.

100 TB shape (round-6 plan): ONE token-grain aggregation builds the corpus
frequencies directly (map-side partial agg — the shuffle carries
vocab-sized partials, not per-doc rows); the vocab model is collected once
(bounded by ``LM_BROADCAST_MAX_VOCAB`` — Zipf vocabularies are millions of
rows at web scale, ~tens of MB as a term→ln p dict) and broadcast; scoring
is then a single shuffle-free row-local Arrow pass per document. Corpora
whose vocabulary exceeds the broadcast budget fall back to the join plan
(tf → broadcast cf join → per-doc agg), which pays one extra token-grain
shuffle but never holds the vocab in one process. Outputs are identical
either way: exact integer counts both paths, float summation-order ulps
absorbed by the contract's round(6) (the same tolerance discipline that
lets DuckDB replay the oracle row).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.text import tokens_native_keep_order
from ..sources.registry import spread

__all__ = ["unigram_logprob"]

# Vocabulary-size cap for the broadcast-model path: a (term → ln p) dict of
# this many entries is ~0.5 GB per python worker — above it, take the join
# plan. Web-scale Zipf vocabularies (CCNet: ~millions of distinct tokens)
# fit comfortably; the cap exists for adversarial token soup.
LM_BROADCAST_MAX_VOCAB = 4_000_000


def _lm_score_udf(logp_bc):
    """token array → struct(n_tokens, avg_nll) per row, vectorized:
    flatten the batch's token lists, one vectorized dict lookup, segment
    sums via add.reduceat. Returning BOTH outputs from the one UDF keeps
    the n_tokens > 0 filter above the opaque Python node — a native
    size(tokenize(text)) > 0 filter gets pushed to the scan and
    re-evaluates the tokenizer a second time (observed in the plan).
    Empty rows yield (0, NaN) and are filtered out by the caller."""

    @F.pandas_udf("n_tokens bigint, avg_nll double")
    def score(toks: pd.Series) -> pd.DataFrame:
        logp = logp_bc.value
        n = len(toks)
        lens = np.fromiter((len(t) for t in toks), np.int64, n)
        out = np.full(n, np.nan)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate(
                [np.asarray(t, object) for t in toks if len(t)])
            vals = pd.Series(flat).map(logp).to_numpy(np.float64)
            offs = np.zeros(n + 1, np.int64)
            np.cumsum(lens, out=offs[1:])
            sums = np.add.reduceat(vals, offs[:-1][nz])
            out[nz] = -sums / lens[nz]
        return pd.DataFrame({"n_tokens": lens, "avg_nll": out})

    # Without this, the optimizer pushes the caller's n_tokens > 0 filter
    # below this node and DUPLICATES the evaluation (one ArrowEvalPython
    # under the pushed filter at the scan, another above — observed in the
    # plan; the guide §4.4 pathology). The function is pure; the marker
    # only pins it in place.
    return score.asNondeterministic()


def unigram_logprob(
    docs: DataFrame, round_to: int | None = 6
) -> DataFrame:
    """docs(doc_id, text) → (doc_id, n_tokens bigint, avg_nll double) for
    every doc with ≥1 token. ``round_to`` rounds the float output
    (contract convention: 6 decimals so summation-order ulps can't flip a
    value hash); pass None for raw doubles."""
    toks = tokens_native_keep_order("text")
    base = spread(docs).select("doc_id", toks.alias("__toks"))
    cf_df = (
        base.select(F.explode("__toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
    )

    # Broadcast-model path: collect the vocab-sized model once (the limit
    # probe bounds what ever reaches the driver), score row-locally.
    probe = cf_df.limit(LM_BROADCAST_MAX_VOCAB + 1).toPandas()
    if len(probe) <= LM_BROADCAST_MAX_VOCAB:
        total = int(probe["cf"].sum())
        if total == 0:
            scored = base.select(
                "doc_id",
                F.size("__toks").cast("bigint").alias("n_tokens"),
                F.lit(None).cast("double").alias("avg_nll"),
            ).where(F.col("n_tokens") > 0)
            return scored
        logp = dict(zip(
            probe["term"].tolist(),
            np.log(probe["cf"].to_numpy(np.float64) / float(total)),
        ))
        bc = docs.sparkSession.sparkContext.broadcast(logp)
        scored = (
            base.select("doc_id",
                        _lm_score_udf(bc)(F.col("__toks")).alias("__s"))
            .where(F.col("__s.n_tokens") > 0)
            .select("doc_id", F.col("__s.n_tokens").alias("n_tokens"),
                    F.col("__s.avg_nll").alias("avg_nll"))
        )
    else:
        # Join fallback (the pre-round-6 plan): one extra token-grain
        # shuffle builds per-doc tf; the model stays distributed until the
        # broadcast join. cf is recomputed here — at this scale the probe
        # cost is dominated by the scoring pass either way.
        tf = (
            base.select("doc_id", F.explode("__toks").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        total_df = cf_df.agg(F.sum("cf").alias("total_tokens"))
        model = broadcast(cf_df.crossJoin(broadcast(total_df)))
        scored = (
            tf.join(model, "term")
            .groupBy("doc_id")
            .agg(
                F.sum("cnt").alias("n_tokens"),
                (
                    -F.sum(
                        F.col("cnt")
                        * F.log(F.col("cf") / F.col("total_tokens"))
                    )
                    / F.sum("cnt")
                ).alias("avg_nll"),
            )
        )
    if round_to is not None:
        scored = scored.withColumn(
            "avg_nll", F.round("avg_nll", round_to))
    return scored

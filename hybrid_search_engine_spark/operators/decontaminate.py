"""Test-set decontamination: flag documents containing benchmark n-grams.

Standard LLM-pipeline step (GPT-3 §C, PaLM, Llama papers): before training,
drop or flag web documents that textually overlap held-out evaluation sets,
detected as shared token n-grams (8-13 grams in the papers; configurable
here). Distinct from phrase search in shape: the probe side is a TABLE of
n-grams (potentially millions — every n-gram of every benchmark), matched
as a bulk set-membership join, not a per-phrase positional query.

Plan: documents → token n-grams via a sliding-window `transform` over the
parity tokenizer's output (JVM HOFs, no UDF) → explode → join the probe
n-gram table. Output per contaminated doc: total matching shingle
positions and distinct probes hit.

100 TB shape: ONE shuffle at most. Probe sets up to broadcast size join
map-side (`broadcast()` — benchmarks are ~10^5-10^6 n-grams, well under
limits); bigger probe tables fall back to a shuffle join where the doc
side was going token-grain anyway. n_hits aggregation partial-combines
map-side. No driver collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.text import tokens_native_keep_order
from ..sources.registry import spread

__all__ = [
    "token_ngrams",
    "token_ngram_hashes",
    "exploded_token_ngrams",
    "contamination_flags",
    "shared_span_flags",
    "py_token_ngrams",
]


def token_ngrams(toks, n: int):
    """Array of space-joined token n-grams (sliding window, step 1).
    Empty array when the doc has fewer than n tokens — guarded explicitly
    because Spark's ``sequence(1, 0)`` yields a DESCENDING [1, 0], not an
    empty array, and slice(…, 0, n) then throws.

    ``toks`` MUST be a bound column (select-projected attribute), not an
    inline tokenizer expression: the per-position lambda embeds ``toks``
    in every slice, so an unbound expression re-tokenizes the document
    once per gram position — O(len²) per doc (the d484e4d pathology;
    measured 375 s unbound vs 52 s bound at 1M docs/n=8 on this
    very operator, BENCH/DECON_1M.json)."""
    count = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(count >= 1, grams).otherwise(
        F.array().cast("array<string>"))


def py_token_ngrams(tokens: list[str], n: int) -> list[str]:
    return [" ".join(tokens[i : i + n])
            for i in range(max(len(tokens) - n + 1, 0))]


def exploded_token_ngrams(docs: DataFrame, n: int,
                          hashed: bool = False) -> DataFrame:
    """docs(doc_id, text) → (doc_id, gram): every token ``n``-gram of every
    doc, one row per POSITION (multiset semantics, same rows as exploding
    ``token_ngrams``/``token_ngram_hashes`` — pinned by test).

    Round-6 shape (guide §4.1 "prefer built-ins"/codegen): explode the
    window START POSITIONS (a cheap int sequence) and build each gram
    AFTER the explode with ``array_join(slice(toks, i, n))`` — plain
    projected expressions that stay inside whole-stage codegen. Building
    the whole gram ARRAY first (``transform(sequence, …)``) is an
    interpreted higher-order function evaluated per element plus a
    per-row array materialization — measured 2.7 s vs 1.0 s for the
    exploded grams of 50k docs / 2.5M grams (sf1.0, local[32]).

    ``hashed=True`` emits the 64-bit chained-xxhash64 window hash instead
    of the gram string (engine tier — same values as
    ``token_ngram_hashes``): per-token hashes are computed once per row
    (bound through the projection), each window folds its slice.
    """
    # the tokenize + gram build + explode all run BEFORE this operator's
    # first exchange — widen a narrow scan so that map stage parallelizes
    # (no-op at real scale; span_dedup 2.76 -> 2.05 s / decontaminate
    # 1.02 -> 0.56 s at sf1.0 on the 2-split parquet)
    base = spread(docs).select(
        "doc_id", tokens_native_keep_order("text").alias("__toks"))
    if hashed:
        base = base.select(
            "doc_id",
            F.transform("__toks", lambda x: F.xxhash64(x)).alias("__toks"))
    cnt = F.size("__toks") - F.lit(n - 1)
    pos = base.select(
        "doc_id", "__toks",
        F.explode(
            F.when(cnt >= 1, F.sequence(F.lit(1), cnt))
            .otherwise(F.array().cast("array<int>"))).alias("__i"))
    if hashed:
        gram = F.aggregate(
            F.slice("__toks", F.col("__i"), n),
            F.lit(0).cast("long"),
            lambda acc, h: F.xxhash64(acc, h))
    else:
        gram = F.array_join(F.slice("__toks", F.col("__i"), n), " ")
    return pos.select("doc_id", gram.alias("gram"))


def token_ngram_hashes(toks, n: int):
    """Engine tier: 64-bit window hashes instead of gram strings.

    Per-token xxhash64 is computed ONCE (one pass), then each window of n
    folds its hashes with chained ``xxhash64(acc, h)`` — order-sensitive,
    all-bigint, no string allocation. Measured 1M docs / n=8
    (BENCH/DECON_1M.json): 51.9 s vs the string tier's 54.2 s — CPU
    parity — with a ~7.5× smaller gram payload (8-byte bigint vs ~60-byte
    string) wherever grams cross a shuffle (span dedup at network-bound
    scale). Collision risk at 64 bits is ~|doc_grams|·|probes|/2^64 —
    negligible for a FLAG column. The exact-string tier remains the
    oracle/contract path. NB the inner per-token hash array is bound via
    a single-element transform; unbound it re-hashed every token per
    window slice (185 s — the same d484e4d law, one level deeper).
    """
    th = F.transform(toks, lambda x: F.xxhash64(x))

    # bind th through a single-element transform (analysis.py:354 trick):
    # inside the lambda `bth` is a variable reference, so the per-token
    # hashing pass runs ONCE per doc instead of once per window slice
    def _build(bth):
        count = F.size(bth) - F.lit(n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.aggregate(
                F.slice(bth, i, n),
                F.lit(0).cast("long"),
                lambda acc, h: F.xxhash64(acc, h),
            ),
        )
        return F.when(count >= 1, grams).otherwise(
            F.array().cast("array<long>"))

    return F.element_at(F.transform(F.array(th), _build), 1)


def contamination_flags(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 8,
    broadcast_probes: bool = True,
    hashed: bool = False,
) -> DataFrame:
    """docs(doc_id, text) → (doc_id, n_hits bigint, n_probes bigint) for
    docs sharing ≥1 token ``n``-gram with the probe set.

    ``probes`` is a DataFrame with a string column ``probe`` holding raw
    benchmark text; its n-grams are derived here with the SAME tokenizer,
    so a probe shorter than n tokens contributes nothing (the papers'
    convention: short strings are too common to attribute). ``n_hits``
    counts matching shingle POSITIONS in the doc (a doc repeating a
    benchmark answer 5 times scores 5); ``n_probes`` counts distinct
    probe n-grams hit.

    ``hashed=True`` switches both sides to `token_ngram_hashes` (the
    engine/scale tier — see its docstring); the default exact-string tier
    is the oracle path.
    """
    gramf = token_ngram_hashes if hashed else token_ngrams
    # bind the token arrays as projected attributes BEFORE the per-position
    # gram lambdas (see token_ngrams docstring); probe side is tiny so the
    # array form is fine there
    probe_grams = (
        probes.select(tokens_native_keep_order("probe").alias("__toks"))
        .select(F.explode(gramf(F.col("__toks"), n)).alias("gram"))
        .distinct()
    )
    if broadcast_probes:
        probe_grams = broadcast(probe_grams)
    # corpus side: positions-explode + codegen gram build (round-6 — see
    # exploded_token_ngrams docstring for the measured win)
    doc_grams = exploded_token_ngrams(docs, n, hashed=hashed)
    return (
        doc_grams.join(probe_grams, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.count_distinct("gram").alias("n_probes"),
        )
    )


def shared_span_flags(
    docs: DataFrame,
    n: int = 8,
    hashed: bool = False,
) -> DataFrame:
    """Cross-document span duplication over docs(doc_id, text): flag docs
    containing a verbatim ``n``-token span that also occurs in at least
    one OTHER document.

    The fixed-n practical form of substring-level dedup (Lee et al. 2022
    use suffix arrays for arbitrary-length spans; production pipelines
    commonly approximate with fixed 8-13-token windows). Distinct from
    MinHash near-dup (whole-doc similarity) — this catches a quoted
    paragraph inside an otherwise-unique page.

    Plan (round-6 rewrite, guide §2.4): ONE gram-grain exchange instead of
    two plus a join, and ONE tokenize/gram-build pass instead of two. The
    exploded grams are hash-repartitioned by ``gram``; because
    HashPartitioning(gram) satisfies the clustered distribution of every
    downstream gram-keyed operator, the per-(gram, doc) position count
    AND the per-gram doc-count window both run shuffle-free on that one
    exchange (the window replaces a collect_list rollup — a window count
    stays in codegen where ObjectHashAggregate allocates per-row objects;
    measured min 3.4 s vs 4.3 s at sf1.0). Rows of shared grams (doc
    count > 1) then flow into a final doc-grain aggregation (map-side
    combined). The old shape (dg → groupBy(gram) df → join dg back)
    evaluated the tokenizer+gram builder TWICE (dg appears in two
    subtrees) and paid two corpus-sized gram exchanges (sf1.0 local[32]:
    13.5-20.6 s before → see OPTIMIZATION_r06.md). ``hashed=True`` runs
    the same plan over 64-bit window hashes (engine tier, see
    token_ngram_hashes). The gram-grain key is Zipf-skewed in principle;
    the per-(gram, doc) pre-aggregation bounds any one gram's window
    partition at ≤ n_docs rows and AQE skew handling stays the safety
    net for the exchange itself.

    Output: (doc_id, n_shared_positions bigint, n_shared_spans bigint) —
    gram POSITIONS in this doc whose gram appears in ≥2 distinct docs,
    and distinct such grams. Docs with no shared span are absent.
    """
    from pyspark.sql import Window

    dg = exploded_token_ngrams(docs, n, hashed=hashed)
    per_gram_doc = (
        dg.repartition("gram")
        .groupBy("gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    shared = per_gram_doc.withColumn(
        "__nd", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    ).where(F.col("__nd") > 1)
    return (
        shared.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_shared_positions"),
            F.count(F.lit(1)).alias("n_shared_spans"),
        )
    )

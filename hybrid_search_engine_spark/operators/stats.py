"""Corpus statistics for BM25: tf, df, idf, doc lengths, avgdl.

Semantics contract (reference file:line, math only):
- per-doc tf:   bm25.py:62-64   (Counter per doc)      → A1
- df:           bm25.py:66-68   (count docs per term)  → A2
- corpus stats: bm25.py:52,71   (N, avgdl)             → A3
- idf:          bm25.py:76-81   ln((N-df+0.5)/(df+0.5)+1) → A4
- doc length:   bm25.py:59-60   (post-stopword token count) → A5

Scale notes: tf is one hash aggregation keyed (doc_id, term) — map-side
partial aggregation collapses each document's tokens before the shuffle, so
shuffle volume is distinct-(doc,term) pairs, not raw token count.  term_stats
aggregates tf again by term (second, much smaller shuffle) and is
broadcast-sized even at web scale (vocabulary ≪ corpus).  doc_stats rides the
same first aggregation.  Nothing here collects to the driver except the two
corpus scalars.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize_documents


@dataclass(frozen=True)
class CorpusScalars:
    doc_count: int
    avg_doc_len: float


def term_frequencies(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", remove_stopwords: bool = True,
                     parity: bool = False) -> DataFrame:
    """A1: (doc_id, term, tf). One explode + one hash agg.

    Hot path (parity=False): explode `regexp_extract_all` of the POSITIVE
    class `[a-z0-9_]+` THEN filter with plain WHERE predicates — all inside
    whole-stage codegen. Two measured pathologies are avoided here:
    (a) `split` on the complement class `[^a-z0-9_]+` makes java.util.regex
    evaluate a per-character negation lambda (CharPredicate.negate) — 244s
    vs 36s for extract_all on the identical 1.2 GB corpus at 16 cores, 6.8×,
    and it is the difference between a scaling and a flat tf stage;
    (b) the array-lambda form — filter(tokens, x -> !array_contains) — is a
    higher-order function Spark evaluates interpreted per element (measured
    3× slower). Token multiset is identical to split-on-complement with
    empties dropped: maximal `[a-z0-9_]+` runs either way. Order/duplicate
    semantics don't matter here: BM25 statistics are bag-of-words.
    """
    if parity:
        toks = tokenize_documents(docs, text_col, id_col,
                                  remove_stopwords=remove_stopwords,
                                  parity=True)
        return (
            toks.select("doc_id", F.explode("tokens").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    from ..reference_semantics import STOPWORDS

    # Round 6 (guide §2.3 "shuffle keys and metadata instead of
    # payloads" / the same shape as term_frequencies_with_doclen):
    # repartition the RAW DOCS by doc_id FIRST. HashPartitioning(doc_id)
    # satisfies the aggregation's ClusteredDistribution(doc_id, term), so
    # the exchange moves ~input-sized doc rows and the explode + final
    # aggregation run shuffle-free on top — no token-grain partial-agg
    # rows are ever serialized (measured 1.74 s → 0.48 s for the sf1.0
    # contract row at local[32]). The width is pinned at
    # max(defaultParallelism, input splits): AQE's parallelism-first
    # coalescing folds the ~15 MB bench exchange to ~1 MB partitions
    # (~15 of them) and under-parallelizes the downstream explode+agg on
    # a 32-core session (interleaved A/B: median 0.71 s auto vs 0.47 s
    # pinned); the input-split term keeps the width growing with data
    # size so a huge corpus is not forced into cores-count partitions.
    part = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("__text"))
    par = max(docs.sparkSession.sparkContext.defaultParallelism,
              part.rdd.getNumPartitions())
    part = part.repartition(par, "doc_id")
    exploded = part.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            F.lower(F.col("__text")), F.lit(r"[a-z0-9_]+"), 0)).alias("term"),
    )
    if remove_stopwords:
        exploded = exploded.where(~F.col("term").isin(sorted(STOPWORDS)))
    return exploded.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def term_frequencies_with_doclen(docs: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 remove_stopwords: bool = True,
                                 n_partitions: int | None = None,
                                 term_domain: str = "hash") -> DataFrame:
    """A1+A5 fused: (doc_id, term, tf, doc_len) with ONE exchange — of raw
    docs, not tokens. The web-scale statistics plan used by the index build.

    Shape: ``repartition(P, doc_id)`` FIRST, then explode + aggregate.
    HashPartitioning(doc_id) satisfies the aggregation's
    ClusteredDistribution(doc_id, term), so Catalyst inserts NO token-grain
    exchange — the only shuffle moves raw documents (≈ input bytes, ~KB per
    row) instead of exploded tokens / partial-agg output (~4× larger).
    doc_len then rides the same partitioning as a window sum: no groupBy
    shuffle, no doc_id join downstream.

    ``n_partitions`` directly bounds the per-task aggregation-map footprint
    (groups/task ≈ distinct (doc,term) pairs / P). This is the fix for the
    measured superlinearity of the naive explode→partial-agg plan: at 1M
    docs / 16 input partitions each partial map held ~5.5M groups (~450MB)
    — spill + cache-miss regime, 11× cost for 5× docs (43s→472s, see
    BENCH/BASELINE.md). ~8k docs per task keeps maps ~50MB and linear.

    ``term_domain="hash"`` (the index build's keys) replaces each token
    with ``xxhash64(token)`` (bigint) BEFORE the aggregation: the agg hash
    map then probes fixed 16-byte (doc_id, term) keys instead of string
    keys — a working-set cut on the build's dominant, memory-bandwidth-
    bound stage (measured −23% on this stage at 1M docs / 16 cores,
    interleaved A/B; SCALE.md §9). Query tokens map into the same domain
    driver-side via ``functions.hashing.spark_xxhash64_str`` (bit-parity
    pinned by test), so BM25 tf/df/idf — and therefore scores and ranks —
    are unchanged unless two distinct vocabulary terms collide in 64 bits
    (P ≈ V²/2⁶⁵: ~3·10⁻⁸ at V=10⁶; ~0.03 expected colliding PAIRS at a
    10⁹-term web vocabulary, each merging one pair of (usually rare)
    terms). ``term_domain="string"`` keeps the term strings; only
    ``build_statistics`` asks for it, because its contract rows compare
    terms with the SQL oracle's."""
    from ..reference_semantics import STOPWORDS

    if term_domain not in ("string", "hash"):
        raise ValueError(f"term_domain must be 'string' or 'hash', "
                         f"got {term_domain!r}")
    part = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("text"))
    if n_partitions:
        part = part.repartition(int(n_partitions), "doc_id")
    else:
        part = part.repartition("doc_id")
    exploded = part.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(r"[a-z0-9_]+"), 0)).alias("term"),
    )
    if remove_stopwords:
        exploded = exploded.where(~F.col("term").isin(sorted(STOPWORDS)))
    if term_domain == "hash":
        exploded = exploded.select(
            "doc_id", F.xxhash64("term").alias("term"))
    tf = exploded.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return tf.withColumn(
        "doc_len", F.sum("tf").over(Window.partitionBy("doc_id")))


def doc_stats_from_tf(tf: DataFrame) -> DataFrame:
    """A5 without re-tokenizing: doc_len = Σ tf per doc.

    Equals the post-stopword token count of each doc, because tf counts
    the same token stream; saves a second pass over raw text.
    NOTE: drops docs with zero surviving tokens — callers that need them
    (avgdl denominator counts empty docs too) must count N from the docs
    table directly, as build_statistics does.
    """
    return tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))


def term_stats(tf: DataFrame, doc_count: int) -> DataFrame:
    """A2+A4: (term, df, cf, idf). df exact (IDF must match bit-for-bit);
    broadcastable at query time."""
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    ).withColumn(
        "idf",
        F.log((F.lit(float(doc_count)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
    )


def build_statistics(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", remove_stopwords: bool = True,
                     parity: bool = False, doc_count: int | None = None,
                     docs_per_partition: int = 8192):
    """One-pass build of (tf, doc_stats, term_stats, scalars).

    Hot path (parity=False) uses ``term_frequencies_with_doclen``: ONE
    doc-grain exchange sized to the DATA (P = max(defaultParallelism,
    n_docs/docs_per_partition)), not to the session's shuffle-partition
    default. That keeps the per-task aggregation map bounded at web scale
    (the superlinearity fix — see term_frequencies_with_doclen) AND avoids
    scheduling 4×cores near-empty tasks on toy inputs; doc_len rides the
    same partitioning, so doc_stats adds no exchange at all.

    tf is keyed by term strings, which the contract rows built on it
    compare with the SQL oracle's, and cached across the downstream
    aggregations.
    ``doc_count`` skips the separate count job when the caller already
    knows N (e.g. from the fused fingerprint aggregate in build_index).
    """
    if doc_count is None:
        doc_count = docs.select(id_col).count()
    if parity:
        tf = term_frequencies(docs, text_col, id_col, remove_stopwords,
                              parity).cache()
        dstats = doc_stats_from_tf(tf)
    else:
        p = max(docs.sparkSession.sparkContext.defaultParallelism,
                -(-doc_count // docs_per_partition))
        tfdl = term_frequencies_with_doclen(
            docs, text_col, id_col, remove_stopwords, n_partitions=p,
            term_domain="string").cache()
        tf = tfdl.drop("doc_len")
        # doc_id-clustered cache → dropDuplicates needs no exchange
        dstats = tfdl.select("doc_id", "doc_len").dropDuplicates(["doc_id"])
    total = dstats.agg(F.sum("doc_len")).first()[0] or 0
    scalars = CorpusScalars(
        doc_count=doc_count,
        avg_doc_len=(total / doc_count if doc_count else 0.0))
    tstats = term_stats(tf, scalars.doc_count)
    return tf, dstats, tstats, scalars

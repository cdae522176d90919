"""Corpus statistics for BM25: tf, doc lengths, df, idf, avgdl.

Semantics contract (reference file:line, math only):
- per-doc tf:   bm25.py:62-64   (Counter per doc)      → A1
- df:           bm25.py:66-68   (count docs per term)  → A2
- corpus stats: bm25.py:52,71   (N, avgdl)             → A3
- idf:          bm25.py:76-81   ln((N-df+0.5)/(df+0.5)+1) → A4
- doc length:   bm25.py:59-60   (post-stopword token count) → A5

One tokenize-and-count plan, ``term_frequencies_with_doclen``, computes
A1 and A5 together for the index build and for the statistics the
contract rows read: every (doc_id, term, tf) row carries its doc's
``doc_len``, so no separate doc-length table exists. term_stats
aggregates tf again by term (a second, much smaller shuffle) and is
broadcast-sized even at web scale (vocabulary ≪ corpus). Nothing here
collects to the driver except the two corpus scalars.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# granularity of the statistics stage: bounds the per-task aggregation-map
# footprint independently of core count (see term_frequencies_with_doclen)
DOCS_PER_PARTITION = 8192


@dataclass(frozen=True)
class CorpusScalars:
    doc_count: int
    avg_doc_len: float


def stats_partitions(spark, n_docs: int) -> int:
    """Width of the statistics stage: ``max(defaultParallelism,
    ⌈n_docs / DOCS_PER_PARTITION⌉)``. Sized to the data, so the
    per-task aggregation map stays bounded at web scale, and never
    narrower than the session's cores, so a toy input neither idles
    cores nor schedules 4×cores near-empty tasks."""
    return max(spark.sparkContext.defaultParallelism,
               -(-int(n_docs) // DOCS_PER_PARTITION))


def term_frequencies_with_doclen(docs: DataFrame, n_docs: int,
                                 term_domain: str = "hash") -> DataFrame:
    """A1+A5 fused: ``docs(doc_id, text)`` → (doc_id, term, tf, doc_len)
    with ONE exchange — of raw docs, not tokens. ``n_docs`` counts
    ``docs`` and sets the exchange width (``stats_partitions``).

    Shape: ``repartition(P, doc_id)`` FIRST, then explode + aggregate.
    HashPartitioning(doc_id) satisfies the aggregation's
    ClusteredDistribution(doc_id, term), so Catalyst inserts NO token-grain
    exchange — the only shuffle moves raw documents (≈ input bytes, ~KB per
    row) instead of exploded tokens / partial-agg output (~4× larger).
    doc_len then rides the same partitioning as a window sum: no groupBy
    shuffle, no doc_id join downstream.

    P directly bounds the per-task aggregation-map footprint (groups/task
    ≈ distinct (doc,term) pairs / P). This is the fix for the measured
    superlinearity of the naive explode→partial-agg plan: at 1M docs / 16
    input partitions each partial map held ~5.5M groups (~450MB) — spill
    + cache-miss regime, 11× cost for 5× docs (43s→472s, see
    BENCH/BASELINE.md). ~8k docs per task keeps maps ~50MB and linear.

    Tokens are the POSITIVE class ``[a-z0-9_]+`` extracted with
    ``regexp_extract_all`` and exploded, then filtered with a plain WHERE
    against the stopwords — all inside whole-stage codegen. Two measured
    pathologies are avoided: ``split`` on the complement class makes
    java.util.regex evaluate a per-character negation lambda (244 s vs
    36 s on a 1.2 GB corpus at 16 cores), and the array-lambda form
    ``filter(tokens, x -> !array_contains)`` is a higher-order function
    Spark interprets per element (3× slower). The token multiset equals
    the reference tokenizer's on ASCII text (``tests/test_text.py``).

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
    part = docs.select("doc_id", "text").repartition(
        stats_partitions(docs.sparkSession, n_docs), "doc_id")
    exploded = part.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(r"[a-z0-9_]+"), 0)).alias("term"),
    ).where(~F.col("term").isin(sorted(STOPWORDS)))
    if term_domain == "hash":
        exploded = exploded.select(
            "doc_id", F.xxhash64("term").alias("term"))
    tf = exploded.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return tf.withColumn(
        "doc_len", F.sum("tf").over(Window.partitionBy("doc_id")))


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


def build_statistics(docs: DataFrame):
    """``docs(doc_id, text)`` → (tf, term_stats, scalars), with tf the
    cached (doc_id, term, tf, doc_len) table keyed by term strings, which
    the contract rows built on it compare with the SQL oracle's. A doc's
    length is any of its tf rows' ``doc_len``; docs with no token left
    after stopword removal have no tf row but count in N."""
    doc_count = docs.count()
    tf = term_frequencies_with_doclen(docs, doc_count,
                                      term_domain="string").cache()
    total = tf.agg(F.sum("tf")).first()[0] or 0
    scalars = CorpusScalars(
        doc_count=doc_count,
        avg_doc_len=(total / doc_count if doc_count else 0.0))
    return tf, term_stats(tf, doc_count), scalars

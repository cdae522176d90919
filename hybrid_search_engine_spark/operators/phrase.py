"""Exact phrase search: scan tier + positional-postings index tier.

Beyond-reference capability (the reference scores bag-of-words BM25 only —
`search_engine/indexer.py` keeps no token positions), but it is THE
canonical full-text-index operation missing from that surface, so it is
built here as a first-class operator of the fulltext_index tier.

Two tiers, proven equivalent by unit + property tests
(`tests/test_phrase.py`):

- **Scan tier** (`phrase_match_scan`): per-document JVM expressions — token
  positions via an indexed `transform` + `filter`, adjacency via
  `array_contains` on shifted positions. Zero shuffles, zero Python; the
  whole matcher is one narrow projection over the corpus scan, so it
  parallelizes embarrassingly at 100 TB and is the right tier for batch
  re-annotation jobs ("tag every page containing this phrase").
- **Index tier** (`doc_term_positions` + `phrase_search_indexed`): a
  positional postings table (doc_id, term, positions[]) — the classic
  inverted-index phrase algorithm. A query touches only the |phrase|
  posting lists (term-equality filters are partition-prunable when the
  postings are written term-bucketed, exactly like the BM25 tf shards in
  build/manifest.py), then doc_id equi-joins + the same shifted-positions
  adjacency check. Cost is bounded by the rarest term's document
  frequency, not the corpus — the property that makes phrase queries
  interactive at 10^12 docs. Positions are monotonically sorted ints, so
  delta encoding applies when the postings are serialized (Parquet v2's
  DELTA_BINARY_PACKED; the BM25 posting blocks in operators/postings.py
  are written with that writer).

Semantics: tokens are the parity tokenizer's `[a-z0-9_]+` findall over
lowercased text, positions 1-based; a phrase of n terms matches at start
position p iff token[p+j] == term[j] for all j. Overlapping occurrences
count separately ("table table table" contains "table table" twice), and
repeated-term phrases are handled by the same shifted-containment rule.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..build.manifest import write_json_atomic
from ..functions.hashing import spark_xxhash64_str
from ..functions.text import tokens_native_keep_order
from ..sources.registry import spread

__all__ = [
    "token_positions",
    "phrase_starts",
    "phrase_match_scan",
    "doc_term_positions",
    "phrase_search_indexed",
    "near_match_scan",
    "near_search_indexed",
    "save_positional_index",
    "PositionalIndex",
]


def token_positions(toks: Column, term: str) -> Column:
    """1-based positions of ``term`` in the token array, as array<int>.

    Indexed ``transform`` marks matches with their position and -1
    elsewhere; ``filter`` drops the -1s. Both are codegen'd JVM HOFs — no
    UDF, no shuffle.
    """
    marked = F.transform(
        toks, lambda x, i: F.when(x == F.lit(term), i + 1).otherwise(F.lit(-1))
    )
    return F.filter(marked, lambda p: p >= 0)


def phrase_starts(toks: Column, terms: list[str]) -> Column:
    """Array of 1-based start positions where ``terms`` occur contiguously.

    start p qualifies iff p ∈ positions(terms[0]) and for every j ≥ 1,
    token[p + j] == terms[j]. Overlaps count; repeated terms need no
    special casing.

    Round 6 (guide §1.2 per-task work): only the LEAD term pays a
    positions pass; each candidate start is then checked with direct
    ``element_at(toks, p + j) == term`` lookups — O(1) per phrase slot —
    instead of materializing a positions array per unique term and
    scanning it with ``array_contains`` (O(term frequency) per check).
    ``try_element_at`` past the array end yields NULL (plain element_at
    THROWS under ANSI mode, the Spark 4 default), NULL == term is NULL,
    and ``filter`` drops non-true rows — the same outcome as the old
    positions-membership test. ``toks`` must be a BOUND column (projected
    attribute): it is referenced per candidate start (d484e4d law).
    """
    if not terms:
        raise ValueError("empty phrase")

    def _qualifies(p: Column) -> Column:
        conds = [
            F.try_element_at(toks, (p + j).cast("int")) == F.lit(t)
            for j, t in enumerate(terms)
            if j > 0
        ]
        return reduce(lambda a, b: a & b, conds) if conds else F.lit(True)

    return F.filter(token_positions(toks, terms[0]), _qualifies)


def phrase_match_scan(docs: DataFrame, phrases: list[str]) -> DataFrame:
    """docs(doc_id, text) → scan-tier matcher: (phrase, doc_id, n_matches,
    first_pos) for every document containing each phrase at least once.
    One corpus scan for ALL phrases (the per-phrase matchers are stacked
    into a single inline'd struct array), all-JVM, shuffle-free."""
    if not phrases:
        # an empty list would build explode(array()) and fail later with
        # an opaque Catalyst error on the struct-field access (round-5
        # advice) — fail fast instead, matching phrase_starts' term guard
        raise ValueError("no phrases")
    toks = tokens_native_keep_order("text")
    # scan tier is shuffle-free: widen a narrow scan first (no-op at
    # real scale — see sources.registry.spread)
    base = spread(docs).select("doc_id", toks.alias("toks"))
    per_phrase = F.array(
        *[
            F.struct(
                F.lit(p).alias("phrase"),
                phrase_starts(F.col("toks"), p.split()).alias("starts"),
            )
            for p in phrases
        ]
    )
    return (
        base.select("doc_id", F.explode(per_phrase).alias("m"))
        .select(
            F.col("m.phrase").alias("phrase"),
            "doc_id",
            F.size("m.starts").alias("n_matches"),
            F.array_min("m.starts").alias("first_pos"),
        )
        .where(F.col("n_matches") > 0)
    )


def doc_term_positions(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text) → positional postings: (doc_id, term, positions
    array<int>, tf int).

    Same single token-grain shuffle shape as the BM25 tf build
    (operators/stats.py) — posexplode → groupBy(doc_id, term) — with the
    position list carried through ``collect_list`` and sorted so downstream
    consumers (adjacency checks, gap encoding) can rely on monotonicity.
    ``tf`` comes free as ``size(positions)``, so a positional index
    subsumes the frequency index.

    Round-6 note: a repartition(doc_id)-first variant (the
    term_frequencies_with_doclen shape) was measured BOTH ways before
    being rejected — 3.0-4.5 s → 0.87 s at 50k docs (fixed overhead) but
    85-94 s → 100-158 s at 1M docs (interleaved A/B): the raw-doc exchange plus a
    single-phase ObjectHashAggregate over position lists loses to the
    two-phase partial agg once the per-task aggregation map is real, and
    query-tier plans filter terms before the aggregation anyway.
    """
    toks = tokens_native_keep_order("text")
    return (
        docs.select("doc_id", F.posexplode(toks).alias("idx", "term"))
        .groupBy("doc_id", "term")
        .agg(F.sort_array(F.collect_list(F.col("idx") + 1)).alias("positions"))
        .withColumn("tf", F.size("positions"))
    )


def _near_min_gap(pos_a: Column, pos_b: Column) -> Column:
    """Minimum ordered gap b_pos - a_pos over all (a, b) occurrence pairs
    with b after a; NULL when b never follows a. Nested array HOFs — the
    inner `transform` emits each positive gap or NULL, `array_min` ignores
    NULLs, the outer min folds over a's occurrences."""
    per_a = F.transform(
        pos_a,
        lambda p: F.array_min(
            F.transform(pos_b, lambda q: F.when(q > p, q - p))
        ),
    )
    return F.array_min(per_a)


def near_match_scan(
    docs: DataFrame, term_a: str, term_b: str, slop: int,
) -> DataFrame:
    """Ordered NEAR/k over docs(doc_id, text): docs where ``term_b`` occurs
    after ``term_a`` with at most ``slop`` tokens between them (gap =
    pos_b - pos_a - 1 ≤ slop). Returns (doc_id, min_gap int). Scan tier —
    shuffle-free JVM HOFs."""
    toks = tokens_native_keep_order("text")
    base = spread(docs).select("doc_id", toks.alias("toks"))
    # bind pos_b through a single-element transform: the inner per-q
    # lambda in _near_min_gap would otherwise re-derive b's positions for
    # every occurrence of a (d484e4d law)
    pair = F.array(F.struct(
        token_positions(F.col("toks"), term_a).alias("pa"),
        token_positions(F.col("toks"), term_b).alias("pb"),
    ))
    gap = F.element_at(
        F.transform(pair, lambda s: _near_min_gap(s["pa"], s["pb"])), 1
    ) - 1
    return (
        base.select("doc_id", gap.cast("int").alias("min_gap"))
        .where(F.col("min_gap").isNotNull() & (F.col("min_gap") <= slop))
    )


def _term_positions_wide(positional_tf: DataFrame, terms: list[str]
                         ) -> DataFrame:
    """ONE pass over the postings: filter to ``terms``, then a single
    groupBy(doc_id) gathers each term's positions array into its own
    column (``pos_0``…; NULL when the doc lacks the term).

    Round 6 (guide §2.4): the previous per-term filter + k-way doc_id
    join referenced ``positional_tf`` once per distinct term, so when the
    postings are an unmaterialized plan (the contract rows build
    ``doc_term_positions`` inline) the whole tokenize → posexplode
    subtree executed k times. ``first(when(term==t, positions))`` is
    exact here because (doc_id, term) is unique in a postings table."""
    if len(terms) == 1:
        # single distinct term (e.g. the phrase "a a"): the posting list
        # IS the wide row — no gather aggregation, zero shuffle
        return positional_tf.where(F.col("term") == terms[0]).select(
            "doc_id", F.col("positions").alias("pos_0"))
    sel = positional_tf.where(F.col("term").isin(terms)).select(
        "doc_id", "term", "positions")
    return sel.groupBy("doc_id").agg(*[
        F.first(F.when(F.col("term") == t, F.col("positions")),
                ignorenulls=True).alias(f"pos_{k}")
        for k, t in enumerate(terms)
    ])


def near_search_indexed(
    positional_tf: DataFrame, term_a: str, term_b: str, slop: int
) -> DataFrame:
    """NEAR/k over positional postings: the two posting lists are
    gathered in ONE postings pass (``_term_positions_wide``), then the
    same min-gap HOF. Cost bounded by the two terms' document
    frequencies, not the corpus."""
    uniq = list(dict.fromkeys([term_a, term_b]))
    wide = _term_positions_wide(positional_tf, uniq)
    ca = F.col("pos_0")
    cb = F.col(f"pos_{uniq.index(term_b)}")
    gap = _near_min_gap(ca, cb) - 1
    return (
        wide.where(ca.isNotNull() & cb.isNotNull())
        .select("doc_id", gap.cast("int").alias("min_gap"))
        .where(F.col("min_gap").isNotNull() & (F.col("min_gap") <= slop))
    )


def phrase_search_indexed(positional_tf: DataFrame, phrase: str) -> DataFrame:
    """Index-tier phrase query over a `doc_term_positions` table.

    Pulls one posting list per distinct term (term-equality filter →
    partition-prunable on a term-bucketed layout), inner-joins on doc_id
    (docs missing any term can't match), then applies the same
    shifted-containment adjacency as the scan tier. Returns
    (doc_id, n_matches, first_pos), rows only where n_matches > 0.
    """
    terms = phrase.split()
    if not terms:
        raise ValueError("empty phrase")
    uniq = list(dict.fromkeys(terms))
    # one postings pass for all terms (round 6 — see _term_positions_wide)
    # instead of a per-term filter + (k-1)-way doc_id join
    joined = _term_positions_wide(positional_tf, uniq)
    colof = {t: f"pos_{k}" for k, t in enumerate(uniq)}
    joined = joined.where(reduce(
        lambda a, b: a & b,
        [F.col(f"pos_{k}").isNotNull() for k in range(len(uniq))]))

    # starts = pos(t0) ∩ (pos(t1) − 1) ∩ … ∩ (pos(tk) − k): p is a match
    # start iff token[p+j] == terms[j] for all j, i.e. p ∈ pos(t_j) − j.
    # array_intersect is hash-based — O(Σ|pos|) per doc TOTAL — where the
    # old per-candidate array_contains scan was O(|pos(t0)|·Σ|pos|): the
    # round-6 fix for the Zipf-head phrase worst case ("a a": every
    # posting of the corpus head on both sides — BENCH/PHRASE_1M.json).
    # Position lists are distinct+sorted, and array_intersect keeps the
    # first array's order/dedup, so the result is the same sorted start
    # set the filter form produced.
    def _shift(col: Column, j: int) -> Column:
        # NB closure, not a default arg: a 2-parameter lambda in
        # F.transform means (element, index)
        if j == 0:
            return col
        return F.transform(col, lambda x: x - F.lit(j))

    shifted = [_shift(F.col(colof[t]), j) for j, t in enumerate(terms)]
    starts = reduce(F.array_intersect, shifted)
    return (
        # bind starts once: size() and array_min() would otherwise each
        # re-run the whole intersect chain (d484e4d law)
        joined.select("doc_id", starts.alias("__starts"))
        .select(
            "doc_id",
            F.size("__starts").alias("n_matches"),
            F.array_min("__starts").alias("first_pos"),
        )
        .where(F.col("n_matches") > 0)
    )


# ---------------------------------------------------------------------------
# Persisted positional index: term-bucket-partitioned save/load + reader
# ---------------------------------------------------------------------------

def save_positional_index(
    positional_tf: DataFrame, path: str, n_buckets: int = 256
) -> None:
    """Persist a `doc_term_positions` table partitioned by
    ``bucket = pmod(xxhash64(term), n_buckets)``.

    A term lookup then reads exactly ONE of the ``n_buckets`` partition
    directories (Catalyst partition pruning on the literal bucket value —
    visible as PartitionFilters in the scan), so query I/O is
    1/n_buckets of the index regardless of corpus size. Same layout idea
    as the ANN bucket index (similarity.py) and the BM25 shard cache
    (build/manifest.py); n_buckets=256 keeps per-partition files
    fat enough for 128 MB row groups at web scale while still pruning
    99.6% of the index per term. A JSON sidecar ``<path>.meta`` pins
    n_buckets (the reader must hash with the SAME modulus). The old
    sidecar is removed before the parquet is overwritten and the new one
    written atomically after it, so a crash in between leaves an index
    the reader refuses, never one it hashes with a stale modulus."""
    meta = path.rstrip("/") + ".meta"
    if os.path.isdir(meta):  # the Spark-JSON-writer sidecar of older saves
        shutil.rmtree(meta)
    elif os.path.exists(meta):
        os.remove(meta)
    out = positional_tf.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    (out.repartition("bucket")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").partitionBy("bucket").parquet(path))
    write_json_atomic(meta, {"n_buckets": n_buckets,
                             "format": "positional_tf_v1"})


class PositionalIndex:
    """Reader over a saved positional index: phrase / NEAR / boolean
    queries with term-bucket partition pruning injected automatically."""

    def __init__(self, spark, path: str):
        # a missing sidecar (a save that crashed after removing it) raises
        with open(path.rstrip("/") + ".meta") as f:
            self.n_buckets = int(json.load(f)["n_buckets"])
        self._df = spark.read.parquet(path)

    def _pruned(self, terms: list[str]) -> DataFrame:
        """Postings restricted to ``terms``' buckets — the bucket values
        are literals, so the filter prunes partitions at plan time. They
        are computed driver-side with ``spark_xxhash64_str`` (bit-identical
        to Spark's xxhash64, pinned by test); Python's ``%`` on the signed
        key equals Spark's ``pmod``, so planning a query runs no job."""
        buckets = sorted({spark_xxhash64_str(t) % self.n_buckets
                          for t in terms})
        return self._df.where(F.col("bucket").isin(buckets)).drop("bucket")

    def phrase(self, phrase: str) -> DataFrame:
        return phrase_search_indexed(
            self._pruned(list(dict.fromkeys(phrase.split()))), phrase)

    def near(self, term_a: str, term_b: str, slop: int) -> DataFrame:
        return near_search_indexed(
            self._pruned([term_a, term_b]), term_a, term_b, slop)

    def bool_query(self, must=(), should=(), must_not=(),
                   min_should: int = 0) -> DataFrame:
        from .boolquery import bool_query_indexed

        terms = list(dict.fromkeys([*must, *should, *must_not]))
        return bool_query_indexed(
            self._pruned(terms), must=list(must), should=list(should),
            must_not=list(must_not), min_should=min_should)

"""Boolean term queries (MUST / SHOULD / MUST_NOT) — scan + index tiers.

Beyond-reference fulltext capability (the reference ranks a pure OR
bag-of-words BM25; it has no conjunctive or negated retrieval). The two
tiers are proven equivalent by tests/test_boolquery.py.

- **Scan tier** (`bool_query_scan`): token-set membership per document —
  `array_contains` over the parity tokenizer's output, one shuffle-free
  JVM projection. Right for batch labeling jobs.
- **Index tier** (`bool_query_indexed`): the classic inverted-index plan.
  The tf/postings table is filtered to ONLY the query's terms (a
  partition-prunable `term IN (...)` on a term-bucketed layout), then ONE
  groupBy(doc_id) computes, in a single shuffle whose volume is the
  selected postings (not the corpus):
    - matched-MUST distinct-term count  == |must|
    - any-MUST_NOT flag                 == 0
    - matched-SHOULD distinct-term count (returned as n_should for
      ranking / minimum-should-match filtering)
  Docs that contain none of the query's terms never enter the shuffle, so
  query cost is bounded by posting-list sizes — the inverted-index
  property that makes this interactive at 10^12 docs.

Semantics: a document matches iff it contains every MUST term, no
MUST_NOT term, and (when `should` is non-empty and `min_should` > 0) at
least `min_should` SHOULD terms. Output: (doc_id, n_should int).

KNOWN TIER DIVERGENCE (documented per round-5 advice, pinned by
tests/test_boolquery.py::test_should_only_min_should_zero_divergence):
for a should-only query with ``min_should=0`` the scan tier returns
EVERY document (n_should may be 0 — "no minimum" taken literally), while
the index tier can only enumerate documents containing at least one
query term and therefore omits zero-hit docs. An inverted index
fundamentally cannot produce the complement set; callers who want
match-all semantics must use the scan tier or set ``min_should >= 1``
(which makes the tiers identical — the equivalence tests cover every
such combination).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens_native
from ..sources.registry import spread

__all__ = ["bool_query_scan", "bool_query_indexed"]


def _validate(must, should, must_not):
    if not (must or should):
        raise ValueError("need at least one MUST or SHOULD term")
    overlap = (set(must) | set(should)) & set(must_not)
    if overlap:
        raise ValueError(f"terms both positive and MUST_NOT: {overlap}")


def bool_query_scan(
    docs: DataFrame,
    must: list[str] = (),
    should: list[str] = (),
    must_not: list[str] = (),
    min_should: int = 0,
) -> DataFrame:
    """docs(doc_id, text) → (doc_id, n_should int) for the matching docs
    (semantics in the module docstring)."""
    _validate(must, should, must_not)
    toks = F.array_distinct(tokens_native("text"))
    # scan tier is shuffle-free: widen a narrow scan first (no-op at
    # real scale — see sources.registry.spread)
    base = spread(docs).select("doc_id", toks.alias("toks"))
    cond = F.lit(True)
    for t in must:
        cond = cond & F.array_contains("toks", t)
    for t in must_not:
        cond = cond & ~F.array_contains("toks", t)
    n_should = (
        F.size(F.array_intersect("toks", F.array(*[F.lit(t) for t in should])))
        if should else F.lit(0)
    )
    out = base.select("doc_id", n_should.alias("n_should")).where(cond)
    if should and min_should > 0:
        out = out.where(F.col("n_should") >= min_should)
    return out


def bool_query_indexed(
    tf: DataFrame,
    must: list[str] = (),
    should: list[str] = (),
    must_not: list[str] = (),
    min_should: int = 0,
) -> DataFrame:
    """`tf` is any (doc_id, term) postings table (duplicates allowed —
    distinct counts are used), e.g. stats.doc_term_tf or
    phrase.doc_term_positions output."""
    _validate(must, should, must_not)
    must, should, must_not = list(must), list(should), list(must_not)
    all_terms = list(dict.fromkeys([*must, *should, *must_not]))
    sel = tf.where(F.col("term").isin(all_terms)).select("doc_id", "term")
    in_set = lambda ts: F.col("term").isin(ts) if ts else F.lit(False)  # noqa: E731
    agg = sel.groupBy("doc_id").agg(
        F.count_distinct(F.when(in_set(must), F.col("term"))).alias("_m"),
        F.count_distinct(F.when(in_set(should), F.col("term"))).alias("n_should"),
        F.max(F.when(in_set(must_not), 1).otherwise(0)).alias("_x"),
    )
    cond = (F.col("_m") == len(must)) & (F.col("_x") == 0)
    if should and min_should > 0:
        cond = cond & (F.col("n_should") >= min_should)
    return agg.where(cond).select(
        "doc_id", F.col("n_should").cast("int").alias("n_should"))

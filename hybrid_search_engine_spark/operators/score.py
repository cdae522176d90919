"""Exact BM25 scoring: the recompute-from-tf backstop and the index scorer.

Two plans share one contribution expression (``bm25_contribution_sql``):

- ``score_query_terms``/``search``: query terms ⋈ tf ⋈ doc_stats, straight
  from the statistics tables (contract backstop);
- ``search_postings``/``search_postings_batch``: the index query path. The
  posting blocks of the query terms are exploded and scored in whole-stage
  codegen, summed per (shard_id, doc_id) and merged to the top-k. Against
  IndexReader's shard-partitioned cache the aggregate needs no exchange, so
  a single query is one stage plus the driver's TakeOrdered merge, and a
  batch adds exactly one exchange, by query_id, for the per-query window.

The core retrieval join (SURVEY.md J1): query terms ⋈ tf ON term. The query
side is tiny → broadcast hash join; Catalyst prunes the tf scan to matching
terms. Per-term contributions are column arithmetic (whole-stage codegen),
summed per doc, then TakeOrderedAndProject gives the global top-k (bounded
per-partition heap + driver merge — exactly the "bounded min-heap per
partition merged to global top-k" shape).

Formula parity (math contract, /root/reference/search_engine/bm25.py:106-110):
    score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
with idf = ln((N − df + 0.5)/(df + 0.5) + 1), k1=1.5, b=0.75, stopwords
removed (bm25.py:19-35). All arithmetic float64; ranking tie-break
(-round(score,9), doc_id) per SURVEY.md §5.4.

Multi-query batch path: a queries DataFrame joins the same way with the
per-query top-k taken by window W3 instead of a global limit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..localdf import local_df
from ..reference_semantics import tokenize

K1_DEFAULT = 1.5
B_DEFAULT = 0.75
_TOKEN = re.compile(r"[a-z0-9_]+")


def query_terms_df(spark: SparkSession, query: str, remove_stopwords: bool = True,
                   query_id: int = 0) -> DataFrame:
    """Tokenize one query driver-side (queries are tiny; parity tokenizer).

    Duplicate query tokens are kept as weights: the reference sums a
    contribution per query-token occurrence (bm25.py:99-110), so a term
    appearing twice in the query counts its contribution twice.
    """
    toks = tokenize(query, remove_stopwords=remove_stopwords)
    if not toks:
        toks = []
    from collections import Counter

    rows = [(query_id, t, float(w)) for t, w in Counter(toks).items()]
    return local_df(spark, rows, "query_id int, term string, qweight double")


def queries_terms_df(spark: SparkSession, queries: list[tuple],
                     remove_stopwords: bool = True) -> DataFrame:
    """[(query_id, text)] → (query_id, term, qweight)."""
    from collections import Counter

    rows = []
    for qid, text in queries:
        for t, w in Counter(tokenize(text, remove_stopwords=remove_stopwords)).items():
            rows.append((qid, t, float(w)))
    return local_df(spark, rows, "query_id int, term string, qweight double")


def bm25_contribution_sql(k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> str:
    """SQL text of one (term, doc) partial score over columns tf, idf,
    doc_len and a literal avg_doc_len column ``avgdl`` — the one BM25
    expression the build (block max_score) and every scorer share."""
    tf = "CAST(tf AS DOUBLE)"
    return (f"idf * ({tf} * {_sql_lit(k1 + 1.0)}) / ({tf} + {_sql_lit(k1)}"
            f" * ({_sql_lit(1.0 - b)} + {_sql_lit(b)}"
            " * (CAST(doc_len AS DOUBLE) / avgdl)))")


def bm25_contribution(k1: float = K1_DEFAULT, b: float = B_DEFAULT):
    """Column form of ``bm25_contribution_sql``."""
    return F.expr(bm25_contribution_sql(k1, b))


def _sql_lit(v) -> str:
    """SQL literal of a term key (bigint, or a query token) or a weight
    (double). A string that is not a plain token is rejected rather than
    quoted: query tokens are ``[a-z0-9_]+`` (reference_semantics.tokenize)."""
    if isinstance(v, float):
        return f"{v!r}D"
    if isinstance(v, int):
        return f"{v}L"
    if not _TOKEN.fullmatch(v):
        raise ValueError(f"not a query token: {v!r}")
    return f"'{v}'"


def score_query_terms(qterms: DataFrame, tf: DataFrame, tstats: DataFrame,
                      dstats: DataFrame, avg_doc_len: float,
                      k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> DataFrame:
    """→ (query_id, doc_id, score) for all docs with ≥1 matching term.

    Join order is chosen for scale: broadcast the query terms into the tf
    scan (prunes to candidate postings), broadcast term_stats (vocabulary-
    sized), then join doc lengths on the shrunken candidate set.
    """
    qt = qterms.join(F.broadcast(tstats.select("term", "idf")), "term")
    cand = tf.join(F.broadcast(qt), "term")
    cand = cand.join(dstats, "doc_id").withColumn("avgdl", F.lit(float(avg_doc_len)))
    contrib = (bm25_contribution(k1, b) * F.col("qweight")).alias("contrib")
    return (
        cand.select("query_id", "doc_id", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def topk_single(scores: DataFrame, k: int) -> DataFrame:
    """Global top-k under the tie-break protocol → TakeOrderedAndProject."""
    return (
        scores.orderBy(F.round(F.col("score"), 9).desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "score")
    )


def topk_batch(scores: DataFrame, k: int) -> DataFrame:
    """Per-query top-k via window W3 (one shuffle by query_id)."""
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def search(spark: SparkSession, query: str, tf: DataFrame, tstats: DataFrame,
           dstats: DataFrame, avg_doc_len: float, k: int = 10,
           k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> DataFrame:
    """Single-query exact BM25 top-k (sparse: zero-score docs never surface)."""
    qt = query_terms_df(spark, query)
    scores = score_query_terms(qt, tf, tstats, dstats, avg_doc_len, k1, b)
    return topk_single(scores, k)


# ---------------------------------------------------------------------------
# index query path: posting blocks scored in the JVM
# ---------------------------------------------------------------------------

def resolve_term_idf(tstats, terms: list) -> dict:
    """term → idf for the query terms. Accepts a dict (driver-cached) or the
    term_stats DataFrame (point-lookup scan, parquet-pruned by the IN list —
    the web-scale path where the vocabulary can't sit on the driver)."""
    if isinstance(tstats, dict):
        return {t: tstats[t] for t in terms if t in tstats}
    rows = (tstats.where(F.col("term").isin(terms))
            .select("term", "idf").collect())
    return {r["term"]: float(r["idf"]) for r in rows}


def query_weights(queries: list[tuple], tstats, term_key=None,
                  remove_stopwords: bool = True) -> dict:
    """[(query_id, text)] → {query_id: {term: (idf, qweight)}}, with one
    idf lookup for the whole batch. Duplicate query tokens add up into the
    qweight (bm25.py:99-110); terms absent from the index are dropped, and
    so are queries left with no term. ``term_key`` maps a token to the
    index's key (hash domain: ``functions.hashing.spark_xxhash64_str``);
    None = identity (string domain). It applies after tokenization, so
    query weights follow the same collision-merge rule as the build."""
    from collections import Counter

    counts = {}
    for qid, text in queries:
        toks = tokenize(text, remove_stopwords=remove_stopwords)
        if term_key is not None:
            toks = [term_key(t) for t in toks]
        counts[int(qid)] = Counter(toks)
    terms = sorted({t for c in counts.values() for t in c})
    idf = resolve_term_idf(tstats, terms) if terms else {}
    out = {}
    for qid, c in counts.items():
        w = {t: (idf[t], float(n)) for t, n in c.items() if t in idf}
        if w:
            out[qid] = w
    return out


def _index_scores(spark: SparkSession, blocks_sql: str, avg_doc_len: float,
                  k1: float, b: float, keys: str = "", **frames) -> DataFrame:
    """Posting blocks (``blocks_sql``: rows of *keys, shard_id, idf,
    qweight, postings) → (*keys, shard_id, doc_id, score). Grouping on
    shard_id lets a shard-partitioned input satisfy the aggregate without
    an exchange. One SQL text, so building a query's plan is one parse and
    one analysis instead of one per DataFrame call (measured ~100 → ~15 ms
    of driver time per query). ``frames`` are DataFrames the text names as
    ``{name}`` (spark.sql registers them as temp views for the call)."""
    return spark.sql(f"""
        SELECT {keys}shard_id, doc_id,
               sum(({bm25_contribution_sql(k1, b)}) * qweight) AS score
        FROM (SELECT {keys}shard_id, idf, qweight,
                     {_sql_lit(float(avg_doc_len))} AS avgdl,
                     inline(postings)
              FROM ({blocks_sql}))
        GROUP BY {keys}shard_id, doc_id""", **frames)


def search_postings(spark: SparkSession, postings_view: str, weights: dict,
                    avg_doc_len: float, k: int = 10, k1: float = K1_DEFAULT,
                    b: float = B_DEFAULT) -> DataFrame:
    """One query's top-k → (doc_id, score) over the posting blocks in temp
    view ``postings_view``. ``weights``: term → (idf, qweight), non-empty
    (``query_weights``). They ride as literal map expressions, so the plan
    has no join: filter → explode → contribution → sum →
    TakeOrderedAndProject."""
    terms = sorted(weights)

    def lit_map(i: int) -> str:
        return "map(" + ", ".join(
            f"{_sql_lit(t)}, {_sql_lit(weights[t][i])}" for t in terms) + ")"

    blocks = (f"SELECT shard_id, {lit_map(0)}[term] AS idf, "
              f"{lit_map(1)}[term] AS qweight, postings FROM {postings_view} "
              f"WHERE term IN ({', '.join(map(_sql_lit, terms))})")
    return topk_single(_index_scores(spark, blocks, avg_doc_len, k1, b), k)


def search_postings_batch(spark: SparkSession, postings_view: str,
                          weights: dict, avg_doc_len: float, k: int = 10,
                          k1: float = K1_DEFAULT,
                          b: float = B_DEFAULT) -> DataFrame:
    """Many queries in one plan → (query_id, rank, doc_id, score).
    ``weights``: query_id → {term: (idf, qweight)}, non-empty. The
    (query_id, term, idf, qweight) table is broadcast-joined to the
    blocks; the per-query top-k is the row_number window of topk_batch."""
    terms = sorted({t for w in weights.values() for t in w})
    key_type = "bigint" if isinstance(terms[0], int) else "string"
    rows = [(qid, t, idf, qw) for qid, w in sorted(weights.items())
            for t, (idf, qw) in sorted(w.items())]
    queries = local_df(spark, rows, f"query_id int, term {key_type}, "
                                    "idf double, qweight double")
    blocks = ("SELECT /*+ BROADCAST(q) */ q.query_id, p.shard_id, q.idf, "
              f"q.qweight, p.postings FROM {postings_view} p "
              "JOIN {queries} q ON p.term = q.term "
              f"WHERE p.term IN ({', '.join(map(_sql_lit, terms))})")
    return topk_batch(_index_scores(spark, blocks, avg_doc_len, k1, b,
                                    "query_id, ", queries=queries), k)

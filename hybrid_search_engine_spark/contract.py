"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry implements one operator family from SURVEY.md §2 over the driver's
testdata tables and has a matching ANSI-SQL oracle the driver runs in DuckDB
(same parquet, row-count + schema + order-insensitive value-hash compare).

Conventions that make the hash comparison robust:
- every computed column is aliased identically on both sides;
- float aggregates are rounded (6 decimals; money 2) on both sides so
  summation-order ulps can't flip the hash;
- counts/sums of integers are CAST to BIGINT in DuckDB (its SUM(BIGINT)
  returns HUGEINT, Spark returns long);
- NULL text is coalesced to '' on both sides before tokenization;
- ORDER-dependent outputs (top-k) carry an explicit deterministic tie-break.

The documents corpus is ASCII (verified), so the native JVM tokenizer —
proven equivalent to the Python parity tokenizer on ASCII by property test —
is used Spark-side, keeping the whole contract inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import (
    WS_CHARS_SQL,
    WS_CLASS_SQL,
    preprocess_native,
    tokens_native,
    tokens_native_keep_order,
)
from .localdf import local_df
from .operators import score as score_ops
from .operators import stats as stats_ops
from .reference_semantics import STOPWORDS
from .sources.registry import load_table

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

STOP_SQL = "(" + ",".join(f"'{w}'" for w in sorted(STOPWORDS)) + ")"

# DuckDB: tokens of coalesce(text,''), lowercased, [a-z0-9_]+, minus stopwords
TOK_SQL = (
    "list_filter(regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+'), "
    f"t -> t NOT IN {STOP_SQL})"
)
TOK_ALL_SQL = "regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+')"

FLAGSHIP_QUERY = "spark query window fast"
FLAGSHIP_TERMS = FLAGSHIP_QUERY.split()
K1, B = score_ops.K1_DEFAULT, score_ops.B_DEFAULT


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.withColumn("text", F.coalesce(F.col("text"), F.lit("")))


# ---------------------------------------------------------------------------
# A1: per-doc term frequency
# ---------------------------------------------------------------------------

def q_doc_term_tf(spark, sf_dir):
    tf, tstats, scalars = _doc_statistics(spark, sf_dir)
    return tf.select("doc_id", "term", "tf")


SQL_DOC_TERM_TF = f"""
SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
GROUP BY doc_id, term
"""

# ---------------------------------------------------------------------------
# A2+A4: term stats (df, cf, idf)
# ---------------------------------------------------------------------------

def q_term_stats(spark, sf_dir):
    # reuses the session-cached statistics (no separate count job per call)
    tf, tstats, scalars = _doc_statistics(spark, sf_dir)
    return tstats.select("term", "df", "cf", F.round("idf", 6).alias("idf_r"))


SQL_TERM_STATS = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
  GROUP BY doc_id, term
), n AS (SELECT count(*)::DOUBLE AS n FROM documents)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       round(ln((n.n - count(*) + 0.5) / (count(*) + 0.5) + 1.0), 6) AS idf_r
FROM tf, n GROUP BY term, n.n
"""

# ---------------------------------------------------------------------------
# A5: doc lengths
# ---------------------------------------------------------------------------

def q_doc_stats(spark, sf_dir):
    # every tf row carries its doc's length; token-empty docs have no row,
    # as in the oracle's GROUP BY over unnested tokens
    tf, tstats, scalars = _doc_statistics(spark, sf_dir)
    return tf.select("doc_id", "doc_len").distinct()


SQL_DOC_STATS = f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len
FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# A3: corpus scalars
# ---------------------------------------------------------------------------

def q_corpus_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    dl = docs.select(
        F.size(tokens_native_keep_order("text", remove_stopwords=True)).alias("dl")
    )
    return dl.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.round(F.avg("dl"), 6).alias("avg_doc_len"),
    )


SQL_CORPUS_STATS = f"""
SELECT CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(len({TOK_SQL})), 6) AS avg_doc_len
FROM documents
"""

# ---------------------------------------------------------------------------
# Flagship: BM25 top-k (J1 + T1), exact path
# ---------------------------------------------------------------------------

_STATS_CACHE: dict = {}


def _doc_statistics(spark, sf_dir):
    """Session-scoped cache of ``stats.build_statistics``' (tf, tstats,
    scalars) per sf_dir — several contract queries and the bench share
    them; statistics are deterministic so reuse is safe."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _STATS_CACHE.get(key)
    if got is None:
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        got = stats_ops.build_statistics(docs)
        _STATS_CACHE[key] = got
    return got


def q_bm25_topk(spark, sf_dir, query: str = FLAGSHIP_QUERY, k: int = 10):
    tf, tstats, scalars = _doc_statistics(spark, sf_dir)
    res = score_ops.search(spark, query, tf, tstats, scalars.avg_doc_len,
                           k=k)
    return res.select("doc_id", F.round("score", 6).alias("score_r"))


def _bm25_sql(query_terms: list[str], k: int = 10) -> str:
    terms_sql = "(" + ",".join(f"'{t}'" for t in query_terms) + ")"
    return f"""
WITH tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
  GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
avgdl AS (
  SELECT sum(len({TOK_SQL}))::DOUBLE / (SELECT n FROM n) AS avgdl FROM documents
),
ts AS (
  SELECT term, ln(((SELECT n FROM n) - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
  FROM tf GROUP BY term
),
scores AS (
  SELECT tf.doc_id,
         sum(ts.idf * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / (SELECT avgdl FROM avgdl)))
         ) AS score
  FROM tf JOIN ts USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN {terms_sql}
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score_r FROM scores
ORDER BY round(score, 9) DESC, doc_id LIMIT {k}
"""


SQL_BM25_TOPK = _bm25_sql(FLAGSHIP_TERMS)

# ---------------------------------------------------------------------------
# Planted unicode-whitespace docs — unioned into the preprocess and
# dedup_exact contract queries on BOTH engines, so the oracle hash gate
# exercises the unicode strip/collapse path (driver testdata text is
# ASCII-only). 900000003/900000004 differ only in surrounding unicode
# whitespace, so dedup_exact must group them — under an ASCII trim set
# they would hash apart.
# ---------------------------------------------------------------------------

PLANTED_WS_DOCS = [
    (900000001, " \u00a0Hello\u00a0world.\u2028Next\tline.\u3000"),
    (900000002, "\u2009thin\u200aspaces\u0085and\u202fNEL\u1680mark"),
    (900000003, "\u00a0\u3000Duplicate Body.\u2028\u2029"),
    (900000004, "\t Duplicate Body. \u2000"),
]


def _sql_str(s: str) -> str:
    """DuckDB expression for a string literal, non-ASCII spelled as chr()
    concats so the oracle SQL text stays pure ASCII."""
    if not s:
        return "''"
    parts: list[str] = []
    run = ""
    for ch in s:
        if 32 <= ord(ch) < 127 and ch != "'":
            run += ch
        else:
            if run:
                parts.append(f"'{run}'")
                run = ""
            parts.append(f"chr({ord(ch)})")
    if run:
        parts.append(f"'{run}'")
    return " || ".join(parts)


_PLANTED_WS_SQL = " UNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS doc_id, {_sql_str(t)} AS text"
    for i, t in PLANTED_WS_DOCS)
DOCS_PLUS_PLANTED_SQL = (
    f"(SELECT doc_id, text FROM documents UNION ALL {_PLANTED_WS_SQL})")


def _docs_with_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # local_df, not createDataFrame: a Python-list DF is a Python-RDD scan
    # that forks a pyspark worker per action (~0.5 s); the VALUES-rendered
    # LocalRelation unions with the parquet scan at zero marginal cost
    d = _docs(spark, sf_dir).select("doc_id", "text")
    p = local_df(spark, PLANTED_WS_DOCS, "doc_id long, text string")
    return d.unionByName(p)


# ---------------------------------------------------------------------------
# P2: preprocess (whitespace normalization)
# ---------------------------------------------------------------------------

def q_preprocess(spark, sf_dir):
    return _docs_with_planted(spark, sf_dir).select(
        "doc_id", preprocess_native("text").alias("norm_text")
    )


# trim set + class are the Python unicode whitespace set (functions/text.py
# PY_WS) — DuckDB's bare trim() strips only U+0020 and RE2's \s is ASCII,
# while the parity semantics are Python str.strip() / re \s (unicode).
SQL_PREPROCESS = f"""
SELECT doc_id,
       regexp_replace(trim(coalesce(text,''), {WS_CHARS_SQL}),
                      '{WS_CLASS_SQL}+', ' ', 'g') AS norm_text
FROM {DOCS_PLUS_PLANTED_SQL} documents
"""

# ---------------------------------------------------------------------------
# P3: doc metadata projection
# ---------------------------------------------------------------------------

def q_doc_metadata(spark, sf_dir):
    from .functions.text import doc_metadata_df

    d = doc_metadata_df(_docs(spark, sf_dir))
    return d.select(
        "doc_id", "char_count", "word_count", "unique_words",
        F.round("avg_word_length", 6).alias("avg_word_length_r")
    )


SQL_DOC_METADATA = f"""
SELECT doc_id,
       length(coalesce(text,'')) AS char_count,
       CAST(len({TOK_ALL_SQL}) AS INTEGER) AS word_count,
       CAST(len(list_distinct({TOK_ALL_SQL})) AS INTEGER) AS unique_words,
       round(CASE WHEN len({TOK_ALL_SQL}) > 0
             THEN list_aggregate(list_transform({TOK_ALL_SQL}, t -> length(t)), 'sum')::DOUBLE
                  / len({TOK_ALL_SQL})
             ELSE 0.0 END, 6) AS avg_word_length_r
FROM documents
"""

# ---------------------------------------------------------------------------
# TPC-H-ish relational operators
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_nation_revenue(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


SQL_NATION_REVENUE = """
SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_top_orders_per_customer(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) WHERE rn <= 3
"""


def q_topk_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice_r"))
    )


SQL_TOPK_ORDERS = """
SELECT o_orderkey, round(o_totalprice, 2) AS totalprice_r
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def q_orders_page(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey").offset(100).limit(50)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


SQL_ORDERS_PAGE = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders ORDER BY o_orderkey OFFSET 100 LIMIT 50
"""

# ---------------------------------------------------------------------------
# SO1-SO3: token set ops — per-doc overlap with the flagship query terms
# ---------------------------------------------------------------------------

def q_token_overlap(spark, sf_dir):
    d = _docs(spark, sf_dir)
    qarr = F.array(*[F.lit(t) for t in FLAGSHIP_TERMS])
    toks = F.array_distinct(tokens_native("text", remove_stopwords=True))
    inter = F.size(F.array_intersect(toks, qarr))
    return d.select(
        "doc_id",
        inter.alias("n_shared"),
        F.round(inter.cast("double") / F.lit(float(len(FLAGSHIP_TERMS))), 6).alias("overlap_r"),
    )


SQL_TOKEN_OVERLAP = f"""
SELECT doc_id,
       CAST(len(list_intersect(list_distinct({TOK_SQL}),
            {list(FLAGSHIP_TERMS)!r})) AS INTEGER) AS n_shared,
       round(len(list_intersect(list_distinct({TOK_SQL}),
            {list(FLAGSHIP_TERMS)!r}))::DOUBLE / {float(len(FLAGSHIP_TERMS))}, 6) AS overlap_r
FROM documents
"""

# ---------------------------------------------------------------------------
# F10: JSON extraction over events
# ---------------------------------------------------------------------------

def q_events_json(spark, sf_dir):
    from .sources.registry import spread

    # the JSON parse is the heavy map work and the events parquet arrives
    # as only a few row-group splits — widen before parsing (no-op at
    # real scale; measured 2.54 -> 1.04 s at sf1.0, guide §2.5 input
    # parallelism)
    e = spread(load_table(spark, sf_dir, "events"))
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


SQL_EVENTS_JSON = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k
FROM events GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# Dedup: exact (sha256 groups)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from .operators.dedup import norm_content

    d = _docs_with_planted(spark, sf_dir)
    w = Window.partitionBy("h")
    return (
        d.withColumn("h", F.sha2(norm_content(F.col("text")), 256))
        .withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "canonical_doc_id",
            (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
        )
    )


# lower(trim(..)) = the reference's content normalization before hashing
# (deduplication.py:111-125); the trim char set is Python str.strip()'s
# unicode whitespace set (29 code points — functions/text.py PY_WS)
NORM_SQL = f"lower(trim(coalesce(text,''), {WS_CHARS_SQL}))"

SQL_DEDUP_EXACT = f"""
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY sha256({NORM_SQL})) AS canonical_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY sha256({NORM_SQL})) AS is_duplicate
FROM {DOCS_PLUS_PLANTED_SQL} documents
"""

# ---------------------------------------------------------------------------
# Windowed event counts (batch analogue of the streaming agg)
# ---------------------------------------------------------------------------

def utc_hour_str(ts_col) -> F.Column:
    """'yyyy-MM-dd HH:00:00' of the UTC wall clock of a timestamp instant,
    independent of ``spark.sql.session.timeZone``.

    The grading driver runs queries() under a vanilla session whose TZ we
    don't control; ``date_format``/``date_trunc`` render in session TZ and
    would flip the hour strings off the DuckDB oracle (which reads parquet
    timestamps as naive UTC) on a non-UTC host. Epoch arithmetic + DATE
    rendering is TZ-free: ``unix_timestamp`` of a TIMESTAMP is the stored
    instant regardless of session TZ, and DATE→string casts carry no TZ."""
    ep = F.unix_timestamp(ts_col)
    hour_ep = F.floor(ep / 3600) * 3600
    d = F.date_from_unix_date(F.floor(hour_ep / 86400).cast("int"))
    hh = F.floor(F.pmod(hour_ep, 86400) / 3600).cast("int")
    return F.concat(d.cast("string"), F.lit(" "),
                    F.lpad(hh.cast("string"), 2, "0"), F.lit(":00:00"))


def q_event_windows(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            utc_hour_str(F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


SQL_EVENT_WINDOWS = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "doc_term_tf": q_doc_term_tf,
    "term_stats": q_term_stats,
    "doc_stats": q_doc_stats,
    "corpus_stats": q_corpus_stats,
    "bm25_topk": q_bm25_topk,
    "preprocess": q_preprocess,
    "doc_metadata": q_doc_metadata,
    "pricing_summary": q_pricing_summary,
    "nation_revenue": q_nation_revenue,
    "top_orders_per_customer": q_top_orders_per_customer,
    "topk_orders": q_topk_orders,
    "orders_page": q_orders_page,
    "token_overlap": q_token_overlap,
    "events_json": q_events_json,
    "dedup_exact": q_dedup_exact,
    "event_windows": q_event_windows,
}

ORACLES = {
    "doc_term_tf": SQL_DOC_TERM_TF,
    "term_stats": SQL_TERM_STATS,
    "doc_stats": SQL_DOC_STATS,
    "corpus_stats": SQL_CORPUS_STATS,
    "bm25_topk": SQL_BM25_TOPK,
    "preprocess": SQL_PREPROCESS,
    "doc_metadata": SQL_DOC_METADATA,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "nation_revenue": SQL_NATION_REVENUE,
    "top_orders_per_customer": SQL_TOP_ORDERS_PER_CUSTOMER,
    "topk_orders": SQL_TOPK_ORDERS,
    "orders_page": SQL_ORDERS_PAGE,
    "token_overlap": SQL_TOKEN_OVERLAP,
    "events_json": SQL_EVENTS_JSON,
    "dedup_exact": SQL_DEDUP_EXACT,
    "event_windows": SQL_EVENT_WINDOWS,
}

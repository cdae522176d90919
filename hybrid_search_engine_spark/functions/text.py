"""Spark-side text functions: parity pandas UDFs + fast native variants.

Two tiers, chosen per call site:

1. **Parity tier** (Arrow pandas UDFs wrapping
   :mod:`..reference_semantics`): used wherever the output is part of the
   byte-identity contract — the `text` extraction column. Python-regex
   semantics exactly (unicode ``\\s``, ``str.lower``), vectorized per Arrow
   batch, no per-row Python at the plan level. ``tokenize_nostop_udf`` is
   the reference tokenizer as a UDF, against which the native tier's
   tokens are tested; BM25 statistics never run it.

2. **Native tier** (pure ``pyspark.sql.functions`` column expressions):
   whole-stage-codegen'd JVM regexps for hot paths where we have proven (test
   ``tests/test_text.py::test_native_matches_parity_on_ascii``) the corpus
   alphabet makes them equivalent (ASCII corpora). At 100 TB the native tier
   keeps extraction inside codegen and off the Python workers entirely. The
   BM25 statistics tokenize with the same expression
   (``operators/stats.py::term_frequencies_with_doclen``).

Reference semantics: /root/reference/search_engine/extractor.py:6-52.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..reference_semantics import (
    STOPWORDS,
    extract_text,
    preprocess_text,
    strip_html,
    tokenize,
)

STOPWORDS_SORTED = sorted(STOPWORDS)

# Python's whitespace set: the 29 BMP code points where str.isspace() is
# true — identical to what `str.strip()` (no args) strips and what Python
# `re \s` matches on str. Java and RE2 `\s` are ASCII-only, so every
# JVM-native form that mirrors a reference `.strip()` / `.split()` /
# `\s` uses these explicit sets instead (web text is full of U+00A0).
PY_WS = ("\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
         + "".join(map(chr, range(0x2000, 0x200B)))
         + "\u2028\u2029\u202f\u205f\u3000")
assert len(PY_WS) == 29 and all(c.isspace() for c in PY_WS)
# regex char classes — the literal chars are class-safe in both Java and
# RE2 (none of ]^-\ are whitespace)
WS_CLASS = "[" + PY_WS + "]"
NONWS_CLASS = "[^" + PY_WS + "]"
# SQL-side equivalents for the DuckDB oracles: a chr()-concat trim set and
# \x{..}-escaped classes (RE2 hex escapes; keeps the SQL text ASCII)
WS_CHARS_SQL = " || ".join(f"chr({ord(c)})" for c in PY_WS)
WS_CLASS_SQL = "[" + "".join(f"\\x{{{ord(c):02x}}}" for c in PY_WS) + "]"
NONWS_CLASS_SQL = ("[^" + "".join(f"\\x{{{ord(c):02x}}}" for c in PY_WS)
                   + "]")


# --------------------------------------------------------------------------
# Parity tier — Arrow pandas UDFs
# --------------------------------------------------------------------------

@pandas_udf(T.StringType())
def preprocess_udf(text: pd.Series) -> pd.Series:
    return text.map(preprocess_text)


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series, fallback: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_text(h, t) for h, t in zip(html, fallback)], dtype="object"
    )


@pandas_udf(T.ArrayType(T.StringType()))
def tokenize_nostop_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda s: tokenize(s, remove_stopwords=True))


# --------------------------------------------------------------------------
# Native tier — JVM column expressions (codegen, no Python workers)
# --------------------------------------------------------------------------

def tokens_native(col: Column | str, remove_stopwords: bool = False) -> Column:
    """``[A-Za-z0-9_]+`` findall as a JVM expression.

    ``regexp_extract_all`` of the POSITIVE class — never ``split`` on the
    complement class, whose negated-predicate path in java.util.regex runs
    a per-char lambda (measured 6.8× slower on a 1.2 GB corpus, see
    operators/stats.py). No empty tokens are produced, so no filter HOF.
    Equivalent to the parity UDF on ASCII input (property-tested); on a
    100 TB run this is the default path with the UDF reserved for
    non-ASCII partitions.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z0-9_]+"), 0)
    if remove_stopwords:
        toks = F.array_except(toks, F.array(*[F.lit(s) for s in STOPWORDS_SORTED]))
    return toks


def tokens_native_keep_order(col: Column | str, remove_stopwords: bool = False) -> Column:
    """Order/duplicate-preserving stopword filter. ``tokens_native``'s
    array_except DEDUPS the array — fine for df / set-membership, but wrong
    for tf weighting or whenever token sequence/multiplicity matters; use
    this variant there."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z0-9_]+"), 0)
    if remove_stopwords:
        stop = F.array(*[F.lit(s) for s in STOPWORDS_SORTED])
        toks = F.filter(toks, lambda x: ~F.array_contains(stop, x))
    return toks


def preprocess_native(col: Column | str) -> Column:
    """JVM whitespace normalization, unicode-exact to the parity UDF:
    ``re.sub(r'\\s+', ' ', text.strip())`` with Python's whitespace set
    spelled out as an explicit class (Java ``\\s`` alone is ASCII-only)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.btrim(c, F.lit(PY_WS)), WS_CLASS + "+", " ")


# --------------------------------------------------------------------------
# Extraction stage (input_hint pipeline: html:binary → text:string)
# --------------------------------------------------------------------------

def with_extracted_text(df):
    """pages(url, warc_ts, html, text, lang) → same with `text` populated.

    Parity invariant (BASELINE.json input_hint): text == byte-identical
    ``preprocess_text(strip_html(html))`` per url; NULL html rows keep their
    preprocessed existing text.
    """
    return df.withColumn("text", extract_text_udf(F.col("html"), F.col("text")))


def doc_metadata_cols(text_col: str = "text") -> list[Column]:
    """char/word/unique/avg-word-length as native expressions
    (parity: extractor.py:55-71, tested vs reference_semantics.doc_metadata)."""
    toks = tokens_native(text_col)
    return [
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("char_count"),
        F.size(toks).alias("word_count"),
        F.size(F.array_distinct(toks)).alias("unique_words"),
        F.when(F.size(toks) > 0,
               F.aggregate(toks, F.lit(0).cast("double"),
                           lambda acc, x: acc + F.length(x)) / F.size(toks))
        .otherwise(F.lit(0.0))
        .alias("avg_word_length"),
    ]


def doc_metadata_df(docs):
    """docs(doc_id, text) → (doc_id, char_count, word_count, unique_words,
    avg_word_length): the four doc_metadata columns, with the token array
    BOUND as a projected attribute first (round 6, guide §7.2): the
    Column-list form re-runs the tokenizer regexp once per output column
    that references it (word_count, unique_words, avg_word_length —
    measured 1.8 s vs 0.9 s over 50k docs at sf1.0). Same output as
    ``docs.select("doc_id", *doc_metadata_cols("text"))``."""
    c = F.coalesce(F.col("text"), F.lit(""))
    s1 = docs.select("doc_id", c.alias("__t"),
                     tokens_native(F.col("text")).alias("__tk"))
    tk = F.col("__tk")
    n_tok = F.size(tk)
    return s1.select(
        "doc_id",
        F.length(F.col("__t")).alias("char_count"),
        n_tok.alias("word_count"),
        F.size(F.array_distinct(tk)).alias("unique_words"),
        F.when(n_tok > 0,
               F.aggregate(tk, F.lit(0).cast("double"),
                           lambda acc, x: acc + F.length(x)) / n_tok)
        .otherwise(F.lit(0.0))
        .alias("avg_word_length"),
    )


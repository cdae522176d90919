"""Chunking, highlighting, autocomplete — reference outer surface as
native Spark expressions (SURVEY.md §2 F4-F6, SO5, A9/T7).

- chunkers (chunker.py semantics): sentence split on `(?<=[.!?])\\s+`
  (chunker.py:40,235), paragraph split on `\\n\\s*\\n` (chunker.py:89),
  fixed-size token windows with overlap
- highlighter (highlighter.py:60-65): case-insensitive word-boundary
  `<mark>` wrapping of query terms
- autocomplete (autocomplete.py:46-66,139-165): frequency-aggregated prefix
  suggestions — a trie is a serve-side structure; at rest this is
  groupBy + LIKE 'prefix%' + top-n
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import PY_WS, tokens_native


# ---------------------------------------------------------------------------
# chunkers
# ---------------------------------------------------------------------------

def split_sentences(text_col) -> Column:
    """Sentence split, each part stripped (chunker.py:42-45: the reference
    strips the text and every sentence). Java regex supports the
    lookbehind the reference uses."""
    from ..functions.text import WS_CLASS

    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col,
                   F.lit(""))
    parts = F.transform(F.split(c, "(?<=[.!?])" + WS_CLASS + "+"),
                        lambda x: F.btrim(x, F.lit(PY_WS)))
    return F.filter(parts, lambda x: x != "")


def split_paragraphs(text_col) -> Column:
    """Paragraph split on blank lines, each part stripped
    (chunker.py:88-90)."""
    from ..functions.text import WS_CLASS

    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col,
                   F.lit(""))
    parts = F.transform(F.split(c, "\n" + WS_CLASS + "*\n"),
                        lambda x: F.btrim(x, F.lit(PY_WS)))
    return F.filter(parts, lambda x: x != "")


def chunk_documents(docs: DataFrame, mode: str = "sentence",
                    chunk_tokens: int = 64, overlap: int = 16,
                    max_sentences: int = 1, overlap_sentences: int = 0,
                    window_chars: int = 512, overlap_chars: int = 128
                    ) -> DataFrame:
    """docs(doc_id, text) → (doc_id, chunk_id, chunk_text).
    mode ∈ sentence|paragraph|paragraph_merged|fixed|chars.

    sentence mode with ``max_sentences`` > 1 groups consecutive sentences
    into space-joined windows stepping ``max_sentences - overlap_sentences``
    (chunker.py SentenceChunker:47-73; its defaults are 3/1). The default
    1/0 keeps one sentence per chunk.

    fixed mode: sliding TOKEN windows of `chunk_tokens` with `overlap`.

    chars mode: sliding CHARACTER windows of ``window_chars`` with
    ``overlap_chars``, each window stripped, empty windows dropped without
    consuming a chunk_id, iteration stopping once a window reaches the end
    of the text (chunker.py SlidingWindowChunker:165-199 — parity-tested
    directly against the reference in tests/test_reference_parity_ops.py).

    All modes are native sequence/transform/posexplode plans — no UDF."""
    if mode in ("sentence", "paragraph"):
        parts = (split_sentences("text") if mode == "sentence"
                 else split_paragraphs("text"))
        if mode == "sentence" and max_sentences > 1:
            step = max_sentences - overlap_sentences
            if step <= 0:  # chunker.py:69-71 degenerate-overlap guard
                step = max_sentences
            # bind the sentence array once — referencing `parts` inside the
            # per-window lambdas would re-run the split per window position
            base = docs.select("doc_id", parts.alias("__parts"))
            p = F.col("__parts")
            n = F.size(p)
            starts = F.filter(
                F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                           F.lit(step)),
                lambda i: i < n)
            chunks = F.transform(
                starts,
                lambda i: F.concat_ws(
                    " ", F.slice(p, i + 1, F.lit(max_sentences))))
            return base.select(
                "doc_id",
                F.posexplode(chunks).alias("chunk_id", "chunk_text"))
        return docs.select(
            "doc_id", F.posexplode(parts).alias("chunk_id", "chunk_text"))
    if mode == "paragraph_merged":
        from pyspark.sql import types as T

        udf = _paragraph_merge_udf()
        return docs.select(
            "doc_id",
            F.posexplode(udf(F.coalesce(F.col("text"), F.lit(""))))
            .alias("chunk_id", "chunk_text"))
    if mode == "chars":
        step = max(1, window_chars - overlap_chars)
        c = F.coalesce(F.col("text"), F.lit(""))
        n = F.length(c)
        starts = F.filter(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step)),
            # stop once the previous window already reached the end
            lambda i: (i < n) & ((i == 0) | (i - step + window_chars < n)))
        windows = F.filter(
            F.transform(starts, lambda i: F.btrim(
                c.substr(i + 1, F.lit(window_chars)), F.lit(PY_WS))),
            lambda x: x != "")
        return docs.select(
            "doc_id", F.posexplode(windows).alias("chunk_id", "chunk_text"))
    if mode != "fixed":
        raise ValueError(mode)
    step = max(1, chunk_tokens - overlap)
    toks = tokens_native("text")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - 1, F.lit(0)),
        F.lit(step),
    )
    return (
        docs.select("doc_id", toks.alias("toks"),
                    F.posexplode(starts).alias("chunk_id", "start"))
        .where(F.col("start") < F.size("toks"))
        .select(
            "doc_id", "chunk_id",
            F.concat_ws(" ", F.slice("toks", F.col("start") + 1,
                                     F.lit(chunk_tokens))).alias("chunk_text"),
        )
    )


def merge_paragraph_chunks(text: str, min_length: int = 50,
                           max_length: int = 1000) -> list[str]:
    """The reference ParagraphChunker's sequential merge (chunker.py:87-163),
    mirrored step for step: paragraphs under ``max_length`` are greedily
    packed into "\\n\\n"-joined chunks; an over-long paragraph flushes the
    pack and is sub-split by SentenceChunker(5, 1); a final pack shorter
    than ``min_length`` is appended to the previous chunk if one exists.
    Pure per-document logic — the Spark surface wraps it in an Arrow UDF
    (chunk_documents mode='paragraph_merged'); parity-tested directly
    against the reference class in tests/test_reference_parity_ops.py."""
    paragraphs = [p.strip() for p in re.split(r"\n\s*\n", text.strip())
                  if p.strip()]
    chunks: list[str] = []
    current = ""
    for para in paragraphs:
        if len(para) > max_length:
            if current:
                chunks.append(current)
                current = ""
            sents = [s.strip() for s in re.split(r"(?<=[.!?])\s+",
                                                 para.strip()) if s.strip()]
            i = 0
            while i < len(sents):
                end = min(i + 5, len(sents))
                chunks.append(" ".join(sents[i:end]))
                i += 4  # SentenceChunker(5, 1) step (chunker.py:165-171)
        else:
            if len(current) + len(para) + 1 <= max_length:
                current = current + "\n\n" + para if current else para
            else:
                if current:
                    chunks.append(current)
                current = para
    if current and len(current) >= min_length:
        chunks.append(current)
    elif current and chunks:
        chunks[-1] += "\n\n" + current
    elif current:
        chunks.append(current)
    return chunks


_PARA_UDF = []


def _paragraph_merge_udf():
    if _PARA_UDF:
        return _PARA_UDF[0]
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from .. import ensure_udf_serializable

    ensure_udf_serializable()

    @pandas_udf(T.ArrayType(T.StringType()))
    def _merge(s: pd.Series) -> pd.Series:
        return s.map(lambda t: merge_paragraph_chunks(t or ""))

    _PARA_UDF.append(_merge)
    return _merge


def best_chunk_per_doc(chunk_scores: DataFrame) -> DataFrame:
    """chunk_scores(doc_id, chunk_id, score, ...) → the same rows, one per
    doc: parent-doc dedup keeping the best chunk (pipelines.py:166-183,
    W2)."""
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("chunk_id").asc())
    return (chunk_scores.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))


# ---------------------------------------------------------------------------
# highlighter
# ---------------------------------------------------------------------------

def highlight(text_col, query_terms: list[str], tag: str = "mark") -> Column:
    """`(?i)\\b(t1|t2)\\b` → <mark>$1</mark> (highlighter.py:60-65)."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col,
                   F.lit(""))
    if not query_terms:
        return c
    pat = "(?i)\\b(" + "|".join(re.escape(t) for t in query_terms) + ")\\b"
    return F.regexp_replace(c, pat, f"<{tag}>$1</{tag}>")


def snippet(text_col, query_terms: list[str], radius_chars: int = 80
            ) -> Column:
    """First-match window snippet: locate the earliest query term
    (case-insensitive), slice ±radius (highlighter snippet semantics,
    SO5 overlap suppression approximated by the single-window form)."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col,
                   F.lit(""))
    if not query_terms:
        return F.substring(c, 1, 2 * radius_chars)
    pat = "(?i)\\b(" + "|".join(re.escape(t) for t in query_terms) + ")\\b"
    pos = F.coalesce(F.nullif(F.regexp_instr(c, F.lit(pat)), F.lit(0)), F.lit(1))
    start = F.greatest(pos - radius_chars, F.lit(1))
    return F.substring(c, start.cast("int"), 2 * radius_chars)


def extract_snippets(df: DataFrame, query: str,
                     snippet_length: int = 150, max_snippets: int = 3
                     ) -> DataFrame:
    """df(text, ...) → the same plus ``snippets``: SO5 full form, per-row
    multi-position snippets with overlap suppression (reference
    highlighter.py:68-145).

    Semantics note: the reference checks overlap against ``used_positions``
    while collecting positions (highlighter.py:94-99), but only populates
    that set AFTER collection (highlighter.py:136) — the suppression is
    dead code and its runtime behavior is "3 earliest positions, overlaps
    allowed". We implement the stated INTENT: greedy left-to-right accept,
    skipping any position within ``snippet_length`` of an accepted one.
    Word-boundary adjustment (±20 chars to a space), ellipses, and
    ``<mark>`` highlighting match the reference lines 106-134.

    This is a results-pool operator (runs on top-k rows, not the corpus),
    so a per-row Arrow UDF is the right cost shape."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from .. import ensure_udf_serializable
    from ..reference_semantics import tokenize

    ensure_udf_serializable()
    tokens = sorted(set(tokenize(query.lower())))
    tok_res = [re.compile(r"\b" + re.escape(t) + r"\b") for t in tokens]
    mark_re = (re.compile("(?i)\\b(" + "|".join(re.escape(t) for t in tokens)
                          + ")\\b") if tokens else None)

    def one(text: str) -> list[str]:
        text = text or ""
        if not tokens:
            return [text[:snippet_length] + "..."
                    if len(text) > snippet_length else text]
        low = text.lower()
        positions = sorted(m.start() for rx in tok_res
                           for m in rx.finditer(low))
        accepted: list[int] = []
        for pos in positions:
            if len(accepted) >= max_snippets:
                break
            if all(abs(pos - a) >= snippet_length for a in accepted):
                accepted.append(pos)
        out = []
        half = snippet_length // 2
        for pos in accepted:
            start, end = max(0, pos - half), min(len(text), pos + half)
            if start > 0:
                sp = text.rfind(" ", max(0, start - 20), start)
                if sp > 0:
                    start = sp + 1
            if end < len(text):
                sp = text.find(" ", end, min(len(text), end + 20))
                if sp > 0:
                    end = sp
            snip = text[start:end]
            if start > 0:
                snip = "..." + snip
            if end < len(text):
                snip = snip + "..."
            out.append(mark_re.sub(r"<mark>\1</mark>", snip))
        if not out:
            out = [text[:snippet_length]
                   + ("..." if len(text) > snippet_length else "")]
        return out

    @pandas_udf(T.ArrayType(T.StringType()))
    def _snips(s: pd.Series) -> pd.Series:
        return s.map(one)

    return df.withColumn("snippets", _snips(F.coalesce(F.col("text"),
                                                       F.lit(""))))


# ---------------------------------------------------------------------------
# autocomplete
# ---------------------------------------------------------------------------

def record_queries(query_log: DataFrame) -> DataFrame:
    """query_log(query_text, ...) → (query_text, frequency) aggregate
    (autocomplete.py:139-151: _all_queries[q] += freq)."""
    return (
        query_log.select(F.lower(F.btrim(
            "query_text", F.lit(PY_WS))).alias("query_text"))
        .where(F.col("query_text") != "")
        .groupBy("query_text")
        .agg(F.count(F.lit(1)).alias("frequency"))
    )


def suggest(suggestions: DataFrame, prefix: str, n: int = 5) -> DataFrame:
    """Prefix search + top-n by frequency then lexicographic — the at-rest
    form of the trie walk (autocomplete.py:95-96,158-165)."""
    p = prefix.lower().strip()
    return (
        suggestions.where(F.col("query_text").startswith(p))
        .orderBy(F.col("frequency").desc(), F.col("query_text").asc())
        .limit(n)
    )

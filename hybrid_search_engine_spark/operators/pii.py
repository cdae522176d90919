"""PII detection + redaction over web text — a training-data-pipeline
operator (no counterpart in the reference, which indexes text verbatim;
this is part of the beyond-reference LLM-pipeline surface the engine adds).

Four detector classes, redacted in a fixed order so a span consumed by an
earlier (more specific) detector can't be double-counted by a later one
(an SSN is also a phone-shaped digit run; an IPv4 is dotted digits):

    email -> SSN -> IPv4 -> phone

Each count is measured on the text state BEFORE that step's replacement,
i.e. after all earlier redactions — the sequential semantics are part of
the operator's contract and are mirrored exactly by the DuckDB oracle
(contract_ext.q_pii_redact) and the pure-Python `re` mirror used by the
property tests.

Everything is JVM-native `regexp_count`/`regexp_replace` — one shuffle-free
projection over the corpus scan, embarrassingly parallel at 100 TB. The
patterns deliberately stay inside the common subset of java.util.regex,
RE2 (DuckDB), and Python `re`: character classes, bounded repetition, and
ASCII `\\b` word boundaries only — no lookaround, no backreferences.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.registry import spread

__all__ = ["PII_PATTERNS", "redact_pii", "py_redact_pii"]

# (name, pattern, replacement) in redaction order. Raw strings; the same
# bytes run in Spark (Java regex), DuckDB (RE2), and Python (re).
#
# The phone pattern is deliberately RECALL-FIRST: any 9+-char run of
# digits/spaces/dashes bounded by digits matches, which also catches
# ISBNs, order numbers and numeric date ranges. That is the standard
# trade for a training-data scrubber — an over-redacted identifier-shaped
# number costs a little text, a leaked phone number costs privacy — and
# it runs LAST so the more specific detectors (SSN, IPv4) have already
# consumed their spans. Tightening it (e.g. requiring 2-4 digit grouping)
# would cut false positives at the cost of missing unusually formatted
# real numbers; callers needing precision-first behavior should swap the
# pattern, not reorder the pipeline.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # phone-like: 9+ chars of digits/space/dash, digit-delimited, optional +
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


# cheap literal prerequisite: a string without this substring cannot match
# the pattern (the literal is mandatory in it), so one memchr-style
# contains() scan can skip the full regex pass. Only the email pattern
# carries a gate: it is the expensive one (two unbounded classes around
# '@' — measured 1.1 s count + 1.2 s replace over 50k docs at sf1.0 vs
# ~0.27 s per digit pattern) and '@' is rare in prose; the digit
# patterns' mandatory literals ('-', '.') appear in almost every document,
# so a gate there is pure overhead.
_PII_REQUIRED_CHAR = {"email": "@"}


def redact_pii(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text) → (doc_id, n_<class> int counts, `redacted`
    text).

    Counts reflect the sequential pipeline: each class is counted on the
    text with all earlier classes already replaced.

    Round-6 shape: each stage's text state is BOUND as a projected
    attribute in a select chain (mirroring the oracle's staged CTEs)
    instead of nesting replace expressions — a count referencing stage k
    otherwise embeds k nested regexp_replace trees whose sharing is left
    to codegen subexpression elimination (guide §7.2 duplicated
    subtrees); and the email stage is gated on ``contains('@')`` (exact:
    '@' is mandatory in the pattern), turning the common no-email row
    into a substring scan instead of the priciest regex pass.
    """
    # shuffle-free projection: widen a narrow scan first (no-op at real
    # scale; measured 1.31 -> 0.32 s at sf1.0 on the 2-split parquet)
    out = spread(docs).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("__c"))
    names = []
    for name, pat, repl in PII_PATTERNS:
        cur = F.col("__c")
        cnt = F.regexp_count(cur, F.lit(pat))
        rep = F.regexp_replace(cur, pat, repl)
        req = _PII_REQUIRED_CHAR.get(name)
        if req is not None:
            has = cur.contains(req)
            cnt = F.when(has, cnt).otherwise(F.lit(0))
            rep = F.when(has, rep).otherwise(cur)
        out = out.select(
            "doc_id", *[f"n_{n}" for n in names],
            cnt.alias(f"n_{name}"), rep.alias("__c"))
        names.append(name)
    return out.select(
        "doc_id", *[f"n_{n}" for n in names],
        F.col("__c").alias("redacted"))


def py_redact_pii(text: str | None) -> tuple[dict[str, int], str]:
    """Pure-Python mirror (the property-test oracle)."""
    cur = text or ""
    counts: dict[str, int] = {}
    for name, pat, repl in PII_PATTERNS:
        counts[name] = len(re.findall(pat, cur))
        cur = re.sub(pat, repl, cur)
    return counts, cur

"""URL-level deduplication: keep the latest crawl per canonical URL.

The engine's input table is pages(url, warc_ts, html, text, lang)
(SURVEY.md §1 / BASELINE.json input_hint) and Common-Crawl-style corpora
contain many snapshots of the same page — under tracking-parameter,
www/port and fragment variations of the same URL, and as literal
re-crawls with newer warc_ts. This is the cheap first dedup pass that
runs BEFORE content dedup (exact-hash / MinHash, operators/dedup.py):
string normalization resolves what those would otherwise pay a
signature+join for.

Plan shape: one projection (canonicalize_url, functions/url.py — pure
native expressions) and one window over the canonical key. The window's
hash exchange is doc-grain — identical to the dedup family's shuffles —
and canonical-URL groups are tiny (re-crawl multiplicity, single digits
at web scale), so there is no skew concern: the hottest URL on the web
is a few thousand snapshots, far below any task-size threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.url import canonicalize_url


def keep_latest_by_canonical_url(df: DataFrame,
                                 ts_col: str = "warc_ts") -> DataFrame:
    """df(doc_id, url, ts_col) → one row per canonical URL: (doc_id,
    canon_url, ts_col, n_crawls).

    Newest ``ts_col`` wins; ``doc_id`` (descending) breaks ties so the
    result is deterministic under timestamp collisions. ``n_crawls`` is
    the group size — the signal a pipeline uses to audit re-crawl rates.
    """
    canon = df.select("doc_id", F.col(ts_col),
                      canonicalize_url(F.col("url")).alias("canon_url"))
    w = Window.partitionBy("canon_url")
    ranked = canon.select(
        "doc_id", "canon_url", ts_col,
        F.row_number().over(
            w.orderBy(F.col(ts_col).desc(), F.col("doc_id").desc())
        ).alias("__rn"),
        F.count(F.lit(1)).over(w).alias("n_crawls"))
    return (ranked.where(F.col("__rn") == 1)
            .select("doc_id", "canon_url",
                    F.col(ts_col).cast("long").alias(ts_col),
                    F.col("n_crawls").cast("long").alias("n_crawls")))

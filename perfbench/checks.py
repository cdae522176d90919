"""Checks of the engine's outputs against computations made apart from it.

Every check returns a list of error strings; an empty list means the
operation's output is correct. Nothing here runs Spark: extraction uses
the pure-Python ``reference_semantics.extract_text``, BM25 uses
``oracle/bm25_oracle.py`` and dedup is recomputed over character
3-shingles with a Python union-find.
"""

from __future__ import annotations

from collections import defaultdict

import pyarrow.parquet as pq

from hybrid_search_engine_spark.reference_semantics import (
    extract_text,
    tokenize,
)
from oracle.bm25_oracle import BM25Oracle

PAYLOAD_MARKER = "NOINDEX_SCRIPT_PAYLOAD"


def reference_texts(pages_path: str) -> dict:
    """url → reference extraction of the generated pages file."""
    rows = pq.read_table(pages_path, columns=["url", "html", "text"])
    return {r["url"]: extract_text(r["html"], r["text"])
            for r in rows.to_pylist()}


def check_extraction(ref: dict, docs: list) -> list[str]:
    """Engine text per url is byte-identical to the reference and holds no
    script payload. ``docs``: collected (doc_id, url, text) rows."""
    errs = []
    got = {r["url"]: r["text"] for r in docs}
    if got.keys() != ref.keys():
        errs.append(f"extraction: {len(got)} urls, expected {len(ref)}")
    for url, text in got.items():
        if text != ref.get(url):
            errs.append(f"extraction differs for {url}")
        if text and PAYLOAD_MARKER in text:
            errs.append(f"script payload leaked into {url}")
    return errs[:5]


class TopK:
    """``BM25Oracle.topk_nonzero`` restricted to the documents that hold a
    query term. That restriction is exact: every other document scores
    exactly 0, and idf = ln(1 + (N-df+0.5)/(df+0.5)) > 0, so each
    candidate holding a term scores > 0 and is ordered by the same key."""

    def __init__(self, texts_by_id: dict):
        self.oracle = BM25Oracle().fit(texts_by_id)
        self._docs_of = defaultdict(list)
        for did, tf in self.oracle.tf.items():
            for term in tf:
                self._docs_of[term].append(did)
        self._memo: dict = {}

    def __call__(self, query: str, k: int = 10) -> list[tuple]:
        key = (query, k)
        if key not in self._memo:
            terms = set(tokenize(query, remove_stopwords=True))
            cands = set()
            for t in terms:
                cands.update(self._docs_of.get(t, ()))
            scored = [(d, self.oracle.score_one(query, d)) for d in cands]
            scored = [(d, s) for d, s in scored if s > 0.0]
            scored.sort(key=lambda p: (-round(p[1], 9), p[0]))
            self._memo[key] = [(d, round(s, 9)) for d, s in scored[:k]]
        return self._memo[key]


def check_topk(oracle: TopK, query: str, got: list, k: int = 10) -> list[str]:
    """``got``: [(doc_id, score)] in the engine's rank order."""
    want = oracle(query, k)
    have = [(int(d), round(float(s), 9)) for d, s in got]
    if not want:
        return [f"query {query!r}: oracle has no result"]
    if have != want:
        return [f"query {query!r}: top-{k} differs from the oracle"]
    return []


def check_batch(oracle: TopK, queries: list, rows: list, k: int = 10
                ) -> list[str]:
    """``rows``: collected (query_id, rank, doc_id, score) of one batch."""
    by_q = defaultdict(list)
    for r in rows:
        by_q[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
    errs = []
    for qid, text in queries:
        ranked = sorted(by_q.get(qid, ()))
        if [r for r, _, _ in ranked] != list(range(1, len(ranked) + 1)):
            errs.append(f"batch query {qid}: ranks not 1..n")
        errs += check_topk(oracle, text, [(d, s) for _, d, s in ranked], k)
    return errs[:5]


def shingle_set(text: str, k: int = 3) -> set:
    s = (text or "").lower().strip()
    return {s[i:i + k] for i in range(len(s) - k + 1)} if len(s) >= k else {s}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    denom = len(a) + len(b) - inter
    return inter / denom if denom else 1.0


def union_find_groups(ids, pairs) -> dict:
    """doc → minimum doc id of its connected component over ``pairs``."""
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in ids}


def check_dedup(texts: dict, pairs: list, groups: list, planted: list,
                threshold: float) -> list[str]:
    """``texts``: doc_id → text; ``pairs``: (doc_a, doc_b, jaccard) rows;
    ``groups``: (doc_id, group_id) rows; ``planted``: (duplicate, source)
    doc-id pairs of the generator's exact duplicates."""
    errs = []
    shingles = {}
    for a, b, j in pairs:
        for d in (a, b):
            if d not in shingles:
                shingles[d] = shingle_set(texts[d])
        want = jaccard(shingles[a], shingles[b])
        if want < threshold or j != want:
            errs.append(f"pair ({a}, {b}): jaccard {j} vs recomputed {want}")
    got = {r["doc_id"]: r["group_id"] for r in groups}
    if got != union_find_groups(texts, [(a, b) for a, b, _ in pairs]):
        errs.append("groups differ from union-find over the reported pairs")
    for dup, src in planted:
        if got.get(dup) is None or got.get(dup) != got.get(src):
            errs.append(f"planted duplicate {dup} not grouped with {src}")
    return errs[:5]

"""North-rule criterion evidenced DIRECTLY against the reference engine.

The rule requires top-k results "rank-identical in docIDs and BM25 scores
to the reference query set".  Every other correctness gate in this repo
triangulates through a DuckDB re-implementation of the reference formula;
this test removes the middleman: it imports the reference's own BM25
implementation (reference: bm25.py:12-143 + extractor.py:15-31 — pure
stdlib+numpy, loaded WITHOUT executing the package __init__, which pulls
heavy optional deps), fits it on the same documents table, and asserts our
index's top-k agrees with the reference's scores for all 100 queries of
the reference query set (fixtures.gen_corpus.all_queries) in both the
block-max-pruned and exact modes.

Rank-identity definition used: the reference breaks score ties with
np.argsort (bm25.py:141), which is UNSTABLE — tie order among equal
float32 scores is arbitrary.  So the assertions are exactly the
tie-robust form of rank identity:
  1. every docID we return carries the reference's score for that doc;
  2. our descending score sequence equals the reference's top-k positive
     score sequence elementwise;
  3. every doc the reference scores strictly above our k-th score is
     present in our result set.
Together these force identical docID sets and scores everywhere except
inside an equal-score tie group straddling the k boundary, where no
engine pair can agree deterministically.

Tolerance: the reference materializes scores as float32
(bm25.py score_batch dtype) while this engine scores in float64; 1e-4
relative absorbs only that cast, not real formula drift.
"""

import os

import numpy as np
import pandas as pd
import pytest

from tests.refload import load


@pytest.fixture(scope="module")
def ref_fit(sf_dir):
    """Reference BM25 fitted on the contract documents table, plus the
    row-position -> doc_id mapping that defines the reference's docIDs."""
    bm25 = load("bm25")
    pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"),
                          columns=["doc_id", "text"])
    texts = pdf["text"].fillna("").tolist()
    engine = bm25.BM25(k1=1.5, b=0.75, remove_stopwords=True)
    engine.fit(texts)
    return engine, pdf["doc_id"].to_numpy()


@pytest.fixture(scope="module")
def our_index(spark, sf_dir, tmp_path_factory):
    from hybrid_search_engine_spark import contract
    from hybrid_search_engine_spark.build.manifest import (
        IndexReader, build_index)

    idx_dir = str(tmp_path_factory.mktemp("ref_parity") / "idx")
    build_index(spark, contract._docs(spark, sf_dir), idx_dir, n_shards=8)
    return IndexReader(spark, idx_dir, cache_postings=True, cache_tf=True)


def _assert_rank_identical(ours, ref_scores, doc_ids, k, query):
    """ours: [(doc_id, score)] in our rank order; ref_scores: np.ndarray
    over all docs in reference idx order; doc_ids: idx -> doc_id."""
    idx_of = {d: i for i, d in enumerate(doc_ids)}
    pos = ref_scores[ref_scores > 0]
    n_expect = min(k, len(pos))
    assert len(ours) == n_expect, (
        f"{query!r}: returned {len(ours)} rows, reference has {len(pos)} "
        f"positive-score docs (expected {n_expect})")
    if not ours:  # no doc matches any query term in either engine
        return

    def close(a, b):
        return abs(a - b) <= 1e-4 * max(1.0, abs(a))

    # 1. per-doc score parity for every docID we returned
    for d, s in ours:
        rs = float(ref_scores[idx_of[d]])
        assert close(rs, s), (
            f"{query!r}: doc {d} scored {s} by us, {rs} by the reference")

    # 2. descending score sequences identical elementwise
    ref_top = np.sort(pos)[::-1][:n_expect]
    our_sorted = sorted((s for _, s in ours), reverse=True)
    for a, b in zip(our_sorted, ref_top):
        assert close(float(b), a), (
            f"{query!r}: score sequence diverges: ours {our_sorted} "
            f"vs reference {ref_top.tolist()}")

    # 3. nothing the reference ranks strictly above our boundary is missing
    our_set = {d for d, _ in ours}
    boundary = min(s for _, s in ours)
    for i in np.nonzero(ref_scores > boundary + 1e-4)[0]:
        assert doc_ids[i] in our_set, (
            f"{query!r}: reference ranks doc {doc_ids[i]} "
            f"(score {ref_scores[i]}) above our k-th result but we "
            f"did not return it")


@pytest.mark.parametrize("mode", ["pruned", "exact"])
def test_topk_rank_identical_to_reference(ref_fit, our_index, mode):
    from fixtures.gen_corpus import all_queries

    engine, doc_ids = ref_fit
    queries = all_queries()
    k = 10
    batch = list(enumerate(queries))
    rows = our_index.search_batch(batch, k=k, mode=mode).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    checked = 0
    for qid, q in batch:
        ours = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
        ref_scores = engine.score_batch(q).astype(np.float64)
        _assert_rank_identical(ours, ref_scores, doc_ids, k, q)
        checked += 1
    assert checked == len(queries)


def test_single_query_paths_match_reference(ref_fit, our_index):
    """The two single-query tiers (block-max pruned Spark path and the
    JVM-only exact cached tier) agree with the reference too."""
    from fixtures.gen_corpus import DEMO_QUERIES

    engine, doc_ids = ref_fit
    for q in DEMO_QUERIES:
        ref_scores = engine.score_batch(q).astype(np.float64)
        for mode in ("pruned", "exact"):
            rows = our_index.search(q, k=10, mode=mode).collect()
            ours = [(r.doc_id, r.score) for r in rows]
            _assert_rank_identical(ours, ref_scores, doc_ids, 10, q)


def test_corpus_statistics_match_reference(ref_fit, our_index):
    """The fitted reference's corpus scalars equal the index manifest's."""
    engine, _ = ref_fit
    corpus = our_index.corpus
    assert corpus["doc_count"] == engine.doc_count
    assert corpus["avg_doc_len"] == pytest.approx(engine.avg_doc_len,
                                                  rel=1e-12)
    assert corpus["k1"] == engine.k1 and corpus["b"] == engine.b

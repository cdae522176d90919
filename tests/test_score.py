"""Exact-scorer parity vs the vendored oracle (SURVEY.md §5.2.1, §5.4)."""

import pytest

from fixtures.gen_corpus import DEMO_QUERIES, all_queries
from oracle.bm25_oracle import BM25Oracle


@pytest.fixture(scope="module")
def corpus(extracted_1k):
    """doc_id assigned deterministically from url order (stable ids)."""
    rows = extracted_1k.select("url", "text").collect()
    rows.sort(key=lambda r: r["url"])
    return {i: r["text"] for i, r in enumerate(rows)}, {
        i: r["url"] for i, r in enumerate(rows)
    }


@pytest.fixture(scope="module")
def oracle(corpus):
    docs, _ = corpus
    return BM25Oracle().fit(docs)


@pytest.fixture(scope="module")
def engine_stats(spark, corpus):
    from hybrid_search_engine_spark.operators.stats import build_statistics

    docs, _ = corpus
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    return build_statistics(df)


def test_corpus_stats_match(oracle, engine_stats):
    tf, tstats, scalars = engine_stats
    assert scalars.doc_count == oracle.n_docs
    assert abs(scalars.avg_doc_len - oracle.avgdl) < 1e-9


def test_doc_lengths_match(oracle, engine_stats):
    tf, _, _ = engine_stats
    rows = tf.select("doc_id", "doc_len").distinct().collect()
    got = {r["doc_id"]: r["doc_len"] for r in rows}
    assert len(got) == len(rows)  # one length per doc across its tf rows
    for did, dl in oracle.doc_len.items():
        assert got.get(did, 0) == dl, did


def test_df_idf_match(oracle, engine_stats):
    _, tstats, _ = engine_stats
    got = {r["term"]: (r["df"], r["idf"]) for r in tstats.collect()}
    assert set(got) == set(oracle.df)
    for t, d in oracle.df.items():
        assert got[t][0] == d, t
        assert abs(got[t][1] - oracle.idf[t]) < 1e-9, t


def test_tf_matches(oracle, engine_stats):
    tf, _, _ = engine_stats
    got = {(r["doc_id"], r["term"]): r["tf"] for r in tf.collect()}
    want = {
        (did, t): c for did, cnt in oracle.tf.items() for t, c in cnt.items()
    }
    assert got == want


@pytest.mark.parametrize("query", DEMO_QUERIES)
def test_topk_rank_identical_demo(spark, oracle, engine_stats, query):
    _assert_topk_parity(spark, oracle, engine_stats, query, k=10)


def test_topk_rank_identical_generated(spark, oracle, engine_stats):
    for query in all_queries()[5:25]:  # 20 generated queries incl. OOV
        _assert_topk_parity(spark, oracle, engine_stats, query, k=10)


def _assert_topk_parity(spark, oracle, engine_stats, query, k):
    from hybrid_search_engine_spark.operators.score import search

    tf, tstats, scalars = engine_stats
    got = search(spark, query, tf, tstats, scalars.avg_doc_len, k=k).collect()
    want = oracle.topk_nonzero(query, k=k)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], query
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) <= 1e-6 * max(1.0, abs(s)), (query, r)


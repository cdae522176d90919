"""Posting blocks + the JVM query path: triangulated parity.

The blocks a build writes, exploded, must equal the oracle's tf and doc
lengths, sorted by doc_id within each (shard, term); and oracle (pure
python) == IndexReader.search == IndexReader.search_batch, on cached and
uncached readers alike, across the synthetic pages corpus's query set.
"""

import pytest
from pyspark.sql import functions as F

from fixtures.gen_corpus import DEMO_QUERIES, all_queries
from hybrid_search_engine_spark.functions.hashing import spark_xxhash64_str
from oracle.bm25_oracle import BM25Oracle

N_SHARDS = 8
BLOCK_SIZE = 16


@pytest.fixture(scope="module")
def corpus(extracted_1k):
    rows = extracted_1k.select("url", "text").collect()
    rows.sort(key=lambda r: r["url"])
    return {i: r["text"] for i, r in enumerate(rows)}


@pytest.fixture(scope="module")
def oracle(corpus):
    return BM25Oracle().fit(corpus)


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    from hybrid_search_engine_spark.build.manifest import build_index

    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("index") / "idx")
    build_index(spark, df, d, n_shards=N_SHARDS, block_size=BLOCK_SIZE)
    return d


@pytest.fixture(scope="module")
def readers(spark, index_dir):
    from hybrid_search_engine_spark.build.manifest import IndexReader

    cached = IndexReader(spark, index_dir, cache_postings=True)
    yield {"uncached": IndexReader(spark, index_dir), "cached": cached}
    cached.postings.unpersist()


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _exploded(readers):
    return (readers["uncached"].postings
            .select("shard_id", "term", "block_id", "max_score",
                    F.posexplode("postings").alias("pos", "p"))
            .select("shard_id", "term", "block_id", "max_score", "pos",
                    "p.doc_id", "p.tf", "p.doc_len")
            .toPandas())


def test_posting_blocks_roundtrip_vs_tf(readers, oracle):
    """Exploded blocks == the oracle's tf and doc lengths, for every
    (term, doc) of the corpus, the oracle's terms mapped to the index's
    xxhash64 keys (content equality after the shuffle, window numbering
    and block aggregation)."""
    got = {(int(r.term), int(r.doc_id)): (int(r.tf), int(r.doc_len))
           for r in _exploded(readers).itertuples(index=False)}
    want = {(spark_xxhash64_str(term), did): (n, oracle.doc_len[did])
            for did, cnt in oracle.tf.items() for term, n in cnt.items()}
    assert got == want


def test_doc_ids_sorted_within_shard_term(readers, oracle):
    """Within each (shard, term), blocks in block_id order hold strictly
    increasing doc_ids, block ids run 0..last, every block but the last is
    full, and max_score is the block's largest BM25 contribution (the
    block-max bound)."""
    cell = ["shard_id", "term"]
    pdf = _exploded(readers).sort_values(cell + ["block_id", "pos"])
    prev = pdf.groupby(cell)["doc_id"].shift()
    assert (prev.isna() | (pdf["doc_id"] > prev)).all()

    k1, b, avgdl = oracle.k1, oracle.b, oracle.avgdl
    tf, dl = pdf["tf"].astype(float), pdf["doc_len"].astype(float)
    idf = {spark_xxhash64_str(t): v for t, v in oracle.idf.items()}
    pdf["impact"] = (pdf["term"].map(idf) * tf * (k1 + 1.0)
                     / (tf + k1 * (1.0 - b + b * dl / avgdl)))
    blocks = pdf.groupby(cell + ["block_id"]).agg(
        n=("doc_id", "size"), got=("max_score", "first"),
        want=("impact", "max")).reset_index()
    last = blocks.groupby(cell)["block_id"].transform("max")
    assert (blocks.groupby(cell)["block_id"].transform("size") == last + 1).all()
    assert ((blocks["n"] == BLOCK_SIZE) | (blocks["block_id"] == last)).all()
    assert ((blocks["got"] - blocks["want"]).abs() <= 1e-12).all()


def test_shard_metrics(readers):
    from hybrid_search_engine_spark.operators.postings import shard_metrics

    m = shard_metrics(readers["uncached"].postings).collect()
    assert len(m) == N_SHARDS
    total = sum(r["n_postings"] for r in m)
    counts = [r["n_postings"] for r in m]
    # uniform doc hashing keeps shard skew modest
    assert max(counts) / (total / len(counts)) < 1.5


@pytest.mark.parametrize("query", DEMO_QUERIES)
def test_pruned_matches_oracle_demo(readers, oracle, query):
    _assert_parity(readers["cached"], oracle, query, k=10)


def test_pruned_matches_oracle_generated(readers, oracle):
    for q in all_queries()[5:35]:
        _assert_parity(readers["cached"], oracle, q, k=10)


def test_pruned_equals_exact_mode(readers):
    """``mode`` is kept for callers of the former pruned/exact tiers: both
    values score exactly, identically; anything else is rejected."""
    r = readers["cached"]
    for q in ["data machine learning", "the quick brown fox", "programming"]:
        assert _rows(r.search(q, k=25, mode="pruned")) == \
               _rows(r.search(q, k=25, mode="exact")), q
    with pytest.raises(ValueError, match="mode"):
        r.search("programming", mode="approximate")


def test_shard_clustered_path_rank_identical(readers):
    """The shard-partitioned postings cache (exchange-free scoring) must be
    rank- and score-identical to the uncached parquet read, on both the
    single and the batch API."""
    queries = all_queries()[:30] + ["the quick brown fox", "zz_oov_term"]
    for q in queries:
        assert _rows(readers["cached"].search(q, k=15)) == \
               _rows(readers["uncached"].search(q, k=15)), q
    batch = list(enumerate(queries))
    key = lambda r: sorted(  # noqa: E731
        (x["query_id"], x["rank"], x["doc_id"], round(x["score"], 9))
        for x in r.search_batch(batch, k=15).collect())
    assert key(readers["cached"]) == key(readers["uncached"])


def test_batch_search_matches_oracle(readers, oracle):
    """search_batch (one plan for all queries) == search, query by query,
    rank- and score-identical, and both rank-identical to the oracle."""
    r = readers["cached"]
    queries = list(enumerate(all_queries()[:30] + ["zz_oov_term"]))
    by_q = {}
    for x in r.search_batch(queries, k=10).collect():
        by_q.setdefault(x["query_id"], []).append(
            (x["rank"], x["doc_id"], round(x["score"], 9)))
    for qid, query in queries:
        batch = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
        assert batch == _rows(r.search(query, k=10)), query
        want = oracle.topk_nonzero(query, k=10)
        assert [d for d, _ in batch] == [d for d, _ in want], query
        for (_, s_got), (_, s_want) in zip(batch, want):
            assert abs(s_got - s_want) <= 1e-6 * max(1.0, abs(s_want)), query


def test_search_with_dict_tstats(spark, index_dir, readers, oracle):
    """Driver-cached term→idf dict path == DataFrame stats path."""
    from hybrid_search_engine_spark.build.manifest import IndexReader

    q = "machine learning and AI"
    lookup = IndexReader(spark, index_dir, cache_term_stats=False)
    a = _rows(lookup.search(q, k=10))
    assert a == _rows(readers["uncached"].search(q, k=10))
    assert [d for d, _ in a] == [d for d, _ in oracle.topk_nonzero(q, k=10)]


def test_k_variants(readers, oracle):
    for k in (1, 5, 100):
        _assert_parity(readers["cached"], oracle, "machine learning and AI",
                       k=k)


def _assert_parity(reader, oracle, query, k):
    got = reader.search(query, k=k).collect()
    want = oracle.topk_nonzero(query, k=k)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], query
    for r, (_, s) in zip(got, want):
        assert abs(r["score"] - s) <= 1e-6 * max(1.0, abs(s)), (query, r)

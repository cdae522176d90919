"""Hash-domain index tier (build_index term_domain="hash", the default).

Three pins:
1. the driver-side pure-Python xxHash64 is bit-identical to Spark's
   ``F.xxhash64`` (strings across every length/remainder path of the
   algorithm, multi-byte UTF-8, and longs) — the query side depends on it;
2. a hash-domain index is rank- AND score-identical to a string-domain
   index of the same corpus on the single and the batch query API,
   including OOV and all-stopword queries;
3. the term domain is build lineage: a resume with the other domain
   rebuilds instead of reusing shards keyed differently.
"""

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from hybrid_search_engine_spark.functions.hashing import (
    spark_xxhash64_long,
    spark_xxhash64_str,
    xxhash64_bytes,
)


def test_xxhash64_string_parity_with_spark(spark):
    cases = ["", "a", "ab", "abc", "abcd", "abcde", "spark", "query",
             "naïve", "日本語テキスト", "x" * 7, "x" * 8, "x" * 9,
             "y" * 15, "y" * 16, "z" * 31, "z" * 32, "z" * 33,
             "w" * 63, "w" * 64, "w" * 65, "mixed日本a",
             "term_with_underscore_0123456789"]
    got = {r["s"]: r["h"] for r in spark.createDataFrame(
        [(c,) for c in cases], "s string")
        .select("s", F.xxhash64("s").alias("h")).collect()}
    for c in cases:
        assert spark_xxhash64_str(c) == got[c], repr(c)


def test_xxhash64_long_parity_with_spark(spark):
    vals = [0, 1, -1, 42, 2 ** 62, -2 ** 62, 123456789123456789]
    got = {r["v"]: r["h"] for r in spark.createDataFrame(
        [(v,) for v in vals], "v long")
        .select("v", F.xxhash64("v").alias("h")).collect()}
    for v in vals:
        assert spark_xxhash64_long(v) == got[v], v


def test_xxhash64_reference_vectors():
    # spot values from the public xxHash spec's construction: seed-only
    # (empty input) must differ by seed; avalanche changes every input bit
    assert xxhash64_bytes(b"", seed=0) != xxhash64_bytes(b"", seed=42)
    assert xxhash64_bytes(b"a") != xxhash64_bytes(b"b")
    # stability pin (regression guard for the implementation itself)
    assert xxhash64_bytes(b"", seed=0) == 0xEF46DB3751D8E999


@pytest.fixture(scope="module")
def docs_small(spark, extracted_1k):
    from hybrid_search_engine_spark.sources.pages import pages_to_docs

    d = pages_to_docs(extracted_1k, extract=False).limit(300).cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def both_readers(spark, docs_small):
    from hybrid_search_engine_spark.build.manifest import (
        IndexReader,
        build_index,
    )

    readers = {}
    for dom in ("string", "hash"):
        d = tempfile.mkdtemp(prefix=f"hse_dom_{dom}_")
        build_index(spark, docs_small, d, n_shards=4, term_domain=dom)
        readers[dom] = IndexReader(spark, d, cache_postings=True,
                                   cache_tf=True)
    return readers


def _queries():
    from fixtures.gen_corpus import all_queries

    return all_queries()[:5] + ["zzz_oov_term", "the of and"]


QUERIES = _queries()


def test_hash_domain_rank_and_score_identical(both_readers):
    for q in QUERIES:
        a = [(r["doc_id"], round(r["score"], 9)) for r in
             both_readers["string"].search(q, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in
             both_readers["hash"].search(q, k=10).collect()]
        assert a == b, q


def test_hash_domain_batch_identical(both_readers):
    batch = list(enumerate(QUERIES))
    key = lambda rows: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in rows)
    assert key(both_readers["string"].search_batch(batch, k=10).collect()) \
        == key(both_readers["hash"].search_batch(batch, k=10).collect())


def test_hash_domain_postings_term_is_bigint(both_readers):
    tdt = dict(both_readers["hash"].postings.dtypes)["term"]
    assert tdt == "bigint", tdt
    tdt = dict(both_readers["string"].postings.dtypes)["term"]
    assert tdt == "string", tdt


def test_no_vocabulary_collisions_on_corpus(spark, docs_small):
    """On the test corpus the 64-bit hash is collision-free (the analysis
    in term_frequencies_with_doclen says P≈V²/2⁶⁵; this pins it for the
    vocabulary every other test relies on)."""
    from hybrid_search_engine_spark.operators.stats import term_frequencies

    terms = term_frequencies(docs_small).select("term").distinct()
    n_str, n_hash = terms.agg(
        F.count(F.lit(1)).alias("a"),
        F.countDistinct(F.xxhash64("term")).alias("b")).first()
    assert n_str == n_hash


def test_term_domain_is_build_lineage(spark, docs_small):
    """Same dir, same corpus, other domain → full rebuild, not a resume."""
    from hybrid_search_engine_spark.build.manifest import build_index

    d = tempfile.mkdtemp(prefix="hse_dom_switch_")
    r1 = build_index(spark, docs_small, d, n_shards=4, term_domain="string")
    assert r1.built_shards  # fresh build
    r2 = build_index(spark, docs_small, d, n_shards=4, term_domain="string")
    assert not r2.built_shards  # clean resume/no-op
    r3 = build_index(spark, docs_small, d, n_shards=4, term_domain="hash")
    assert sorted(r3.built_shards) == list(range(4))  # domain switch rebuilds
    # and the tf table really switched domains
    tf = spark.read.parquet(os.path.join(d, "tf"))
    assert dict(tf.dtypes)["term"] == "bigint"


def test_term_domain_validation(spark, docs_small):
    from hybrid_search_engine_spark.build.manifest import build_index

    with pytest.raises(ValueError, match="term_domain"):
        build_index(spark, docs_small, tempfile.mkdtemp(),
                    term_domain="nope")

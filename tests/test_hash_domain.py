"""The index's key domain: every table is keyed by ``xxhash64(term)``.

Pins:
1. the driver-side pure-Python xxHash64 is bit-identical to Spark's
   ``F.xxhash64`` (strings across every length/remainder path of the
   algorithm, multi-byte UTF-8, and longs) — the query side depends on it
   — and its Murmur3 to ``F.hash`` of an int, which places the cached
   reader's shards;
2. the test corpus's vocabulary has no 64-bit collision;
3. a build writes bigint keys, and IndexReader refuses an index keyed by
   term strings. Rank and score parity of the index against the oracle
   is pinned in test_postings.py.
"""

import json
import os

import pyspark.sql.functions as F
import pytest

from hybrid_search_engine_spark.functions.hashing import (
    spark_murmur3_int,
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


def test_murmur3_int_parity_with_spark(spark):
    vals = [0, 1, -1, 2, 3, 7, 31, 42, 1000, 2 ** 31 - 1, -2 ** 31]
    got = {r["v"]: r["h"] for r in spark.createDataFrame(
        [(v,) for v in vals], "v int")
        .select("v", F.hash("v").alias("h")).collect()}
    for v in vals:
        assert spark_murmur3_int(v) == got[v], v


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


def test_hash_domain_postings_term_is_bigint(spark, docs_small, tmp_path):
    from hybrid_search_engine_spark.build.manifest import build_index

    d = str(tmp_path / "idx")
    build_index(spark, docs_small, d, n_shards=4)
    for table in ("tf", "postings", os.path.join("stats", "term_stats")):
        tdt = dict(spark.read.parquet(os.path.join(d, table)).dtypes)["term"]
        assert tdt == "bigint", (table, tdt)
    # doc lengths live in the tf table only: no doc_stats table
    assert sorted(os.listdir(os.path.join(d, "stats"))) == [
        "corpus.json", "term_stats"]


def test_reader_rejects_string_keyed_postings(spark, tmp_path):
    """An index keyed by term strings (as earlier builds could write) is
    refused, not read as one whose keys never match a query's."""
    from hybrid_search_engine_spark.build.manifest import IndexReader

    d = str(tmp_path / "idx")
    spark.createDataFrame(
        [(0, "machine", 0, [(1, 2, 5)], 0.5)],
        "shard_id int, term string, block_id int, "
        "postings array<struct<doc_id: bigint, tf: int, doc_len: int>>, "
        "max_score double",
    ).write.partitionBy("shard_id").parquet(os.path.join(d, "postings"))
    spark.createDataFrame([("machine", 1, 2, 0.7)],
                          "term string, df bigint, cf bigint, idf double") \
        .write.parquet(os.path.join(d, "stats", "term_stats"))
    with open(os.path.join(d, "stats", "corpus.json"), "w") as f:
        json.dump({"doc_count": 1, "avg_doc_len": 5.0, "k1": 1.5, "b": 0.75,
                   "n_shards": 1, "block_size": 128}, f)
    with pytest.raises(ValueError, match="bigint"):
        IndexReader(spark, d)


def test_no_vocabulary_collisions_on_corpus(spark, docs_small):
    """On the test corpus the 64-bit hash is collision-free (the analysis
    in term_frequencies_with_doclen says P≈V²/2⁶⁵; this pins it for the
    vocabulary every other test relies on)."""
    from hybrid_search_engine_spark.operators.stats import build_statistics

    tf, _, _ = build_statistics(docs_small.select("doc_id", "text"))
    terms = tf.select("term").distinct()
    n_str, n_hash = terms.agg(
        F.count(F.lit(1)).alias("a"),
        F.countDistinct(F.xxhash64("term")).alias("b")).first()
    assert n_str == n_hash

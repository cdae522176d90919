"""Phrase search: scan tier ≡ index tier ≡ pure-Python oracle.

The Python oracle is the definition (contiguous token subsequence,
1-based starts, overlaps counted); the scan tier (JVM expressions) and
index tier (positional postings + joins) must both reproduce it exactly.
"""

import pytest
from pyspark.sql import functions as F

from hybrid_search_engine_spark.contract_ext import (
    PHRASES,
    PLANTED_PHRASE_DOCS,
    q_phrase_match,
)
from hybrid_search_engine_spark.localdf import local_df
from hybrid_search_engine_spark.operators.phrase import (
    doc_term_positions,
    phrase_match_scan,
    phrase_search_indexed,
)
from hybrid_search_engine_spark.reference_semantics import tokenize


def py_phrase_starts(tokens: list[str], terms: list[str]) -> list[int]:
    n = len(terms)
    return [
        i + 1
        for i in range(len(tokens) - n + 1)
        if tokens[i : i + n] == terms
    ]


def _planted_df(spark):
    return local_df(spark, PLANTED_PHRASE_DOCS, "doc_id long, text string")


def test_scan_tier_matches_python_oracle_on_planted(spark):
    got = {
        (r["phrase"], r["doc_id"]): (r["n_matches"], r["first_pos"])
        for r in phrase_match_scan(_planted_df(spark), PHRASES).collect()
    }
    want = {}
    for doc_id, text in PLANTED_PHRASE_DOCS:
        toks = tokenize(text)
        for p in PHRASES:
            starts = py_phrase_starts(toks, p.split())
            if starts:
                want[(p, doc_id)] = (len(starts), min(starts))
    assert got == want
    # the edge cases actually fire
    assert want[("table table", 910000001)] == (2, 1)  # overlap counted
    assert ("window fast query", 910000003) not in want  # out of order
    assert want[("window fast query", 910000004)][0] == 1  # case/punct


def test_index_tier_equals_scan_tier_on_corpus(spark, sf_dir):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
        .unionByName(_planted_df(spark))
    )
    ptf = doc_term_positions(docs).cache()
    try:
        scan = phrase_match_scan(docs, PHRASES)
        for p in PHRASES:
            via_scan = {
                (r["doc_id"], r["n_matches"], r["first_pos"])
                for r in scan.where(F.col("phrase") == p).select(
                    "doc_id", "n_matches", "first_pos").collect()
            }
            via_index = {
                (r["doc_id"], r["n_matches"], r["first_pos"])
                for r in phrase_search_indexed(ptf, p).collect()
            }
            assert via_index == via_scan, p
            assert via_scan, f"phrase {p!r} vacuous on corpus+planted"
    finally:
        ptf.unpersist()


def test_positional_tf_subsumes_frequency_tf(spark):
    ptf = doc_term_positions(_planted_df(spark))
    bad = ptf.where(
        (F.col("tf") != F.size("positions"))
        | (F.col("positions") != F.sort_array("positions"))
    ).count()
    assert bad == 0
    row = (
        ptf.where((F.col("doc_id") == 910000001) & (F.col("term") == "table"))
        .collect()[0]
    )
    assert row["positions"] == [1, 2, 3] and row["tf"] == 3


def test_single_term_phrase_and_missing_phrase(spark):
    df = _planted_df(spark)
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match_scan(df, ["table"]).collect()
    }
    assert got[910000001] == 3 and got[910000003] == 1
    assert phrase_match_scan(df, ["nonexistent words here"]).count() == 0
    ptf = doc_term_positions(df)
    assert phrase_search_indexed(ptf, "nonexistent words here").count() == 0


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_property_random_corpora(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(60)
    ]
    phrases = ["a b", "b b", "a b a", "c", "d a b c"]
    df = local_df(spark, rows, "doc_id long, text string")
    got = {
        (r["phrase"], r["doc_id"]): (r["n_matches"], r["first_pos"])
        for r in phrase_match_scan(df, phrases).collect()
    }
    want = {}
    for doc_id, text in rows:
        toks = text.split()
        for p in phrases:
            starts = py_phrase_starts(toks, p.split())
            if starts:
                want[(p, doc_id)] = (len(starts), min(starts))
    assert got == want
    ptf = doc_term_positions(df)
    for p in phrases:
        via_index = {
            (r["doc_id"], r["n_matches"], r["first_pos"])
            for r in phrase_search_indexed(ptf, p).collect()
        }
        assert via_index == {
            (d, n, fp) for (ph, d), (n, fp) in want.items() if ph == p
        }, (seed, p)


def test_contract_query_runs(spark, sf_dir):
    out = q_phrase_match(spark, sf_dir)
    assert out.columns == ["phrase", "doc_id", "n_matches", "first_pos"]
    assert out.count() > 0


def test_positional_index_save_load_prunes_and_matches(spark, sf_dir, tmp_path):
    from hybrid_search_engine_spark.operators.phrase import (
        PositionalIndex,
        save_positional_index,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
        .unionByName(_planted_df(spark))
    )
    ptf = doc_term_positions(docs)
    path = str(tmp_path / "pidx")
    save_positional_index(ptf, path, n_buckets=16)
    idx = PositionalIndex(spark, path)
    assert idx.n_buckets == 16

    for p in PHRASES:
        via_saved = {
            (r["doc_id"], r["n_matches"], r["first_pos"])
            for r in idx.phrase(p).collect()
        }
        via_direct = {
            (r["doc_id"], r["n_matches"], r["first_pos"])
            for r in phrase_search_indexed(ptf, p).collect()
        }
        assert via_saved == via_direct, p

    # NEAR and boolean through the same reader
    from hybrid_search_engine_spark.operators.boolquery import (
        bool_query_indexed,
    )
    from hybrid_search_engine_spark.operators.phrase import (
        near_search_indexed,
    )

    assert (
        {tuple(r) for r in idx.near("window", "query", 3).collect()}
        == {tuple(r) for r in near_search_indexed(
            ptf, "window", "query", 3).collect()}
    )
    assert (
        {tuple(r) for r in idx.bool_query(
            must=["spark"], should=["fast"], must_not=["slow"]).collect()}
        == {tuple(r) for r in bool_query_indexed(
            ptf, must=["spark"], should=["fast"],
            must_not=["slow"]).collect()}
    )

    # partition pruning is in the plan: the bucket filter appears as a
    # partition filter on the scan, and the pruned scan reads fewer files
    pruned = idx._pruned(["window"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan
    # the pruned frame equals reading ONLY that term's bucket directory
    # (inputFiles() can't show pruning — it lists the relation pre-filter)
    bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("window")), F.lit(16)).alias("b")
    ).first()["b"]
    direct = spark.read.parquet(f"{path}/bucket={bucket}")
    assert pruned.count() == direct.count() > 0
    assert pruned.where(F.col("term") == "window").count() == direct.where(
        F.col("term") == "window").count() > 0


def test_phrase_match_scan_empty_list_raises(spark):
    from hybrid_search_engine_spark.localdf import local_df
    from hybrid_search_engine_spark.operators.phrase import phrase_match_scan

    docs = local_df(spark, [(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="no phrases"):
        phrase_match_scan(docs, [])


def _small_positional(spark, terms):
    rows = [(i, t, [1], 1) for i, t in enumerate(terms)]
    return spark.createDataFrame(
        rows, "doc_id long, term string, positions array<int>, tf int")


def test_positional_buckets_match_spark_pmod(spark, tmp_path):
    """The reader's driver-side bucket of every term equals the bucket
    Spark's ``pmod(xxhash64(term), n)`` wrote it to — ASCII, non-ASCII
    and empty terms — and the reader finds each term through it."""
    from hybrid_search_engine_spark.functions.hashing import spark_xxhash64_str
    from hybrid_search_engine_spark.operators.phrase import (
        PositionalIndex,
        save_positional_index,
    )

    terms = ["", "a", "spark", "window", "naïve", "日本語テキスト",
             "z" * 33, "mixed日本a", "Ünïcödé"]
    path = str(tmp_path / "pidx")
    save_positional_index(_small_positional(spark, terms), path, n_buckets=7)
    written = {r["term"]: r["bucket"]
               for r in spark.read.parquet(path).collect()}
    assert written == {t: spark_xxhash64_str(t) % 7 for t in terms}
    idx = PositionalIndex(spark, path)
    for t in terms:
        assert [r["term"] for r in idx._pruned([t])
                .where(F.col("term") == t).collect()] == [t], t


def test_phrase_query_plans_without_a_job(spark, tmp_path):
    """Building a phrase query's DataFrame on a fresh reader starts no
    Spark job: the buckets are computed on the driver."""
    from hybrid_search_engine_spark.operators.phrase import (
        PositionalIndex,
        save_positional_index,
    )

    path = str(tmp_path / "pidx")
    save_positional_index(doc_term_positions(_planted_df(spark)), path,
                          n_buckets=16)
    idx = PositionalIndex(spark, path)
    sc = spark.sparkContext
    group = "phrase-plan-probe"
    sc.setJobGroup(group, "phrase query planning")
    try:
        df = idx.phrase(PHRASES[0])
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert df.count() > 0


def test_positional_resave_crash_refuses_stale_meta(spark, tmp_path,
                                                    monkeypatch):
    """Re-saving with another ``n_buckets`` and crashing after the parquet
    write must leave an index the reader refuses, not one it would hash
    with the old modulus."""
    from pyspark.sql.readwriter import DataFrameWriter

    from hybrid_search_engine_spark.operators.phrase import (
        PositionalIndex,
        save_positional_index,
    )

    ptf = doc_term_positions(_planted_df(spark))
    path = str(tmp_path / "pidx")
    save_positional_index(ptf, path, n_buckets=16)
    assert PositionalIndex(spark, path).n_buckets == 16

    real = DataFrameWriter.parquet

    def parquet_then_crash(self, *args, **kwargs):
        real(self, *args, **kwargs)
        raise RuntimeError("injected crash after the parquet write")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet_then_crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            save_positional_index(ptf, path, n_buckets=5)
    with pytest.raises(FileNotFoundError):
        PositionalIndex(spark, path)

    save_positional_index(ptf, path, n_buckets=5)
    assert PositionalIndex(spark, path).n_buckets == 5

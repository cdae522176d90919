"""Resumable-build tests (t3 tier): kill after N shards, resume, compare.

Postings from an interrupted-then-resumed build must be logically identical
to an uninterrupted build, and the manifest must carry complete lineage.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

N_SHARDS = 8


@pytest.fixture(scope="module")
def docs(spark, extracted_1k):
    from hybrid_search_engine_spark.sources.pages import pages_to_docs

    d = pages_to_docs(extracted_1k, extract=False).cache()
    d.count()
    return d


def _content_hash(spark, index_dir):
    """Order-insensitive logical hash of the decoded posting content."""
    p = spark.read.parquet(os.path.join(index_dir, "postings"))
    row = (
        p.select(
            F.xxhash64("shard_id", "term", "block_id", "postings",
                       "max_score").alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("s"), F.count(F.lit(1)).alias("c"))
        .first()
    )
    return (row["s"], row["c"])


def test_doc_ids_unique(docs):
    assert docs.count() == docs.select("doc_id").distinct().count()


def test_crash_resume_bitwise_equal(spark, docs, tmp_path_factory):
    from hybrid_search_engine_spark.build.manifest import (
        build_index,
        read_manifest,
    )

    base = str(tmp_path_factory.mktemp("resume"))
    full_dir = os.path.join(base, "full")
    part_dir = os.path.join(base, "partial")

    # uninterrupted reference build
    res_full = build_index(spark, docs, full_dir, n_shards=N_SHARDS, block_size=32)
    assert sorted(res_full.built_shards) == list(range(N_SHARDS))

    # interrupted build: crash after 3 shards
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, docs, part_dir, n_shards=N_SHARDS, block_size=32,
                    fail_after_shards=3)
    m1 = read_manifest(part_dir)
    assert len(m1) == 3 and all(r["status"] == "done" for r in m1)

    # resume: builds exactly the remaining shards
    res2 = build_index(spark, docs, part_dir, n_shards=N_SHARDS, block_size=32)
    assert sorted(res2.skipped_shards) == sorted(r["shard_id"] for r in m1)
    assert sorted(res2.built_shards + res2.skipped_shards) == list(range(N_SHARDS))

    # logical content identical to the uninterrupted build
    assert _content_hash(spark, part_dir) == _content_hash(spark, full_dir)

    # manifest lineage complete: every shard, consistent fingerprint, metrics
    m2 = read_manifest(part_dir)
    assert {r["shard_id"] for r in m2} == set(range(N_SHARDS))
    fps = {json.dumps(r["source_fingerprint"], sort_keys=True) for r in m2}
    assert len(fps) == 1
    assert all(r["n_postings"] > 0 for r in m2)
    assert all("skew_ratio" in r for r in m2)


def test_resume_after_torn_manifest_line(spark, docs, tmp_path_factory):
    """A crash in the middle of a manifest append leaves an unterminated
    last line. The next build skips that record, rebuilds its shard, and
    the resumed index equals an uninterrupted build."""
    from hybrid_search_engine_spark.build.manifest import (
        MANIFEST_NAME,
        build_index,
        read_manifest,
    )

    base = str(tmp_path_factory.mktemp("torn"))
    full_dir = os.path.join(base, "full")
    part_dir = os.path.join(base, "partial")
    build_index(spark, docs, full_dir, n_shards=N_SHARDS, block_size=32)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, docs, part_dir, n_shards=N_SHARDS, block_size=32,
                    fail_after_shards=3)
    path = os.path.join(part_dir, MANIFEST_NAME)
    with open(path) as f:
        text = f.read()
    cut = text.rstrip("\n").rfind("\n") + 1  # start of the last record
    torn_shard = json.loads(text[cut:])["shard_id"]
    with open(path, "w") as f:
        f.write(text[:cut + (len(text) - cut) // 2])  # half a record, no \n
    kept = read_manifest(part_dir)
    assert len(kept) == 2
    assert torn_shard not in {r["shard_id"] for r in kept}

    res = build_index(spark, docs, part_dir, n_shards=N_SHARDS, block_size=32)
    assert torn_shard in res.built_shards
    assert sorted(res.built_shards + res.skipped_shards) == list(range(N_SHARDS))
    assert _content_hash(spark, part_dir) == _content_hash(spark, full_dir)
    # the torn tail was dropped before the resume appended its records
    done = read_manifest(part_dir)
    assert len(done) == N_SHARDS
    assert {r["shard_id"] for r in done} == set(range(N_SHARDS))


def test_resume_noop_when_complete(spark, docs, tmp_path_factory):
    from hybrid_search_engine_spark.build.manifest import build_index

    d = str(tmp_path_factory.mktemp("noop"))
    build_index(spark, docs, d, n_shards=4, block_size=32)
    res = build_index(spark, docs, d, n_shards=4, block_size=32)
    assert res.built_shards == []
    assert sorted(res.skipped_shards) == [0, 1, 2, 3]


def test_changed_shard_count_rebuilds(spark, docs, tmp_path_factory):
    """The shard count is build lineage: a build with another n_shards
    over a complete index rebuilds every shard under the new layout,
    never mixing two (a doc would sit in two shards and come back
    twice)."""
    from collections import Counter

    from hybrid_search_engine_spark.build.manifest import (
        IndexReader,
        build_index,
    )
    from hybrid_search_engine_spark.reference_semantics import tokenize

    d = str(tmp_path_factory.mktemp("reshard"))
    small = docs.orderBy("doc_id").limit(200)
    build_index(spark, small, d, n_shards=4, block_size=32)

    res = build_index(spark, small, d, n_shards=8, block_size=32)
    assert sorted(res.built_shards) == list(range(8))
    assert res.skipped_shards == []
    # the term in the most docs, so all 20 hits are real matches
    df = Counter(t for r in small.select("text").collect()
                 for t in set(tokenize(r["text"], remove_stopwords=True)))
    term = df.most_common(1)[0][0]
    assert df[term] >= 20
    hits = [r["doc_id"] for r in
            IndexReader(spark, d).search(term, k=20).collect()]
    assert len(hits) == 20 and len(set(hits)) == 20, hits

    res = build_index(spark, small, d, n_shards=4, block_size=32)
    assert sorted(res.built_shards) == [0, 1, 2, 3]
    with open(os.path.join(d, "stats", "corpus.json")) as f:
        assert json.load(f)["n_shards"] == 4
    stored = spark.read.parquet(os.path.join(d, "postings"))
    assert {r[0] for r in stored.select("shard_id").distinct().collect()} \
        == {0, 1, 2, 3}


def test_default_shard_count_follows_cores(spark, docs, tmp_path_factory):
    from hybrid_search_engine_spark.build.manifest import build_index

    d = str(tmp_path_factory.mktemp("default_shards"))
    res = build_index(spark, docs.orderBy("doc_id").limit(200), d)
    cores = spark.sparkContext.defaultParallelism
    assert res.n_shards == cores
    assert sorted(res.built_shards) == list(range(cores))
    with open(os.path.join(d, "stats", "corpus.json")) as f:
        assert json.load(f)["n_shards"] == cores


def test_changed_source_invalidates(spark, docs, tmp_path_factory):
    from hybrid_search_engine_spark.build.manifest import build_index

    d = str(tmp_path_factory.mktemp("invalidate"))
    build_index(spark, docs, d, n_shards=4, block_size=32)
    fewer = docs.where(F.col("doc_id") % 2 == 0)
    res = build_index(spark, fewer, d, n_shards=4, block_size=32)
    # fingerprint changed → all shards rebuilt
    assert sorted(res.built_shards) == [0, 1, 2, 3]


def test_other_postings_format_rebuilds(spark, docs, tmp_path_factory):
    """An index written in another posting format is rebuilt, not resumed,
    and no file of the old postings survives the rebuild."""
    from hybrid_search_engine_spark.build.manifest import (
        MANIFEST_NAME,
        IndexReader,
        build_index,
    )

    d = str(tmp_path_factory.mktemp("format"))
    build_index(spark, docs, d, n_shards=4, block_size=32)
    path = os.path.join(d, MANIFEST_NAME)
    with open(path) as f:
        records = [json.loads(line) for line in f]
    for r in records:
        r["source_fingerprint"]["postings_format"] = "earlier-format"
    with open(path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in records)
    stray = os.path.join(d, "postings", "shard_id=7")
    os.makedirs(stray)
    with open(os.path.join(stray, "part-0.parquet"), "w") as f:
        f.write("not parquet")

    res = build_index(spark, docs, d, n_shards=4, block_size=32)
    assert sorted(res.built_shards) == [0, 1, 2, 3]
    assert not os.path.exists(stray)
    assert IndexReader(spark, d).search("machine learning", k=5).collect()


def test_index_reader_end_to_end(spark, docs, tmp_path_factory):
    from hybrid_search_engine_spark.build.manifest import IndexReader, build_index

    d = str(tmp_path_factory.mktemp("reader"))
    build_index(spark, docs, d, n_shards=4, block_size=32)
    reader = IndexReader(spark, d)
    hits = reader.search("machine learning", k=5).collect()
    assert 0 < len(hits) <= 5
    assert hits[0]["score"] >= hits[-1]["score"]


def test_manifest_metrics_match_written_postings(spark, docs,
                                                 tmp_path_factory):
    """The manifest's recorded per-shard metrics must equal
    shard_metrics() recomputed from the written postings — pins the
    metrics-describe-the-written-data invariant. (Round 6 A/B'd
    collecting them as Observation aggregates on the write job instead
    of the re-read: the 4-per-shard conditional aggregates slowed the
    write by about what the re-read costs, so the re-read form stays;
    this test guards any future change of the collection path.)"""
    from hybrid_search_engine_spark.build.manifest import (
        build_index,
        read_manifest,
    )
    from hybrid_search_engine_spark.operators.postings import shard_metrics

    d = os.path.join(str(tmp_path_factory.mktemp("obs_metrics")), "idx")
    build_index(spark, docs, d, n_shards=N_SHARDS, block_size=32)

    recorded = {r["shard_id"]: r for r in read_manifest(d)
                if r["status"] == "done"}
    stored = spark.read.parquet(os.path.join(d, "postings"))
    recomputed = {r["shard_id"]: r.asDict()
                  for r in shard_metrics(stored).collect()}

    assert set(recomputed) <= set(recorded)
    for s, m in recomputed.items():
        for k in ("n_terms", "n_blocks", "n_postings"):
            assert recorded[s][k] == int(m[k]), (s, k, recorded[s][k], m[k])
    # shards absent from the grouped recompute (no postings) must be
    # recorded as all-zero, exactly as the fallback form records them
    for s in set(recorded) - set(recomputed):
        assert recorded[s]["n_blocks"] == 0 and recorded[s]["n_terms"] == 0


# ---------------------------------------------------------------------------
# crash points at the build's write boundaries
# ---------------------------------------------------------------------------

class InjectedCrash(Exception):
    pass


def _index_state(spark, index_dir):
    """Everything a resume must reproduce: the posting content
    (``_content_hash``), the tf and term_stats tables' content and the
    corpus scalars."""
    def table_hash(name, cols):
        row = (spark.read.parquet(os.path.join(index_dir, *name))
               .select(F.xxhash64(*cols).alias("h"))
               .agg(F.expr("bit_xor(h)").alias("s"),
                    F.count(F.lit(1)).alias("c"))
               .first())
        return (row["s"], row["c"])

    with open(os.path.join(index_dir, "stats", "corpus.json")) as f:
        corpus = json.load(f)
    return {
        "postings": _content_hash(spark, index_dir),
        "tf": table_hash(("tf",), ["doc_id", "term", "tf", "doc_len"]),
        "term_stats": table_hash(("stats", "term_stats"),
                                 ["term", "df", "cf", "idf"]),
        "corpus": (corpus["doc_count"], corpus["avg_doc_len"]),
    }


@pytest.fixture(scope="module")
def two_sources(spark, docs, tmp_path_factory):
    """An earlier source (the even doc ids) and the current one, with the
    state of a clean build of each."""
    from hybrid_search_engine_spark.build.manifest import build_index

    base = str(tmp_path_factory.mktemp("clean"))
    sources = {"earlier": docs.where(F.col("doc_id") % 2 == 0), "current": docs}
    clean = {}
    for name, src in sources.items():
        d = os.path.join(base, name)
        build_index(spark, src, d, n_shards=4, block_size=32)
        clean[name] = _index_state(spark, d)
    return sources, clean


def _raise_on_json(suffix):
    from hybrid_search_engine_spark.build import manifest

    real = manifest.write_json_atomic

    def write_json_atomic(path, obj):
        if path.endswith(suffix):
            raise InjectedCrash(path)
        real(path, obj)

    return "write_json_atomic", write_json_atomic


def _torn_tf_write():
    """The tf table's write commits part of its rows, then crashes."""
    from hybrid_search_engine_spark.build import manifest

    real = manifest.write_tf

    def write_tf(tf, path):
        real(tf.where(F.col("doc_id") % 3 == 0), path)
        assert any(f.endswith(".parquet") for f in os.listdir(path))
        raise InjectedCrash(path)

    return "write_tf", write_tf


def _raise_always(name):
    def crash(*args, **kwargs):
        raise InjectedCrash(name)

    return name, crash


# (where the build of the current source crashes, which source the next
# build is of). A crash before the manifest records a shard must leave
# nothing that lets the earlier source's manifest describe the crashed
# build's tables; a crash before corpus.json must not let the earlier
# corpus.json stand for the current source.
CRASH_POINTS = {
    "mid_tf_write": (_torn_tf_write, "current"),
    "after_tf_write": (lambda: _raise_on_json("_fingerprint.json"),
                       "earlier"),
    "after_term_stats_write": (lambda: _raise_always("build_postings"),
                               "earlier"),
    "after_postings_write": (lambda: _raise_always("append_manifest"),
                             "earlier"),
    "before_corpus_json": (lambda: _raise_on_json("corpus.json"),
                           "current"),
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_resume_after_crash_point(spark, two_sources, tmp_path, monkeypatch,
                                  point):
    """An index of the earlier source; a build of the current source
    crashes at ``point``; the next build must leave exactly the state of
    a clean build of its source."""
    from hybrid_search_engine_spark.build import manifest

    sources, clean = two_sources
    inject, resume_with = CRASH_POINTS[point]
    d = str(tmp_path / "idx")
    manifest.build_index(spark, sources["earlier"], d, n_shards=4,
                         block_size=32)
    with monkeypatch.context() as m:
        m.setattr(manifest, *inject())
        with pytest.raises(InjectedCrash):
            manifest.build_index(spark, sources["current"], d, n_shards=4,
                                 block_size=32)
    manifest.build_index(spark, sources[resume_with], d, n_shards=4,
                         block_size=32)
    assert _index_state(spark, d) == clean[resume_with]


def test_compaction_resumes_after_torn_postings_write(spark, docs, tmp_path,
                                                      monkeypatch):
    """A compaction crashes after committing half of its shards'
    postings and before the manifest records any; re-running it must
    equal a clean compaction."""
    from hybrid_search_engine_spark.build import manifest
    from hybrid_search_engine_spark.build.manifest import build_index
    from hybrid_search_engine_spark.streaming.ingest import compact_segments

    root = str(tmp_path / "root")
    for i in range(2):
        build_index(spark, docs.where(F.col("doc_id") % 2 == i),
                    os.path.join(root, "segments", f"{i:06d}"), n_shards=2,
                    block_size=32)
    clean = str(tmp_path / "clean")
    compact_segments(spark, root, clean, n_shards=4)

    real = manifest.write_postings

    def torn_write(postings, path, mode="overwrite"):
        real(postings.where(F.col("shard_id") < 2), path, mode)
        raise InjectedCrash("postings write")

    out = str(tmp_path / "out")
    with monkeypatch.context() as m:
        m.setattr(manifest, "write_postings", torn_write)
        with pytest.raises(InjectedCrash):
            compact_segments(spark, root, out, n_shards=4)
    assert os.path.isdir(os.path.join(out, "postings", "shard_id=0"))
    compact_segments(spark, root, out, n_shards=4)
    assert _index_state(spark, out) == _index_state(spark, clean)

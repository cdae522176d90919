"""Structured Streaming: incremental segment ingest, compaction parity,
windowed aggregation."""

import os

import pytest
from pyspark.sql import functions as F

from oracle.bm25_oracle import BM25Oracle


def test_incremental_ingest_and_compaction(spark, tmp_path_factory):
    """Drop pages files in two batches → stream builds two segments →
    compaction produces an index rank-identical to a one-shot oracle fit
    on the union."""
    from fixtures.gen_corpus import generate_pages
    from hybrid_search_engine_spark.build.manifest import IndexReader
    from hybrid_search_engine_spark.streaming.ingest import (
        compact_segments,
        incremental_index_query,
        list_segments,
    )

    base = tmp_path_factory.mktemp("stream")
    src = base / "incoming"
    src.mkdir()
    rows = list(generate_pages(400))

    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_batch(path, batch_rows):
        pq.write_table(pa.table({
            "url": pa.array([r["url"] for r in batch_rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in batch_rows],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in batch_rows], pa.binary()),
            "text": pa.array([r["text"] for r in batch_rows], pa.string()),
            "lang": pa.array([r["lang"] for r in batch_rows], pa.string()),
        }), path)

    write_batch(str(src / "b0.parquet"), rows[:200])
    write_batch(str(src / "b1.parquet"), rows[200:])

    index_root = str(base / "idx")
    q = incremental_index_query(
        spark, str(src), index_root, str(base / "ckpt"), n_shards=4,
        available_now=True)
    q.awaitTermination()
    segs = list_segments(index_root)
    assert len(segs) >= 1  # maxFilesPerTrigger may batch both files together

    out = str(base / "compacted")
    compact_segments(spark, index_root, out, n_shards=4)

    # oracle over the full union, via the same extraction
    from hybrid_search_engine_spark.reference_semantics import extract_text

    url_text = {r["url"]: extract_text(r["html"], r["text"]) for r in rows}
    # doc ids are xxhash64(url) — recover the mapping from Spark
    iddf = spark.createDataFrame([(u,) for u in url_text], "url string")
    idmap = {r["url"]: r["doc_id"] for r in
             iddf.select("url", F.xxhash64("url").alias("doc_id")).collect()}
    oracle = BM25Oracle().fit({idmap[u]: t for u, t in url_text.items()})

    reader = IndexReader(spark, out)
    for query in ["machine learning and AI", "the quick brown fox"]:
        got = reader.search(query, k=10).collect()
        want = oracle.topk_nonzero(query, k=10)
        assert [r["doc_id"] for r in got] == [d for d, _ in want], query
        for r, (_, s) in zip(got, want):
            assert abs(r["score"] - s) <= 1e-6 * max(1.0, abs(s))

    # the compacted index is a build like any other: global corpus
    # scalars, xxhash64 keys and one committed manifest record per shard
    import json

    from hybrid_search_engine_spark.build.manifest import read_manifest

    with open(os.path.join(out, "stats", "corpus.json")) as f:
        corpus = json.load(f)
    assert corpus["doc_count"] == oracle.n_docs
    assert corpus["avg_doc_len"] == oracle.avgdl
    assert dict(reader.postings.dtypes)["term"] == "bigint"
    done = [r["shard_id"] for r in read_manifest(out)
            if r["status"] == "done"]
    assert sorted(done) == [0, 1, 2, 3]
    assert sorted(os.listdir(os.path.join(out, "stats"))) == [
        "corpus.json", "term_stats"]


def test_windowed_event_counts_stream_matches_batch(spark, tmp_path_factory):
    from hybrid_search_engine_spark.streaming.ingest import (
        as_stream_dir,
        windowed_event_counts,
    )

    sf = "/root/testdata/sf0.001"
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    stream = spark.readStream.schema(schema).parquet(
        as_stream_dir(os.path.join(sf, "events.parquet")))
    agg = windowed_event_counts(stream, window="1 hour")
    name = "test_stream_win"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(str(r["window_start"]), r["event_type"]): (r["n_events"],
                                                       round(r["sum_value"], 6))
           for r in spark.table(name).collect()}

    batch = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    want = {(str(r["window_start"]), r["event_type"]): (r["n"], round(r["s"], 6))
            for r in batch}
    assert got == want


def test_dedup_checked_ingest_skips_near_dups_across_batches(
        spark, tmp_path_factory):
    """Phase 1 indexes two distinct pages; phase 2 drops a near-copy of a
    phase-1 page plus a novel page — only the novel page may reach the
    phase-2 segment, and the dedup state grows by exactly the survivors."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hybrid_search_engine_spark.streaming.ingest import (
        dedup_checked_ingest,
        list_segments,
    )

    base_txt = ("the quick brown fox jumps over the lazy dog while the cat "
                "watches from the warm windowsill in the afternoon sun")
    other_txt = ("completely different content about shuffle partitions "
                 "broadcast joins and adaptive query execution in spark")
    novel_txt = ("a third topic entirely concerning parquet row group "
                 "statistics and column pruning for analytic scans")

    def write_pages(path, rows):
        ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
        pq.write_table(pa.table({
            "url": pa.array([u for u, _ in rows], pa.string()),
            "warc_ts": pa.array([ts] * len(rows), pa.timestamp("us", tz="UTC")),
            "html": pa.array(
                [f"<html><body><p>{t}</p></body></html>".encode()
                 for _, t in rows], pa.binary()),
            "text": pa.array([t for _, t in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        }), path)

    base = tmp_path_factory.mktemp("dedup_stream")
    src = base / "incoming"
    src.mkdir()
    index_root = str(base / "idx")
    ckpt = str(base / "ckpt")

    write_pages(str(src / "b0.parquet"),
                [("http://a/1", base_txt), ("http://a/2", other_txt)])
    dedup_checked_ingest(spark, str(src), index_root, ckpt,
                         n_shards=2).awaitTermination()
    segs1 = list_segments(index_root)
    assert len(segs1) == 1

    write_pages(str(src / "b1.parquet"),
                [("http://a/3", base_txt + " tail"),  # near-dup of /1
                 ("http://a/4", novel_txt)])
    dedup_checked_ingest(spark, str(src), index_root, ckpt,
                         n_shards=2).awaitTermination()
    segs2 = list_segments(index_root)
    assert len(segs2) == 2
    new_seg = [s for s in segs2 if s not in segs1][0]

    ids = {u: r["id"] for u, r in zip(
        ["http://a/1", "http://a/2", "http://a/3", "http://a/4"],
        spark.createDataFrame(
            [(u,) for u in ["http://a/1", "http://a/2",
                            "http://a/3", "http://a/4"]], "url string")
        .select(F.xxhash64("url").alias("id")).collect())}

    seg_docs = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(new_seg, "tf")).select("doc_id").collect()}
    assert ids["http://a/4"] in seg_docs
    assert ids["http://a/3"] not in seg_docs  # near-dup skipped

    store = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(index_root, "dedup", "docs")).collect()}
    assert store == {ids["http://a/1"], ids["http://a/2"], ids["http://a/4"]}


def test_compact_dedup_state_drops_replay_duplicates(spark, tmp_path_factory):
    from hybrid_search_engine_spark.streaming.ingest import compact_dedup_state

    root = str(tmp_path_factory.mktemp("dedup_compact") / "idx")
    bands = spark.createDataFrame(
        [(1, 0, "h1"), (1, 1, "h2"), (2, 0, "h3")],
        "doc_id long, band_id int, band_hash string")
    docs = spark.createDataFrame([(1, "t1"), (2, "t2")],
                                 "doc_id long, text string")
    for df, sub in ((bands, "bands"), (docs, "docs")):
        p = os.path.join(root, "dedup", sub)
        df.write.mode("append").parquet(p)
        df.write.mode("append").parquet(p)  # simulated crash replay

    compact_dedup_state(spark, root)
    b = spark.read.parquet(os.path.join(root, "dedup", "bands"))
    d = spark.read.parquet(os.path.join(root, "dedup", "docs"))
    assert b.count() == 3 and d.count() == 2
    assert not os.path.isdir(os.path.join(root, "dedup", "bands__old"))


def test_recover_dedup_state_mid_swap_crash(spark, tmp_path_factory):
    """A crash between the two swap renames leaves NO live bands/ dir;
    recovery must restore the newest complete snapshot instead of letting
    the next ingest treat the corpus as empty."""
    import shutil

    from hybrid_search_engine_spark.streaming.ingest import (
        compact_dedup_state,
        recover_dedup_state,
    )

    root = str(tmp_path_factory.mktemp("dedup_recover") / "idx")
    bands = spark.createDataFrame(
        [(1, 0, "h1"), (2, 0, "h2")], "doc_id long, band_id int, band_hash string")
    live = os.path.join(root, "dedup", "bands")
    bands.write.mode("append").parquet(live)
    docs_live = os.path.join(root, "dedup", "docs")
    spark.createDataFrame([(1, "t1")], "doc_id long, text string") \
        .write.mode("append").parquet(docs_live)

    # crash state A: tmp fully written (_SUCCESS), live renamed to __old,
    # second rename never happened
    bands.limit(1).write.mode("overwrite").parquet(live + "__compacting")
    os.rename(live, live + "__old")
    assert not os.path.isdir(live)
    recover_dedup_state(root)
    assert os.path.isdir(live)
    assert spark.read.parquet(live).count() == 1  # finished the swap
    assert not os.path.isdir(live + "__old")
    assert not os.path.isdir(live + "__compacting")

    # crash state B: tmp incomplete (no _SUCCESS), live renamed away →
    # roll back to __old
    bands.write.mode("overwrite").parquet(live + "__compacting")
    os.remove(os.path.join(live + "__compacting", "_SUCCESS"))
    os.rename(live, live + "__old")
    recover_dedup_state(root)
    assert os.path.isdir(live)
    assert spark.read.parquet(live).count() == 1  # rolled back
    assert not os.path.isdir(live + "__compacting")

    # crash state C: live intact, stale leftovers → cleared
    shutil.copytree(live, live + "__old")
    recover_dedup_state(root)
    assert os.path.isdir(live) and not os.path.isdir(live + "__old")

    # compaction itself runs recovery first and still works end-to-end
    compact_dedup_state(spark, root)
    assert spark.read.parquet(live).count() == 1


def test_tombstoned_deletes_invisible_after_compaction(spark, tmp_path_factory):
    """Reference watcher parity (watcher.py:76-154 handles deletes): a
    source file removed between batches must stop matching queries after
    compaction. Also the compaction block-max invariant: with ≥3 segments
    sharing overlapping terms, the PRUNED search over the compacted index
    equals the EXACT search equals a from-scratch oracle on the surviving
    corpus — i.e. block-max metadata was rebuilt, not carried stale."""
    from fixtures.gen_corpus import generate_pages
    from hybrid_search_engine_spark.build.manifest import IndexReader
    from hybrid_search_engine_spark.streaming.ingest import (
        compact_segments,
        incremental_index_query,
        list_segments,
        read_tombstones,
        tombstone_deleted_docs,
    )

    base = tmp_path_factory.mktemp("stream_del")
    src = base / "incoming"
    src.mkdir()
    rows = list(generate_pages(300))

    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_batch(path, batch_rows):
        pq.write_table(pa.table({
            "url": pa.array([r["url"] for r in batch_rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in batch_rows],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in batch_rows], pa.binary()),
            "text": pa.array([r["text"] for r in batch_rows], pa.string()),
            "lang": pa.array([r["lang"] for r in batch_rows], pa.string()),
        }), path)

    # three batches with overlapping vocabulary (generate_pages reuses a
    # small template vocabulary, so terms overlap across all three)
    write_batch(str(src / "b0.parquet"), rows[:100])
    write_batch(str(src / "b1.parquet"), rows[100:200])
    write_batch(str(src / "b2.parquet"), rows[200:])

    index_root = str(base / "idx")
    ckpt = str(base / "ckpt")
    q = incremental_index_query(spark, str(src), index_root, ckpt,
                                n_shards=4, available_now=True)
    q.awaitTermination()
    assert len(list_segments(index_root)) >= 1

    # delete one source file between batches; its 100 docs must vanish
    os.remove(str(src / "b1.parquet"))
    n_new = tombstone_deleted_docs(spark, str(src), index_root)
    assert n_new == 100
    # idempotent: re-running adds nothing
    assert tombstone_deleted_docs(spark, str(src), index_root) == 0
    tombs = {r["doc_id"] for r in read_tombstones(spark, index_root).collect()}
    assert len(tombs) == 100

    out = str(base / "compacted")
    compact_segments(spark, index_root, out, n_shards=4)

    # surviving-corpus oracle fit from scratch (no deleted docs)
    from hybrid_search_engine_spark.reference_semantics import extract_text

    survivors = rows[:100] + rows[200:]
    url_text = {r["url"]: extract_text(r["html"], r["text"]) for r in survivors}
    iddf = spark.createDataFrame([(u,) for u in url_text], "url string")
    idmap = {r["url"]: r["doc_id"] for r in
             iddf.select("url", F.xxhash64("url").alias("doc_id")).collect()}
    oracle = BM25Oracle().fit({idmap[u]: t for u, t in url_text.items()})

    reader = IndexReader(spark, out)
    # the compacted tf table must not contain any tombstoned doc
    remaining = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(out, "tf")).select("doc_id").collect()}
    assert not (remaining & tombs)

    for query in ["machine learning and AI", "the quick brown fox",
                  "spark query window fast"]:
        pruned = reader.search(query, k=10, mode="pruned").collect()
        exact = reader.search(query, k=10, mode="exact").collect()
        assert [r["doc_id"] for r in pruned] == [r["doc_id"] for r in exact]
        assert not ({r["doc_id"] for r in pruned} & tombs), query
        want = oracle.topk_nonzero(query, k=10)
        assert [r["doc_id"] for r in pruned] == [d for d, _ in want], query
        for r, (_, s) in zip(pruned, want):
            assert abs(r["score"] - s) <= 1e-6 * max(1.0, abs(s))

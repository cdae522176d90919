"""spark-submit job entry points: build → query end-to-end via main(argv).

The jobs are plain scripts (argparse + absolute imports) so the same file
works under `spark-submit --py-files hse_spark.zip jobs/…` and `python -m`.
Here main() runs in-process against the session fixture (job_session's
getOrCreate picks it up), which exercises argument plumbing, the resumable
build call, JSON-line reporting, and the batch query path.
"""

import json

import pytest


@pytest.fixture(scope="module")
def built_index(spark, pages_1k_path, tmp_path_factory):
    from hybrid_search_engine_spark.jobs import build_index_job

    idx = str(tmp_path_factory.mktemp("jobidx") / "idx")
    build_index_job.main([
        "--input", pages_1k_path, "--index-dir", idx, "--n-shards", "4",
    ])
    return idx


def test_build_job_reports_and_resumes(built_index, pages_1k_path, capsys):
    from hybrid_search_engine_spark.jobs import build_index_job

    # second run on the same input resumes: every shard skipped
    build_index_job.main([
        "--input", pages_1k_path, "--index-dir", built_index,
        "--n-shards", "4",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["job"] == "build_index"
    assert rep["doc_count"] == 1000
    assert rep["built_shards"] == []
    assert rep["skipped_shards"] == [0, 1, 2, 3]
    assert rep["total_postings"] > 0


def test_query_job_stdout_matches_reader(built_index, spark, capsys):
    from fixtures.gen_corpus import all_queries
    from hybrid_search_engine_spark.build.manifest import IndexReader
    from hybrid_search_engine_spark.jobs import query_job

    q = all_queries()[0]  # in-vocab reference demo query
    query_job.main([
        "--index-dir", built_index, "--k", "5",
        "--query", q,
        "--query", "zzz_out_of_vocabulary",
        "--no-cache-postings",
    ])
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    by_id = {ln["query_id"]: ln for ln in lines if "query_id" in ln}
    assert set(by_id) == {0, 1}
    assert by_id[1]["hits"] == []  # OOV query → no hits
    assert by_id[0]["hits"], f"in-vocab query {q!r} must hit"

    want = [(int(r["doc_id"]), round(float(r["score"]), 6))
            for r in IndexReader(spark, built_index, cache_postings=False)
            .search(q, k=5).collect()]
    got = [(h["doc_id"], h["score"]) for h in by_id[0]["hits"]]
    assert got == want


def test_query_job_parquet_output(built_index, spark, tmp_path, capsys):
    from hybrid_search_engine_spark.jobs import query_job

    from fixtures.gen_corpus import all_queries

    out = str(tmp_path / "results")
    query_job.main([
        "--index-dir", built_index, "--query", all_queries()[0],
        "--output", out, "--no-cache-postings",
    ])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] > 0
    df = spark.read.parquet(out)
    assert set(df.columns) == {"query_id", "rank", "doc_id", "score"}
    assert df.count() == rep["rows"]


def test_ingest_job_drain_and_compact(spark, tmp_path_factory, capsys):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fixtures.gen_corpus import generate_pages
    from hybrid_search_engine_spark.build.manifest import IndexReader
    from hybrid_search_engine_spark.jobs import ingest_job

    base = tmp_path_factory.mktemp("ingestjob")
    src = base / "incoming"
    src.mkdir()
    rows = list(generate_pages(200))
    pq.write_table(pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    }), str(src / "b0.parquet"))

    compacted = str(base / "compacted")
    ingest_job.main([
        "--source", str(src), "--index-root", str(base / "idx"),
        "--checkpoint", str(base / "ckpt"), "--n-shards", "4",
        "--compact-to", compacted,
    ])
    from fixtures.gen_corpus import all_queries

    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["segments"] >= 1 and rep["compacted_to"] == compacted
    hits = IndexReader(spark, compacted, cache_postings=False).search(
        all_queries()[0], k=5).collect()
    assert len(hits) > 0

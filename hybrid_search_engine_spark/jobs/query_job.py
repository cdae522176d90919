"""spark-submit job: top-k BM25 queries against a built index.

    spark-submit --py-files hse_spark.zip \\
        hybrid_search_engine_spark/jobs/query_job.py \\
        --index-dir <dir> (--query "..." ... | --queries-file f.txt)
        [--k 10] [--output <parquet-dir>]
        [--no-cache-postings] [--local-cores N]

All queries run as ONE batch plan (IndexReader.search_batch →
operators/score.search_postings_batch: the posting blocks of every query
term, broadcast-joined to the (query_id, term, idf, qweight) table and
scored in the JVM) — the per-query plan-compile cost is amortized, which
is the throughput-path answer measured in BENCH/BASELINE.md. Results go
to --output as parquet (query_id, rank, doc_id, score) or, without
--output, to stdout as JSON lines per query.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--query", action="append", default=[],
                    help="repeatable; query text")
    ap.add_argument("--queries-file", default=None,
                    help="one query per line; ids are line numbers")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--output", default=None,
                    help="parquet output dir (default: JSON lines on stdout)")
    ap.add_argument("--no-cache-postings", action="store_true",
                    help="skip the shard-partitioned postings cache "
                         "(right when the index exceeds cluster memory)")
    ap.add_argument("--local-cores", type=int, default=None)
    args = ap.parse_args(argv)

    queries = list(args.query)
    if args.queries_file:
        with open(args.queries_file) as f:
            queries += [line.strip() for line in f if line.strip()]
    if not queries:
        ap.error("no queries: pass --query or --queries-file")

    from hybrid_search_engine_spark.build.manifest import IndexReader
    from hybrid_search_engine_spark.jobs import job_session

    spark = job_session("hse-query", args.local_cores)
    t0 = time.time()
    reader = IndexReader(spark, args.index_dir,
                         cache_postings=not args.no_cache_postings)
    out = reader.search_batch(list(enumerate(queries)), k=args.k)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"job": "query", "n_queries": len(queries),
                          "rows": n, "output": args.output,
                          "elapsed_s": round(time.time() - t0, 3)}),
              flush=True)
    else:
        rows = out.collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        for qid, text in enumerate(queries):
            hits = sorted(by_q.get(qid, []), key=lambda r: int(r["rank"]))
            print(json.dumps({
                "query_id": qid, "query": text,
                "hits": [{"rank": int(r["rank"]), "doc_id": int(r["doc_id"]),
                          "score": round(float(r["score"]), 6)}
                         for r in hits],
            }), flush=True)
        print(json.dumps({"job": "query", "n_queries": len(queries),
                          "elapsed_s": round(time.time() - t0, 3)}),
              file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()

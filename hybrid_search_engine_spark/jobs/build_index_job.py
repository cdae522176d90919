"""spark-submit job: pages table → sharded BM25 index (resumable).

    spark-submit --py-files hse_spark.zip \\
        hybrid_search_engine_spark/jobs/build_index_job.py \\
        --input <path-or-table> --index-dir <dir> [--format parquet|table|…]
        [--n-shards N] [--k1 1.5] [--b 0.75] [--block-size 128]
        [--extract-partitions N] [--no-extract] [--local-cores N]

Re-running after a crash resumes from the per-shard lineage manifest
(build/manifest.py): completed shards whose source fingerprint still
matches are skipped. Prints ONE JSON line with build stats + the per-shard
skew table, suitable for log scraping.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="pages source: path (parquet/…) or catalog table")
    ap.add_argument("--format", default="parquet",
                    help="input format; 'table' = spark.table(name) "
                         "(Iceberg via the submit-configured catalog); "
                         "'iceberg' = classpath-checked reader with "
                         "--snapshot-id time travel")
    ap.add_argument("--snapshot-id", type=int, default=None,
                    help="pin an Iceberg snapshot (build lineage records "
                         "it; resume reads the same snapshot)")
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--n-shards", type=int, default=None,
                    help="default: one shard per core of the session")
    ap.add_argument("--k1", type=float, default=1.5)
    ap.add_argument("--b", type=float, default=0.75)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--extract-partitions", type=int, default=None,
                    help="repartition width BEFORE the html→text UDF "
                         "(default: leave scan granularity alone)")
    ap.add_argument("--no-extract", action="store_true",
                    help="input's text column is already extracted")
    ap.add_argument("--local-cores", type=int, default=None,
                    help="run without a cluster manager on local[N]")
    args = ap.parse_args(argv)

    from hybrid_search_engine_spark.build.manifest import build_index, read_manifest
    from hybrid_search_engine_spark.jobs import job_session, read_pages
    from hybrid_search_engine_spark.sources.pages import pages_to_docs

    spark = job_session("hse-build-index", args.local_cores)
    t0 = time.time()
    pages = read_pages(spark, args.input, args.format,
                       snapshot_id=args.snapshot_id)
    docs = pages_to_docs(pages, extract=not args.no_extract,
                         partitions=args.extract_partitions)
    result = build_index(
        spark, docs, args.index_dir, n_shards=args.n_shards,
        k1=args.k1, b=args.b, block_size=args.block_size,
    )
    shards = {r["shard_id"]: r for r in read_manifest(args.index_dir)
              if r.get("status") == "done"}
    print(json.dumps({
        "job": "build_index",
        "index_dir": result.index_dir,
        "doc_count": result.doc_count,
        "n_shards": result.n_shards,
        "built_shards": result.built_shards,
        "skipped_shards": result.skipped_shards,
        "elapsed_s": round(time.time() - t0, 3),
        "docs_per_sec": round(result.docs_per_sec, 1),
        "avg_doc_len": round(result.avg_doc_len, 4),
        "max_skew_ratio": max(
            (r.get("skew_ratio", 0.0) for r in shards.values()), default=0.0),
        "total_postings": sum(r.get("n_postings", 0) for r in shards.values()),
    }), flush=True)


if __name__ == "__main__":
    main()
    sys.exit(0)

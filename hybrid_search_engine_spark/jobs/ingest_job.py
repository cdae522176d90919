"""spark-submit job: streaming incremental ingest (+ optional compaction).

    spark-submit --py-files hse_spark.zip \\
        hybrid_search_engine_spark/jobs/ingest_job.py \\
        --source <pages-drop-dir> --index-root <dir> --checkpoint <dir>
        [--n-shards N] [--continuous] [--compact-to <dir>] [--local-cores N]

Default is drain-and-stop (``trigger(availableNow=True)``): index every
pages parquet file not yet recorded in the checkpoint as one or more
micro-batch SEGMENTS, then exit — the cron-able shape. ``--continuous``
keeps the watcher running with a 2 s processing-time trigger (the
reference's watcher.py debounce parity) until killed; the checkpoint makes
either mode resumable. ``--compact-to`` runs the segment-merge job
afterwards (drain mode only), producing a canonical sharded index with
globally consistent df/idf/avgdl.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True,
                    help="directory receiving pages parquet drops")
    ap.add_argument("--index-root", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--n-shards", type=int, default=None,
                    help="default: one shard per core of the session")
    ap.add_argument("--continuous", action="store_true",
                    help="run until killed (2s trigger) instead of "
                         "drain-and-stop")
    ap.add_argument("--compact-to", default=None,
                    help="after draining, merge all segments into a "
                         "canonical index at this dir")
    ap.add_argument("--local-cores", type=int, default=None)
    args = ap.parse_args(argv)

    from hybrid_search_engine_spark.jobs import job_session
    from hybrid_search_engine_spark.streaming.ingest import (
        compact_segments,
        incremental_index_query,
        list_segments,
    )

    spark = job_session("hse-ingest", args.local_cores)
    t0 = time.time()
    q = incremental_index_query(
        spark, args.source, args.index_root, args.checkpoint,
        n_shards=args.n_shards, available_now=not args.continuous,
    )
    q.awaitTermination()

    report = {
        "job": "ingest",
        "index_root": args.index_root,
        "segments": len(list_segments(args.index_root)),
        "elapsed_s": round(time.time() - t0, 3),
    }
    if args.compact_to:
        if args.continuous:
            ap.error("--compact-to requires drain mode (drop --continuous)")
        compact_segments(spark, args.index_root, args.compact_to,
                         n_shards=args.n_shards)
        report["compacted_to"] = args.compact_to
        report["elapsed_s"] = round(time.time() - t0, 3)
    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()

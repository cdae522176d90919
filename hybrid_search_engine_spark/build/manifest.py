"""Resumable index builds with per-shard lineage + metrics manifest.

The manifest is a JSON-lines file at ``<index_dir>/_manifest.jsonl``; one
record per completed shard:

    {"shard_id": 3, "status": "done", "n_terms":..., "n_blocks":...,
     "n_postings":..., "skew_ratio":...,
     "source_fingerprint": {"n_docs":..., "max_warc_ts":...},
     "built_at":..., "attempt":..., "elapsed_s":..., "docs_per_sec":...}

Resume protocol (SURVEY.md §7.2.4, north rule "resumable from per-partition
checkpoints carrying lineage"):

1. read the manifest; `done` = shards with status=done AND matching source
   fingerprint (a changed source invalidates every shard);
2. build only missing shards (`shard_filter` pushes a shard_id predicate
   into the build plan — the anti-join against done work);
3. write with dynamic partition overwrite (idempotent per shard dir: a
   re-run of a crashed shard replaces its files exactly);
4. append manifest records only after the write commits.

In production the manifest would be an Iceberg table and the fingerprint a
source snapshot id; JSON-lines keeps the same protocol testable here.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import (
    POSTINGS_FORMAT,
    build_postings,
    read_postings,
    shard_metrics,
    write_postings,
)
from ..localdf import local_df
from ..operators.stats import term_frequencies_with_doclen, term_stats

MANIFEST_NAME = "_manifest.jsonl"

# granularity of the statistics stage: bounds the per-task aggregation-map
# footprint independently of core count (see term_frequencies_with_doclen)
DOCS_PER_BUILD_PARTITION = 8192


@dataclass
class IndexBuildResult:
    index_dir: str
    n_shards: int
    built_shards: list
    skipped_shards: list
    elapsed_s: float
    docs_per_sec: float
    avg_doc_len: float
    doc_count: int


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, MANIFEST_NAME)


def read_manifest(index_dir: str) -> list[dict]:
    """Every committed record. A crash in the middle of an append leaves an
    unterminated final line; it never committed, so it is skipped."""
    p = _manifest_path(index_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        lines = f.read().split("\n")
    # the last piece is "" when the file ends in a newline, else torn
    return [json.loads(line) for line in lines[:-1] if line.strip()]


def append_manifest(index_dir: str, records: list[dict]) -> None:
    os.makedirs(index_dir, exist_ok=True)
    p = _manifest_path(index_dir)
    if os.path.exists(p):
        # drop a torn tail first, so the new records start on their own line
        with open(p, "rb+") as f:
            data = f.read()
            if data and not data.endswith(b"\n"):
                f.truncate(data.rfind(b"\n") + 1)
    with open(p, "a") as f:
        for r in records:
            f.write(json.dumps(r, sort_keys=True) + "\n")


def _write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON so a crash leaves the old file or the new one,
    never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def source_fingerprint(docs: DataFrame) -> dict:
    """Lineage: identifies the exact source the shards were built from.

    Hashes CONTENT, not just ids: ``bit_xor(xxhash64(doc_id, text))`` is
    order-insensitive and changes when any document's text changes, so a
    regenerated corpus with the same ids invalidates every shard (one fused
    aggregate, same cost shape as the id-only form)."""
    agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(doc_id, text))").alias("h"),
    ).first()
    return {"n_docs": int(agg["n"]), "id_hash": int(agg["h"] or 0)}


def done_shards(index_dir: str, fingerprint: dict) -> set:
    return {
        r["shard_id"]
        for r in read_manifest(index_dir)
        if r.get("status") == "done" and r.get("source_fingerprint") == fingerprint
    }


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_shards: int = 32,
    k1: float = 1.5,
    b: float = 0.75,
    block_size: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    fail_after_shards: int | None = None,
    term_domain: str | None = None,
) -> IndexBuildResult:
    """Build (or resume) the full index for ``docs(doc_id, text, ...)``.

    Writes postings parquet under ``index_dir/postings``, statistics under
    ``index_dir/stats``, manifest at ``index_dir/_manifest.jsonl``.

    ``fail_after_shards`` is a test hook: simulate a crash after N shards
    completed (builds only those shards, records them, then raises).

    ``term_domain``: "hash" (default — the engine tier) keys the tf table,
    term_stats, and postings by ``xxhash64(term)`` bigints instead of term
    strings; the tf aggregation and posting shuffle/sort then run over
    fixed-width keys (the build's dominant memory-bandwidth consumer —
    see stats.term_frequencies_with_doclen for the measured win and the
    collision analysis). Queries through ``IndexReader`` are transparent:
    corpus.json records the domain and the reader maps query tokens with
    the bit-parity driver-side xxhash64 — rank-identity between the two
    domains is pinned by test. "string" is the portable/debug tier
    (postings introspectable by eye; the domain streaming segments use,
    since compact_segments reads term values back out of blocks).
    None (the default) resolves to $HSE_BUILD_TERM_DOMAIN or "hash" —
    the env override exists so benchmark harnesses can A/B the domains
    without threading a parameter through every entry point."""
    import sys

    if term_domain is None:
        term_domain = os.environ.get("HSE_BUILD_TERM_DOMAIN", "hash")

    verbose = os.environ.get("HSE_BUILD_VERBOSE") == "1"

    def _log(msg):
        if verbose:
            print(f"[build_index +{time.time() - t0:7.1f}s] {msg}",
                  file=sys.stderr, flush=True)

    t0 = time.time()
    docs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    if term_domain not in ("string", "hash"):
        raise ValueError(f"term_domain must be 'string' or 'hash', "
                         f"got {term_domain!r}")
    fp = source_fingerprint(docs)  # one agg: count + content hash (fused)
    # the term domain and the posting format are part of build lineage:
    # shards/tf built in one domain or format must not satisfy a resume in
    # another (keys or columns differ), so both ride inside the fingerprint
    # every resume check compares
    fp["term_domain"] = term_domain
    fp["postings_format"] = POSTINGS_FORMAT
    _log("fingerprint done")
    done = done_shards(index_dir, fp)
    todo = [s for s in range(n_shards) if s not in done]

    # fully-resumed no-op: every shard done for this exact source AND the
    # stats tables were committed for the same fingerprint → skip the
    # statistics recompute entirely (repeat contract/bench calls pay only
    # the fingerprint aggregate)
    corpus_json = os.path.join(index_dir, "stats", "corpus.json")
    if not todo and os.path.exists(corpus_json):
        with open(corpus_json) as f:
            corpus = json.load(f)
        if corpus.get("source_fingerprint") == fp:
            elapsed = time.time() - t0
            return IndexBuildResult(
                index_dir=index_dir, n_shards=n_shards, built_shards=[],
                skipped_shards=sorted(done), elapsed_s=elapsed,
                docs_per_sec=0.0, avg_doc_len=corpus["avg_doc_len"],
                doc_count=corpus["doc_count"],
            )
    simulate_crash = False
    if fail_after_shards is not None and len(todo) > fail_after_shards:
        todo = todo[:fail_after_shards]
        simulate_crash = True

    # --- statistics: ONE exchange (raw docs by doc_id), materialized to
    # parquet — the tf table is both the posting builder's input and build
    # lineage (a crash-resume skips straight to the missing shards without
    # re-tokenizing). At 100 TB this is the "persist tf as a table" step.
    n_docs = fp["n_docs"]
    p_stats = max(spark.sparkContext.defaultParallelism,
                  -(-n_docs // DOCS_PER_BUILD_PARTITION))
    tf_dir = os.path.join(index_dir, "tf")
    tf_marker = os.path.join(tf_dir, "_fingerprint.json")  # _-prefixed: scan-invisible
    tf_fresh = False
    if os.path.exists(tf_marker):
        with open(tf_marker) as f:
            tf_fresh = json.load(f) == fp
    if not tf_fresh:
        tfdl = term_frequencies_with_doclen(docs, n_partitions=p_stats,
                                            term_domain=term_domain)
        tfdl.write.mode("overwrite").parquet(tf_dir)
        _write_json_atomic(tf_marker, fp)
        _log("tf table written")
    tf = spark.read.parquet(tf_dir)

    # term stats: vocabulary-sized agg over the tf table; written first,
    # read back for the broadcast join (computed exactly once). Σcf (total
    # surviving tokens, the avgdl numerator) rides the SAME write job as
    # an Observation metric instead of a separate read-back aggregate —
    # one fewer serial job in the build's fixed-cost chain (guide §2.4).
    from pyspark.sql import Observation

    tstats_path = os.path.join(index_dir, "stats", "term_stats")
    obs = Observation("term_stats_totals")
    (term_stats(tf.select("doc_id", "term", "tf"), n_docs)
     .observe(obs, F.sum("cf").alias("total_cf"))
     .write.mode("overwrite").parquet(tstats_path))
    tstats = spark.read.parquet(tstats_path)
    total_tokens = obs.get["total_cf"] or 0
    avg_doc_len = total_tokens / n_docs if n_docs else 0.0
    _log("statistics built")

    posting_path = os.path.join(index_dir, "postings")

    # doc_stats depends only on the (already materialized) tf table — run
    # its write CONCURRENTLY with the posting build instead of as a
    # trailing serial stage (Spark schedules parallel jobs from separate
    # threads in one session; FIFO pools interleave tasks). Saves one full
    # job of wall-clock per build — part of the per-build fixed cost that
    # strong-scaling runs pay 4× harder at 4× executors.
    doc_stats_err: list = []
    doc_stats_thread = None
    if not simulate_crash:
        import threading

        def _write_doc_stats():
            try:
                (tf.select("doc_id", "doc_len").groupBy("doc_id")
                 .agg(F.max("doc_len").alias("doc_len"))
                 .write.mode("overwrite")
                 .parquet(os.path.join(index_dir, "stats", "doc_stats")))
            except BaseException as e:  # surfaced after join()
                doc_stats_err.append(e)

        doc_stats_thread = threading.Thread(target=_write_doc_stats,
                                            name="doc_stats_write")
        doc_stats_thread.start()

    built = []
    if todo:
        postings = build_postings(
            tf, None, tstats, avg_doc_len, n_shards=n_shards,
            k1=k1, b=b, block_size=block_size, shard_filter=todo,
            # encode granularity follows the statistics granularity so
            # per-task sort/encode footprints stay bounded as data grows
            build_partitions=max(2 * n_shards, p_stats),
        )
        # dynamic partition overwrite: only the shards in `todo` are
        # replaced; previously-completed shard dirs are untouched, and a
        # crashed shard's partial files are replaced exactly on retry. A
        # build that reuses no shard starts empty, so no shard dir of an
        # earlier source or format (e.g. one left empty now) survives it.
        if not done:
            shutil.rmtree(posting_path, ignore_errors=True)
        write_postings(postings, posting_path, mode="overwrite")
        _log("postings written")
        # per-shard metrics from what we just wrote
        stored = read_postings(spark, posting_path).where(
            F.col("shard_id").isin(todo))
        metrics = {r["shard_id"]: r.asDict() for r in shard_metrics(stored).collect()}
        _log("shard metrics collected")
        elapsed = time.time() - t0
        mean_postings = (
            sum(m["n_postings"] for m in metrics.values()) / max(len(metrics), 1)
        ) or 1
        now = time.time()
        records = []
        for s in todo:
            m = metrics.get(s, {"n_terms": 0, "n_blocks": 0, "n_postings": 0,
                                "shard_id": s})
            records.append({
                "shard_id": s,
                "status": "done",
                "n_terms": int(m["n_terms"]),
                "n_blocks": int(m["n_blocks"]),
                "n_postings": int(m["n_postings"]),
                "skew_ratio": round(m["n_postings"] / mean_postings, 4),
                "source_fingerprint": fp,
                "built_at": now,
                "attempt": 1 + sum(
                    1 for r in read_manifest(index_dir) if r["shard_id"] == s
                ),
                "elapsed_s": round(elapsed, 3),
            })
        append_manifest(index_dir, records)
        built = todo

    # corpus scalars land only after the concurrent doc_stats write (and
    # the postings above) committed — corpus.json is the "stats complete"
    # marker the fast-resume path checks, so it must be written LAST
    if doc_stats_thread is not None:
        doc_stats_thread.join()
        if doc_stats_err:
            raise doc_stats_err[0]
        _log("stats tables written")
    if not simulate_crash:
        _write_json_atomic(corpus_json, {
            "doc_count": n_docs, "avg_doc_len": avg_doc_len,
            "k1": k1, "b": b, "n_shards": n_shards,
            "block_size": block_size, "term_domain": term_domain,
            "source_fingerprint": fp})

    elapsed = time.time() - t0
    result = IndexBuildResult(
        index_dir=index_dir, n_shards=n_shards, built_shards=built,
        skipped_shards=sorted(done), elapsed_s=elapsed,
        docs_per_sec=(fp["n_docs"] * len(built) / n_shards) / elapsed if elapsed else 0.0,
        avg_doc_len=avg_doc_len, doc_count=n_docs,
    )
    if simulate_crash:
        raise RuntimeError(f"simulated crash after shards {todo}")
    return result


class IndexReader:
    """Query-side handle: postings + stats + corpus scalars.

    ``cache_term_stats=True`` pulls the term→idf dictionary to the driver
    once (one job) so per-query latency pays zero stats lookups — right
    whenever the vocabulary fits driver memory. At web scale leave it False:
    queries then do a parquet point-lookup pruned by the term IN-list.

    ``cache_postings=True`` caches the posting blocks hash-partitioned by
    shard_id and term-sorted within each partition. The scorer's
    ``groupBy(shard_id, doc_id)`` is then satisfied by the cache's
    partitioning, so a single query is ONE stage (filter → explode → BM25
    → sum) plus the driver-side TakeOrdered merge, and the term filter
    skips cached batches by their min/max. Costs one upfront job and
    executor memory for the blocks. Without the cache a query reads the
    parquet and pays one exchange.

    ``cache_tf=True`` is kept for callers written against the former
    JVM-only tf-cache tier: the posting blocks now serve that tier, so it
    means "cache the postings". Likewise ``search(mode=...)`` accepts
    "pruned" or "exact" and scores exactly either way.
    """

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache_term_stats: bool = True,
                 cache_postings: bool = False,
                 cache_tf: bool = False):
        self.spark = spark
        self.postings = read_postings(spark, os.path.join(index_dir, "postings"))
        self.term_stats = spark.read.parquet(
            os.path.join(index_dir, "stats", "term_stats"))
        with open(os.path.join(index_dir, "stats", "corpus.json")) as f:
            self.corpus = json.load(f)
        # hash-domain index (term_domain="hash"): query tokens map to the
        # index's xxhash64 keys DRIVER-SIDE (bit-parity implementation —
        # no Spark job on the latency path); absent key = legacy/portable
        # string-domain index
        self._term_key = None
        if self.corpus.get("term_domain", "string") == "hash":
            from ..functions.hashing import spark_xxhash64_str
            self._term_key = spark_xxhash64_str
        if cache_postings or cache_tf:
            # partition count = min(n_shards, total cores): hash-partitioning
            # by shard_id at ANY width satisfies the scorer's
            # ClusteredDistribution(shard_id, doc_id), and a query then runs
            # exactly one task per core — ONE task wave
            p = max(1, min(int(self.corpus["n_shards"]),
                           spark.sparkContext.defaultParallelism))
            self.postings = (self.postings.repartition(p, "shard_id")
                             .sortWithinPartitions("term").cache())
            self.postings.count()
        # the scorers name the postings in SQL text; the view lives as long
        # as the reader (dropping a view uncaches its plan)
        self._view = f"hse_postings_{uuid.uuid4().hex}"
        self.postings.createOrReplaceTempView(self._view)
        self._tstats_arg = self.term_stats
        if cache_term_stats:
            self._tstats_arg = {
                r["term"]: float(r["idf"])
                for r in self.term_stats.select("term", "idf").collect()
            }

    def _weights(self, queries: list, mode: str) -> dict:
        if mode not in ("pruned", "exact"):
            raise ValueError(f"mode must be 'pruned' or 'exact', got {mode!r}")
        from ..operators.score import query_weights

        return query_weights(queries, self._tstats_arg, self._term_key)

    def search(self, query: str, k: int = 10, mode: str = "pruned"):
        """Top-k → (doc_id, score)."""
        from ..operators.score import search_postings

        weights = self._weights([(0, query)], mode)
        if not weights:
            return local_df(self.spark, [], "doc_id long, score double")
        return search_postings(
            self.spark, self._view, weights[0], self.corpus["avg_doc_len"],
            k=k, k1=self.corpus["k1"], b=self.corpus["b"])

    def search_batch(self, queries: list, k: int = 10, mode: str = "pruned"):
        """[(query_id, text)] → (query_id, rank, doc_id, score), one plan."""
        from ..operators.score import search_postings_batch

        weights = self._weights(queries, mode)
        if not weights:
            return local_df(
                self.spark, [],
                "query_id int, rank int, doc_id long, score double")
        return search_postings_batch(
            self.spark, self._view, weights, self.corpus["avg_doc_len"],
            k=k, k1=self.corpus["k1"], b=self.corpus["b"])

"""Resumable index builds with per-shard lineage + metrics manifest.

The manifest is a JSON-lines file at ``<index_dir>/_manifest.jsonl``; one
record per completed shard:

    {"shard_id": 3, "status": "done", "n_terms":..., "n_blocks":...,
     "n_postings":..., "skew_ratio":...,
     "source_fingerprint": {"n_docs":..., "id_hash":...,
                            "postings_format":..., "n_shards":...},
     "built_at":..., "attempt":..., "elapsed_s":..., "docs_per_sec":...}

Resume protocol (SURVEY.md §7.2.4, north rule "resumable from per-partition
checkpoints carrying lineage"):

1. read the manifest; `done` = shards with status=done AND matching source
   fingerprint (a changed source, posting format or shard count
   invalidates every shard);
2. build only missing shards (`shard_filter` pushes a shard_id predicate
   into the build plan — the anti-join against done work);
3. write with dynamic partition overwrite (idempotent per shard dir: a
   re-run of a crashed shard replaces its files exactly); a build that can
   reuse no shard first deletes the manifest and the postings, before it
   overwrites any table;
4. append manifest records only after the write commits; ``corpus.json``
   (the "complete" marker) is written last.

In production the manifest would be an Iceberg table and the fingerprint a
source snapshot id; JSON-lines keeps the same protocol testable here.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import spark_murmur3_int
from ..operators.postings import (
    POSTINGS_FORMAT,
    build_postings,
    shard_metrics,
    write_postings,
)
from ..localdf import local_df
from ..operators.stats import (
    stats_partitions,
    term_frequencies_with_doclen,
    term_stats,
)

MANIFEST_NAME = "_manifest.jsonl"


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


def write_json_atomic(path: str, obj) -> None:
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
    n_shards: int | None = None,
    k1: float = 1.5,
    b: float = 0.75,
    block_size: int = 128,
    fail_after_shards: int | None = None,
) -> IndexBuildResult:
    """Build (or resume) the full index for ``docs(doc_id, text, ...)``;
    other columns are ignored.

    Writes the tf table (which carries each doc's length) under
    ``index_dir/tf``, postings parquet under ``index_dir/postings``, term
    stats and ``corpus.json`` under ``index_dir/stats``, manifest at
    ``index_dir/_manifest.jsonl``.

    Every table is keyed by ``xxhash64(term)`` bigints, not term strings:
    the tf aggregation and the posting shuffle/sort run over fixed-width
    keys (see stats.term_frequencies_with_doclen for the measured win and
    the collision analysis), and ``IndexReader`` maps query tokens to the
    same keys driver-side with a bit-identical xxhash64.

    ``n_shards=None`` sizes the layout to the session: one shard per core
    (``defaultParallelism``, a cluster's total executor cores), so each
    (shard, term) posting list holds about df/cores docs and a cached
    reader runs one shard per task. The shard count is build lineage: a
    build over an index with another shard count rebuilds it.

    ``fail_after_shards`` is a test hook: simulate a crash after N shards
    completed (builds only those shards, records them, then raises)."""
    t0 = time.time()
    docs = docs.select("doc_id", "text")
    fp = source_fingerprint(docs)  # one agg: count + content hash (fused)
    # ONE exchange (raw docs by doc_id); the tail materializes it to
    # parquet unless a crash-resume finds it already written
    tf = term_frequencies_with_doclen(docs, fp["n_docs"])
    return _build_from_tf(spark, tf, index_dir, fp, fp["n_docs"], n_shards,
                          k1, b, block_size, fail_after_shards, t0)


def write_tf(tf: DataFrame, path: str) -> None:
    """The tf table's write. A crash inside it leaves part of the files
    and no ``_fingerprint.json``, so the next build rewrites the table."""
    tf.write.mode("overwrite").parquet(path)


def _build_from_tf(spark: SparkSession, tf: DataFrame, index_dir: str,
                   fp: dict, n_docs: int, n_shards: int | None,
                   k1: float, b: float,
                   block_size: int, fail_after_shards: int | None,
                   t0: float) -> IndexBuildResult:
    """Every build stage from the tf table on, shared by ``build_index``
    and ``streaming.ingest.compact_segments``: resume check, tf table,
    term stats, postings, shard metrics, manifest, corpus.json.

    ``tf`` is the unmaterialized (doc_id, term, tf, doc_len) table of the
    source that ``fp`` identifies; ``n_docs`` counts that source's docs,
    token-empty ones included, which no tf row shows. ``t0`` is the
    build's start time, for its elapsed time and rate. ``n_shards=None``
    means one shard per core of the session."""
    if n_shards is None:
        n_shards = spark.sparkContext.defaultParallelism
    # the posting format and the shard count are part of build lineage:
    # shards written in another format (columns differ) or under another
    # pmod(hash(doc_id), n_shards) (a doc would sit in two shards) must
    # not satisfy a resume, so both ride inside the fingerprint every
    # resume check compares
    fp = {**fp, "postings_format": POSTINGS_FORMAT, "n_shards": n_shards}
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

    posting_path = os.path.join(index_dir, "postings")
    if not done:
        # no shard of this source is reusable: drop the manifest and the
        # postings BEFORE any table is overwritten, so a crash below never
        # leaves an earlier source's records describing this build's files
        # (and no shard dir of an earlier source or format survives)
        if os.path.exists(_manifest_path(index_dir)):
            os.remove(_manifest_path(index_dir))
        shutil.rmtree(posting_path, ignore_errors=True)

    # the tf table is both the posting builder's input and build lineage:
    # a crash-resume skips straight to the missing shards without
    # re-deriving it. At 100 TB this is the "persist tf as a table" step.
    tf_dir = os.path.join(index_dir, "tf")
    tf_marker = os.path.join(tf_dir, "_fingerprint.json")  # _-prefixed: scan-invisible
    tf_fresh = False
    if os.path.exists(tf_marker):
        with open(tf_marker) as f:
            tf_fresh = json.load(f) == fp
    if not tf_fresh:
        write_tf(tf, tf_dir)
        write_json_atomic(tf_marker, fp)
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

    built = []
    if todo:
        postings = build_postings(
            tf, tstats, avg_doc_len, n_shards=n_shards,
            k1=k1, b=b, block_size=block_size, shard_filter=todo,
            # encode granularity follows the statistics granularity so
            # per-task sort/encode footprints stay bounded as data grows
            build_partitions=max(2 * n_shards,
                                 stats_partitions(spark, n_docs)),
        )
        # dynamic partition overwrite: only the shards in `todo` are
        # replaced; previously-completed shard dirs are untouched, and a
        # crashed shard's partial files are replaced exactly on retry
        write_postings(postings, posting_path, mode="overwrite")
        # per-shard metrics from what we just wrote
        stored = spark.read.parquet(posting_path).where(
            F.col("shard_id").isin(todo))
        metrics = {r["shard_id"]: r.asDict() for r in shard_metrics(stored).collect()}
        elapsed = time.time() - t0
        mean_postings = (
            sum(m["n_postings"] for m in metrics.values()) / max(len(metrics), 1)
        ) or 1
        now = time.time()
        # one manifest read for the whole batch of records
        attempts = Counter(r["shard_id"] for r in read_manifest(index_dir))
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
                "attempt": 1 + attempts[s],
                "elapsed_s": round(elapsed, 3),
            })
        append_manifest(index_dir, records)
        built = todo

    # corpus.json is the "stats complete" marker the fast-resume path
    # checks, so it lands only after the postings above committed
    if not simulate_crash:
        write_json_atomic(corpus_json, {
            "doc_count": n_docs, "avg_doc_len": avg_doc_len,
            "k1": k1, "b": b, "n_shards": n_shards,
            "block_size": block_size, "source_fingerprint": fp})

    elapsed = time.time() - t0
    result = IndexBuildResult(
        index_dir=index_dir, n_shards=n_shards, built_shards=built,
        skipped_shards=sorted(done), elapsed_s=elapsed,
        docs_per_sec=(n_docs * len(built) / n_shards) / elapsed if elapsed else 0.0,
        avg_doc_len=avg_doc_len, doc_count=n_docs,
    )
    if simulate_crash:
        raise RuntimeError(f"simulated crash after shards {todo}")
    return result


def _slot_labels(p: int) -> list[int]:
    """Label ``j`` is the smallest int that ``repartition(p, col)`` sends
    to partition ``j``, i.e. with ``pmod(hash(label), p) == j``."""
    labels: dict[int, int] = {}
    v = 0
    while len(labels) < p:
        labels.setdefault(spark_murmur3_int(v) % p, v)
        v += 1
    return [labels[j] for j in range(p)]


class IndexReader:
    """Query-side handle: postings + stats + corpus scalars.

    ``cache_term_stats=True`` pulls the term→idf dictionary to the driver
    once (one job) so per-query latency pays zero stats lookups — right
    whenever the vocabulary fits driver memory. At web scale leave it False:
    queries then do a parquet point-lookup pruned by the term IN-list.

    ``cache_postings=True`` caches the posting blocks in
    ``p = min(n_shards, cores)`` partitions, term-sorted within each.
    Shard ``s`` goes to partition ``s mod p``: the cache stores, in place
    of its shard_id, the slot label of that partition (the smallest int
    that Spark's ``hash()`` sends there, ``_slot_labels``) and
    hash-partitions by it, so each partition holds about n_shards/p whole
    shards (one each at the default shard count). Hashing the raw ids
    instead leaves partitions empty: 4 shard ids over 4 partitions filled
    only 2. A doc lives in one shard, so the scorer's
    ``groupBy(shard_id, doc_id)`` forms the same groups over the labels,
    and the cache's partitioning satisfies it: a single query is ONE stage
    (filter → explode → BM25 → sum) plus the driver-side TakeOrdered
    merge, and the term filter skips cached batches by their min/max.
    Costs one upfront job and executor memory for the blocks. The cache
    also holds each bigint key as a string, so a query's generated code
    does not depend on its terms and no query compiles new classes once
    each query shape has run.
    Without the cache a query reads the parquet and pays one exchange.

    Query tokens map to the index's ``xxhash64(term)`` keys driver-side
    (``functions.hashing.spark_xxhash64_str``, bit-identical to Spark's),
    so resolving a query runs no Spark job. An index whose postings are
    keyed by term strings, as earlier builds could write, is rejected
    with ``ValueError``: its keys would never match a query's.

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
        self.postings = spark.read.parquet(os.path.join(index_dir, "postings"))
        term_type = dict(self.postings.dtypes).get("term")
        if term_type != "bigint":
            raise ValueError(
                f"{index_dir}: postings are keyed by {term_type} terms, not "
                "xxhash64 bigints; rebuild the index with build_index")
        self.term_stats = spark.read.parquet(
            os.path.join(index_dir, "stats", "term_stats"))
        with open(os.path.join(index_dir, "stats", "corpus.json")) as f:
            self.corpus = json.load(f)
        self._cached = cache_postings or cache_tf
        view = self.postings
        if self._cached:
            # partition count = min(n_shards, total cores): hash-partitioning
            # by the slot label at ANY width satisfies the scorer's
            # ClusteredDistribution(shard_id, doc_id), and a query then runs
            # exactly one task per core — ONE task wave
            p = max(1, min(int(self.corpus["n_shards"]),
                           spark.sparkContext.defaultParallelism))
            slot = F.array(*[F.lit(x) for x in _slot_labels(p)])[
                F.col("shard_id") % p]
            # The term filter skips cached batches only while its keys are
            # literals, and a bigint literal is written into the generated
            # Java, so every query would compile new classes; a string
            # literal is passed by reference. So the cache carries each key
            # as a string too, sorted on it, and the scorers' view names
            # that column "term".
            self.postings = (self.postings
                             .withColumn("term_str", F.col("term").cast("string"))
                             .withColumn("shard_id", slot)
                             .repartition(p, "shard_id")
                             .sortWithinPartitions("term_str")
                             .cache())
            self.postings.count()
            view = self.postings.select(F.col("term_str").alias("term"),
                                        "shard_id", "postings")
        # the scorers name the postings in SQL text; the view lives as long
        # as the reader (dropping a view uncaches its plan)
        self._view = f"hse_postings_{uuid.uuid4().hex}"
        view.createOrReplaceTempView(self._view)
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

        weights = query_weights(queries, self._tstats_arg)
        if self._cached:
            weights = {qid: {str(t): v for t, v in w.items()}
                       for qid, w in weights.items()}
        return weights

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

"""Posting-list construction: columnar blocks built in Spark SQL.

Dataflow (explicit shapes — Catalyst won't invent these, SURVEY.md §4).
Build path (build/manifest.py): tf arrives from the materialized tf table
WITH doc_len already attached (stats.term_frequencies_with_doclen), so the
ONLY tf-grain shuffle in the posting build is the shard repartition:

    tf(doc_id, term, tf, doc_len)           [tf parquet — no doc_id join]
      → repartition(P, shard_id, term_bucket)  [THE tf-grain shuffle]
      ⋈ broadcast(term_stats(term, idf))    [vocabulary-sized broadcast]
      → row_number() OVER (shard_id, term_bucket, term ORDER BY doc_id)
        block_id = (rn - 1) div block_size  [the exchange above already
                                             clusters the window: no sort
                                             beyond the in-partition one]
      → groupBy(shard_id, term_bucket, term, block_id):
            postings  = sort_array(collect_list(struct(doc_id, tf, doc_len)))
            max_score = max(BM25 contribution)   [block-max bound]
      → write parquet partitioned by shard_id, writer v2 (idempotent
        per-shard overwrite)

Every block is a plain Parquet column — ``array<struct<doc_id, tf,
doc_len>>`` written by the Parquet v2 writer — so a query explodes
and scores it in whole-stage codegen (operators/score.py) with no Python
worker on either side of the index.

Sharding doubles as the **explicit hot-term salting**: shard_id =
pmod(hash(doc_id), n_shards), so a Zipf-head term's posting list is split
into n_shards independently-blocked sub-lists of ~df/n_shards entries each.
``max_score`` is shard-local and stays a sound block-max bound (SURVEY.md
§7.3.4), so block-max pruning can return as a SQL filter with no format
change.

The doc-shard layout is simultaneously the query-time unit: each shard holds
complete postings (all terms) for its doc subset, so a cache hash-partitioned
by shard_id scores a query with no exchange (IndexReader).

At 100 TB: n_shards scales with corpus size (target ~256 MB of postings per
shard); the same plan runs unchanged — the repartition is the only full
shuffle of (doc,term,tf)-grain data, everything downstream is shard-local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .score import bm25_contribution

BLOCK_SIZE_DEFAULT = 128
# recorded in every build's lineage fingerprint: an index written in an
# earlier posting format is rebuilt, never resumed
POSTINGS_FORMAT = "sql-blocks-1"


def build_postings(tf: DataFrame, dstats: DataFrame | None, tstats: DataFrame,
                   avgdl: float, n_shards: int = 32,
                   k1: float = 1.5, b: float = 0.75,
                   block_size: int = BLOCK_SIZE_DEFAULT,
                   build_partitions: int | None = None,
                   shard_filter: list[int] | None = None) -> DataFrame:
    """→ posting-block DataFrame (shard_id, term, block_id, postings,
    max_score), not yet written. ``shard_filter`` limits the build to
    specific shards (resume path).

    ``dstats=None`` when ``tf`` already carries a ``doc_len`` column
    (stats.term_frequencies_with_doclen — the build path): skips the
    doc_id join entirely, leaving the shard repartition as the ONLY
    tf-grain shuffle in the posting build."""
    enriched = tf if dstats is None else tf.join(dstats, "doc_id")
    shard_expr = F.pmod(F.hash(F.col("doc_id")), F.lit(n_shards)).cast("int")
    if shard_filter is not None:
        enriched = enriched.where(
            shard_expr.isin([int(s) for s in shard_filter]))
    # Partition by (shard_id, term_bucket), not shard_id alone: hashing
    # only n_shards distinct keys into n_shards partitions is balls-in-bins
    # (empty partitions + 3-4× stragglers). The sub-bucket on term keeps
    # every (shard, term) run intact within one partition while spreading
    # each shard's vocabulary across `sub` partitions.
    p = build_partitions or 2 * n_shards
    sub = max(1, (p + n_shards - 1) // n_shards)
    # tf and doc_len travel as int32 (doc_len < 2^31 by construction); idf
    # does not travel at all — the vocabulary-sized broadcast join runs
    # AFTER the exchange, so it is never duplicated onto shuffled rows
    slim = enriched.select(
        shard_expr.alias("shard_id"),
        F.pmod(F.xxhash64("term"), F.lit(sub)).cast("int").alias("term_bucket"),
        "term", "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("doc_len").cast("int").alias("doc_len"),
    ).repartition(n_shards * sub, "shard_id", "term_bucket")
    rn = F.row_number().over(
        Window.partitionBy("shard_id", "term_bucket", "term").orderBy("doc_id"))
    return (
        slim.join(F.broadcast(tstats.select("term", "idf")), "term")
        .withColumn("avgdl", F.lit(float(avgdl)))
        .select("shard_id", "term", "doc_id", "tf", "doc_len",
                "term_bucket",
                F.floor((rn - 1) / block_size).cast("int").alias("block_id"),
                bm25_contribution(k1, b).alias("impact"))
        # term_bucket stays a grouping key so the exchange's
        # HashPartitioning(shard_id, term_bucket) satisfies the aggregate
        .groupBy("shard_id", "term_bucket", "term", "block_id")
        .agg(F.sort_array(F.collect_list(
                F.struct("doc_id", "tf", "doc_len"))).alias("postings"),
             F.max("impact").alias("max_score"))
        .drop("term_bucket")
    )


def write_postings(postings: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Parquet partitioned by shard_id, term-sorted within each file (row
    group min/max then prune the query's term filter); dynamic overwrite →
    per-shard idempotent rewrites (the resume path re-emits only missing
    shards). With writer v2 an integer column whose dictionary does not pay
    falls back to DELTA_BINARY_PACKED instead of PLAIN."""
    (
        postings.sortWithinPartitions("shard_id", "term", "block_id")
        .write.partitionBy("shard_id")
        .option("partitionOverwriteMode", "dynamic")
        .option("parquet.writer.version", "v2")
        .mode(mode)
        .parquet(path)
    )


def read_postings(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def shard_metrics(postings: DataFrame) -> DataFrame:
    """Per-shard build metrics (skew evidence for the manifest): term,
    block and posting counts."""
    return postings.groupBy("shard_id").agg(
        F.countDistinct("term").alias("n_terms"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.size("postings")).alias("n_postings"),
    )

"""Table loaders for the driver testdata and the engine's pages corpus.

The north-rule input is an *Iceberg* table of web pages. The contract
queries read through :func:`load_table`, and the jobs' ``--format iceberg``
through :func:`load_pages`: ``format="iceberg"`` reads a catalog table
(snapshot-pinnable — the build manifest's ``source_fingerprint`` becomes
the snapshot id, see SCALE.md §5), while the sandbox default stays
parquet. Other readers do not come here: ``jobs/`` reads every other format
with ``spark.read.format``, ``streaming/ingest.py`` reads its segment and
dedup state as parquet, and ``perfbench/`` reads its generated corpora as
parquet, so moving those to another format means changing them too.
The Iceberg runtime jars are not installed in this environment, so the
iceberg path raises a clear error here rather than an opaque
ClassNotFound mid-plan; the test pins that behavior.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings".split()
)


def _has_iceberg(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


def load_pages(spark: SparkSession, source: str,
               format: str = "parquet",
               snapshot_id: int | None = None) -> DataFrame:
    """The engine's input table — pages(url, warc_ts, html, text, lang).

    ``format="parquet"``: ``source`` is a path (sandbox / testdata).
    ``format="iceberg"``: ``source`` is a catalog table name
    (``catalog.db.pages``); ``snapshot_id`` pins a snapshot for resumable
    builds (time-travel read — lineage recorded in the build manifest).
    """
    if format == "iceberg":
        if not _has_iceberg(spark):
            raise RuntimeError(
                "iceberg-spark-runtime is not on the classpath in this "
                "environment; submit with --packages org.apache.iceberg:"
                "iceberg-spark-runtime-4.0_2.13:<version> (or use "
                "format='parquet' for path-based reads)")
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", str(snapshot_id))
        return r.load(source)
    if format != "parquet":
        raise ValueError(f"unsupported pages format: {format!r}")
    return spark.read.parquet(source)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen a too-narrow scan to the session's parallelism.

    A small fixture (or any single-row-group parquet) arrives as ONE input
    split, which serializes every downstream per-row stage on one core. At
    real scale a scan has thousands of splits and this is a no-op: the
    repartition only fires when the plan's partition count is below the
    target, and an explicit numPartitions repartition is never
    AQE-coalesced back down. Apply it AFTER any source filters (so
    predicate pushdown still reaches the scan).

    Use it SELECTIVELY: the exchange it adds costs a stage + a shuffle, so
    it only pays where downstream per-row work cannot parallelize any
    other way. Measured at sf0.1/local[32]: 2.1× win for the md5 MinHash
    tier (SortAggregate partial — no other exchange to lean on), a LOSS
    for every hash-agg/join-form per-doc operator tried (doc_term_tf
    0.45→1.20 s, lang_detect 1.30→2.61 s, knn_batch 0.74→1.15 s), whose
    own exchanges already spread the heavy stages."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

"""SparkSession factory with scale-oriented defaults.

Local-mode knobs mirror what we'd set on a real cluster: AQE on (skew-join
splitting + shuffle coalescing are the runtime safety net for Zipfian term
skew), Arrow on (every parity UDF is a pandas UDF), shuffle partitions sized
to cores rather than the 200 default (at 100 TB you'd size these to
~target-partition-bytes instead; see operators/postings.py for the explicit
repartition the posting builder does on its own key).

Every setting made here can be overridden through
``get_spark(extra_conf={...})``, which is applied last: e.g.
``spark.driver.extraJavaOptions`` / ``spark.executor.extraJavaOptions``
for other JVM flags, or ``spark.python.daemon.module="pyspark.daemon"``
to turn the worker-daemon preload off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ParallelGC + raised GCLocker retries: G1's GCLocker thrashes against
# Arrow/compression JNI critical sections at high local thread counts
# ("Retried waiting for GCLocker too often") — measured 23% faster builds
# and much lower run-to-run variance. Single-JVM artifact; harmless on
# real executors.
DRIVER_JVM_OPTS = ("-XX:+UseParallelGC -XX:+UnlockDiagnosticVMOptions "
                   "-XX:GCLockerRetryAllocationCount=100")
# Executor JVMs of a local-cluster master get G1, NOT the driver's
# ParallelGC: ParallelGC exists to stop GCLocker thrash in the
# one-big-heap local[32] driver; a 4-core executor JVM never hits that,
# and G1's concurrent cycles cut measured K=4 build GC from 486 s to 31 s
# on byte-identical work (bench_multijvm A/B, round 4) — GC was the
# dominant per-doc inflation at 4× executors.
EXECUTOR_JVM_OPTS = "-XX:+UseG1GC"


def default_driver_memory() -> str:
    """Half of the host's physical memory: the local-mode driver JVM holds
    every executor thread's working set, and the other half is left to its
    off-heap buffers, the Python workers and the OS page cache."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(1024, total // 2**21)}m"


def get_spark(
    app: str = "hybrid_search_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """`cores` sizes shuffle width; `master` overrides the local[cores]
    default (e.g. ``local-cluster[4,4,12288]`` for the multi-executor-JVM
    scaling protocol in bench_multijvm.py — when passing a local-cluster
    master, `cores` should be total executor cores so shuffle widths match
    the equivalent local[N] run)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # 4× cores, NOT cores: hash-agg/join task memory footprints scale with
    # rows-per-reduce-task, and sizing reduce partitions at exactly `cores`
    # put ~5.5M agg groups in one task's map at the 1M-doc scale (measured
    # 1.9× whole-stage slowdown vs 4×). AQE's coalescePartitions folds the
    # excess back together whenever partitions come out small, so the only
    # cost of the higher initial number is scheduling a few more tasks.
    shuffle_partitions = shuffle_partitions or max(4 * cores, 16)
    b = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.driver.extraJavaOptions", DRIVER_JVM_OPTS)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # NOT set: spark.sql.objectHashAggregate.sortBased.fallbackThreshold.
        # Round 6 A/B'd raising it (128 → 1M) so high-cardinality
        # collect_list gathers stay hash-based: apparent bench-scale wins
        # were within this host's noise band (the "improved" rows turned
        # out to contain no ObjectHashAggregate at all), while the 1M-doc
        # positional build REGRESSED 46 s → 197 s — a per-task hash map of
        # a million growing list buffers thrashes exactly where the sort
        # fallback is protective. The conservative default is the right
        # scale posture; leave it.
        # NOT set: spark.sql.optimizer.inSetConversionThreshold=0. It turns
        # every IN list into InSet, whose values the generated Java takes
        # by reference, but a cached relation skips batches by min/max only
        # for IN and =, not InSet (Spark 4.1), so a cached term filter
        # would scan every batch. IndexReader keeps its cached keys as
        # strings instead, whose literals are references in either form.
    )
    # PySpark 4 forks FRESH python workers for every Arrow-UDF job (no
    # cross-job reuse even with spark.python.worker.reuse=true — measured),
    # and each fork pays the pandas+pyarrow import (~250 ms CPU × one per
    # core, per job). Pre-import them in the daemon so forks inherit the
    # modules copy-on-write: measured 767 → 460 ms on a 16-task toy job and
    # ~-200 ms on the former Python-scored single-query p50 floor. The
    # daemon module must be importable by the executor-side python at
    # daemon launch, hence the explicit PYTHONPATH (local/local-cluster
    # share this filesystem; on a distributed cluster ship the package via
    # --py-files, or pass extra_conf={"spark.python.daemon.module":
    # "pyspark.daemon"} to turn the preload off).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    b = (
        b.config("spark.python.daemon.module",
                 "hybrid_search_engine_spark.daemon_preload")
        .config("spark.executorEnv.PYTHONPATH", pkg_parent)
    )
    if master and master.startswith("local-cluster"):
        b = b.config("spark.executor.extraJavaOptions", EXECUTOR_JVM_OPTS)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

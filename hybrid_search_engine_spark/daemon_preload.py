"""Python-worker daemon that pre-imports the Arrow/pandas stack.

PySpark 4 does not reuse SQL Arrow-UDF workers across jobs: every
mapInPandas/applyInPandas/mapInArrow JOB forks a fresh set of workers from
the daemon (measured: new worker PIDs on every query, with
``spark.python.worker.reuse=true`` explicit). Each fork then imports
pandas + pyarrow on first use — ~250 ms of CPU per worker, paid per job,
which dominated the former Python-scored single-query latency floor
(~220 ms of a ~375 ms p50 at 1M docs / local[16]); the Arrow UDFs of the
extraction and dedup stages still pay it per job.

Forking is copy-on-write: anything the daemon has already imported is
instantly available in every forked worker. This module is a drop-in
``spark.python.daemon.module`` that imports the heavy libraries once in
the daemon, then hands control to the stock pyspark daemon loop.

Failure posture: the imports are best-effort — a worker can still import
lazily if one is missing — but the module itself must be importable at
daemon launch, so ``session.get_spark`` only enables it when the package
directory is visible to executors (it also sets
``spark.executorEnv.PYTHONPATH``; a distributed cluster without a shared
filesystem should ship the package via ``--py-files`` or pass
``get_spark(extra_conf={"spark.python.daemon.module": "pyspark.daemon"})``
to use the stock daemon).
"""

try:  # pragma: no cover - exercised in forked daemons, not in pytest's proc
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401
except Exception:  # noqa: BLE001 - a worker re-imports lazily if any fail
    pass

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()

"""hybrid_search_engine_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch rebuild of the query semantics of
``coff33ninja/hybrid-search-engine`` (reference read-only at
``/root/reference``) on idiomatic Spark:

- DataFrame/SQL plans everywhere; Catalyst/AQE pick physical strategies.
- Text extraction via vectorized Arrow pandas UDFs whose pure-Python core
  (:mod:`.reference_semantics`) is shared with the test oracle, making
  byte-parity per url a tautology enforced by tests.
- One tokenize-and-count plan for BM25 statistics, JVM-native
  (``operators/stats.py``): its tf rows carry each doc's length, so no
  separate doc-length table is kept.
- Doc-sharded posting blocks built in Spark SQL and stored as plain
  Parquet columns with a block-max bound (``operators/postings.py``).
- One BM25 scorer: blocks exploded and scored in the JVM, single query or
  batch, merged globally (``operators/score.py``); a broadcast join over
  the tf table is the correctness backstop.
- Resumable builds with per-partition lineage manifest (``build/manifest.py``).
- Training-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), similarity search, text analysis,
  multimodal plumbing (``operators/``).
- UDFs ship by value: importing the package registers it for by-value
  cloudpickle pickling (below), so Python workers need no import path to
  it, and no module that defines a UDF has to do anything for it.

Nothing in this package imports from or depends on the reference repo; the
reference is cited in docstrings (file:line) purely as the semantics contract.
"""

__version__ = "0.1.0"

import sys

from pyspark import cloudpickle

# Pickle this package's functions by value, so a Python worker needs no
# import path to the repo (a driver started from another cwd, a vanilla
# SparkSession). Registering the package covers every submodule, also ones
# imported later. It must happen at import: PySpark pickles a UDF's command
# once, at its first use, and reuses that payload. For spark-submit on a
# cluster, ship the package with --py-files instead.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

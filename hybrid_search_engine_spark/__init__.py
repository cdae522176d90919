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

Nothing in this package imports from or depends on the reference repo; the
reference is cited in docstrings (file:line) purely as the semantics contract.
"""

__version__ = "0.1.0"


def ensure_udf_serializable() -> None:
    """Register this package's modules for by-value cloudpickle pickling.

    Spark's Python workers unpickle UDFs in separate processes whose
    sys.path need not include this repo (e.g. a driver running from another
    cwd). By-value registration embeds the referenced functions in the UDF
    payload instead of importing them by module name on the worker —
    removing the deployment requirement entirely for local/driver use.
    (For spark-submit on a real cluster you'd ship the package via
    --py-files and skip this.) Idempotent; called by every module that
    defines a UDF/mapInPandas/applyInPandas function.
    """
    import sys

    try:
        from pyspark import cloudpickle
    except Exception:  # pragma: no cover
        try:
            import cloudpickle
        except Exception:
            return
    reg = getattr(cloudpickle, "register_pickle_by_value", None)
    if reg is None:  # old cloudpickle — fall back to name-based pickling
        return
    for name, mod in list(sys.modules.items()):
        if mod is not None and name.startswith(__name__):
            try:
                reg(mod)
            except Exception:
                pass

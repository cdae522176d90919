"""REAL spark-submit deployment check (north rule: "run via spark-submit
--py-files on a multi-executor cluster").

Everything else in the suite drives the engine in-process; this test runs
the actual shipped artifact the way a cluster operator would:

    spark-submit --master local-cluster[2,2,2048] \
        --py-files hse_spark.zip jobs/build_index_job.py ...

local-cluster gives two REAL executor JVMs (separate heaps, netty shuffle
between processes — the same master bench_multijvm.py uses for the scaling
gate), and --py-files is the only way the executors see the package, so a
packaging bug (missing module, relative import, driver-only path
assumption) fails here and nowhere else.

Skipped when no spark-submit binary is on PATH / in the pyspark install.

The second check is the opposite deployment: a plain SparkSession whose
driver has the repo on ``sys.path`` and nothing else — no ``PYTHONPATH``,
no ``--py-files``, a cwd outside the repo. The Python workers cannot import
the package there, so every UDF must reach them pickled by value.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else None


def test_spark_submit_pyfiles_local_cluster(tmp_path, pages_1k_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit binary available")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_base = str(tmp_path / "hse_spark")
    zip_path = shutil.make_archive(zip_base, "zip", repo,
                                   "hybrid_search_engine_spark")
    idx_dir = str(tmp_path / "idx")
    env = dict(os.environ,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    proc = subprocess.run(
        [submit,
         "--master", "local-cluster[2,2,2048]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.ui.showConsoleProgress=false",
         "--py-files", zip_path,
         os.path.join(repo, "hybrid_search_engine_spark", "jobs",
                      "build_index_job.py"),
         "--input", pages_1k_path, "--index-dir", idx_dir,
         "--n-shards", "4"],
        capture_output=True, text=True, timeout=400, env=env)
    assert proc.returncode == 0, proc.stderr[-4000:]

    # the job prints ONE JSON report line on stdout
    report_lines = [ln for ln in proc.stdout.splitlines()
                    if ln.startswith("{")]
    assert report_lines, proc.stdout
    rep = json.loads(report_lines[-1])
    assert rep["job"] == "build_index"
    assert rep["doc_count"] == 1000
    assert rep["built_shards"] == [0, 1, 2, 3]
    assert rep["total_postings"] > 0

    # artifacts on disk: per-shard posting dirs + lineage manifest
    shard_dirs = {d for d in os.listdir(os.path.join(idx_dir, "postings"))
                  if d.startswith("shard_id=")}
    assert shard_dirs == {f"shard_id={s}" for s in range(4)}
    assert os.path.exists(os.path.join(idx_dir, "_manifest.jsonl"))

    # two real executor JVMs served the app (multi-executor evidence):
    # standalone-mode executor registrations on two distinct workers
    added = [ln for ln in proc.stderr.splitlines()
             if "Executor added" in ln]
    workers = {ln.split(" on ")[1].split()[0] for ln in added if " on " in ln}
    assert len(workers) >= 2, added[:5]


_BY_VALUE_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
spark = SparkSession.builder.master("local[1]").getOrCreate()
from hybrid_search_engine_spark.functions.text import tokenize_nostop_udf
from hybrid_search_engine_spark.operators.dedup import minhash_signatures_fast
docs = spark.createDataFrame({rows!r}, "doc_id long, text string")
# the module-level UDF runs first: its pickled command is fixed at its
# first use, before any factory below has been called
toks = sorted([r["doc_id"], r["t"]] for r in docs.select(
    "doc_id", tokenize_nostop_udf(F.col("text")).alias("t")).collect())
sigs = sorted([r["doc_id"], r["sig"]]
              for r in minhash_signatures_fast(docs).collect())
print(json.dumps({{"toks": toks, "sigs": sigs}}))
spark.stop()
"""


def test_udfs_ship_by_value_without_import_path(tmp_path):
    """A driver outside the repo, with PYTHONPATH unset and the repo only
    on its own sys.path, runs a module-level UDF (tokenize_nostop_udf) and
    then a factory-built one (minhash_signatures_fast): the workers import
    nothing of the package, so both must be pickled by value."""
    import pandas as pd

    from hybrid_search_engine_spark.operators.dedup import _minhash_sig_udf

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows = [(1, "The quick brown fox"), (2, "jumps over the lazy dog")]
    script = tmp_path / "drive.py"
    script.write_text(_BY_VALUE_SCRIPT.format(repo=repo, rows=rows))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    proc = subprocess.run([sys.executable, str(script)], cwd=str(tmp_path),
                          capture_output=True, text=True, timeout=400,
                          env=env)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["toks"] == [[1, ["quick", "brown", "fox"]],
                           [2, ["jumps", "over", "lazy", "dog"]]]
    want = _minhash_sig_udf(16, 3).func(pd.Series([t for _, t in rows]))
    assert got["sigs"] == [[i, [int(v) for v in sig]]
                           for (i, _), sig in zip(rows, want)]

"""Benchmark of the engine's ingest (extract, build, dedup) and serve paths.

    python3 perfbench/run.py --workload ingest|serve --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. One run starts one Spark session, sets up,
then repeats whole rounds of its workload until the timed operations have
taken ``--seconds``. Every output is checked against a computation made
apart from the engine (perfbench/checks.py); an operation whose check
fails counts as failed. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. ``--smoke`` runs every workload at a tiny size with
tracing and every check on, in one session. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
CORES = min(4, os.cpu_count() or 1)
HEAP = "3g"  # session.get_spark defaults to 48g, more than this host has

# pages per corpus, queries per round and batch size. Each ingest round
# builds and deduplicates one fresh corpus and runs `cold_queries`; each
# serve round runs `singles` queries and one batch of `batch` queries.
SIZES = {
    "full": {"pages": 4000, "cold_queries": 10, "serve_pages": 2000,
             "singles": 10, "batch": 200},
    "tiny": {"pages": 300, "cold_queries": 2, "serve_pages": 300,
             "singles": 2, "batch": 10},
}
DEDUP_THRESHOLD = 0.5
MAX_RUN_S = 120  # start no round past this, so the run ends within 180 s
# the share of the timed wall that the spans may leave untagged in a traced
# run; status-store reads after each span make up nearly all of it (1-2%)
MAX_UNTAGGED = 0.05


def _isolate_scratch() -> None:
    """Keep every file the run writes (Spark shuffle and spill, JVM and
    Python temp files) under WORK, inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    sys.path.insert(0, ROOT)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one workload run: session, ledger, clocks and op counts."""

    def __init__(self, spark, ledger, seed: int, seconds: float,
                 size: dict, start_s: float):
        self.spark = spark
        self.ledger = ledger
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.t_start = time.perf_counter() - start_s
        self.own_s = 0.0  # input generation and oracles: not set-up work
        self.timed_s = 0.0    # wall of the timed operations
        self.timed_spans = 0  # ledger.spans[timed_spans:] are timed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict = {}
        self.layers: dict = {}
        self.jsc = spark.sparkContext._jsc

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start - self.own_s
        self.timed_spans = len(self.ledger.spans)

    def more_rounds(self) -> bool:
        return (self.timed_s < self.seconds and
                time.perf_counter() - self.t_start < MAX_RUN_S)

    @contextlib.contextmanager
    def timed(self):
        """Count the enclosed block into the run's timed wall."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.timed_s += time.perf_counter() - t0

    def op(self, errs: list) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors += errs

    def corpus(self, tag: int, n: int):
        """Write the pages of corpus ``tag`` of this run's seed; → (path,
        corpus seed). Corpus and query seeds must match: queries draw
        their words from the vocabulary of the seed they are given."""
        from fixtures.gen_corpus import write_pages_parquet

        t0 = time.perf_counter()
        cseed = self.seed * 1000 + tag
        path = os.path.join(WORK, f"pages_{cseed}.parquet")
        write_pages_parquet(path, n, cseed)
        self.own_s += time.perf_counter() - t0
        return path, cseed


# ---------------------------------------------------------------- helpers


def extract(run: Run, path: str):
    """pages parquet → materialized docs (doc_id, url, text, lang)."""
    from hybrid_search_engine_spark.sources.pages import pages_to_docs

    with run.ledger.span("text.extract"):
        docs = pages_to_docs(run.spark.read.parquet(path)).cache()
        docs.count()
    return docs


def build(run: Run, docs, tag: str):
    from hybrid_search_engine_spark.build.manifest import build_index

    index_dir = os.path.join(WORK, f"index_{tag}")
    with run.ledger.span("build.index"):
        res = build_index(run.spark, docs, index_dir)
    return index_dir, res


def collect_docs(docs) -> list:
    return docs.select("doc_id", "url", "text").collect()


def query_mix(cseed: int, oracle) -> list[str]:
    """Queries grouped by class: the demo queries, then of
    ``generated_queries(95, cseed)`` the five with an out-of-vocabulary
    term, then its hot, mid and rare ones (the generator takes those in
    turn). Queries must come from the corpus's own seed. A query the
    oracle answers with nothing (its terms are all stopwords) is left
    out: returning nothing is then correct, and it would time no scoring
    at all."""
    from fixtures.gen_corpus import DEMO_QUERIES, generated_queries

    gen = generated_queries(95, cseed)
    grouped = DEMO_QUERIES + gen[:5] + gen[6::3] + gen[7::3] + gen[5::3]
    return [q for q in grouped if oracle(q)]


def spread(mix: list, n: int, offset: int = 0) -> list:
    """``n`` entries evenly spaced over ``mix``, from ``offset`` on. Since
    the mix is grouped by class, each class gets its share of them."""
    return [mix[(offset + j * len(mix) // n) % len(mix)] for j in range(n)]


def oracle_for(ref: dict, docs_rows: list):
    from checks import TopK

    return TopK({r["doc_id"]: ref[r["url"]] for r in docs_rows})


def timed_query(run: Run, reader, query: str, oracle, lat_ms: list):
    """One ``search(q, k=10)``, collected, into the timed wall and
    ``lat_ms``; then its check, outside both."""
    from checks import check_topk

    with run.timed():
        t0 = time.perf_counter()
        with run.ledger.span("wand.query"):
            got = reader.search(query, k=10).collect()
        lat_ms.append(1e3 * (time.perf_counter() - t0))
    run.op(check_topk(oracle, query,
                      [(r["doc_id"], r["score"]) for r in got]))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def index_sizes(index_dir: str, text_bytes: int) -> dict:
    parts = {"postings.bytes": dir_bytes(os.path.join(index_dir, "postings")),
             "stats.tf_bytes": dir_bytes(os.path.join(index_dir, "tf")),
             "stats.tables_bytes": dir_bytes(os.path.join(index_dir, "stats"))}
    total = dir_bytes(index_dir)
    parts["index.other_bytes"] = total - sum(parts.values())
    parts["index.bytes_per_text_byte"] = total / text_bytes
    return parts


# -------------------------------------------------------------- workloads


def ingest(run: Run) -> None:
    """Set-up runs one untimed round. Each timed round takes a corpus not
    seen before in the process through extraction, ``build_index`` and a
    dedup pass, then opens an uncached reader on the new index and runs
    cold queries against the parquet on disk."""
    from checks import check_dedup, check_extraction, reference_texts
    from hybrid_search_engine_spark.build.manifest import IndexReader

    n, nq = run.size["pages"], run.size["cold_queries"]
    rates, lat_ms, persisted = [], [], []

    def curate(rnd: int, clock):
        path, cseed = run.corpus(rnd, n)
        with clock():
            t0 = time.perf_counter()
            docs = extract(run, path)
            index_dir, res = build(run, docs, str(rnd))
            left0 = run.jsc.getPersistentRDDs().size()
            pairs, groups = dedup_pass(run, docs)
            dt = time.perf_counter() - t0
        persisted.append(run.jsc.getPersistentRDDs().size() - left0)
        return path, cseed, docs, index_dir, res, pairs, groups, dt

    # the warm-up round is full-size: the JIT warm-up is driven by rows
    # processed (a smaller one leaves it inside the timed round)
    _, _, docs, index_dir, _, _, _, _ = curate(0, contextlib.nullcontext)
    docs.unpersist()
    IndexReader(run.spark, index_dir).search("machine learning").collect()
    run.setup_done()
    del persisted[:]

    rnd = 0
    while run.more_rounds():
        rnd += 1
        path, cseed, docs, index_dir, res, pairs, groups, dt = curate(
            rnd, run.timed)
        rates.append(n / dt)
        rows = collect_docs(docs)
        pair_rows = [(r["doc_a"], r["doc_b"], r["jaccard"])
                     for r in pairs.collect()]
        docs.unpersist()
        ref = reference_texts(path)
        oracle = oracle_for(ref, rows)
        errs = check_extraction(ref, rows)
        o = oracle.oracle
        if (res.doc_count, res.avg_doc_len) != (o.n_docs, o.avgdl):
            errs.append(f"build stats ({res.doc_count}, {res.avg_doc_len})"
                        f" != oracle ({o.n_docs}, {o.avgdl})")
        run.op(errs)
        id_of = {r["url"]: r["doc_id"] for r in rows}
        planted = [(id_of[_url(i)], id_of[_url(i - 1)])
                   for i in range(97, n, 97)]
        run.op(check_dedup({id_of[u]: t for u, t in ref.items()}, pair_rows,
                           groups, planted, DEDUP_THRESHOLD))
        run.layers = index_sizes(
            index_dir, sum(len(t.encode("utf-8")) for t in ref.values()))

        mix = query_mix(cseed, oracle)
        with run.timed():
            with run.ledger.span("reader.open"):
                reader = IndexReader(run.spark, index_dir)
        for q in spread(mix, nq, offset=rnd - 1):
            timed_query(run, reader, q, oracle, lat_ms)
    run.e2e = {"throughput_per_s": median(rates),
               "latency_p50_ms": median(lat_ms)}
    run.layers["dedup.persisted_left"] = median(persisted)


def dedup_pass(run: Run, docs):
    """Near-duplicate pairs, then groups collected → (pairs DataFrame,
    group rows)."""
    from hybrid_search_engine_spark.operators.dedup import (
        dedup_groups,
        minhash_lsh_pairs,
    )

    with run.ledger.span("dedup.lsh_pairs"):
        pairs = minhash_lsh_pairs(docs, jaccard_threshold=DEDUP_THRESHOLD)
    with run.ledger.span("dedup.verify_cc"):
        groups = dedup_groups(docs, pairs).collect()
    return pairs, groups


def serve(run: Run) -> None:
    """Set-up builds one index and opens it with the postings cache; each
    round runs single queries and one batch against it."""
    from checks import check_batch, reference_texts
    from hybrid_search_engine_spark.build.manifest import IndexReader

    path, cseed = run.corpus(0, run.size["serve_pages"])
    docs = extract(run, path)
    index_dir, _ = build(run, docs, "serve")
    rows = collect_docs(docs)
    docs.unpersist()
    stored0 = _storage_bytes(run.spark)
    with run.ledger.span("reader.open"):
        reader = IndexReader(run.spark, index_dir, cache_postings=True)
    run.layers = {"reader.cache_mb": (_storage_bytes(run.spark) - stored0)
                  / 2**20}
    t_own = time.perf_counter()
    oracle = oracle_for(reference_texts(path), rows)
    mix = query_mix(cseed, oracle)  # oracle answers are memoized
    batch = [(i, mix[i % len(mix)]) for i in range(run.size["batch"])]
    run.own_s += time.perf_counter() - t_own
    rates, lat_ms = [], []

    def serve_round(rnd: int):
        for q in spread(mix, run.size["singles"], offset=rnd):
            timed_query(run, reader, q, oracle, lat_ms)
        with run.timed():
            t0 = time.perf_counter()
            with run.ledger.span("wand.batch", skew=True):
                got = reader.search_batch(batch, k=10).collect()
            rates.append(len(batch) / (time.perf_counter() - t0))
        run.op(check_batch(oracle, batch, got))

    # warm both query paths: without it the JVM's JIT warm-up lands in the
    # first timed round (measured ~15% slower than the next one)
    for q in spread(mix, 2):
        reader.search(q, k=10).collect()
    reader.search_batch(batch, k=10).collect()
    run.setup_done()
    rnd = 0
    while run.more_rounds():
        serve_round(rnd)
        rnd += 1
    run.e2e = {"throughput_per_s": median(rates),
               "latency_p50_ms": median(lat_ms)}


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos)


def _url(i: int) -> str:
    """fixtures/gen_corpus.py's url of row i: exact duplicates sit at rows
    ≡ 0 (mod 97), each copying row i-1."""
    return f"https://site{i % 1000}.example/path/{i}"


WORKLOADS = {"ingest": ingest, "serve": serve}


# ---------------------------------------------------------------- results


def layer_metrics(run: Run) -> dict:
    """Per-layer metrics from the traced run, each per operation of its
    span (mean over the run). A layer the timed rounds never enter is
    taken from set-up (serve's extraction and build), and
    is 0 where the workload never enters it at all."""
    units = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    timed = run.ledger.spans[run.timed_spans:]
    setup = run.ledger.spans[:run.timed_spans]

    def spans(name):
        return ([s for s in timed if s["name"] == name]
                or [s for s in setup if s["name"] == name])

    def per_op(name, field, scale=1.0):
        xs = [s[field] for s in spans(name)]
        return scale * statistics.fmean(xs) if xs else 0.0

    def per_pass(field, scale):
        n = len(spans("dedup.lsh_pairs"))
        xs = [s[field] for s in spans("dedup.lsh_pairs")
              + spans("dedup.verify_cc")]
        return scale * sum(xs) / n if n else 0.0

    b, q, w = "build.index", "wand.query", "wand.batch"
    out = {
        "session.start_s": per_op("session.start", "s"),
        "text.extract_s": per_op("text.extract", "s"),
        "build.index_s": per_op(b, "s"),
        "build.jobs": per_op(b, "jobs"),
        "build.tasks": per_op(b, "tasks"),
        "build.executor_run_s": per_op(b, "executor_run_ms", 1e-3),
        "build.jvm_cpu_s": per_op(b, "jvm_cpu_ms", 1e-3),
        "build.gc_s": per_op(b, "gc_ms", 1e-3),
        "build.shuffle_write_mb": per_op(b, "shuffle_write_bytes", 2**-20),
        "build.spill_mb": per_op(b, "spill_bytes", 2**-20),
        "reader.open_s": per_op("reader.open", "s"),
        "reader.cache_mb": 0.0,
        "wand.query.client_ms": (1e3 * per_op(q, "s")
                                 - per_op(q, "job_ms")) if spans(q) else 0.0,
        "wand.query.job_ms": per_op(q, "job_ms"),
        "wand.query.jobs": per_op(q, "jobs"),
        "wand.query.tasks": per_op(q, "tasks"),
        "wand.query.executor_run_ms": per_op(q, "executor_run_ms"),
        "wand.query.jvm_cpu_ms": per_op(q, "jvm_cpu_ms"),
        "wand.query.input_rows": per_op(q, "input_rows"),
        "wand.query.input_mb": per_op(q, "input_bytes", 2**-20),
        "wand.batch.s": per_op(w, "s"),
        "wand.batch.executor_run_s": per_op(w, "executor_run_ms", 1e-3),
        "wand.batch.jvm_cpu_s": per_op(w, "jvm_cpu_ms", 1e-3),
        "wand.batch.tasks": per_op(w, "tasks"),
        "wand.batch.shuffle_mb": per_op(w, "shuffle_write_bytes", 2**-20),
        "wand.batch.task_skew": per_op(w, "task_skew"),
        "dedup.lsh_pairs_s": per_op("dedup.lsh_pairs", "s"),
        "dedup.verify_cc_s": per_op("dedup.verify_cc", "s"),
        "dedup.executor_run_s": per_pass("executor_run_ms", 1e-3),
        "dedup.jvm_cpu_s": per_pass("jvm_cpu_ms", 1e-3),
        "dedup.shuffle_write_mb": per_pass("shuffle_write_bytes", 2**-20),
        "dedup.spill_mb": per_pass("spill_bytes", 2**-20),
        "postings.bytes": 0, "stats.tf_bytes": 0, "stats.tables_bytes": 0,
        "index.other_bytes": 0, "index.bytes_per_text_byte": 0.0,
        "dedup.persisted_left": 0,
    }
    out.update(run.layers)
    out["trace.wall_s"] = run.timed_s
    out["trace.untagged_s"] = run.timed_s - sum(s["s"] for s in timed)
    out["trace.bookkeeping_s"] = sum(s["bookkeeping_s"] for s in timed)
    # the end-to-end figures as measured with tracing on: against an
    # untraced run of the same seed they give the tracing overhead
    out["trace.throughput_per_s"] = run.e2e["throughput_per_s"]
    out["trace.latency_p50_ms"] = run.e2e["latency_p50_ms"]
    if set(out) != set(units):
        raise KeyError("layer metrics differ from BENCHMARK.json: "
                       f"{sorted(set(out) ^ set(units))}")
    return {k: {"value": float(v), "unit": units[k]} for k, v in out.items()}


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(spark, ledger, name, seed, seconds, size, start_s) -> dict:
    run = Run(spark, ledger, seed, seconds, size, start_s)
    WORKLOADS[name](run)
    correct = run.attempted > 0
    if ledger.trace:
        metrics = layer_metrics(run)
        untagged = (metrics["trace.untagged_s"]["value"]
                    / metrics["trace.wall_s"]["value"])
        if untagged > MAX_UNTAGGED:
            correct = False
            run.errors.append(f"spans leave {untagged:.1%} of the timed "
                              f"wall untagged (at most {MAX_UNTAGGED:.0%})")
    else:
        vals = dict(run.e2e, setup_s=run.setup_s,
                    peak_rss_mb=jvm_peak_rss_mb(spark))
        metrics = {m["name"]: {"value": float(vals[m["name"]]),
                               "unit": m["unit"]}
                   for m in _benchmark()["end_to_end"]}
    for e in run.errors[:10]:
        print(f"[{name}] check failed: {e}", file=sys.stderr)
    return {"correct": bool(correct), "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def start_session(trace: bool):
    from hybrid_search_engine_spark.session import get_spark
    from ledger import Ledger

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", cores=CORES, extra_conf={
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    ledger = Ledger(spark, trace)
    ledger.spans.append({"name": "session.start", "s": start_s})
    return spark, ledger, start_s


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="all workloads, tiny inputs, traced, one session")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")

    _isolate_scratch()
    spark = None
    try:
        spark, ledger, start_s = start_session(args.trace or args.smoke)
        if args.smoke:
            ok = True
            for name in sorted(WORKLOADS):
                res = run_workload(spark, ledger, name, args.seed, 1.0,
                                   SIZES["tiny"], start_s)
                ok = ok and res["correct"] and not res["failed"]
                print(json.dumps({"workload": name, **res}))
                ledger.spans.clear()
            print(json.dumps({"smoke": "passed" if ok else "FAILED"}))
            return 0 if ok else 1
        res = run_workload(spark, ledger, args.workload, args.seed,
                           args.seconds, SIZES["full"], start_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(WORK))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Round-2 fixes: MMR parity, dense fusion parity, multiprobe near-dup
recall, content fingerprints, simhash tf weighting, df_cap consistency,
feedback logging, TZ-free hour strings, portable multimodal features."""

import hashlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# MMR vs a vendored pure-Python reference implementation
# ---------------------------------------------------------------------------

def _ref_mmr(emb, scores, lam, k):
    """Reference greedy loop (pipelines.py:531-566 semantics + the
    score normalization at pipelines.py:588)."""
    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    rel = (scores - scores.min()) / (scores.max() - scores.min() + 1e-8)
    sel, remaining = [], list(range(len(scores)))
    while len(sel) < k and remaining:
        best, bestv = None, None
        for idx in remaining:
            ms = max((cos(emb[idx], emb[s]) for s in sel), default=0.0)
            v = lam * rel[idx] - (1 - lam) * ms
            if bestv is None or v > bestv:  # strict > keeps first max
                best, bestv = idx, v
        sel.append(best)
        remaining.remove(best)
    return sel


def test_mmr_parity_with_reference_loop(spark):
    from hybrid_search_engine_spark.operators.mmr import mmr_rerank

    rng = np.random.RandomState(3)
    emb = rng.standard_normal((20, 8))
    scores = rng.uniform(0.1, 1.0, 20)
    # candidate rank order = (round9(score) desc, doc_id) — feed the
    # reference loop in the same order
    order = np.lexsort((np.arange(20), -np.round(scores, 9)))
    want = [int(order[i]) for i in _ref_mmr(emb[order], scores[order], 0.5, 7)]

    cand = spark.createDataFrame(
        [(0, int(i), float(scores[i]), [float(x) for x in emb[i]])
         for i in range(20)],
        "query_id int, doc_id long, score double, embedding array<double>")
    got = (mmr_rerank(cand, k=7, lambda_param=0.5)
           .orderBy("diversity_rank").collect())
    assert [r["doc_id"] for r in got] == want
    assert [r["diversity_rank"] for r in got] == list(range(7))


def test_mmr_multiple_queries_and_small_pool(spark):
    from hybrid_search_engine_spark.operators.mmr import mmr_rerank

    rows = []
    for q in range(3):
        for d in range(4):
            rows.append((q, d, 1.0 / (d + 1), [float(q), float(d), 1.0]))
    cand = spark.createDataFrame(
        rows, "query_id int, doc_id long, score double, embedding array<double>")
    got = mmr_rerank(cand, k=10, lambda_param=0.5).collect()  # k > pool
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    for q, rs in per_q.items():
        assert len(rs) == 4  # whole pool, no padding
        assert sorted(r["diversity_rank"] for r in rs) == [0, 1, 2, 3]


# ---------------------------------------------------------------------------
# dense-parity hybrid fusion (core.py:264-268 + utils.py:57-71)
# ---------------------------------------------------------------------------

def _ref_dense_fuse(sem, lex, n_docs, w_sem=0.7, w_lex=0.3):
    """Reference semantics: DENSE all-docs vectors, absent == 0.0."""
    s, l = np.zeros(n_docs), np.zeros(n_docs)
    for d, v in sem.items():
        s[d] = v
    for d, v in lex.items():
        l[d] = v

    def norm(x):
        if x.max() == x.min():
            return np.ones_like(x)
        return (x - x.min()) / (x.max() - x.min())

    return w_sem * norm(s) + w_lex * norm(l)


def test_fuse_hybrid_dense_parity(spark):
    from hybrid_search_engine_spark.operators.fusion import fuse_hybrid

    # sem has a NEGATIVE score and misses docs 3,4 → dense min is the
    # negative value, absent docs normalize to a NONZERO fill
    sem_d = {0: 0.9, 1: -0.2, 2: 0.3}
    lex_d = {1: 2.0, 3: 1.0, 4: 4.0}
    want = _ref_dense_fuse(sem_d, lex_d, n_docs=5)

    sem = spark.createDataFrame(
        [(0, d, v) for d, v in sem_d.items()],
        "query_id int, doc_id int, sem_score double")
    lex = spark.createDataFrame(
        [(0, d, v) for d, v in lex_d.items()],
        "query_id int, doc_id int, lex_score double")
    got = {r["doc_id"]: r["hybrid_score"]
           for r in fuse_hybrid(sem, lex, n_docs=5).collect()}
    # every doc present in >= 1 side matches the dense reference value
    assert set(got) == {0, 1, 2, 3, 4}
    for d in got:
        assert got[d] == pytest.approx(want[d]), f"doc {d}"


def test_fuse_hybrid_sparse_mode_unchanged(spark):
    from hybrid_search_engine_spark.operators.fusion import fuse_hybrid

    sem = spark.createDataFrame([(0, 1, 0.9), (0, 2, 0.1)],
                                "query_id int, doc_id int, sem_score double")
    lex = spark.createDataFrame([(0, 2, 3.0), (0, 3, 1.0)],
                                "query_id int, doc_id int, lex_score double")
    got = {r["doc_id"]: r["hybrid_score"]
           for r in fuse_hybrid(sem, lex).collect()}
    assert got[1] == pytest.approx(0.7)
    assert got[2] == pytest.approx(0.3)
    assert got[3] == pytest.approx(0.0)


# ---------------------------------------------------------------------------
# multiprobe near-dup recall on planted ~0.96-cosine pairs
# ---------------------------------------------------------------------------

def test_embedding_near_dup_multiprobe_recall(spark):
    from hybrid_search_engine_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    rng = np.random.RandomState(11)
    dim = 16
    rows, planted, vid = [], [], 0
    for i in range(50):
        v = rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        if i % 2 == 0:
            # partner at cosine ~0.96: rotate toward a random orthogonal dir
            u = rng.standard_normal(dim)
            u -= u.dot(v) * v
            u /= np.linalg.norm(u)
            theta = np.arccos(0.96)
            w = np.cos(theta) * v + np.sin(theta) * u
            rows.append((vid + 1, [float(x) for x in w]))
            planted.append((vid, vid + 1))
            vid += 2
        else:
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {(r["id_a"], r["id_b"])
             for r in embedding_near_dup_pairs(emb, threshold=0.95,
                                               n_planes=0).collect()}
    probed = {(r["id_a"], r["id_b"])
              for r in embedding_near_dup_pairs(emb, threshold=0.95,
                                                n_planes=8).collect()}
    single = {(r["id_a"], r["id_b"])
              for r in embedding_near_dup_pairs(
                  emb, threshold=0.95, n_planes=8,
                  multiprobe_hamming=0).collect()}
    assert probed <= exact          # never invents pairs
    assert single <= probed         # multiprobe only adds candidates
    planted_found = [p for p in planted if p in exact]
    assert len(planted_found) >= 20  # the plant actually lands above 0.95
    recall = sum(p in probed for p in planted_found) / len(planted_found)
    assert recall >= 0.95, recall


# ---------------------------------------------------------------------------
# content fingerprint invalidates shards on same-id text changes
# ---------------------------------------------------------------------------

def test_fingerprint_invalidates_on_text_change(spark, tmp_path):
    from hybrid_search_engine_spark.build.manifest import build_index

    idx = str(tmp_path / "idx")
    docs_a = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(40)],
        "doc_id long, text string")
    r1 = build_index(spark, docs_a, idx, n_shards=4)
    assert sorted(r1.built_shards) == [0, 1, 2, 3]

    # no-op resume: same content → nothing rebuilt, fast path
    r2 = build_index(spark, docs_a, idx, n_shards=4)
    assert r2.built_shards == []
    assert r2.doc_count == 40 and r2.avg_doc_len == r1.avg_doc_len

    # SAME ids, DIFFERENT text → every shard invalidated
    docs_b = spark.createDataFrame(
        [(i, f"delta epsilon zeta doc {i}") for i in range(40)],
        "doc_id long, text string")
    r3 = build_index(spark, docs_b, idx, n_shards=4)
    assert sorted(r3.built_shards) == [0, 1, 2, 3]


# ---------------------------------------------------------------------------
# simhash tf weighting really applies (ADVICE: array_except dedup bug)
# ---------------------------------------------------------------------------

def test_simhash_tf_weighting(spark):
    from hybrid_search_engine_spark.operators.dedup import simhash64

    # doc 0: 'cat' dominates by tf; doc 1: token set identical, tf flipped.
    # With set-hashing (the old bug) both docs had IDENTICAL simhash; with
    # tf weighting they differ whenever cat/dog hash bits disagree.
    docs = spark.createDataFrame(
        [(0, "cat cat cat cat cat dog"), (1, "cat dog dog dog dog dog")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert got[0] != got[1]


# ---------------------------------------------------------------------------
# ngram_jaccard df_cap: sizes computed on the capped gram set
# ---------------------------------------------------------------------------

def test_ngram_jaccard_df_cap_consistent(spark):
    from hybrid_search_engine_spark.operators.dedup import ngram_jaccard_pairs

    # 4 docs all share the boilerplate bigram 'common footer'; docs 0/1
    # additionally share 'alpha beta'. With df_cap=3 the boilerplate gram
    # is dropped from BOTH the intersection and the sizes, so the 0-1 pair
    # scores the exact Jaccard of the remaining grams.
    docs = spark.createDataFrame(
        [(0, "alpha beta common footer"),
         (1, "alpha beta common footer"),
         (2, "gamma delta common footer"),
         (3, "epsilon zeta common footer")],
        "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, n=2, threshold=0.1,
                                          df_cap=3).collect()}
    # doc0/doc1 capped grams: 'common footer' (df=4 > 3) dropped;
    # remaining grams per doc: {alpha beta, beta common} → inter=2, union=2
    assert pairs[(0, 1)] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# feedback logging write path
# ---------------------------------------------------------------------------

def test_feedback_log_roundtrip(spark, tmp_path):
    from hybrid_search_engine_spark.sources.feedback_log import (
        log_feedback,
        log_queries,
        read_feedback,
        read_query_history,
    )

    log_dir = str(tmp_path / "log")
    ent = spark.createDataFrame(
        [("spark tuning", 0.7, 0.3, 1), ("spark tuning", 0.6, 0.4, 2)],
        "query_text string, semantic_weight double, lexical_weight double, seq long")
    log_queries(ent, log_dir)
    log_queries(ent.withColumn("seq", F.col("seq") + 10), log_dir)  # append
    qh = read_query_history(spark, log_dir)
    rows = qh.collect()
    assert len(rows) == 4
    # identical texts get DISTINCT ids via seq (replaces nextval)
    assert len({r["query_id"] for r in rows}) == 4
    assert all(r["query_id"] >= 0 for r in rows)

    # portable id: md5 nibble arithmetic matches hashlib
    want = int(hashlib.md5(b"spark tuning:1").hexdigest()[:15], 16)
    assert any(r["query_id"] == want for r in rows)

    fb = spark.createDataFrame(
        [(rows[0]["query_id"], 42, 5, True, 1)],
        "query_id long, doc_id long, relevance_score int, clicked boolean, seq long")
    log_feedback(fb, log_dir)
    got = read_feedback(spark, log_dir).collect()
    assert len(got) == 1 and got[0]["relevance_score"] == 5


# ---------------------------------------------------------------------------
# TZ-free hour strings (grading driver may run non-UTC)
# ---------------------------------------------------------------------------

def test_utc_hour_str_tz_independent(spark):
    from hybrid_search_engine_spark.contract import utc_hour_str

    df = spark.sql(
        "SELECT timestamp'2024-03-01 22:30:45 UTC' AS ts")  # fixed instant
    utc_val = df.select(utc_hour_str(F.col("ts")).alias("h")).first()["h"]
    assert utc_val == "2024-03-01 22:00:00"

    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")  # UTC+5:30
    df2 = other.sql("SELECT timestamp'2024-03-01 22:30:45 UTC' AS ts")
    rendered = df2.select(
        F.date_format(F.date_trunc("hour", "ts"),
                      "yyyy-MM-dd HH:00:00").alias("h"),
        utc_hour_str(F.col("ts")).alias("u"),
    ).first()
    assert rendered["h"] != utc_val      # session-TZ rendering DOES flip
    assert rendered["u"] == utc_val      # ours does not
    other.conf.unset("spark.sql.session.timeZone")


# ---------------------------------------------------------------------------
# portable multimodal fake features
# ---------------------------------------------------------------------------

def test_fake_feature_matches_sha256_nibbles():
    from hybrid_search_engine_spark.operators.multimodal import _fake_feature

    payload = b"hello multimodal"
    h = hashlib.sha256(payload).hexdigest()
    f = _fake_feature(payload)
    assert f.shape == (64,)
    for i in (0, 31, 63):
        assert float(f[i]) == int(h[i], 16) / 16.0 - 0.5


def test_decode_image_stub_without_pil():
    """Without PIL, non-fake decode must raise NotImplementedError (honest
    decode_ok=False downstream), never return garbage."""
    import pytest

    from hybrid_search_engine_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401
        pytest.skip("PIL installed — stub path not reachable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake", deterministic_fake=False)


def _make_bmp(w: int, h: int, pixel) -> bytes:
    """Minimal uncompressed 24-bit bottom-up BMP writer (test fixture —
    no dependencies). ``pixel(x, y)`` returns (r, g, b) with y=0 the TOP
    row; rows are emitted bottom-first as the format requires."""
    import struct

    stride = (w * 3 + 3) // 4 * 4
    rows = bytearray()
    for y in range(h - 1, -1, -1):          # bottom-up storage order
        row = bytearray()
        for x in range(w):
            r, g, b = pixel(x, y)
            row += bytes((b, g, r))          # BGR on disk
        row += b"\x00" * (stride - len(row))
        rows += row
    pix_off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", pix_off + len(rows), 0, 0, pix_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows),
                      2835, 2835, 0, 0)
    return bytes(header + dib + rows)


def test_decode_image_real_hermetic_bmp():
    """The REAL-decode branch (decode_ok=True on actual pixel data) runs in
    CI with no image library: uncompressed 24-bit BMP decodes via the
    hermetic ``_bmp_feature`` parser (or PIL where installed). A
    constant-color image must map every feature to the BT.601 luma of that
    color, within 8-bit rounding slack across decoders."""
    import numpy as np

    from hybrid_search_engine_spark.operators.multimodal import decode_image

    bmp = _make_bmp(32, 32, lambda x, y: (128, 64, 32))
    f = decode_image(bmp, deterministic_fake=False)
    expected = (0.299 * 128 + 0.587 * 64 + 0.114 * 32) / 255.0 - 0.5
    assert f.shape == (64,)
    assert np.allclose(f, expected, atol=2 / 255), (float(f[0]), expected)


def test_bmp_decoder_orientation_and_padding():
    """Bottom-up flip and 4-byte row padding are handled: a top-half-white /
    bottom-half-black image must come back with bright features in the top
    rows of the 8×8 grid (odd width forces row padding)."""
    import numpy as np

    from hybrid_search_engine_spark.operators.multimodal import _bmp_feature

    bmp = _make_bmp(
        9, 8, lambda x, y: (255, 255, 255) if y < 4 else (0, 0, 0))
    f = _bmp_feature(bmp).reshape(8, 8)
    assert np.allclose(f[:4], 0.5)       # top half white
    assert np.allclose(f[4:], -0.5)      # bottom half black


def test_extract_features_real_decode_ok_without_pil(spark):
    """End-to-end mapInPandas with deterministic_fake=False: BMP payloads
    produce decode_ok=True REAL features; undecodable payloads stay an
    honest decode_ok=False — in the same batch."""
    from hybrid_search_engine_spark.operators.multimodal import (
        extract_features,
    )

    bmp = _make_bmp(8, 8, lambda x, y: (10 * x, 20 * y, 5))
    media = spark.createDataFrame(
        [(1, "image", bytearray(bmp), None),
         (2, "image", bytearray(b"\x89PNG not decodable"), None)],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,"
        "duration_ms:int,sample_rate:int>")
    rows = {r["media_id"]: r for r in
            extract_features(media, deterministic_fake=False).collect()}
    assert rows[1]["decode_ok"] is True and len(rows[1]["feature"]) == 64
    assert rows[2]["decode_ok"] is False and rows[2]["feature"] is None


# ---------------------------------------------------------------------------
# multi-position snippet extraction with overlap suppression (SO5)
# ---------------------------------------------------------------------------

def test_extract_snippets_multi_position_suppression(spark):
    from hybrid_search_engine_spark.operators.textproc import extract_snippets

    filler = "lorem ipsum dolor sit amet " * 10          # ~270 chars
    text = ("spark engines " + filler + " spark again " + filler
            + " spark third " + filler + " spark fourth")
    df = spark.createDataFrame([(1, text), (2, "no match here at all")],
                               "doc_id int, text string")
    got = {r["doc_id"]: r["snippets"]
           for r in extract_snippets(df, "spark", snippet_length=150,
                                     max_snippets=3).collect()}
    snips = got[1]
    assert len(snips) == 3                                 # max_snippets cap
    assert all("<mark>spark</mark>" in s for s in snips)
    # positions ~0, ~300, ~610, ~920 → all ≥150 apart → 3 earliest kept
    assert snips[0].startswith("<mark>spark</mark>")       # no left ellipsis at 0
    assert snips[1].startswith("...") and snips[1].endswith("...")
    # near-duplicate positions suppressed: two sparks 20 chars apart → 1 snippet
    df2 = spark.createDataFrame(
        [(1, "spark one two three spark " + filler)], "doc_id int, text string")
    near = extract_snippets(df2, "spark", snippet_length=150,
                            max_snippets=3).first()["snippets"]
    assert len(near) == 1
    # no query terms in doc → head-of-text fallback
    assert got[2] == ["no match here at all"]


# ---------------------------------------------------------------------------
# exact-key result cache (reference cache.py semantics)
# ---------------------------------------------------------------------------

def test_result_cache_roundtrip_ttl_and_eviction(spark, tmp_path):
    from hybrid_search_engine_spark.operators.result_cache import (
        ResultCache,
        make_key,
    )

    c = ResultCache(spark, str(tmp_path / "rc"), max_size=2, ttl_seconds=3600)
    assert c.get("q1", k=10) is None  # miss on empty
    c.set("q1", [[0.9, "doc a", 1]], k=10)
    assert c.get("q1", k=10) == [[0.9, "doc a", 1]]
    assert c.get("q1", k=20) is None            # params participate in key
    assert make_key("q1", k=10) != make_key("q1", k=20)

    # TTL: entry older than ttl misses
    c2 = ResultCache(spark, str(tmp_path / "rc"), max_size=2, ttl_seconds=0)
    import time

    time.sleep(0.05)
    assert c2.get("q1", k=10) is None

    # FIFO eviction at max_size on compaction
    c.set("q2", ["r2"], k=10)
    c.set("q3", ["r3"], k=10)
    c.compact()
    assert c.stats()["size"] == 2
    assert c.get("q1", k=10) is None            # oldest insert evicted
    assert c.get("q3", k=10) == ["r3"]

    c.invalidate("q3", k=10)
    assert c.get("q3", k=10) is None
    assert c.get("q2", k=10) == ["r2"]


# ---------------------------------------------------------------------------
# stateful streaming sessionization (applyInPandasWithState)
# ---------------------------------------------------------------------------

def test_sessionize_stream_gap_and_timeout_close(spark, tmp_path):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybrid_search_engine_spark.streaming.ingest import sessionize_stream

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)

    def write(path, rows):
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(seconds=r[1]) for r in rows],
                           pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "value": pa.array([float(r[3]) for r in rows], pa.float64()),
        }), path)

    src = tmp_path / "events"
    src.mkdir()
    # user 1: session 0 = events at +0, +60; gap > 1800 → session 1 at +4000
    # user 2: single open session at +0
    write(str(src / "f1.parquet"),
          [(1, 0, 1, 1.0), (2, 60, 1, 2.0), (3, 4000, 1, 5.0), (4, 0, 2, 7.0)])
    # later files advance the watermark so open sessions time out
    write(str(src / "f2.parquet"), [(5, 100_000, 90, 0.0)])
    write(str(src / "f3.parquet"), [(6, 200_000, 91, 0.0)])

    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, value double")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = sessionize_stream(stream, gap_s=1800, watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("hse_sess_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
           for r in spark.table("hse_sess_stream").collect()}
    assert got[(1, 0)] == (2, 3.0)     # closed by the gap
    assert got[(1, 1)] == (1, 5.0)     # closed by event-time timeout
    assert got[(2, 0)] == (1, 7.0)     # closed by event-time timeout


# ---------------------------------------------------------------------------
# knn_batch per-batch pruning is tie-safe
# ---------------------------------------------------------------------------

def test_knn_batch_tie_break_prefers_low_id(spark):
    from hybrid_search_engine_spark.operators.similarity import (
        knn_batch_pandas,
    )

    # vec 9 and vec 2 are IDENTICAL → equal cosine; top-1 must be id 2
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(2, base), (9, base)]
    rng = np.random.RandomState(5)
    for i in (3, 4, 5, 6, 7, 8):
        v = rng.standard_normal(4)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v) * 0.5]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = knn_batch_pandas(spark, emb, {0: base}, k=1).collect()
    assert len(got) == 1 and got[0]["vec_id"] == 2


# ---------------------------------------------------------------------------
# postings cache (IndexReader cache_postings / its cache_tf alias)
# ---------------------------------------------------------------------------

def test_exact_cached_tier_rank_identical(spark, extracted_1k, tmp_path):
    """The keywords the former tf-cache tier took (``cache_tf=True``,
    ``mode="exact"``) now select the postings cache; it must be
    rank-identical (doc ids AND round-9 scores) to the uncached reader."""
    from fixtures.gen_corpus import all_queries
    from hybrid_search_engine_spark.build.manifest import IndexReader, build_index
    from hybrid_search_engine_spark.sources.pages import pages_to_docs

    docs = pages_to_docs(extracted_1k, extract=False)
    idx = str(tmp_path / "idx")
    build_index(spark, docs, idx, n_shards=4, block_size=32)
    cold = IndexReader(spark, idx)
    reader = IndexReader(spark, idx, cache_postings=False, cache_tf=True)
    try:
        assert reader.postings.is_cached
        for q in all_queries()[:20] + ["zz_completely_oov"]:
            exact = [(r["doc_id"], round(r["score"], 9))
                     for r in reader.search(q, k=10, mode="exact").collect()]
            want = [(r["doc_id"], round(r["score"], 9))
                    for r in cold.search(q, k=10).collect()]
            assert exact == want, f"tier mismatch for {q!r}"
    finally:
        reader.postings.unpersist()


def test_exact_cached_tier_is_single_stage(spark, extracted_1k, tmp_path):
    """With the postings cache hash-partitioned by shard_id, a single
    query's plan has NO exchange and no Python operator: the scorer's
    groupBy(shard_id, doc_id) reuses the cache partitioning, so the query
    is one JVM stage plus the driver-side TakeOrdered merge. A batch plan
    has exactly one exchange, by query_id, for the per-query top-k window.
    (Exchanges inside the InMemoryRelation belong to the one-time cache
    build and are not counted.)"""
    import re

    from hybrid_search_engine_spark.build.manifest import IndexReader, build_index
    from hybrid_search_engine_spark.sources.pages import pages_to_docs

    python_ops = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                  "MapInArrow", "FlatMapGroupsInPandas", "PythonUDF")

    def query_side(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("InMemoryRelation", 1)[0]

    docs = pages_to_docs(extracted_1k, extract=False)
    idx = str(tmp_path / "idx")
    build_index(spark, docs, idx, n_shards=4, block_size=32)
    reader = IndexReader(spark, idx, cache_postings=True)
    try:
        single = query_side(reader.search("the quick brown fox jumps over",
                                          k=10))
        assert "InMemoryTableScan" in single
        assert "Exchange" not in single, single
        assert "TakeOrderedAndProject" in single
        assert "Join" not in single  # term weights ride as literal maps
        assert not [op for op in python_ops if op in single], single

        batch = query_side(reader.search_batch(
            [(0, "machine learning"), (1, "the quick brown fox"),
             (2, "programming languages")], k=10))
        shuffles = re.findall(r"\bExchange (\w+)\(([^,)]*)", batch)
        assert len(shuffles) == 1, batch
        assert shuffles[0][0] == "hashpartitioning"
        assert shuffles[0][1].startswith("query_id#"), shuffles
        assert not [op for op in python_ops if op in batch], batch

        # without the cache a single query reads the parquet and pays at
        # most the one exchange of its (shard_id, doc_id) aggregate
        cold = query_side(IndexReader(spark, idx).search(
            "the quick brown fox jumps over", k=10))
        assert len(re.findall(r"\bExchange ", cold)) <= 1, cold
        assert "Join" not in cold
    finally:
        reader.postings.unpersist()


@pytest.mark.parametrize("n_shards", [4, 32])
def test_cached_reader_places_shards_evenly(spark, extracted_1k, tmp_path,
                                            n_shards):
    """The postings cache puts shard s in partition s mod p, p =
    min(n_shards, cores): each partition holds exactly the rows of its
    shards, under one slot label (on 4 cores: one shard per partition
    at 4 shards, 8 at 32). Hashing the shard ids themselves filled 2 of
    4 partitions."""
    from hybrid_search_engine_spark.build.manifest import IndexReader, build_index
    from hybrid_search_engine_spark.sources.pages import pages_to_docs

    docs = pages_to_docs(extracted_1k, extract=False)
    idx = str(tmp_path / "idx")
    build_index(spark, docs, idx, n_shards=n_shards, block_size=32)
    reader = IndexReader(spark, idx, cache_postings=True)
    try:
        p = min(n_shards, spark.sparkContext.defaultParallelism)
        parts = (reader.postings.select("shard_id").rdd.glom()
                 .map(lambda rows: (len(rows), {r[0] for r in rows}))
                 .collect())
        assert len(parts) == p
        rows = {r["shard_id"]: r["count"] for r in spark.read.parquet(
            os.path.join(idx, "postings")).groupBy("shard_id").count()
            .collect()}
        assert sorted(rows) == list(range(n_shards))
        for j, (n_rows, labels) in enumerate(parts):
            shards = [s for s in rows if s % p == j]
            assert len(labels) == 1, (j, labels)
            assert n_rows == sum(rows[s] for s in shards), j
    finally:
        reader.postings.unpersist()


def test_cached_query_code_is_query_invariant(spark, extracted_1k, tmp_path):
    """Once each query shape has run, a query whose terms were never seen
    compiles no new class: no term key, idf, qweight or k is written into
    the generated Java (Janino compiles counted by CodegenMetrics). Hash
    domain, the default, whose bigint keys the cached view carries as
    strings; single queries of 1-4 terms, then a batch."""
    from collections import Counter

    from hybrid_search_engine_spark.build.manifest import IndexReader, build_index
    from hybrid_search_engine_spark.reference_semantics import tokenize
    from hybrid_search_engine_spark.sources.pages import pages_to_docs

    docs = pages_to_docs(extracted_1k, extract=False)
    idx = str(tmp_path / "idx")
    build_index(spark, docs, idx, n_shards=4, block_size=32)
    reader = IndexReader(spark, idx, cache_postings=True)
    metric = (spark.sparkContext._jvm.org.apache.spark.metrics.source
              .CodegenMetrics.METRIC_COMPILATION_TIME())
    counts = Counter(t for r in docs.select("text").collect()
                     for t in set(tokenize(r["text"], remove_stopwords=True)))
    words = [t for t, n in counts.most_common() if n >= 3]
    warm, fresh = words[:40], words[40:80]

    def run(pool):
        for i, n in zip((0, 1, 3, 6, 10, 15), (1, 2, 3, 4, 2, 3)):
            q = " ".join(pool[i:i + n])
            assert reader.search(q, k=10).collect(), q
        batch = list(enumerate(" ".join(pool[i:i + 3])
                               for i in range(20, 38, 3)))
        assert reader.search_batch(batch, k=10).collect()

    try:
        run(warm)
        before = metric.getCount()
        run(fresh)
        assert metric.getCount() == before
    finally:
        reader.postings.unpersist()

"""Unit tests: similarity, analysis, multimodal, fusion, metadata filter,
chunking/highlight/autocomplete."""

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(1)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    df.count()
    return df, rows


def _np_topk(rows, q, k):
    qv = np.array(q)
    qv = qv / np.linalg.norm(qv)
    scored = []
    for vid, v in rows:
        v = np.array(v, dtype=np.float64)
        scored.append((vid, float(np.dot(v, qv) / np.linalg.norm(v))))
    scored.sort(key=lambda p: (-round(p[1], 9), p[0]))
    return scored[:k]


def test_knn_brute_matches_numpy(spark, emb):
    from hybrid_search_engine_spark.operators.similarity import knn_brute

    df, rows = emb
    q = rows[5][1]
    got = knn_brute(df, q, k=7).collect()
    want = _np_topk(rows, q, 7)
    assert [r["vec_id"] for r in got] == [v for v, _ in want]
    for r, (_, c) in zip(got, want):
        assert abs(r["cosine"] - c) < 1e-6


def test_knn_batch_matches_brute(spark, emb):
    from hybrid_search_engine_spark.operators.similarity import knn_batch_pandas

    df, rows = emb
    queries = {0: rows[3][1], 1: rows[11][1]}
    got = knn_batch_pandas(spark, df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, q in queries.items():
        want = _np_topk(rows, q, 5)
        assert [v for _, v in sorted(by_q[qid])] == [v for v, _ in want], qid


def test_ivf_full_probe_equals_brute(spark, emb):
    """nprobe == n_lists makes IVF a partition of the corpus → exact."""
    from hybrid_search_engine_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        ivf_train_centroids,
        knn_brute,
    )

    df, rows = emb
    C = ivf_train_centroids(df, n_lists=8, sample_size=100)
    idx = build_ivf_index(df, C).cache()
    assert idx.count() == 100
    # every vector lands in exactly one list; lists partition the corpus
    assert idx.select("vec_id").distinct().count() == 100
    for probe in (3, 17):
        q = rows[probe][1]
        exact = [(r["vec_id"], round(r["cosine"], 9))
                 for r in knn_brute(df, q, k=5).collect()]
        full = [(r["vec_id"], round(r["cosine"], 9))
                for r in ivf_search(idx, C, q, k=5, nprobe=8).collect()]
        assert full == exact


def test_ivf_recall_and_determinism(spark, emb):
    from hybrid_search_engine_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        ivf_train_centroids,
        knn_brute,
    )

    df, rows = emb
    C = ivf_train_centroids(df, n_lists=8, sample_size=100)
    C2 = ivf_train_centroids(df.repartition(7), n_lists=8, sample_size=100)
    assert np.allclose(C, C2)  # stable across partitioning (hash-ordered sample)
    idx = build_ivf_index(df, C).cache()
    idx.count()
    hits = 0
    for probe in (5, 20, 40):
        q = rows[probe][1]
        exact = {r["vec_id"] for r in knn_brute(df, q, k=5).collect()}
        approx = {r["vec_id"] for r in
                  ivf_search(idx, C, q, k=5, nprobe=4).collect()}
        hits += len(exact & approx)
    assert hits >= 9  # ≥60% recall@5 probing half the lists


def test_ivf_save_load_roundtrip(spark, emb, tmp_path):
    from hybrid_search_engine_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        ivf_train_centroids,
        load_ivf_index,
        save_ivf_index,
    )

    df, rows = emb
    C = ivf_train_centroids(df, n_lists=4, sample_size=100)
    idx = build_ivf_index(df, C)
    p = str(tmp_path / "ivf")
    save_ivf_index(idx, C, p)
    idx2, C2 = load_ivf_index(spark, p)
    assert np.allclose(C, C2)
    q = rows[9][1]
    a = [(r["vec_id"], round(r["cosine"], 9))
         for r in ivf_search(idx, C, q, k=5, nprobe=2).collect()]
    b = [(r["vec_id"], round(r["cosine"], 9))
         for r in ivf_search(idx2, C2, q, k=5, nprobe=2).collect()]
    assert a == b
    # probe reads only the probed list directories: the scan node's
    # PartitionFilters section itself must name list_id (asserting on the
    # whole plan string is vacuous — the filter predicate echoes list_id)
    import re

    plan = idx2.where(F.col("list_id").isin([0, 1]))._jdf.queryExecution(
    ).executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*list_id[^\]]*\]", plan)
    assert m, f"no partition filter on list_id in scan:\n{plan}"


def test_ivf_sidecar_write_is_atomic(spark, emb, tmp_path, monkeypatch):
    """A sidecar write that dies inside json.dump (after writing part of
    its output) leaves the previous ``_ivf_meta.json`` whole, and
    save_ivf_index never leaves a torn one. (The overwrite of the parquet
    table removes the previous sidecar before the new one is written, so
    a save that fails there leaves none.)"""
    import json
    import os

    from hybrid_search_engine_spark.build.manifest import write_json_atomic
    from hybrid_search_engine_spark.operators.similarity import (
        build_ivf_index,
        ivf_train_centroids,
        load_ivf_index,
        save_ivf_index,
    )

    df, _ = emb
    C = ivf_train_centroids(df, n_lists=4, sample_size=100)
    idx = build_ivf_index(df, C)
    p = str(tmp_path / "ivf")
    meta = os.path.join(p, "_ivf_meta.json")
    save_ivf_index(idx, C, p)

    def torn_dump(obj, f):
        f.write('{"centroids": [[0.')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError):
        write_json_atomic(meta, {"centroids": (2 * C).tolist()})
    monkeypatch.undo()
    _, C2 = load_ivf_index(spark, p)
    assert np.allclose(C, C2)

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError):
        save_ivf_index(idx, 2 * C, p)
    monkeypatch.undo()
    if os.path.exists(meta):
        _, C3 = load_ivf_index(spark, p)
        assert np.allclose(C, C3)


# ---------------------------------------------------------------------------
# analysis
# ---------------------------------------------------------------------------

def test_detect_language(spark):
    from hybrid_search_engine_spark.functions.analysis import (
        detect_language_df,
    )

    df = spark.createDataFrame([
        (1, "the cat is on the mat and it is happy with this"),
        (2, "der hund ist nicht mit der katze und das ist gut"),
        (3, "le chat est sur la table et il est content avec le chien"),
        (4, "el perro es grande y la casa es blanca con el gato"),
        (5, "zqx wvu kjh"),
    ], "id int, text string")
    got = {r["id"]: r["lang_detected"] for r in
           detect_language_df(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_detect_language_wide(spark):
    """U6 wide tier: latin function-word argmax (32 langs) + script tier
    (23 non-latin scripts; han+kana → ja else zh-cn/zh-tw, cyrillic →
    mk/sr/uk/ru/bg, arabic → ar/fa/ur, devanagari → hi/mr/ne sub-tiers) —
    64 languages, exceeding langdetect's 55 (reference
    language.py:66-138)."""
    from hybrid_search_engine_spark.contract_ext import LANG_PHRASES
    from hybrid_search_engine_spark.functions.analysis import (
        detect_language_df,
    )

    df = spark.createDataFrame(
        [(i, lang, phrase) for i, (lang, phrase) in enumerate(LANG_PHRASES)],
        "id int, expected string, text string")
    rows = detect_language_df(df).collect()
    assert len(rows) == len(LANG_PHRASES)
    assert all(r["lang_detected"] == r["expected"] for r in rows), [
        (r["id"], r["expected"], r["lang_detected"]) for r in rows
        if r["lang_detected"] != r["expected"]]
    # pure-han chinese vs han+kana japanese disambiguation; han without
    # any simplified/traditional signal defaults to zh-cn
    mixed = spark.createDataFrame(
        [(0, "日本語のテキストです"), (1, "中文文本没有假名")],
        "id int, text string")
    got = {r["id"]: r["lang_detected"] for r in
           detect_language_df(mixed).collect()}
    assert got == {0: "ja", 1: "zh-cn"}


def test_detect_language_subtier_tails(spark):
    """Round-3 verdict item 6: the langdetect tail — zh-cn/zh-tw split by
    simplified/traditional characters, hi/mr/ne split by within-devanagari
    grammatical markers."""
    from hybrid_search_engine_spark.functions.analysis import (
        detect_language_df,
    )

    rows = [
        (0, "这个学说对时间来说很长", "zh-cn"),     # simplified markers
        (1, "這個學說對時間來說很長", "zh-tw"),     # traditional markers
        (2, "书里写着它们这些东西", "zh-cn"),
        (3, "書裡寫著它們這些東西", "zh-tw"),
        (4, "中文文本没有假名", "zh-cn"),           # no signal → default
        (5, "कुत्ता और बिल्ली घर में आदमी के साथ नहीं हैं", "hi"),
        (6, "कुत्रा आणि मांजर घरात नाहीत पण ते आहेत", "mr"),
        (7, "कुकुर र बिरालो घरमा छैनन् तर तिनीहरू छन्", "ne"),
        (8, "यो किताब राम्रो भएको छ र धेरै मानिसहरू यहाँ छन्", "ne"),
        (9, "हे पुस्तक चांगले आहे आणि बरेच लोक येथे आहेत", "mr"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows],
                               "doc_id int, text string")
    want = {i: lang for i, _, lang in rows}
    df_form = {r["doc_id"]: r["lang_detected"]
               for r in detect_language_df(df).collect()}
    assert df_form == want


def test_quality_columns(spark):
    from hybrid_search_engine_spark.functions.analysis import quality_metrics

    df = spark.createDataFrame([
        ("good", "The quick brown fox jumps over the lazy dog near the river bank today."),
        ("junk", "!!! ??? ### $$$ %%%"),
        ("empty", ""),
    ], "id string, text string")
    rows = {r["id"]: r for r in quality_metrics(df, keep=("id",)).collect()}
    assert rows["good"]["is_quality"]
    assert not rows["junk"]["is_quality"]
    assert not rows["empty"]["is_quality"]
    assert rows["good"]["n_tokens"] == 14


def test_token_counts_and_fingerprint(spark):
    from hybrid_search_engine_spark.functions.analysis import (
        content_fingerprint,
        token_count_columns,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "gamma alpha beta"),
         (3, "delta")], "id int, text string")
    rows = df.select("id", *token_count_columns("text"),
                     content_fingerprint("text").alias("fp")).collect()
    by = {r["id"]: r for r in rows}
    assert by[1]["ws_word_count"] == 4
    assert by[1]["regex_token_count"] == 4
    # bag-normalized: same vocabulary → same fingerprint
    assert by[1]["fp"] == by[2]["fp"]
    assert by[1]["fp"] != by[3]["fp"]


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_features_and_pruning(spark, tmp_path):
    from hybrid_search_engine_spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        media_stats,
    )

    rows = [
        (1, "image", b"payload-one", ("image/png", 64, 64, None, None)),
        (2, "image", b"payload-two", ("image/png", 32, 32, None, None)),
        (3, "image", None, ("image/png", 8, 8, None, None)),
        (4, "video", b"vid", ("video/mp4", 640, 480, 3500, None)),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int,"
        "sample_rate:int>")

    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["decode_ok"] and len(feats[1]["feature"]) == 64
    assert not feats[3]["decode_ok"] and feats[3]["feature"] is None
    # determinism: same payload → same feature
    again = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["feature"] == again[1]["feature"]

    plan = frame_sample_plan(media, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in plan] == [0, 1000, 2000, 3000]

    # metadata-only agg must not read the payload column — verify column
    # pruning against a real parquet scan (ReadSchema excludes payload)
    p = str(tmp_path / "media.parquet")
    media.write.mode("overwrite").parquet(p)
    stats_df = media_stats(spark.read.parquet(p))
    assert stats_df.count() == 2
    explain = stats_df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    read_schema = _re.search(r"ReadSchema: ([^\n]*)", explain)
    assert read_schema and "payload" not in read_schema.group(1), read_schema


def test_decode_stub_raises_without_fake():
    from hybrid_search_engine_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"x", deterministic_fake=False)


# ---------------------------------------------------------------------------
# fusion
# ---------------------------------------------------------------------------

def test_minmax_all_equal_edge(spark):
    from hybrid_search_engine_spark.operators.fusion import minmax_normalize

    df = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id int, s double")
    got = minmax_normalize(df, "s", "n").collect()
    assert all(r["n"] == 1.0 for r in got)  # utils.py:69-70 edge


def test_fuse_hybrid_weights_and_missing_sides(spark):
    from hybrid_search_engine_spark.operators.fusion import fuse_hybrid

    sem = spark.createDataFrame([(0, 1, 0.9), (0, 2, 0.1)],
                                "query_id int, doc_id int, sem_score double")
    lex = spark.createDataFrame([(0, 2, 3.0), (0, 3, 1.0)],
                                "query_id int, doc_id int, lex_score double")
    got = {r["doc_id"]: r["hybrid_score"]
           for r in fuse_hybrid(sem, lex).collect()}
    assert got[1] == pytest.approx(0.7)        # sem max, no lex
    assert got[2] == pytest.approx(0.3)        # sem min(0) + lex max
    assert got[3] == pytest.approx(0.0)        # lex min, no sem
    with pytest.raises(ValueError):
        fuse_hybrid(sem, lex, 0.5, 0.6)


def test_evaluate_rankings(spark):
    from hybrid_search_engine_spark.operators.fusion import evaluate_rankings

    results = spark.createDataFrame(
        [(0, r, d) for r, d in [(1, 10), (2, 20), (3, 30)]],
        "query_id int, rank int, doc_id int")
    truth = spark.createDataFrame([(0, 20), (0, 99)], "query_id int, doc_id int")
    m = evaluate_rankings(results, truth, k=3).first()
    assert m["precision_at_k"] == pytest.approx(1 / 3)
    assert m["recall_at_k"] == pytest.approx(1 / 2)
    assert m["mrr"] == pytest.approx(1 / 2)
    # dcg = 1/log2(3); idcg = 1/log2(2) + 1/log2(3)
    want_ndcg = (1 / np.log2(3)) / (1 + 1 / np.log2(3))
    assert m["ndcg_at_k"] == pytest.approx(want_ndcg)


# ---------------------------------------------------------------------------
# metadata filter
# ---------------------------------------------------------------------------

def test_metadata_filter_compiler(spark):
    from hybrid_search_engine_spark.operators.metadata_filter import apply_filter

    df = spark.createDataFrame([
        (1, "click", '{"k": 10, "tag": "a"}'),
        (2, "click", '{"k": 60, "tag": "b"}'),
        (3, "view", '{"k": 70}'),
        (4, "click", '{}'),
    ], "id int, event_type string, metadata string")

    def ids(expr):
        return sorted(r["id"] for r in apply_filter(df, expr).collect())

    assert ids("k:>50") == [2, 3]
    assert ids("k:>50 AND event_type:click") == [2]
    assert ids("k:>50 OR tag:a") == [1, 2, 3]
    assert ids("NOT event_type:click") == [3]
    assert ids("tag:[a,b]") == [1, 2]
    assert ids("tag:*") == [1, 2]
    assert ids("(k:<20 OR k:>65) AND event_type:[click,view]") == [1, 3]
    with pytest.raises(ValueError):
        apply_filter(df, "((k:1)")


# ---------------------------------------------------------------------------
# chunking / highlight / autocomplete
# ---------------------------------------------------------------------------

def test_chunkers(spark):
    from hybrid_search_engine_spark.operators.textproc import chunk_documents

    df = spark.createDataFrame(
        [(1, "One two. Three four! Five?\n\nNew para here.")],
        "doc_id int, text string")
    sents = [r["chunk_text"] for r in
             chunk_documents(df, mode="sentence").orderBy("chunk_id").collect()]
    assert sents == ["One two.", "Three four!", "Five?", "New para here."]
    paras = [r["chunk_text"] for r in
             chunk_documents(df, mode="paragraph").orderBy("chunk_id").collect()]
    assert len(paras) == 2
    fixed = chunk_documents(df, mode="fixed", chunk_tokens=4, overlap=1
                            ).orderBy("chunk_id").collect()
    assert fixed[0]["chunk_text"] == "one two three four"
    assert fixed[1]["chunk_text"].startswith("four")  # overlap of 1


def test_highlight_and_snippet(spark):
    from hybrid_search_engine_spark.operators.textproc import highlight, snippet

    df = spark.createDataFrame([(1, "The Quick fox is quick indeed.")],
                               "id int, text string")
    got = df.select(highlight("text", ["quick", "fox"]).alias("h")).first()["h"]
    assert got == "The <mark>Quick</mark> <mark>fox</mark> is <mark>quick</mark> indeed."
    sn = df.select(snippet("text", ["indeed"], radius_chars=8).alias("s")).first()["s"]
    assert "indeed" in sn


def test_autocomplete(spark):
    from hybrid_search_engine_spark.operators.textproc import (
        record_queries,
        suggest,
    )

    log = spark.createDataFrame(
        [("machine learning",), ("machine learning",), ("machine vision",),
         ("python",), ("Machine Learning",)], "query_text string")
    sugg = record_queries(log)
    got = suggest(sugg, "machine", n=2).collect()
    assert [(r["query_text"], r["frequency"]) for r in got] == [
        ("machine learning", 3), ("machine vision", 1)]


def test_detect_language_df_edge_rows(spark):
    """Rows no fixture phrase covers: no function word, empty text, han
    with kana, and a latin mix whose ratio ties break to the earliest
    language."""
    from hybrid_search_engine_spark.functions.analysis import (
        detect_language_df,
    )

    df = spark.createDataFrame(
        [(900, "zqx wvu kjh"), (901, ""), (902, "日本語のテキストです"),
         (903, "mixed the and und der text 123")],
        "doc_id int, text string")
    got = {r["doc_id"]: r["lang_detected"] for r in
           detect_language_df(df).collect()}
    assert got == {900: "und", 901: "und", 902: "ja", 903: "en"}


def test_script_counts_onepass_matches_regexp(spark, sf_dir):
    """The vectorized codepoint-bucket counter must equal one regexp_count
    per char class on every fixture phrase, the sf documents, and the
    null/empty/astral edges (astral chars are single codepoints to the
    UTF-32 scan but also single matches to java regex)."""
    from hybrid_search_engine_spark.contract_ext import LANG_PHRASES
    from hybrid_search_engine_spark.functions.analysis import (
        DISTINCTIVE_CHARS,
        LANG_SCRIPT_RANGES,
        script_counts_onepass,
    )

    pats = list(LANG_SCRIPT_RANGES.values()) + list(DISTINCTIVE_CHARS.values())
    rows = [(i, p) for i, (_, p) in enumerate(LANG_PHRASES)]
    rows += [(900, ""), (901, None), (902, "aЀ\U0001d11e"),
             (903, "їѓџыъ ٹپ a9")]
    fx = spark.createDataFrame(rows, "doc_id int, text string")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    for df in (fx, docs):
        c = F.coalesce(F.col("text"), F.lit(""))
        regex_cols = [F.regexp_count(c, F.lit(p)).cast("int").alias(f"c{i}")
                      for i, p in enumerate(pats)]
        want = {r["doc_id"]: tuple(r[f"c{i}"] for i in range(len(pats)))
                for r in df.select("doc_id", *regex_cols).collect()}
        got = {r["doc_id"]: tuple(r["cnt"]) for r in df.select(
            "doc_id", script_counts_onepass()(c).alias("cnt")).collect()}
        assert got == want


def test_repetition_metrics_hand_values(spark):
    from hybrid_search_engine_spark.functions.analysis import repetition_metrics

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x"), (3, ""), (4, "p q p q p q")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_metrics(docs).collect()}
    assert got[1] == {"doc_id": 1, "n_tokens": 4, "max_token_frac": 0.75,
                      "top_bigram_frac": 0.666667, "dup_bigram_frac": 0.666667,
                      "top_trigram_frac": 0.5, "dup_trigram_frac": 0.0}
    # single token: no bigrams/trigrams -> 0.0 fractions, not whole-doc grams
    assert got[2] == {"doc_id": 2, "n_tokens": 1, "max_token_frac": 1.0,
                      "top_bigram_frac": 0.0, "dup_bigram_frac": 0.0,
                      "top_trigram_frac": 0.0, "dup_trigram_frac": 0.0}
    assert got[3]["n_tokens"] == 0 and got[3]["max_token_frac"] == 0.0
    assert got[4] == {"doc_id": 4, "n_tokens": 6, "max_token_frac": 0.5,
                      "top_bigram_frac": 0.6, "dup_bigram_frac": 1.0,
                      "top_trigram_frac": 0.5, "dup_trigram_frac": 1.0}


def test_repetition_metrics_matches_python_oracle(spark):
    """Property check against a from-scratch per-doc computation using the
    same tokenizer regex, over deterministic pseudo-random texts with
    heavy repetition structure."""
    import random
    import re
    from collections import Counter

    from hybrid_search_engine_spark.functions.analysis import repetition_metrics

    rng = random.Random(7)
    vocab = ["a", "bb", "ccc", "d1", "e_e", "ff", "g", "hh"]
    rows = []
    for i in range(40):
        n = rng.randrange(0, 12)
        words = [rng.choice(vocab) for _ in range(n)]
        if i % 3 == 0 and words:  # inject repeats
            words = words + words[: rng.randrange(1, len(words) + 1)]
        rows.append((i, " ".join(words) + (" ...!" if i % 5 == 0 else "")))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_metrics(docs).collect()}

    for doc_id, text in rows:
        toks = re.findall(r"[a-z0-9_]+", text.lower())
        exp = {"n_tokens": len(toks)}
        for n, top_name, dup_name in [(1, "max_token_frac", None),
                                      (2, "top_bigram_frac", "dup_bigram_frac"),
                                      (3, "top_trigram_frac", "dup_trigram_frac")]:
            grams = [" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)]
            if not grams:
                exp[top_name] = 0.0
                if dup_name:
                    exp[dup_name] = 0.0
                continue
            c = Counter(grams)
            exp[top_name] = round(max(c.values()) / len(grams), 6)
            if dup_name:
                exp[dup_name] = round(
                    sum(v for v in c.values() if v >= 2) / len(grams), 6)
        g = got[doc_id]
        for k, v in exp.items():
            assert g[k] == v, (doc_id, k, g[k], v, text)


def test_split_dataset_deterministic_and_complete(spark):
    from hybrid_search_engine_spark.operators.dataset import split_dataset

    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in split_dataset(docs, seed=1).collect()}
    b = {r["doc_id"]: r["split"]
         for r in split_dataset(docs.repartition(13), seed=1).collect()}
    assert a == b  # partitioning-independent
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert abs(c["train"] / 2000 - 0.8) < 0.04
    assert abs(c["val"] / 2000 - 0.1) < 0.03
    # different seed reshuffles assignments
    d = {r["doc_id"]: r["split"] for r in split_dataset(docs, seed=2).collect()}
    assert d != a


def test_deterministic_sample_nested_and_stable(spark):
    from hybrid_search_engine_spark.operators.dataset import (
        deterministic_sample,
    )

    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    s10 = {r["doc_id"] for r in deterministic_sample(docs, 0.1, seed=3).collect()}
    s30 = {r["doc_id"] for r in deterministic_sample(docs, 0.3, seed=3).collect()}
    assert s10 <= s30  # nested ladders
    assert abs(len(s10) / 2000 - 0.1) < 0.03
    assert abs(len(s30) / 2000 - 0.3) < 0.04
    again = {r["doc_id"] for r in
             deterministic_sample(docs.repartition(7), 0.1, seed=3).collect()}
    assert again == s10
    assert deterministic_sample(docs, 1.0).count() == 2000
    assert deterministic_sample(docs, 0.0).count() == 0
    import pytest as _pt

    with _pt.raises(ValueError):
        deterministic_sample(docs, 1.5)


def test_quality_ints_udf_matches_native_exprs(spark):
    """Round-6 vectorized quality numerators == the native expression
    chain they replaced, exactly (ints), incl. unicode/empty/null text."""
    from hybrid_search_engine_spark.functions.analysis import (
        _quality_ints_udf,
    )
    from hybrid_search_engine_spark.functions.text import tokens_native
    from hybrid_search_engine_spark.localdf import local_df
    from hybrid_search_engine_spark.reference_semantics import STOPWORDS

    rows = [
        (1, "The quick brown fox and the lazy dog 123 %%%"),
        (2, ""),
        (3, None),
        (4, "a a a b2 b2 ccc"),
        (5, "ünïcode téxt ☃ with 99 digits 00"),
        (6, "the and of to in is it"),
    ]
    df = local_df(spark, rows, "doc_id long, text string")
    c = F.coalesce(F.col("text"), F.lit(""))
    s1 = df.select("doc_id", c.alias("__t"),
                   tokens_native(c, remove_stopwords=False).alias("__tk"))
    tk, t = F.col("__tk"), F.col("__t")
    native = s1.select(
        "doc_id",
        F.regexp_count(t, F.lit(r"[A-Za-z0-9]")).cast("long").alias("a"),
        F.regexp_count(t, F.lit(r"[0-9]")).cast("long").alias("d"),
        F.size(F.filter(tk, lambda x: x.isin(*sorted(STOPWORDS))))
        .cast("long").alias("s"),
        F.size(F.array_distinct(tk)).cast("long").alias("u"),
        F.aggregate(tk, F.lit(0).cast("long"),
                    lambda acc, x: acc + F.length(x)).alias("l"))
    got = s1.select("doc_id", _quality_ints_udf()(t, tk).alias("i"))
    a = {r["doc_id"]: tuple(r)[1:] for r in native.collect()}
    b = {r["doc_id"]: tuple(r["i"]) for r in got.collect()}
    assert a == b

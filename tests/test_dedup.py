"""Dedup operators vs the fixture's planted duplicates.

The pages corpus plants exact duplicates at i ≡ 0 (mod 97) (copy of row
i-1's body, different url) and near duplicates (5% token swaps) at
i ≡ 0 (mod 131) — FIXTURES.md §A1.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_idx(spark, extracted_1k):
    """(doc_id = fixture row index, text) — row index recovered from url."""
    d = extracted_1k.select(
        F.regexp_extract("url", r"/path/(\d+)$", 1).cast("long").alias("doc_id"),
        "text",
    ).cache()
    d.count()
    return d


PLANTED_EXACT = [i for i in range(1, 1000) if i % 97 == 0]


def test_exact_duplicates_finds_planted(spark, docs_idx):
    from hybrid_search_engine_spark.operators.dedup import exact_duplicates

    res = exact_duplicates(docs_idx).cache()
    dups = {r["doc_id"]: r["canonical_doc_id"]
            for r in res.where("is_duplicate").collect()}
    for i in PLANTED_EXACT:
        # i duplicates i-1 (html differs, text body identical)
        assert i in dups, f"planted exact dup {i} not found"
        assert dups[i] < i
    # non-planted docs are not flagged (body generation is random enough)
    flagged = set(dups)
    unexpected = flagged - set(PLANTED_EXACT)
    assert len(unexpected) <= 3, f"too many unexpected dups: {sorted(unexpected)[:10]}"


@pytest.mark.parametrize("signatures", ["fast", "md5"])
def test_minhash_lsh_finds_planted_near_dups(spark, docs_idx, signatures):
    from hybrid_search_engine_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs_idx, num_perm=32, bands=8,
                              jaccard_threshold=0.6,
                              signatures=signatures).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # exact dups (jaccard 1.0) must all be found
    for i in PLANTED_EXACT:
        assert any((a, b) == (i - 1, i) or (a, b) == (i, i - 1) or
                   (min(a, b), max(a, b)) == (i - 1, i)
                   for a, b in found), f"exact pair ({i-1},{i}) missed by LSH"
    for r in pairs:
        assert r["jaccard"] >= 0.6


def test_minhash_fast_estimator_agrees_with_md5(spark, docs_idx):
    """The xxhash64 signature is a valid MinHash family: per-pair Jaccard
    estimates (fraction of agreeing signature slots) from the fast and md5
    forms must agree statistically, and both must track exact Jaccard.
    128 permutations → se ≈ sqrt(J(1-J)/128) ≤ 0.045; assert within 4·se
    plus both estimators within 0.25 of each other on every planted pair."""
    from hybrid_search_engine_spark.operators.dedup import (
        char_shingles,
        minhash_signatures,
        minhash_signatures_fast,
    )

    sample = docs_idx.where(
        (F.col("doc_id") % 97 == 0) | (F.col("doc_id") % 131 == 0)
        | (F.col("doc_id") < 20)).cache()
    md5_sig = {r["doc_id"]: r["sig"] for r in
               minhash_signatures(sample, num_perm=128).collect()}
    fast_sig = {r["doc_id"]: r["sig"] for r in
                minhash_signatures_fast(sample, num_perm=128).collect()}
    exact = {r["doc_id"]: set(r["sh"]) for r in sample.select(
        "doc_id", F.array_distinct(char_shingles(F.col("text"))).alias("sh")
    ).collect()}

    def est(sig, a, b):
        return sum(x == y for x, y in zip(sig[a], sig[b])) / 128.0

    ids = sorted(md5_sig)
    checked = 0
    for i in ids:
        for j in ids:
            if j <= i or (i % 7 + j % 5) % 3:  # deterministic thinning
                continue
            true_j = (len(exact[i] & exact[j]) / len(exact[i] | exact[j]))
            for sig in (md5_sig, fast_sig):
                e = est(sig, i, j)
                se = max((true_j * (1 - true_j) / 128) ** 0.5, 0.02)
                assert abs(e - true_j) <= 4 * se, (i, j, e, true_j)
            assert abs(est(md5_sig, i, j) - est(fast_sig, i, j)) <= 0.25
            checked += 1
    assert checked >= 10


def test_simhash64_near_dups(spark, docs_idx):
    from hybrid_search_engine_spark.operators.dedup import simhash_near_pairs

    pairs = simhash_near_pairs(docs_idx, max_hamming=3).collect()
    found = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
             for r in pairs}
    hits = sum(1 for i in PLANTED_EXACT if (i - 1, i) in found)
    # exact dups have identical token bags → hamming 0 → all found
    assert hits == len(PLANTED_EXACT), (hits, len(PLANTED_EXACT))


def test_ngram_jaccard_planted(spark, docs_idx):
    from hybrid_search_engine_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs_idx, n=2, threshold=0.8, df_cap=0).collect()
    found = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
             for r in pairs}
    hits = sum(1 for i in PLANTED_EXACT if (i - 1, i) in found)
    assert hits == len(PLANTED_EXACT)


def test_embedding_near_dup_lsh_recall(spark):
    """LSH-bucketed near-dup: recall ≥ 0.8 vs brute force on clustered
    vectors (planted near-identical pairs)."""
    import numpy as np

    from hybrid_search_engine_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    rng = np.random.RandomState(0)
    base = rng.standard_normal((40, 16))
    rows = []
    vid = 0
    for i in range(40):
        rows.append((vid, [float(x) for x in base[i]])); vid += 1
        if i % 4 == 0:  # planted near-dup: tiny perturbation
            rows.append((vid, [float(x) for x in
                               (base[i] + 0.01 * rng.standard_normal(16))]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    brute = embedding_near_dup_pairs(emb, threshold=0.95, n_planes=0).collect()
    lsh = embedding_near_dup_pairs(emb, threshold=0.95, n_planes=6).collect()
    bset = {(r["id_a"], r["id_b"]) for r in brute}
    lset = {(r["id_a"], r["id_b"]) for r in lsh}
    assert lset <= bset  # LSH never invents pairs
    assert len(bset) >= 10
    assert len(lset) / len(bset) >= 0.8, (len(lset), len(bset))


def test_embedding_near_pairs_planted(spark, sf_dir):
    """The contract row was previously vacuous (0 rows both sides). The
    planted vectors guarantee: the cos=1.0 family and the 0.96 rotations
    surface, the just-above-threshold pair (9000005,9000006) surfaces with
    round-6 value exactly 0.900000, and the just-below pair
    (9000006,9000007) does NOT."""
    from hybrid_search_engine_spark.contract_ext import q_embedding_near_pairs

    rows = q_embedding_near_pairs(spark, sf_dir).collect()
    got = {(r["id_a"], r["id_b"]): r["cosine_r"] for r in rows}
    assert got, "no pairs at all — planting failed"
    assert got[(9000001, 9000002)] == 1.0
    assert got[(9000001, 9000003)] == 1.0
    assert got[(9000002, 9000003)] == 1.0
    assert got[(9000001, 9000004)] == 0.96
    assert got[(9000005, 9000006)] == 0.9  # boundary: unrounded ≥ 0.9
    assert (9000006, 9000007) not in got   # just below the threshold
    # planted vectors live in the dims-0/1 plane; no real testdata vector
    # should reach 0.9 against them (and sf testdata has no real-real pair)
    stray = [p for p in got if (p[0] < 9000000) != (p[1] < 9000000)]
    assert not stray, stray


# ---------------------------------------------------------------------------
# connected components (transitive near-dup closure)
# ---------------------------------------------------------------------------

def _uf_components(edges):
    """Driver-side union-find oracle: node -> min id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_spark(spark, edges, local_threshold=500_000, id_type="long"):
    from hybrid_search_engine_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, f"doc_a {id_type}, doc_b {id_type}")
    out = connected_components(df, local_threshold=local_threshold)
    return {r["node"]: r["component"] for r in out.collect()}


# local_threshold=0 forces the distributed alternating-star rounds;
# the default finishes driver-side via union-find — both must agree.
@pytest.mark.parametrize("thr", [0, 500_000])
def test_cc_chain_star_cycle(spark, thr):
    # chain 1-2-3-4-5 (diameter 4), star at 10, 3-cycle, disjoint pair
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (10, 12), (10, 13),
             (20, 21), (21, 22), (22, 20),
             (30, 31)]
    got = _cc_spark(spark, edges, thr)
    assert got == _uf_components(edges)
    assert got[5] == 1 and got[13] == 10 and got[22] == 20 and got[31] == 30


@pytest.mark.parametrize("thr", [0, 500_000])
def test_cc_duplicate_and_reversed_edges(spark, thr):
    edges = [(2, 1), (1, 2), (2, 3), (3, 1), (3, 3)]
    got = _cc_spark(spark, edges, thr)
    assert got == {1: 1, 2: 1, 3: 1}


def test_cc_empty(spark):
    from hybrid_search_engine_spark.operators.dedup import connected_components

    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df).count() == 0


def test_cc_string_ids(spark):
    from hybrid_search_engine_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "doc_a string, doc_b string")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_random_graphs_match_union_find(spark):
    import random

    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
        edges = [(a, b) for a, b in edges if a != b]
        # distributed rounds on the first trial, local finish on the rest
        thr = 0 if trial == 0 else 500_000
        assert _cc_spark(spark, edges, thr) == _uf_components(edges), trial


def test_dedup_groups_labels_singletons(spark):
    from hybrid_search_engine_spark.operators.dedup import dedup_groups

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["group_id"] for r in dedup_groups(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1}


# ---------------------------------------------------------------------------
# incremental near-dup check (per-insert reference semantics, batch probe)
# ---------------------------------------------------------------------------

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun")


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dup_check_incremental_planted(spark):
    from hybrid_search_engine_spark.operators.dedup import (
        near_dup_check_incremental,
    )

    corpus = _mk_docs(spark, [
        (1, "completely unrelated text about spark dataframes and shuffles"),
        (2, BASE + " extra tail"),
        (3, BASE),
        (4, "another unrelated document mentioning parquet row groups only"),
    ])
    new = _mk_docs(spark, [
        (100, BASE + " extra tile"),   # near-dup of 2 (and 3)
        (101, BASE),                   # exact dup of 3
        (102, "a brand new topic never seen before in this tiny corpus"),
    ])
    got = near_dup_check_incremental(new, corpus, jaccard_threshold=0.8)
    rows = {(r["doc_id"], r["dup_of"]): r["jaccard"] for r in got.collect()}
    assert (101, 3) in rows and rows[(101, 3)] == 1.0
    assert any(k[0] == 100 for k in rows), rows
    assert not any(k[0] == 102 for k in rows), rows


def test_near_dup_check_incremental_two_batches_with_band_table(spark):
    from hybrid_search_engine_spark.operators.dedup import (
        minhash_band_hashes,
        near_dup_check_incremental,
    )

    corpus = _mk_docs(spark, [(1, BASE)])
    table = minhash_band_hashes(corpus).localCheckpoint()

    batch1 = _mk_docs(spark, [(10, BASE + " tail one"),
                              (11, "novel content entirely distinct words")])
    got1 = {(r["doc_id"], r["dup_of"])
            for r in near_dup_check_incremental(
                batch1, corpus, band_table=table,
                jaccard_threshold=0.8).collect()}
    assert got1 == {(10, 1)}

    # append batch1's bands + docs, then a batch-2 doc duplicating doc 11
    table2 = table.union(minhash_band_hashes(batch1)).localCheckpoint()
    corpus2 = corpus.union(batch1)
    batch2 = _mk_docs(spark, [(20, "novel content entirely distinct words")])
    got2 = {(r["doc_id"], r["dup_of"])
            for r in near_dup_check_incremental(
                batch2, corpus2, band_table=table2,
                jaccard_threshold=0.8).collect()}
    assert got2 == {(20, 11)}


def test_near_dup_check_probe_bucket_cap(spark):
    """A degenerate band bucket (every corpus doc identical) is dropped at
    probe time when it exceeds probe_bucket_cap — the skew guard that stops
    a boilerplate band from fanning every probe out by the bucket size."""
    from hybrid_search_engine_spark.operators.dedup import (
        near_dup_check_incremental,
    )

    corpus = _mk_docs(spark, [(i, BASE) for i in range(1, 4)])
    new = _mk_docs(spark, [(100, BASE)])
    capped = near_dup_check_incremental(new, corpus, jaccard_threshold=0.8,
                                        probe_bucket_cap=2)
    assert capped.count() == 0
    uncapped = near_dup_check_incremental(new, corpus, jaccard_threshold=0.8,
                                          probe_bucket_cap=0)
    assert {r["dup_of"] for r in uncapped.collect()} == {1, 2, 3}


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in df.collect()}


def test_verify_broadcast_equals_join(spark, docs_idx, monkeypatch):
    """The two exact-verify plans (broadcast arrays + map-side numpy vs
    the array join) are the SAME function: identical (doc_a, doc_b) sets
    and identical jaccard values on the fixture corpus at a loose and a
    tight threshold. A budget of 0 forces the join, 2⁴⁰ the broadcast."""
    from hybrid_search_engine_spark.operators import dedup

    for thr in (0.5, 0.8):
        got = {}
        for budget in (0, 1 << 40):
            monkeypatch.setattr(dedup, "VERIFY_BROADCAST_BUDGET", budget)
            got[budget] = _pairs(dedup.minhash_lsh_pairs(
                docs_idx, jaccard_threshold=thr))
        assert got[0] == got[1 << 40], thr
        assert len(got[0]) > 0, thr


def test_verify_auto_tier_selection(spark, docs_idx, monkeypatch):
    """The plan is picked from the measured array payload: broadcast
    under VERIFY_BROADCAST_BUDGET, the array join above it — read at call
    time, so patching the module constant moves the switch."""
    from hybrid_search_engine_spark.operators import dedup

    picked = []
    for name in ("_verify_pairs_broadcast", "_verify_pairs_vectorized"):
        real = getattr(dedup, name)

        def spy(*args, _real=real, _name=name):
            picked.append(_name)
            return _real(*args)
        monkeypatch.setattr(dedup, name, spy)

    monkeypatch.setattr(dedup, "VERIFY_BROADCAST_BUDGET", 0)
    small_budget = _pairs(dedup.minhash_lsh_pairs(docs_idx,
                                                  jaccard_threshold=0.5))
    monkeypatch.setattr(dedup, "VERIFY_BROADCAST_BUDGET", 1 << 40)
    big_budget = _pairs(dedup.minhash_lsh_pairs(docs_idx,
                                                jaccard_threshold=0.5))
    assert picked == ["_verify_pairs_vectorized", "_verify_pairs_broadcast"]
    assert small_budget == big_budget
    assert len(big_budget) > 0


def test_verify_vectorized_hand_valued(spark, monkeypatch):
    """Exact jaccard value on a hand-computable pair: 'abcdef' vs 'abcdez'
    have 3-shingle sets {abc,bcd,cde,def} and {abc,bcd,cde,dez} →
    jaccard = 3/5. Both verify plans must produce exactly 0.6, and an
    exact duplicate pair must produce exactly 1.0."""
    from hybrid_search_engine_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdez"), (3, "abcdef")],
        "doc_id long, text string")
    for budget in (0, 1 << 40):
        monkeypatch.setattr(dedup, "VERIFY_BROADCAST_BUDGET", budget)
        got = _pairs(dedup.minhash_lsh_pairs(docs, num_perm=32, bands=16,
                                             jaccard_threshold=0.5))
        assert got.get((1, 3)) == 1.0, (budget, got)
        # (1,2)/(2,3) at 0.6 appear iff LSH banding collides them — if
        # present, the VALUE must be exact
        for pair in ((1, 2), (2, 3)):
            if pair in got:
                assert got[pair] == 0.6, (budget, pair, got[pair])


def test_verify_broadcast_missing_id_raises(spark):
    """A candidate id with no shingle array fails loudly instead of
    reading a neighbour's slice: one id sorts between present ids, one
    past the end of the table."""
    from pyspark.errors import PythonException

    from hybrid_search_engine_spark.operators.dedup import (
        _shingle_arr_udf,
        _verify_pairs_broadcast,
    )

    docs = spark.createDataFrame(
        [(1, "abcdef"), (3, "abcdez"), (5, "abcdef")],
        "doc_id long, text string")
    arrs = docs.select("doc_id",
                       _shingle_arr_udf(3)(F.col("text")).alias("sh_arr"))
    ok = spark.createDataFrame([(1, 5)], "doc_a long, doc_b long")
    assert _pairs(_verify_pairs_broadcast(ok, arrs, arrs, 0.5)) == {
        (1, 5): 1.0}
    for a, b, missing in ((1, 2, "doc_b id 2"), (9, 3, "doc_a id 9")):
        cand = spark.createDataFrame([(a, b)], "doc_a long, doc_b long")
        with pytest.raises(PythonException, match=missing):
            _verify_pairs_broadcast(cand, arrs, arrs, 0.5).collect()


def test_lsh_pairs_result_lifetime(spark, docs_idx):
    """minhash_lsh_pairs returns materialized pairs and releases its
    intermediates: no cache-manager entry outlives the call, and the
    result's own checkpoint is the only persisted RDD it adds, however
    often the result is read."""
    from hybrid_search_engine_spark.operators.dedup import minhash_lsh_pairs

    jsc = spark.sparkContext._jsc
    cm = spark._jsparkSession.sharedState().cacheManager()
    entries0 = cm.numCachedEntries()
    rdds0 = jsc.getPersistentRDDs().size()
    pairs = minhash_lsh_pairs(docs_idx, jaccard_threshold=0.5)
    assert cm.numCachedEntries() == entries0
    first = _pairs(pairs)
    assert _pairs(pairs) == first and len(first) > 0
    assert cm.numCachedEntries() == entries0
    assert jsc.getPersistentRDDs().size() <= rdds0 + 1


def test_lsh_pairs_signs_each_doc_once(spark, docs_idx, monkeypatch):
    """The band self-join reads the band table twice; minhash_lsh_pairs
    must still run the signature UDF over each document exactly once per
    call (an accumulator counts the rows the UDF is given)."""
    from pyspark.sql import functions as F

    from hybrid_search_engine_spark.operators import dedup

    sig_udf = dedup._minhash_sig_udf(16, 3)
    rows = spark.sparkContext.accumulator(0)
    sign = sig_udf.func

    @F.pandas_udf(sig_udf.returnType)
    def counted(s):
        rows.add(len(s))
        return sign(s)

    monkeypatch.setattr(dedup, "_minhash_sig_udf", lambda *a: counted)
    pairs = dedup.minhash_lsh_pairs(docs_idx, jaccard_threshold=0.5)
    assert len(_pairs(pairs)) > 0
    assert rows.value == docs_idx.count()


def test_cc_long_chain_vectorized_and_arrow_branch(spark, monkeypatch):
    """Round-6 internals: the CC finish is a numpy min-label-propagation
    loop (pointer jumping) and, above the literal cap, the component map
    returns as an Arrow-backed relation. A long path graph stresses
    propagation convergence; patching the literal cap to 0 forces the
    Arrow createDataFrame branch. Both must agree with the python
    union-find oracle, for numeric ids and for string ids (the path
    5-6-...-305 as strings has min "10", not "5")."""
    from hybrid_search_engine_spark import localdf

    n = 300
    edges = [(i, i + 1) for i in range(n)]  # path 0-1-...-300
    edges += [(1000 + i, 1000 + (i * 7) % 50) for i in range(50)]
    edges = [(a, b) for a, b in edges if a != b]  # CC drops self-loops
    want = _uf_components(edges)
    str_edges = [(str(a + 5), str(b + 5)) for a, b in edges]
    want_str = _uf_components(str_edges)
    assert want_str["5"] == "10"

    assert _cc_spark(spark, edges, 500_000) == want
    assert _cc_spark(spark, str_edges, 500_000, "string") == want_str

    monkeypatch.setattr(localdf, "MAX_LITERAL_ROWS", 0)
    assert _cc_spark(spark, edges, 500_000) == want
    assert _cc_spark(spark, str_edges, 500_000, "string") == want_str

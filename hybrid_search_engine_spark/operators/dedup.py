"""Deduplication operators for web-scale training-data pipelines.

Five families, all DataFrame plans. The PORTABLE tiers use only
deterministic SQL expressions so the DuckDB oracle can replay them; the
engine-tier MinHash signature is the one Arrow-vectorized pandas UDF
(``_minhash_sig_udf`` — measured 4.3× over the best expression form, and
still deterministic):

- exact_duplicates:    sha2-256 content groups                (reference
  semantics: deduplication.py:111-124 — SHA-256 exact fingerprint)
- minhash_lsh:         k-shingle MinHash signatures + banded LSH self-join +
  exact-Jaccard verify (reference: MinHashDeduplicator, num_perm/threshold,
  deduplication.py:52-77,126-176). Signatures here are md5-based min-hashes:
  sig_i(doc) = min over shingles of md5(i || ':' || shingle) — deterministic,
  portable, and exactly reproducible in ANSI SQL.
- simhash:             64-bit SimHash over token md5 bits, hamming-verify
- ngram_jaccard:       token-n-gram set Jaccard via explode + self-join
- embedding_near_dup:  cosine ≥ threshold pairs over array<float> embeddings

Scale notes: every family reduces to (1) a per-doc signature (hash agg,
map-side combinable), (2) an equi-join on a bucket key (shuffle on the
bucket), (3) a cheap verify on the candidate pairs. Hot buckets (boilerplate
shingles) are the skew risk — `band_bucket_cap` drops degenerate buckets
(standard practice: a bucket with B docs yields B² candidates; capping
bounds the join blowup and only ever *misses* near-dups that share solely
degenerate bands).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_native, tokens_native_keep_order
from ..sources.registry import spread

# Python str.strip()'s whitespace set — the reference normalizes content
# with .lower().strip() before hashing/shingling (deduplication.py:104-125).
# str.strip() with no args strips the full unicode isspace() set (29 code
# points, NBSP/U+2028/U+3000 included — common in web text), so the trim
# set here is the shared unicode-exact constant, not ASCII string.whitespace.
# Parity-tested against the reference implementation in
# tests/test_reference_parity_ops.py.
from ..functions.text import PY_WS


def norm_content(col) -> F.Column:
    """content.lower().strip() (deduplication.py:104,124) as a native
    expression — the shared normalization for exact hash and shingles."""
    c = F.coalesce(col if not isinstance(col, str) else F.col(col), F.lit(""))
    return F.lower(F.btrim(c, F.lit(PY_WS)))


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text) → (doc_id, canonical_doc_id, is_duplicate):
    sha2-256 groups over lower().strip()-normalized content
    (deduplication.py:111-125), min id canonical. One window over the
    hash — a single shuffle."""
    w = Window.partitionBy("content_hash")
    return (
        docs.withColumn("content_hash",
                        F.sha2(norm_content(F.col("text")), 256))
        .withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "canonical_doc_id",
            (F.col("doc_id") != F.col("canonical_doc_id"))
            .alias("is_duplicate"),
        )
    )


def apply_dedup_action(docs: DataFrame, pairs: DataFrame,
                       action: str = "flag") -> DataFrame:
    """docs(doc_id, ...), pairs(doc_a, doc_b) → docs with a policy applied.
    P7 policy (reference: DeduplicationEngine.check_and_handle,
    deduplication.py:196-241 — actions SKIP/MERGE/FLAG):

    - "skip":  drop near-duplicate docs (keep the canonical = smallest id
               in each connected pair set, one-hop approximation)
    - "merge"/"flag": keep all rows, add is_duplicate + canonical_doc_id

    `pairs` is any (doc_a, doc_b) near-dup table (minhash_lsh_pairs,
    simhash_near_pairs, ngram_jaccard_pairs).
    """
    canon = (
        pairs.select(F.col("doc_b").alias("doc_id"),
                     F.col("doc_a").alias("cand"))
        .groupBy("doc_id").agg(F.min("cand").alias("canonical_doc_id"))
    )
    if action == "skip":
        return docs.join(canon.select("doc_id"), "doc_id", "left_anti")
    out = docs.join(canon, "doc_id", "left")
    return out.withColumn(
        "is_duplicate", F.col("canonical_doc_id").isNotNull()
    ).withColumn(
        "canonical_doc_id", F.coalesce("canonical_doc_id", F.col("doc_id"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingles_of(c, k: int = 3):
    """Character k-shingles of an already-normalized string column.

    Callers that evaluate this over a TABLE must pass a BOUND column (a
    select-projected attribute), not an inline expression: the per-position
    lambda embeds ``c`` in every substr, so an unbound expression tree is
    re-evaluated once per window position — O(len²) per doc."""
    n = F.length(c)
    return F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: c.substr(i, F.lit(k))),
    ).otherwise(F.array(c))


def char_shingles(col, k: int = 3):
    """Character k-shingles as a native expression (deduplication.py:104-109:
    sliding window over the lower().strip()-normalized string; a non-empty
    text shorter than k yields itself as the single shingle — for empty
    text the reference returns [], we keep [''] so every doc retains a
    signature row). Convenience inline form — see ``shingles_of`` for the
    bind requirement on hot paths."""
    return shingles_of(norm_content(col), k)


@functools.cache
def _md5_minhash_udf(num_perm: int, k: int):
    """Arrow-vectorized md5 MinHash: text → array<string>[num_perm] of
    8-hex-char slices — BIT-IDENTICAL to the explode + md5 + min plan it
    replaces (pinned by test + the DuckDB oracle row).

    The round-6 observation: min over the shingle multiset equals min
    over the shingle SET, and a real corpus has FAR fewer distinct
    character k-grams than k-gram positions (50k driver docs: ~thousands
    of distinct trigrams vs 15M positions). So each batch unique-codes
    its shingles (np.unique over packed codepoint keys for k ≤ 3; exact),
    computes ONE salted md5 per DISTINCT shingle per salt group — a
    ~10⁴× cut in digests here — and takes per-row minima of the mapped
    digest slices with minimum.reduceat. String min over fixed-width
    lowercase hex == numeric min over the big-endian uint32 slice, so
    minima are computed numerically and formatted back with '%08x'."""
    import hashlib

    from pyspark.sql.types import ArrayType, StringType

    n_groups = -(-num_perm // 4)
    salts = [f"{g}:".encode() for g in range(n_groups)]

    def _digest_u32(shingle_utf8: bytes) -> np.ndarray:
        # 4 big-endian uint32 slices per salt group, matching
        # substring(hex, (i%4)*8+1, 8) of md5(salt || shingle)
        return np.frombuffer(
            b"".join(hashlib.md5(s + shingle_utf8).digest()
                     for s in salts), ">u4").astype(np.uint32)

    @F.pandas_udf(ArrayType(StringType()))
    def sig_udf(s: pd.Series) -> pd.Series:
        # normalization parity with norm_content(): lower + python-ws
        # strip (the same 29-codepoint set — see _rolling_shingle_hashes)
        vals = s.fillna("").str.lower().str.strip().tolist()
        n = len(vals)
        if n == 0:
            return pd.Series([], dtype=object)
        mins = np.full((n, n_groups * 4), np.uint32(0xFFFFFFFF),
                       np.uint32)
        enc = [v.encode("utf-32-le") for v in vals]
        lens = np.fromiter((len(b) >> 2 for b in enc), np.int64, n)
        long_rows = np.nonzero(lens >= k)[0]
        if long_rows.size and k <= 3:
            cps = np.frombuffer(
                b"".join(enc[r] for r in long_rows), np.uint32)
            ll = lens[long_rows]
            starts = np.zeros(ll.size, np.int64)
            np.cumsum(ll[:-1], out=starts[1:])
            n_sh = ll - (k - 1)
            off = np.zeros(ll.size, np.int64)
            np.cumsum(n_sh[:-1], out=off[1:])
            total = int(n_sh.sum())
            intra = np.arange(total) - np.repeat(off, n_sh)
            gi = np.repeat(starts, n_sh) + intra
            keys = cps[gi].astype(np.uint64)
            for j in range(1, k):  # pack codepoints (< 2^21) exactly
                keys = (keys << np.uint64(21)) | cps[gi + j]
            uniq, inv = np.unique(keys, return_inverse=True)
            udig = np.empty((uniq.size, n_groups * 4), np.uint32)
            shifts = [np.uint64(21 * (k - 1 - j)) for j in range(k)]
            mask = np.uint64((1 << 21) - 1)
            for u_i, u in enumerate(uniq):
                sh = "".join(chr(int((u >> sh_) & mask)) for sh_ in shifts)
                udig[u_i] = _digest_u32(sh.encode("utf-8"))
            vals_per_pos = udig[inv]
            row_min = np.minimum.reduceat(vals_per_pos, off, axis=0)
            mins[long_rows] = row_min
        elif long_rows.size:  # generic k fallback: python windows, still
            for r in long_rows:  # one digest set per DISTINCT shingle
                v = vals[r]
                seen: dict = {}
                m = np.full(n_groups * 4, np.uint32(0xFFFFFFFF),
                            np.uint32)
                for i0 in range(len(v) - k + 1):
                    sh = v[i0:i0 + k]
                    d = seen.get(sh)
                    if d is None:
                        d = seen[sh] = _digest_u32(sh.encode("utf-8"))
                    np.minimum(m, d, out=m)
                mins[r] = m
        for r in np.nonzero(lens < k)[0]:
            # substr clamps: a doc shorter than k yields the whole
            # (possibly empty) string as its single shingle
            mins[r] = _digest_u32(vals[r].encode("utf-8"))
        # i-th permutation = slice i%4 of group i//4 — in udig/mins the
        # layout is [g0s0..g0s3, g1s0..] so index i is already i
        out = [["%08x" % int(mins[r, i]) for i in range(num_perm)]
               for r in range(n)]
        return pd.Series(out)

    return sig_udf


def minhash_signatures(docs: DataFrame, num_perm: int = 16,
                       shingle_k: int = 3) -> DataFrame:
    """docs(doc_id, text) → (doc_id, sig array<string>[num_perm]).

    Portable (SQL-replayable) tier. sig_i is the min, over the doc's
    shingle multiset, of an 8-hex-char SLICE of a salted md5: shingle →
    md5(g ':' shingle) for g = i//4, sliced at [8·(i%4), 8·(i%4)+8).
    Distinct 32-bit slices of one md5 are independent uniform values, so
    four permutations share each md5 call — 4× fewer digests than the
    naive min(md5(i ':' shingle)) per i, with the same estimator family
    (the statistical-agreement test in test_dedup.py pins it against both
    the xxhash64 tier and exact Jaccard).

    Round 6: evaluated per row by ``_md5_minhash_udf`` — one digest per
    DISTINCT shingle per batch instead of one per POSITION (min over the
    multiset == min over the set), zero explode, zero shuffle, zero
    sort-aggregate; bit-identical output pinned by test and by the
    ``minhash_sig`` oracle row (measured 4.2-4.7 s → see
    OPTIMIZATION_r06.md, sf1.0 local[32]; the old explode + SortAggregate
    plan, including its ``spread`` note, is in git history)."""
    docs = spread(docs)
    udf = _md5_minhash_udf(num_perm, shingle_k)
    return docs.select("doc_id", udf(F.col("text")).alias("sig"))


def _splitmix64(z):
    """Vectorized splitmix64 finalizer over a uint64 ndarray (wrapping
    arithmetic IS the hash — numpy unsigned ops are modular)."""
    z = z + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


_B = np.uint64(1099511628211)  # FNV64 prime — rolling-hash base


def _rolling_shingle_hashes(s: pd.Series, k: int):
    """Shared vectorized core of the MinHash-signature and verify-array
    UDFs: normalized texts → (H, out_off) where ``H`` holds the
    splitmix64-finalized polynomial k-gram rolling hash of EVERY shingle
    position of every row (multiset — duplicates included) and
    ``out_off[r]`` is row r's first index into H.

    One numpy pass per batch: codepoints of all rows concatenated, the
    polynomial hash at every in-row position (the k-1 positions that would
    cross a row boundary are masked out by a grouped arange over the row
    offsets), splitmix64 finalization. Rows shorter than k hash the whole
    string as the single shingle (char_shingles semantics). Normalization
    is the reference's ``.lower().strip()`` (deduplication.py:104) — the
    same rule as ``norm_content()``."""
    bp = [_B ** np.uint64(t) for t in range(k)]  # B^0..B^(k-1), wrapped
    vals = s.fillna("").str.lower().str.strip().tolist()
    n = len(vals)
    if n == 0:
        return np.zeros(0, np.uint64), np.zeros(0, np.int64)
    enc = [v.encode("utf-32-le") for v in vals]
    lens = np.fromiter((len(b) >> 2 for b in enc), np.int64, n)
    cps = np.frombuffer(b"".join(enc), np.uint32).astype(np.uint64)
    starts = np.zeros(n, np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    n_sh = np.where(lens >= k, lens - k + 1, 1)
    out_off = np.zeros(n, np.int64)
    np.cumsum(n_sh[:-1], out=out_off[1:])
    H = np.zeros(int(n_sh.sum()), np.uint64)
    if cps.size >= k:
        poly = np.zeros(cps.size - k + 1, np.uint64)
        for t in range(k):
            poly += cps[t:cps.size - k + 1 + t] * bp[k - 1 - t]
        m = lens >= k
        if m.any():
            cnt = n_sh[m]
            cum = np.concatenate(([0], np.cumsum(cnt[:-1])))
            intra = np.arange(int(cnt.sum())) - np.repeat(cum, cnt)
            H[np.repeat(out_off[m], cnt) + intra] = _splitmix64(
                poly[np.repeat(starts[m], cnt) + intra])
    for r in np.nonzero(lens < k)[0]:  # rare: whole string = 1 shingle
        h = np.uint64(0)
        for cp in cps[starts[r]:starts[r] + lens[r]]:
            h = h * _B + cp
        H[out_off[r]] = _splitmix64(h)
    return H, out_off


@functools.cache
def _minhash_sig_udf(num_perm: int, k: int):
    """Arrow-vectorized per-row MinHash: text → array<bigint>[num_perm].

    Shingle-position hashes from ``_rolling_shingle_hashes`` (one numpy
    pass per batch), then per permutation i sig_i = min over the row's
    shingles of splitmix64(h ^ seed_i) via minimum.reduceat. min over a
    multiset equals min over the set, so no distinct pass is needed."""
    from pyspark.sql.types import ArrayType, LongType

    seeds = _splitmix64(np.arange(1, num_perm + 1, dtype=np.uint64))

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(s: pd.Series) -> pd.Series:
        H, out_off = _rolling_shingle_hashes(s, k)
        n = out_off.size
        if n == 0:
            return pd.Series([], dtype=object)
        sig = np.empty((num_perm, n), np.uint64)
        # in-place splitmix64 over two reused buffers: the naive
        # `_splitmix64(H ^ seed)` allocates ~6 |H|-sized temporaries per
        # permutation (~11 GB of allocator traffic for 15M shingles × 16
        # perms) — the loop is memory-bound, so reuse dominates (round 6)
        z = np.empty_like(H)
        t = np.empty_like(H)
        c1, c2, c3 = (np.uint64(0x9E3779B97F4A7C15),
                      np.uint64(0xBF58476D1CE4E5B9),
                      np.uint64(0x94D049BB133111EB))
        s30, s27, s31 = np.uint64(30), np.uint64(27), np.uint64(31)
        for i in range(num_perm):
            np.bitwise_xor(H, seeds[i], out=z)
            np.add(z, c1, out=z)
            np.right_shift(z, s30, out=t)
            np.bitwise_xor(z, t, out=z)
            np.multiply(z, c2, out=z)
            np.right_shift(z, s27, out=t)
            np.bitwise_xor(z, t, out=z)
            np.multiply(z, c3, out=z)
            np.right_shift(z, s31, out=t)
            np.bitwise_xor(z, t, out=z)
            sig[i] = np.minimum.reduceat(z, out_off)
        return pd.Series(list(sig.T.astype(np.int64)))

    return sig_udf


@functools.cache
def _shingle_arr_udf(k: int):
    """Arrow-vectorized per-row shingle SET: text → sorted distinct
    array<bigint> of the row's k-gram rolling hashes — the verify-side doc
    representation of ``_verify_pairs``. Same hash domain as the signature
    UDF (``_rolling_shingle_hashes``), so set Jaccard over these arrays
    equals Jaccard over the character shingles themselves unless two
    distinct shingles of one pair's union collide in 64 bits
    (P ≈ |union|²/2⁶⁵ ≈ 10⁻¹³ for 10⁴-shingle docs; a collision perturbs
    that pair's jaccard by 1/|union|). Identical shingle sets hash
    identically, so exact duplicates stay J = 1.0 bit for bit."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def arr_udf(s: pd.Series) -> pd.Series:
        H, out_off = _rolling_shingle_hashes(s, k)
        n = out_off.size
        if n == 0:
            return pd.Series([], dtype=object)
        Hs = H.astype(np.int64)
        bounds = np.append(out_off, H.size)
        return pd.Series([np.unique(Hs[bounds[r]:bounds[r + 1]])
                          for r in range(n)])

    return arr_udf


def minhash_signatures_fast(docs: DataFrame, num_perm: int = 16,
                            shingle_k: int = 3) -> DataFrame:
    """docs(doc_id, text) → (doc_id, sig array<bigint>[num_perm]) —
    engine-tier signature.

    Fully vectorized per-row plan (``_minhash_sig_udf``): zero explode,
    zero shuffle, zero interpreted expressions. The explode+groupBy
    xxhash64 form this replaces spent 2.1 s of its 2.7 s (sf0.1, 32
    cores) just MATERIALIZING the shingle array — ``transform(sequence,
    substr)`` is an interpreted higher-order function — while the Arrow
    batch form computes the rolling k-gram hashes and all permutation
    minima in numpy at 0.63 s total (4.3×), and emits bigint signatures
    ~5× smaller than md5 hex, which is what 10^12 signatures cost to
    shuffle and store. Estimator unchanged: splitmix64(h ^ seed_i) is a
    uniform family, so min over the shingle set is a MinHash permutation
    and P(sig_a[i]==sig_b[i]) = J(a,b) — property-tested against exact
    Jaccard and the md5 form in tests/test_dedup.py. The md5 variant
    stays as the PORTABLE surface — DuckDB replays it for the
    `minhash_sig` oracle row."""
    udf = _minhash_sig_udf(num_perm, shingle_k)
    # zero-shuffle plan: widen a narrow scan first (no-op at real scale)
    return spread(docs).select("doc_id", udf(F.col("text")).alias("sig"))


def minhash_band_hashes(docs: DataFrame, num_perm: int = 16,
                        bands: int = 4, shingle_k: int = 3,
                        signatures: str = "fast",
                        band_bucket_cap: int = 0) -> DataFrame:
    """docs(doc_id, text) → (doc_id, band_id, band_hash): the LSH probe
    table. Shared by the
    batch self-join (``minhash_lsh_pairs``) and the incremental probe
    (``near_dup_check_incremental``); persist it (parquet, partitioned or
    bucketed by band_hash) to dedup a stream against an existing corpus
    without re-signing the corpus. ``band_bucket_cap`` > 0 drops degenerate
    buckets (see minhash_lsh_pairs); leave 0 when building a reusable
    table and cap at probe time instead."""
    rows_per_band = num_perm // bands
    if signatures == "fast":
        sig = minhash_signatures_fast(docs, num_perm, shingle_k)

        def band_hash(bnd):
            return F.xxhash64(*[F.col("sig")[bnd * rows_per_band + r]
                                for r in range(rows_per_band)])
    else:
        sig = minhash_signatures(docs, num_perm, shingle_k)

        def band_hash(bnd):
            return F.md5(F.concat_ws("|", *[
                F.col("sig")[bnd * rows_per_band + r]
                for r in range(rows_per_band)]))

    banded = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(bnd).alias("band_id"),
                band_hash(bnd).cast("string").alias("band_hash"),
            )
            for bnd in range(bands)
        ])).alias("b"),
    ).select("doc_id", "b.band_id", "b.band_hash")

    return _cap_buckets(banded, band_bucket_cap)


def _cap_buckets(banded: DataFrame, cap: int) -> DataFrame:
    """Drop every (band_id, band_hash) bucket holding more than ``cap``
    rows of a band table; ``cap`` 0 keeps them all. Shared by the batch
    cap (``minhash_band_hashes``) and the probe-time cap
    (``near_dup_check_incremental``).

    The window's exchange is pinned at the session parallelism: the
    banded table is only a few narrow MB at bench scale, so AQE's
    partition coalescing folds the hash exchange to ~1 partition and the
    window sort runs on one core (measured 1.7-2.0 s vs 0.9 s at 200k
    rows / local[32]). An explicit numPartitions repartition is never
    AQE-coalesced, and HashPartitioning(band_id, band_hash) satisfies the
    window's clustered distribution, so this is the window's ONE
    exchange, just at a pinned width. At cluster scale
    defaultParallelism = total cores and banded rows are ~30 bytes, so
    per-task sorts stay small."""
    if not cap:
        return banded
    par = banded.sparkSession.sparkContext.defaultParallelism
    wcap = Window.partitionBy("band_id", "band_hash")
    return (banded.repartition(par, "band_id", "band_hash")
            .withColumn("bucket_n", F.count(F.lit(1)).over(wcap))
            .where(F.col("bucket_n") <= cap)
            .drop("bucket_n"))


def _jaccard(xa: np.ndarray, xb: np.ndarray) -> float:
    """Exact set Jaccard of two sorted-distinct int64 arrays; two empty
    sets are identical (1.0). The one per-pair kernel of both verify
    plans."""
    inter = np.intersect1d(xa, xb, assume_unique=True).size
    denom = xa.size + xb.size - inter
    return inter / denom if denom else 1.0


@functools.cache
def _jaccard_of_arrays():
    """Exact set Jaccard of two sorted-distinct int64 arrays per row
    (``_shingle_arr_udf`` output). numpy sorted-merge intersection —
    ~tens of µs per pair at web-page shingle counts."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def jacc(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [_jaccard(np.asarray(xa, np.int64), np.asarray(xb, np.int64))
             for xa, xb in zip(a, b)], dtype=np.float64)

    return jacc


# Per-worker copy budget of the broadcast verify plan: the candidate-doc
# shingle arrays are collected once and broadcast, and EVERY python worker
# unpickles its own copy, so the budget is per-worker memory, not cluster
# memory (32 local workers × 128 MB = 4 GB worst case here). Read at call
# time by ``_verify_pairs``.
VERIFY_BROADCAST_BUDGET = 128 << 20


def _packed_arrays(arrs: DataFrame):
    """Collect (doc_id, sh_arr) rows flat-packed: (sorted doc ids, offsets,
    one contiguous int64 hash buffer) — doc ``ids[i]``'s array is
    ``buf[offs[i]:offs[i + 1]]``."""
    pdf = arrs.toPandas()
    ids = pdf["doc_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    arr_list = pdf["sh_arr"].to_numpy()[order]
    lens = np.fromiter((len(x) for x in arr_list), np.int64, len(arr_list))
    offs = np.zeros(len(arr_list) + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    buf = (np.concatenate([np.asarray(x, np.int64) for x in arr_list])
           if len(arr_list) else np.empty(0, np.int64))
    return ids[order], offs, buf


def _lut_rows(ids_s: np.ndarray, want: np.ndarray, side: str) -> np.ndarray:
    """Row of each id of ``want`` in the sorted id array ``ids_s``.
    Raises ValueError naming the first id that is not there: searchsorted
    alone returns an insertion point for it, which would read a
    neighbour's shingle slice (a plausible but wrong jaccard) or run off
    the end of the offsets."""
    i = np.searchsorted(ids_s, want)
    hit = i < ids_s.size
    hit[hit] = ids_s[i[hit]] == want[hit]
    if not hit.all():
        raise ValueError(f"verify: {side} id {want[~hit][0]!r} "
                         f"has no shingle array")
    return i


def _verify_pairs_broadcast(cand: DataFrame, arrs_a: DataFrame,
                            arrs_b: DataFrame,
                            jaccard_threshold: float) -> DataFrame:
    """Exact-Jaccard verify, broadcast form: collect the candidate-doc
    shingle arrays ONCE (Arrow), broadcast them, and compute per-pair
    Jaccard map-side over the skinny (doc_a, doc_b) rows with
    ``mapInPandas`` — zero joins, zero array duplication. doc_a reads
    ``arrs_a``, doc_b reads ``arrs_b``; pass one frame twice for a
    self-join and it is collected and shipped once.

    Why it exists: the join form ships each doc's array once per pair
    membership; on a dense near-dup corpus (sf0.1 bench: 230k candidate
    pairs over 4.9k docs, avg degree ~95) that is ~5.5 GB of array
    traffic to verify a 40 MB array set. When the side data fits a
    worker, broadcast it and keep the big side skinny.

    The arrays ship FLAT-PACKED (``_packed_arrays``), not as a doc→array
    dict: unpickling three numpy buffers is a memcpy, while a dict of
    ~10⁴-10⁵ small arrays costs a per-object loop in EVERY freshly-forked
    python worker (PySpark 4 forks per job), and the driver-side pack
    itself is ~0.7 s cheaper at the 37k-doc bench corpus. Per batch, doc
    ids map to slices with two vectorized searchsorted calls, and an id
    with no array raises (``_lut_rows``). The pair rows are also
    coalesced to defaultParallelism first: the mapInPandas boundary has a
    fixed per-task cost that dominated the verify at 128 post-shuffle
    partitions (measured: a pass-through mapInPandas over the same rows
    cost 1.0-1.4 s at 128 partitions vs ~0.5 s at 32 — guide §4's
    "fewer, larger batches" applied to task granularity)."""
    from pyspark.sql import types as T

    pack_a = _packed_arrays(arrs_a)
    pack_b = pack_a if arrs_b is arrs_a else _packed_arrays(arrs_b)
    # pickle memoizes a repeated object, so a self-join ships one pack
    bpack = cand.sparkSession.sparkContext.broadcast((pack_a, pack_b))
    schema = T.StructType(list(cand.schema.fields)
                          + [T.StructField("jaccard", T.DoubleType())])

    def gen(batches):
        (ids_a, offs_a, buf_a), (ids_b, offs_b, buf_b) = bpack.value
        for b in batches:
            m = len(b)
            ia = _lut_rows(ids_a, b["doc_a"].to_numpy(), "doc_a")
            ib = _lut_rows(ids_b, b["doc_b"].to_numpy(), "doc_b")
            sa, ea = offs_a[ia].tolist(), offs_a[ia + 1].tolist()
            sb, eb = offs_b[ib].tolist(), offs_b[ib + 1].tolist()
            j = np.fromiter(
                (_jaccard(buf_a[sa[i]:ea[i]], buf_b[sb[i]:eb[i]])
                 for i in range(m)), np.float64, m)
            out = b.assign(jaccard=j)
            yield out[out["jaccard"] >= jaccard_threshold]

    par = cand.sparkSession.sparkContext.defaultParallelism
    return cand.coalesce(par).mapInPandas(gen, schema=schema)


def _verify_pairs_vectorized(cand: DataFrame, arrs_a: DataFrame,
                             arrs_b: DataFrame,
                             jaccard_threshold: float) -> DataFrame:
    """Exact-Jaccard verify, array-join form: join each candidate doc's
    sorted shingle-hash array onto the pair (two hash joins over |pairs|
    wide rows) and intersect per pair in numpy. The plan for candidate
    docs whose arrays do not fit a worker (``_verify_pairs``).

    Memory shape: one Arrow batch of the jaccard UDF holds up to
    maxRecordsPerBatch pairs × two shingle arrays (~8 bytes/distinct
    shingle) — ~400 MB/batch at 10k rows × 2.5k-shingle web pages, scaling
    linearly with document length. For very-long-document corpora lower
    spark.sql.execution.arrow.maxRecordsPerBatch."""
    j = (cand
         .join(arrs_a.select(F.col("doc_id").alias("doc_a"),
                             F.col("sh_arr").alias("arr_a")), "doc_a")
         .join(arrs_b.select(F.col("doc_id").alias("doc_b"),
                             F.col("sh_arr").alias("arr_b")), "doc_b"))
    return (j.select("doc_a", "doc_b",
                     _jaccard_of_arrays()("arr_a", "arr_b").alias("jaccard"))
            .where(F.col("jaccard") >= jaccard_threshold))


def _verify_pairs(cand: DataFrame, left: DataFrame, right: DataFrame,
                  shingle_k: int, jaccard_threshold: float) -> DataFrame:
    """→ (doc_a, doc_b, jaccard), materialized: the candidate pairs
    ``cand(doc_a, doc_b)`` whose exact set Jaccard of distinct char
    k-shingles is ≥ ``jaccard_threshold``. doc_a's text is read from
    ``left(doc_id, text)``, doc_b's from ``right(doc_id, text)``; pass the
    same frame for both sides of a self-join and its arrays are built
    once. The one verify of ``minhash_lsh_pairs`` and
    ``near_dup_check_incremental``.

    Verify cost is O(candidates), not O(corpus): each side is semi-joined
    to the ids that appear in some candidate pair before its sorted
    shingle-hash arrays (``_shingle_arr_udf``) are built (SCALE.md §8).
    The plan is then picked from the measured array payload (one
    aggregate over the persisted arrays): broadcast
    (``_verify_pairs_broadcast``) when it fits
    ``VERIFY_BROADCAST_BUDGET``, the array join
    (``_verify_pairs_vectorized``) above it. Both compute the same
    numpy intersection; only where the arrays travel differs.

    Lifetime: ``cand`` and the arrays are persisted while they feed the
    id semi-joins, the payload measure and the verify, the result is
    materialized with an eager ``localCheckpoint``, and then both are
    unpersisted, also when the verify raises. The verify runs once per call however many actions
    follow, and no cache-manager entry outlives the call; only the
    result's checkpoint blocks remain, for as long as the result is
    referenced."""
    held = [cand.persist()]

    def arrays(frame, cols):
        ids = cand.select(F.col(cols[0]).alias("doc_id"))
        for c in cols[1:]:
            ids = ids.union(cand.select(F.col(c).alias("doc_id")))
        arrs = (frame.join(ids.distinct(), "doc_id", "left_semi")
                .select("doc_id",
                        _shingle_arr_udf(shingle_k)(F.col("text"))
                        .alias("sh_arr"))
                .persist())
        held.append(arrs)
        return arrs

    try:
        if right is left:
            arrs_a = arrs_b = arrays(left, ("doc_a", "doc_b"))
        else:
            arrs_a = arrays(left, ("doc_a",))
            arrs_b = arrays(right, ("doc_b",))
        payload = 8 * sum(
            a.agg(F.coalesce(F.sum(F.size("sh_arr")), F.lit(0))).first()[0]
            for a in held[1:])
        plan = (_verify_pairs_broadcast if payload <= VERIFY_BROADCAST_BUDGET
                else _verify_pairs_vectorized)
        return plan(cand, arrs_a, arrs_b, jaccard_threshold).localCheckpoint()
    finally:
        for df in held:
            df.unpersist()


def minhash_lsh_pairs(docs: DataFrame, num_perm: int = 16,
                      bands: int = 4, shingle_k: int = 3,
                      jaccard_threshold: float = 0.8,
                      band_bucket_cap: int = 200,
                      signatures: str = "fast") -> DataFrame:
    """docs(doc_id, text) → (doc_a, doc_b, jaccard) near-duplicate pairs,
    materialized.

    Pipeline: signatures → explode into `bands` band-hashes → self-equi-join
    on (band_id, band_hash) with doc_a < doc_b → exact shingle-Jaccard
    verify ≥ threshold (``_verify_pairs``). Candidate generation cost is
    Σ_buckets B², hence the cap on degenerate buckets.

    ``signatures``: 'fast' (default — xxhash64 bigint sigs, the engine
    tier) or 'md5' (portable tier, replayable in the SQL oracle). The
    final pairs are exact-Jaccard verified either way, so the choice only
    moves candidate-recall, which the planted-dup tests pin for both.

    The result is checkpointed before it is returned and the call's
    intermediates (band table, candidates, shingle arrays) are released
    (see ``_verify_pairs``), so later actions — ``dedup_groups``,
    counts, writes — reread the verified pairs
    instead of rerunning signatures, band join and verify."""
    # Candidate generation: banded self-join. A bucket-gather alternative
    # (groupBy collect_list + vectorized intra-bucket pair emission, ONE
    # exchange) was built and A/B'd in round 6 and measured SLOWER at
    # bench scale (3.35 s vs 2.54 s same-session, 50k docs / 1.9M
    # candidates): the banded table is small enough that the self-join
    # broadcasts, so the join form pays no extra exchange, while the
    # gather form pays the collect_list materialization plus an extra
    # Arrow boundary for the pair explode. Kept the join.
    # The self-join reads the band table twice, and Spark does not reuse
    # an exchange across the signature UDF's ArrowEvalPython, so unpersisted
    # it signs every document twice (a 4,000-page pass: 14.7 → 12.9 s of
    # executor time once persisted). It is held for the call only:
    # _verify_pairs returns materialized pairs.
    banded = minhash_band_hashes(docs, num_perm, bands, shingle_k,
                                 signatures,
                                 band_bucket_cap=band_bucket_cap).persist()
    try:
        cand = (
            banded.alias("a").join(banded.alias("b"), ["band_id", "band_hash"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        return _verify_pairs(cand, docs, docs, shingle_k, jaccard_threshold)
    finally:
        banded.unpersist()


def near_dup_check_incremental(new_docs: DataFrame, corpus_docs: DataFrame,
                               band_table: DataFrame | None = None,
                               jaccard_threshold: float = 0.8,
                               probe_bucket_cap: int = 200) -> DataFrame:
    """new_docs(doc_id, text), corpus_docs(doc_id, text) → (doc_id, dup_of,
    jaccard), materialized: for each NEW doc, the existing corpus docs it
    near-duplicates — the reference's per-insert dedup check
    (DeduplicationEngine.check_and_handle, deduplication.py:196-241)
    re-expressed as a batch probe, the shape a streaming ingest needs: run
    it per micro-batch in ``foreachBatch`` and append the surviving docs'
    ``minhash_band_hashes`` rows to the persisted band table.

    Plan: band-hash only the NEW docs (the corpus is never re-signed when
    ``band_table`` is supplied), equi-join the probes against the table on
    (band_id, band_hash), then exact-Jaccard-verify each candidate with
    the same ``_verify_pairs`` as ``minhash_lsh_pairs`` — new docs on the
    left, corpus docs on the right, each side semi-joined down to its
    candidate ids first, so probe cost scales with the batch and its
    collisions, not the corpus. ``probe_bucket_cap`` drops degenerate
    table buckets at probe time (a boilerplate band shared by millions of
    corpus docs would otherwise fan every probe out by that bucket size).

    One band layout: the probes are ``minhash_band_hashes(new_docs)`` with
    its defaults (fast signatures, 16 permutations in 4 bands, 3-char
    shingles), the layout ``dedup_checked_ingest`` writes to its band
    table. A ``band_table`` built with any other layout joins nothing and
    reports no duplicates.

    Feed the output to ``apply_dedup_action`` (rename dup_of → doc_a,
    doc_id → doc_b) for SKIP/MERGE/FLAG policy."""
    if band_table is None:
        band_table = minhash_band_hashes(corpus_docs)
    band_table = _cap_buckets(band_table, probe_bucket_cap)
    probes = minhash_band_hashes(new_docs)
    cand = (probes.select(F.col("doc_id").alias("doc_a"),
                          "band_id", "band_hash")
            .join(band_table.select(F.col("doc_id").alias("doc_b"),
                                    "band_id", "band_hash"),
                  ["band_id", "band_hash"])
            .where(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    return (_verify_pairs(cand, new_docs, corpus_docs, shingle_k=3,
                          jaccard_threshold=jaccard_threshold)
            .select(F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("dup_of"), "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text) → (doc_id, simhash bigint): sign-sum of xxhash64
    token bits weighted by tf. Pure aggregation: explode tokens → per
    (doc, bit) majority vote via SUM over ±tf → assemble 64 bits.
    Shuffle = one groupBy(doc_id).

    Tokens come from the order/duplicate-preserving filter (NOT
    ``tokens_native``, whose array_except dedups) so tf weighting is real:
    'cat cat cat dog' weights the cat-hash bits 3×."""
    toks = docs.select(
        "doc_id",
        F.explode(tokens_native_keep_order(F.col("text"), remove_stopwords=True)
                  ).alias("term"),
    ).groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    h = toks.withColumn("h", F.xxhash64("term"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                   F.col("tf")).otherwise(-F.col("tf"))
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = h.groupBy("doc_id").agg(*bit_sums)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim + F.when(F.col(f"b{i}") > 0,
                           F.lit(1).cast("long") * F.lit(2 ** i if i < 63 else -(2 ** 63))
                           ).otherwise(F.lit(0).cast("long"))
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """docs(doc_id, text) → (doc_a, doc_b, hamming ≤ max_hamming) via
    4×16-bit block LSH: pairs within hamming ≤ 3 of a 64-bit hash must
    agree on ≥1 of 4 blocks (pigeonhole) — join per block, verify with
    bit_count(xor)."""
    sh = simhash64(docs)
    blocks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("block_id"),
                     F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF))
                     .alias("block_val"))
            for i in range(4)
        ])).alias("b"),
    ).select("doc_id", "simhash", "b.block_id", "b.block_val")
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(b, ["block_id", "block_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                        ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# token n-gram Jaccard
# ---------------------------------------------------------------------------

def ngrams_of(toks, n: int = 2):
    """Token n-grams of an already-tokenized array column (degrades to the
    whole token sequence as one gram when the doc has < n tokens — the
    Jaccard semantics). Same bind requirement as ``shingles_of``: pass a
    projected attribute on hot paths, or the tokenizer re-runs per
    position."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def token_ngrams(col, n: int = 2):
    return ngrams_of(tokens_native(col, remove_stopwords=False), n)


def ngram_jaccard_pairs(docs: DataFrame, n: int = 2,
                        threshold: float = 0.5,
                        df_cap: int = 500) -> DataFrame:
    """docs(doc_id, text) → (doc_a, doc_b, jaccard ≥ threshold) over token
    n-gram sets.

    Inverted-style candidate generation: explode distinct n-grams, drop
    boilerplate n-grams with df > df_cap (skew guard), self-join on the
    n-gram, count shared grams per pair, then Jaccard from set sizes —
    |A∩B| computed by the join, no array intersection on wide rows.

    With ``df_cap`` active, Jaccard is computed over the CAPPED gram sets
    (sizes and intersection both exclude boilerplate grams), so numerator
    and denominator are consistent: the score is the exact Jaccard of the
    non-boilerplate grams, not a mixed-denominator underestimate."""
    grams = (docs.select(
        "doc_id",
        tokens_native(F.col("text"), remove_stopwords=False).alias("__toks"))
        .select("doc_id",
                F.explode(F.array_distinct(
                    ngrams_of(F.col("__toks"), n))).alias("g")))
    if df_cap:
        gdf = grams.groupBy("g").agg(F.count(F.lit(1)).alias("gdf"))
        grams = grams.join(F.broadcast(gdf.where(F.col("gdf") > df_cap)),
                           "g", "left_anti")
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(b, "g")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("sz").alias("sz_b")), "doc_b")
        .withColumn("jaccard",
                    F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, v: acc + v.cast("double") * v))


# embedding_near_dup_pairs' LSH: the number of independent plane sets;
# table t's planes are seeded EMB_LSH_SEED + t
EMB_LSH_TABLES = 3
EMB_LSH_SEED = 7


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             n_planes: int = 8,
                             multiprobe_hamming: int = 1) -> DataFrame:
    """emb(vec_id, embedding) → (id_a, id_b, cosine ≥ threshold).

    Bucketed candidate generation: random-hyperplane sign hashes (same
    deterministic plane family as similarity.hyperplane_bucket), verify
    with exact cosine. Semantics model: semantic_cache.py:63-149 — the
    reference itself runs a 10-TABLE LSH with exact cosine ≥ 0.95 verify,
    because a single sign-hash table has a recall cliff: a 0.95-cosine
    pair disagrees on a given plane with p = θ/π ≈ 0.10, so with 8 planes
    it lands in the same bucket only ~43% of the time.

    Two standard recall levers, both on by default:
    - **multiprobe** (hamming-1): each
      vector also probes the n_planes buckets one sign-flip away;
    - **multi-table** (``EMB_LSH_TABLES`` independent plane sets, union
      of candidates): per-table miss rates multiply — with hamming-1 probes
      and 3 tables the miss rate at cosine 0.95 is ~0.2³ ≈ 1%.

    Cost: probe side is EMB_LSH_TABLES·(n_planes+1)× rows, but the join
    stays bucket-equi (key = (table_id, bucket)), candidates dedup before
    the verify, and the verify stays candidate-only. ``n_planes=0`` is the
    exact mode (one bucket — full self-join; small inputs only)."""
    from .similarity import hyperplane_bucket

    vid, v = F.col("vec_id").alias("vid"), F.col("embedding").alias("v")
    if n_planes <= 0:
        sig = emb.select(vid, v, F.lit(0).alias("table_id"),
                         F.lit(0).alias("bucket"))
        probes = sig
    else:
        tables = F.array(*[
            F.struct(
                F.lit(t).alias("table_id"),
                hyperplane_bucket(F.col("embedding"), n_planes,
                                  EMB_LSH_SEED + t).alias("bucket"))
            for t in range(EMB_LSH_TABLES)
        ])
        sig = (emb.select(vid, v, F.explode(tables).alias("tb"))
               .select("vid", "v", "tb.table_id", "tb.bucket"))
        probes = sig
        if multiprobe_hamming >= 1:
            variants = F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
                  for j in range(n_planes)],
            )
            probes = sig.select("vid", "v", "table_id",
                                F.explode(variants).alias("bucket"))
    a, b = probes.alias("a"), sig.alias("b")
    return (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"),
                F.col("a.v").alias("va"), F.col("b.v").alias("vb"))
        .dropDuplicates(["id_a", "id_b"])  # pairs surface via many probes
        .select(
            "id_a", "id_b",
            (_dot(F.col("va"), F.col("vb"))
             / (_norm(F.col("va")) * _norm(F.col("vb")))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# transitive closure: near-dup pairs -> dedup groups
# ---------------------------------------------------------------------------

# connected_components' bound on distributed star rounds; a graph that
# has not converged by then raises
MAX_CC_ROUNDS = 50


def _cc_local(pdf, e: DataFrame) -> DataFrame:
    """Driver-side finish for a driver-sized edge set: label every node
    of the collected edges ``pdf`` with its component's minimum id and
    ship the (node, component) map back. ``e`` supplies the session and
    the edge columns' Spark types (the result schema is built from the
    input's); the limit-probe in connected_components passes the frame it
    already collected as its threshold gate, so no second collect job
    runs.

    Vectorized numpy pass (round-6): factorize nodes with np.unique, then
    min-label propagation with pointer jumping (lab ← min(lab, neighbor
    lab); lab ← lab[lab]) until fixpoint. Labels only decrease and always
    name an index inside the same component, so the fixpoint is
    constant-per-component and equals the component's min index (the
    min-index node can never adopt a larger label). Pointer jumping makes
    chains converge in O(log n) rounds — the 0.9M-edge bench graph
    converges in 3 rounds at ~25 ms/round where a python path-halving
    loop cost ~1.0 s. The same pass serves every id type: np.unique sorts
    an object array of strings in code-point order, which is the order
    Spark's min over UTF-8 strings uses, so the min index names the min
    id.

    The result map is returned as a JVM-literal relation when small
    (localdf) and as an Arrow-backed local relation otherwise — never a
    Python-RDD leaf, which would fork a python worker on EVERY downstream
    action (measured ~0.5 s/action at the 31k-node bench graph)."""
    from pyspark.sql import types as T

    from ..localdf import MAX_LITERAL_ROWS, local_df

    schema = T.StructType([
        T.StructField("node", e.schema[0].dataType, True),
        T.StructField("component", e.schema[1].dataType, True),
    ])
    spark = e.sparkSession

    u = pdf.iloc[:, 0].to_numpy()
    v = pdf.iloc[:, 1].to_numpy()
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    iu, iv = inv[:len(u)], inv[len(u):]
    lab = np.arange(len(nodes))
    while True:
        prev = lab
        lab = lab.copy()
        np.minimum.at(lab, iu, prev[iv])
        np.minimum.at(lab, iv, prev[iu])
        lab = np.minimum(lab, lab[lab])
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, prev):
            break
    out = pd.DataFrame({"node": nodes, "component": nodes[lab]})
    if len(out) <= MAX_LITERAL_ROWS:
        # tolist() converts numpy scalars back to python ints/strs so the
        # local_df rows stay plain types
        return local_df(
            spark,
            list(zip(out["node"].tolist(), out["component"].tolist())),
            schema)
    # Arrow path (engine session): becomes a JVM LocalRelation — no
    # python fork per action. Non-Arrow sessions fall back to the
    # regular conversion inside createDataFrame.
    return spark.createDataFrame(out, schema=schema)


def connected_components(pairs: DataFrame,
                         local_threshold: int = 1_000_000,
                         round_stats: list | None = None) -> DataFrame:
    """pairs(doc_a, doc_b) → (node, component): component = min node id
    reachable in the undirected near-dup pair graph — the exact
    transitive closure that ``apply_dedup_action``'s one-hop canonical
    map approximates.

    Near-dup relations chain (A≈B, B≈C with A,C below threshold), so a
    correct "keep one per duplicate set" policy needs connected
    components, not one-hop grouping. The reference resolves this
    per-insert against an in-memory store (deduplication.py:196-241);
    batch-at-scale it is a graph problem.

    Algorithm: alternating **large-star / small-star** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), chosen over
    naive min-label propagation because it converges in O(log² n) rounds
    (label propagation needs O(graph diameter) — a 1-NN dedup chain can
    be arbitrarily long). Each half-round is expressed as
    groupBy-min + equi-join back to the edge list — **no neighbor list is
    ever collected**, so a Zipf-degree hub (boilerplate cluster of
    millions of docs) spreads across tasks instead of concentrating on
    one; AQE handles residual key skew. Per round: two shuffles; lineage
    is truncated every round with ``localCheckpoint`` (the standard Spark
    iterative-algorithm pattern — GraphX/Pregel does the same).
    Convergence = (count, xxhash64-sum) fixpoint of the canonical edge
    set; on a star graph both stars are no-ops, so consecutive equal
    signatures certify termination.

    Works for numeric or string ids (min/least/greatest are the only id
    operations). Nodes absent from ``pairs`` (singletons) do not appear;
    callers left-join and coalesce to the node's own id.

    ``local_threshold``: when the edges fit in this many rows, the graph
    is finished driver-side (``_cc_local``) instead of distributed
    rounds. Before the first round the gate is one probe that collects
    at most ``local_threshold + 1`` RAW canonical edge rows, duplicate
    rows included, not the distinct edge set: heavily duplicated input
    can take the distributed path although its distinct edges would fit.
    After every round the gate is the distinct live edge count (the star
    rounds only ever shrink distinct edges toward one per non-root
    node). Above the threshold, ``pairs`` is computed twice, once by the
    probe and once by the ``canon.distinct()`` checkpoint, so an input
    that is not materialized runs its whole lineage twice;
    ``minhash_lsh_pairs`` output is checkpointed, so for it both only
    reread its blocks. Each distributed round costs several
    fixed-overhead jobs; below ~10⁶ edges that overhead dwarfs the O(E)
    local pass (warm-measured on a 253-edge graph: 3.0 s of round
    scheduling vs 1.1 s local finish; re-measured round 6 at 0.9M edges:
    a python path-halving loop was 0.8 s where ONE distributed round is
    ~10 s of shuffle jobs). The default (raised 500k → 1M in round 6, in
    line with the "~10⁶" crossover above) bounds the driver at ~16 MB of
    Arrow-collected edges plus a few ≤2M-entry label arrays —
    comfortably inside any practical driver, and far below
    spark.driver.maxResultSize's 1 GB default; pass 0 to force the
    fully-distributed path.

    Termination proof, not just a hash: when consecutive signatures
    match, equality is CONFIRMED with one ``exceptAll(...).isEmpty()``
    job (equal distinct counts + empty difference ⇒ identical edge
    sets), so a hash-sum collision between different edge sets cannot
    terminate the loop early — a collision merely costs one extra round.
    More than ``MAX_CC_ROUNDS`` rounds raise.

    Reliability at cluster scale: ``localCheckpoint`` stores truncated
    lineage in executor-local storage — if an executor dies
    mid-iteration the job fails and must restart (acceptable here: the
    loop is minutes, and the star rounds are deterministic).
    """
    canon = (
        pairs.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
        .where(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")))
    if local_threshold:
        # ONE probe job gates the local finish AND doubles as its input:
        # pull at most local_threshold+1 canonical edges (same driver
        # bound the count gate enforced). The probe runs on the RAW
        # canonical edges — no distinct, no checkpoint (round-6: the
        # distinct exchange + eager localCheckpoint materialization cost
        # ~1.5 s of the bench pipeline and the local finish doesn't need
        # either: np.minimum.at is idempotent over duplicate edges). The
        # gate is therefore on raw edge rows — a caller feeding
        # heavily-duplicated pairs may take the
        # distributed path where distinct rows would have fit locally;
        # that path distincts first and re-checks, so it still finishes
        # local, just without the saved jobs.
        probe = canon.limit(local_threshold + 1).toPandas()
        if len(probe) == 0:
            return canon.limit(0).select(F.col("u").alias("node"),
                                         F.col("v").alias("component"))
        if len(probe) <= local_threshold:
            return _cc_local(probe, canon)
    e = canon.distinct().localCheckpoint()
    n = e.count()
    if n == 0:
        return e.select(F.col("u").alias("node"), F.col("v").alias("component"))

    import time as _time

    prev_sig = None
    for _round in range(MAX_CC_ROUNDS):
        if local_threshold and n <= local_threshold:
            return _cc_local(e.toPandas(), e)
        _t0 = _time.time()
        # large-star: for every node u with m = min(N(u) ∪ {u}), connect
        # each strictly-larger neighbor to m. Output edges are (bigger,
        # smaller) by construction: v > u >= m.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("u", "mn").alias("m")))
        e1 = (sym.join(lmin, "u")
              .where(F.col("v") > F.col("u"))
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .where(F.col("u") != F.col("v"))
              .distinct())
        # small-star: edges arrive oriented u > v; with m = min of u's
        # smaller neighborhood, connect u and each smaller neighbor to m.
        smin = e1.groupBy("u").agg(F.min("v").alias("m"))
        e2 = (e1.join(smin, "u")
              .select(F.col("v").alias("x"), F.col("m").alias("y"))
              .union(smin.select(F.col("u").alias("x"), F.col("m").alias("y")))
              .where(F.col("x") != F.col("y"))
              .select(F.greatest("x", "y").alias("u"),
                      F.least("x", "y").alias("v"))
              .distinct())
        e2 = e2.localCheckpoint()
        row = e2.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        sig = (row["n"], row["h"])
        e_prev, e, n = e, e2, row["n"]
        if round_stats is not None:  # bench instrumentation, no overhead
            round_stats.append({"round": _round, "n_edges": int(n),
                                "wall_s": round(_time.time() - _t0, 3)})
        if sig == prev_sig:
            # signature match is a screen, not the proof: confirm set
            # equality (counts already equal; empty one-sided difference
            # of distinct sets ⇒ identical), so a hash collision can't
            # end the loop on the wrong edge set
            if e2.exceptAll(e_prev).isEmpty():
                break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_CC_ROUNDS} "
            f"rounds")
    # fixpoint of both stars = star graph: every edge is (node, root).
    # Roots only ever appear on the v side — emit them mapped to themselves.
    return (e.select(F.col("u").alias("node"), F.col("v").alias("component"))
            .union(e.select(F.col("v").alias("node"),
                            F.col("v").alias("component")).distinct()))


def dedup_groups(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """docs(doc_id, ...), pairs(doc_a, doc_b) → (doc_id, group_id): every
    doc labeled with the min doc id of its near-dup connected component;
    docs with no near-dup pair get their own id. Keeping
    ``group_id == doc_id`` rows implements transitive SKIP; grouping by
    ``group_id`` gives the duplicate clusters."""
    comp = connected_components(pairs)
    return (docs.select("doc_id")
            .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", F.col("doc_id")).alias("group_id")))

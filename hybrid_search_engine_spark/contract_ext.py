"""Driver-contract queries, part 2: training-data-pipeline operators.

Same conventions as contract.py (identical aliases both sides, rounded
floats, BIGINT casts, '' for NULL text). Every hash function used in an
oracle-checked query is md5/sha256/strpos-arithmetic so DuckDB replays it
bit-for-bit; engine-internal xxhash64 variants (simhash64, LSH buckets) are
covered by unit tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .contract import (FLAGSHIP_QUERY, FLAGSHIP_TERMS, NORM_SQL, STOP_SQL,
                       TOK_SQL, _docs)
from .functions.text import NONWS_CLASS_SQL, WS_CHARS_SQL, WS_CLASS_SQL
from .localdf import local_df
from .functions.analysis import (
    LANG_FUNCTION_WORDS,
    content_fingerprint,
    quality_metrics,
    rolling_prefix_hash,
    token_count_columns,
)
from .operators.dedup import minhash_signatures, ngram_jaccard_pairs
from .operators.similarity import knn_batch_pandas, knn_brute
from .operators.textproc import chunk_documents, highlight
from .sources.registry import load_table

TOK_ALL = "regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+')"


# ---------------------------------------------------------------------------
# MinHash signatures (portable md5 form)
# ---------------------------------------------------------------------------

def q_minhash_sig(spark, sf_dir):
    sig = minhash_signatures(_docs(spark, sf_dir), num_perm=4, shingle_k=3)
    return sig.select("doc_id", *[F.col("sig")[i].alias(f"s{i}")
                                  for i in range(4)])


# num_perm=4 → one salted md5 per shingle position, four 8-hex slices as
# the four permutations (operators/dedup.py::minhash_signatures). range()
# is end-exclusive in DuckDB: 1..greatest(n-2,1) == range(1, greatest(n-1,2)).
SQL_MINHASH_SIG = f"""
WITH pos AS (
  SELECT doc_id, t,
         unnest(range(1, greatest(length(t) - 1, 2))) AS i
  FROM (SELECT doc_id, {NORM_SQL} AS t FROM documents)
), sh AS (
  SELECT doc_id, md5('0:' || substr(t, CAST(i AS INT), 3)) AS h FROM pos
)
SELECT doc_id,
       min(substr(h, 1, 8)) AS s0, min(substr(h, 9, 8)) AS s1,
       min(substr(h, 17, 8)) AS s2, min(substr(h, 25, 8)) AS s3
FROM sh GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# full LSH near-dup pipeline (md5 banding + exact-Jaccard verify)
# ---------------------------------------------------------------------------

def q_lsh_pairs(spark, sf_dir):
    """The COMPLETE minhash_lsh_pairs pipeline — signatures → banded
    self-join → exact verify — oracle-checked end-to-end: md5 signature
    tier (DuckDB-replayable) with the engine's numpy exact verify.
    The oracle replays the banding in SQL and computes the same exact
    char-3-shingle Jaccard via list_intersect, so a hash-domain or
    band-join bug on EITHER stage breaks the row."""
    from .operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(_docs(spark, sf_dir), num_perm=4, bands=2,
                              shingle_k=3, jaccard_threshold=0.5,
                              band_bucket_cap=0, signatures="md5")
    return pairs.select("doc_a", "doc_b",
                        F.round("jaccard", 6).alias("jaccard_r"))


# Banding parity: num_perm=4 / bands=2 → rows_per_band=2, so band 0 =
# md5(s0 || '|' || s1), band 1 = md5(s2 || '|' || s3) (operators/dedup.py::
# minhash_band_hashes, md5 path: F.md5(F.concat_ws("|", ...))). The verify
# counts DISTINCT char-3-shingles of the normalized text exactly — the
# engine does it over 64-bit shingle hashes (collision odds in
# _shingle_arr_udf), the oracle over the strings; values match to the
# rounding.
SQL_LSH_PAIRS = f"""
WITH pos AS (
  SELECT doc_id, t,
         unnest(range(1, greatest(length(t) - 1, 2))) AS i
  FROM (SELECT doc_id, {NORM_SQL} AS t FROM documents)
), sh AS (
  SELECT doc_id, md5('0:' || substr(t, CAST(i AS INT), 3)) AS h FROM pos
), sig AS (
  SELECT doc_id,
         min(substr(h, 1, 8)) AS s0, min(substr(h, 9, 8)) AS s1,
         min(substr(h, 17, 8)) AS s2, min(substr(h, 25, 8)) AS s3
  FROM sh GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band_id, md5(s0 || '|' || s1) AS band_hash FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band_id, md5(s2 || '|' || s3) AS band_hash FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), shl AS (
  SELECT doc_id,
         list_distinct(CASE WHEN length(t) >= 3
              THEN list_transform(range(1, length(t) - 1),
                                  i -> substr(t, CAST(i AS INT), 3))
              ELSE [t] END) AS ss
  FROM (SELECT doc_id, {NORM_SQL} AS t FROM documents)
)
SELECT doc_a, doc_b,
       round(len(list_intersect(a.ss, b.ss))::DOUBLE
             / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))), 6
             ) AS jaccard_r
FROM cand
JOIN shl a ON a.doc_id = cand.doc_a
JOIN shl b ON b.doc_id = cand.doc_b
WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
      / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) >= 0.5
"""


# ---------------------------------------------------------------------------
# token-bigram Jaccard near-dup pairs (exact — no df cap)
# ---------------------------------------------------------------------------

def q_ngram_jaccard(spark, sf_dir):
    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), n=2, threshold=0.3,
                                df_cap=0)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard_r"))


_BIGRAMS_SQL = f"""
CASE WHEN len({TOK_ALL}) >= 2
     THEN list_transform(range(1, len({TOK_ALL})),
                         i -> ({TOK_ALL})[CAST(i AS INT)] || ' ' || ({TOK_ALL})[CAST(i AS INT)+1])
     ELSE [array_to_string({TOK_ALL}, ' ')] END
"""

SQL_NGRAM_JACCARD = f"""
WITH g AS (SELECT doc_id, list_distinct({_BIGRAMS_SQL}) AS gs FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.gs, b.gs))::DOUBLE
             / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 6
             ) AS jaccard_r
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.3
"""


# ---------------------------------------------------------------------------
# SimHash-16 (portable md5-nibble form; engine simhash64 is unit-tested)
# ---------------------------------------------------------------------------

def q_simhash16(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(F.expr(
            "filter(split(lower(coalesce(text,'')), '[^a-z0-9_]+'), x -> x != '')"
        )).alias("term"),
    ).groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    nib = [F.conv(F.substring(F.md5("term"), j + 1, 1), 16, 10).cast("int")
           for j in range(4)]
    bit_sums = [
        F.sum(F.when(F.shiftright(nib[b // 4], 3 - (b % 4)).bitwiseAND(F.lit(1)) == 1,
                     F.col("tf")).otherwise(-F.col("tf"))).alias(f"b{b}")
        for b in range(16)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = F.lit(0)
    for b in range(16):
        sim = sim + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return agg.select("doc_id", sim.cast("int").alias("simhash16"))


_NIB = "strpos('0123456789abcdef', substr(md5(term), {j}, 1)) - 1"
_BITS_SQL = ",\n".join(
    f"sum(CASE WHEN (({_NIB.format(j=b // 4 + 1)}) >> (3 - ({b} % 4))) & 1 = 1 "
    f"THEN tf ELSE -tf END) AS b{b}"
    for b in range(16)
)
_ASSEMBLE = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END"
                       for b in range(16))

SQL_SIMHASH16 = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({TOK_ALL}) AS term FROM documents)
  GROUP BY doc_id, term
), bits AS (SELECT doc_id, {_BITS_SQL} FROM tf GROUP BY doc_id)
SELECT doc_id, CAST({_ASSEMBLE} AS INTEGER) AS simhash16 FROM bits
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _target_vec(spark, sf_dir, vid: int) -> list:
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.where(F.col("vec_id") == vid).select("embedding").first()
    return [float(x) for x in row["embedding"]]


def q_knn_brute(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _target_vec(spark, sf_dir, 7)
    res = knn_brute(emb, qvec, k=10)
    return res.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


_COSINE_CTE = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {vid}),
ex AS (SELECT vec_id, unnest(embedding) AS v,
              generate_subscripts(embedding, 1) AS i FROM embeddings),
qx AS (SELECT unnest(qv) AS qv_i, generate_subscripts(qv, 1) AS i FROM q),
dots AS (
  SELECT vec_id,
         sum(CAST(v AS DOUBLE) * CAST(qv_i AS DOUBLE)) AS dot,
         sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS n2
  FROM ex JOIN qx USING (i) GROUP BY vec_id
),
qn AS (SELECT sum(CAST(qv_i AS DOUBLE) * CAST(qv_i AS DOUBLE)) AS q2 FROM qx)
SELECT vec_id, dot / (sqrt(n2) * sqrt(q2)) AS cosine FROM dots, qn
"""

SQL_KNN_BRUTE = f"""
SELECT vec_id, round(cosine, 6) AS cosine_r FROM ({_COSINE_CTE.format(vid=7)})
ORDER BY round(cosine, 9) DESC, vec_id LIMIT 10
"""


def q_knn_batch(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = {qid: _target_vec(spark, sf_dir, vid)
               for qid, vid in ((0, 3), (1, 7), (2, 11))}
    res = knn_batch_pandas(spark, emb, queries, k=5)
    return res.select("query_id", "rank", "vec_id",
                      F.round("cosine", 6).alias("cosine_r"))


def _knn_one_sql(qid, vid):
    return f"""
SELECT {qid} AS query_id,
       CAST(row_number() OVER (ORDER BY round(cosine,9) DESC, vec_id) AS INTEGER) AS rank,
       vec_id, round(cosine, 6) AS cosine_r
FROM ({_COSINE_CTE.format(vid=vid)})
QUALIFY rank <= 5
"""


SQL_KNN_BATCH = " UNION ALL ".join(
    f"SELECT * FROM ({_knn_one_sql(q, v)})" for q, v in ((0, 3), (1, 7), (2, 11)))


def q_knn_ivf(spark, sf_dir):
    """IVF ANN pipeline end-to-end (train coarse quantizer → assign lists →
    probe → exact re-rank), run at FULL probe width so the result is exactly
    the brute-force top-k and the whole pipeline is checkable against an
    independent engine (reference FAISS sidecar: core.py:244-252). The
    nprobe<n_lists pruned path is probabilistic and unit-tested for recall
    + partition pruning instead (test_operators_misc.py ivf tests)."""
    from .operators.similarity import (
        build_ivf_index, ivf_search, ivf_train_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_lists = 8
    C = ivf_train_centroids(emb, n_lists=n_lists, seed=7)
    idx = build_ivf_index(emb, C)
    qvec = _target_vec(spark, sf_dir, 11)
    res = ivf_search(idx, C, qvec, k=10, nprobe=n_lists)
    return res.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


SQL_KNN_IVF = f"""
SELECT vec_id, round(cosine, 6) AS cosine_r FROM ({_COSINE_CTE.format(vid=11)})
ORDER BY round(cosine, 9) DESC, vec_id LIMIT 10
"""


# Planted near-duplicate embedding vectors, union'ed into the embeddings
# table by BOTH the Spark query and the DuckDB oracle — the testdata
# embeddings contain no pairs ≥ 0.9, which previously left this oracle row
# vacuously green at 0 rows. Integer-valued components are exact in
# float32 storage and in float64 summation in ANY order, so both engines
# compute bit-identical cosines and the >= 0.9 boundary decision cannot
# drift with parallel-sum order. Geometry (non-zero only in dims 0-1):
#   9000001 ≡ 9000002, and 9000003 = 2×9000001  → three cos = 1.0 pairs
#   9000004 = the 3-4-5 rotation                → cos = 0.96 pairs
#   9000005 · 9000006 = 0.9000000250…  → just ABOVE threshold; the
#       round-6 contract value is exactly 0.900000 (the boundary case)
#   9000007 · 9000006 = 0.8999999529…  → just BELOW (must be absent)
EMB_DIM = 64
PLANTED_EMBEDDINGS = [
    (9000001, [3.0, 4.0]),
    (9000002, [3.0, 4.0]),
    (9000003, [6.0, 8.0]),
    (9000004, [4.0, 3.0]),
    (9000005, [2360.0, 1143.0]),
    (9000006, [1.0, 0.0]),
    (9000007, [2073.0, 1004.0]),
]


def _planted_embeddings_padded():
    return [(vid, vec + [0.0] * (EMB_DIM - len(vec)))
            for vid, vec in PLANTED_EMBEDDINGS]


def q_embedding_near_pairs(spark, sf_dir):
    """Exact cosine ≥ 0.9 pairs (brute pair generation — the LSH-bucketed
    variant is probabilistic and unit-tested for recall instead) over the
    embeddings table plus PLANTED_EMBEDDINGS (see above)."""
    from .operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = local_df(
        spark, _planted_embeddings_padded(), "vec_id bigint, embedding array<float>")
    emb = emb.unionByName(planted.select(
        F.col("vec_id").cast(dict(emb.dtypes)["vec_id"]),
        F.col("embedding").cast(dict(emb.dtypes)["embedding"])))
    pairs = embedding_near_dup_pairs(emb, threshold=0.9, n_planes=0)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))


_PLANTED_VALUES = ", ".join(
    "({}, [{}]::FLOAT[])".format(
        vid, ",".join(str(x) for x in vec))
    for vid, vec in _planted_embeddings_padded())

SQL_EMBEDDING_NEAR_PAIRS = f"""
WITH embx AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT * FROM (VALUES {_PLANTED_VALUES}) t(vec_id, embedding)
),
ex AS (SELECT vec_id, unnest(embedding) AS v,
              generate_subscripts(embedding, 1) AS i FROM embx),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
          FROM ex GROUP BY vec_id)
SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine_r
FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
WHERE dot / (na.nrm * nb.nrm) >= 0.9
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_lang_detect(spark, sf_dir):
    from .functions.analysis import detect_language_df

    d = _docs(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("lang_given"), "text")
    return detect_language_df(d).select("doc_id", "lang_given",
                                        "lang_detected")


# unicode-aware token expr for the LANGUAGE tier only (mirrors
# functions/analysis.py LANG_TOKEN_CLASS; \p{L} works in RE2 too)
TOK_LANG = r"regexp_extract_all(lower(coalesce(text,'')), '[\p{L}0-9_]+')"


def _ratio_sql(words, tok_expr: str = TOK_ALL):
    lst = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return (f"CASE WHEN len({tok_expr}) > 0 THEN "
            f"len(list_filter({tok_expr}, t -> list_contains({lst}, t)))::DOUBLE"
            f" / len({tok_expr}) ELSE 0.0 END")


def _sql_lang_detect(src: str = "documents", include_given: bool = True
                     ) -> str:
    """Generated from the SAME dicts as the Spark implementation
    (functions/analysis.py) so the two tiers cannot drift: latin tier =
    earliest language attaining the max hit ratio (> 0.02 floor) over the
    unicode-aware lang tokenizer, script tier = earliest SCRIPT_LANG entry
    attaining the max per-char count, active when non-latin chars outnumber
    latin; han+kana → ja, cyrillic → mk/sr/uk/ru/bg and arabic → ar/fa/ur by
    DISTINCTIVE_CHARS counts (same rule order as the Column form).

    ``src``: FROM-clause source (a table name or CTE) with
    (doc_id, text[, lang]) columns."""
    from .functions.analysis import (
        DISTINCTIVE_CHARS,
        DISTINCTIVE_SEQS,
        LANG_SCRIPT_RANGES,
        SCRIPT_LANG,
    )

    score_cols = ",\n         ".join(
        f"{_ratio_sql(ws, TOK_LANG)} AS s_{lang}"
        for lang, ws in LANG_FUNCTION_WORDS.items())
    count_cols = ",\n         ".join(
        f"len(regexp_extract_all(coalesce(text,''), '{pat}')) AS c_{name}"
        for name, pat in LANG_SCRIPT_RANGES.items())
    dist_cols = ",\n         ".join(
        f"len(regexp_extract_all(coalesce(text,''), '{pat}')) AS d_{code}"
        for code, pat in DISTINCTIVE_CHARS.items())
    seq_cols = ",\n         ".join(
        f"len(regexp_extract_all(coalesce(text,''), '{pat}')) AS q_{code}"
        for code, pat in DISTINCTIVE_SEQS.items())
    mx = "greatest(" + ", ".join(f"s_{l}" for l in LANG_FUNCTION_WORDS) + ")"
    nmx = "greatest(" + ", ".join(f"c_{s}" for s in SCRIPT_LANG) + ")"
    latin_case = ("CASE WHEN mx <= 0.02 THEN 'und' "
                  + " ".join(f"WHEN s_{l} = mx THEN '{l}'"
                             for l in LANG_FUNCTION_WORDS) + " END")
    script_case = ("CASE " + " ".join(f"WHEN c_{s} = nmx THEN '{c}'"
                                      for s, c in SCRIPT_LANG.items())
                   + " END")
    cyr_case = ("CASE WHEN d_mk > 0 THEN 'mk' "
                "WHEN d_sr > 0 THEN 'sr' "
                "WHEN d_uk > 0 AND d_uk >= d_ru THEN 'uk' "
                "WHEN d_ru > 0 THEN 'ru' "
                "WHEN d_bg > 0 THEN 'bg' ELSE 'ru' END")
    ar_case = ("CASE WHEN d_ur > 0 THEN 'ur' "
               "WHEN d_fa > 0 THEN 'fa' ELSE 'ar' END")
    zh_case = "CASE WHEN d_zht > d_zhs THEN 'zh-tw' ELSE 'zh-cn' END"
    dev_case = ("CASE WHEN q_ne > 0 THEN 'ne' "
                "WHEN q_mr > 0 THEN 'mr' ELSE 'hi' END")
    given = "lang AS lang_given," if include_given else ""
    given_out = "lang_given," if include_given else ""
    return f"""
r AS (
  SELECT doc_id, {given}
         {score_cols},
         {count_cols},
         {dist_cols},
         {seq_cols}
  FROM {src}
),
m AS (
  SELECT *, {mx} AS mx, {nmx} AS nmx FROM r
),
p AS (
  SELECT *, {latin_case} AS latin_pick, {script_case} AS script_pick0 FROM m
)
SELECT doc_id, {given_out}
       CASE WHEN nmx > c_latin THEN
         CASE WHEN script_pick0 = 'zh' AND c_kana > 0 THEN 'ja'
              WHEN script_pick0 = 'zh' THEN {zh_case}
              WHEN script_pick0 = 'ru' THEN {cyr_case}
              WHEN script_pick0 = 'ar' THEN {ar_case}
              WHEN script_pick0 = 'hi' THEN {dev_case}
              ELSE script_pick0 END
       ELSE latin_pick END AS lang_detected
FROM p
"""


SQL_LANG_DETECT = "WITH " + _sql_lang_detect()


# One fixed phrase per supported language (64) — the multilingual surface
# of detect_language (all tiers: latin argmax, script argmax, cyrillic and
# arabic distinctive-char sub-tiers), synthesized deterministically per
# doc_id so the contract needs no external data. Keep SQL-literal-safe
# (no '). Each phrase deliberately carries its language's distinctive
# function words / characters (da hvad/af vs no hva/av, ru ы/ё vs uk і/ї,
# ur retroflexes vs fa پ/ژ …).
LANG_PHRASES = [
    ("en", "the quick brown fox jumps over the lazy dog and runs away with it"),
    ("de", "der hund und die katze sind nicht mit dem mann im haus aber auch"),
    ("fr", "le chien et le chat ne sont pas avec il dans la maison pour nous"),
    ("es", "el perro y el gato no son con los que se van en la casa"),
    ("it", "il cane è non sono una bestia ma anche questo gatto che corre"),
    ("pt", "o cachorro não é um gato mas você também já viu isso em casa"),
    ("nl", "de hond en de kat zijn niet met het kind bij dit huis"),
    ("tr", "köpek ve kedi evde adam ile birlikte değil ama bir şey var"),
    ("pl", "pies i kot nie są w domu z człowiekiem ale to jest bardzo"),
    ("sv", "hunden och katten är inte i huset med mannen men jag har också"),
    ("da", "hunden og katten er ikke i huset med manden men hvad har havde af"),
    ("no", "hunden og katten er ikke i huset med mannen men hva har hadde av mye"),
    ("fi", "koira ja kissa eivät ole talossa miehen kanssa mutta se on myös"),
    ("cs", "pes a kočka nejsou v domě s mužem ale to je také jsou"),
    ("sk", "pes a mačka nie sú v dome s mužom ale to je tiež veľmi"),
    ("ro", "câinele și pisica nu sunt în casă cu omul dar este foarte"),
    ("hu", "a kutya és a macska nincs a házban az emberrel de ez nagyon van volt"),
    ("id", "anjing dan kucing tidak ada di rumah dengan orang itu tetapi juga yang"),
    ("vi", "con chó và con mèo không có ở trong nhà với người đàn ông của là"),
    ("ca", "el gos i el gat no són a la casa amb el que és molt també pel"),
    ("hr", "pas i mačka nisu u kući s čovjekom ali je vrlo također su"),
    ("et", "koer ja kass ei ole majas koos mehega aga see on ning kas siis oma"),
    ("lt", "šuo ir katė nėra name su vyru bet tai yra kad labai taip"),
    ("lv", "suns un kaķis nav mājā ar vīrieti bet tas ir ļoti arī kad"),
    ("sl", "pes in mačka nista v hiši z moškim ampak to je tudi zelo da so"),
    ("sq", "qeni dhe macja nuk janë në shtëpi me burrin por kjo është shumë"),
    ("tl", "ang aso at pusa ay hindi nasa bahay kasama ang lalaki pero ito ay may"),
    ("sw", "mbwa na paka hawako ndani ya nyumba na mtu lakini hii ni sana kwa"),
    ("af", "die hond en die kat is nie by die huis met die man nie maar dit is baie vir ons"),
    ("so", "eyga iyo bisadda kuma jiraan guriga ninka la waa oo waxa ay badan"),
    ("cy", "nid yw y ci ac y gath yn y ty gyda y dyn ond mae hefyd yn iawn"),
    ("uz", "it va mushuk uyda odam bilan emas lekin bu juda ham yaxshi edi uchun"),
    ("ru", "собака и кошка не в доме с мужчиной это её быт был"),
    ("uk", "собака і кішка не в будинку з чоловіком її це є"),
    ("bg", "кучето и котката не са в къщата с мъжа това е много"),
    ("sr", "пас и мачка нису у кући са човеком јер је то веома"),
    ("mk", "кучето и мачката не се во куќата со човекот и ќе биде ѓавол"),
    ("zh-cn", "这只狗和猫不在房子里它们说对时间"),
    ("zh-tw", "這隻狗和貓不在房子裡它們說對時間"),
    ("ja", "犬と猫は家の中で人と一緒にいません"),
    ("ko", "개와 고양이는 집에서 사람과 함께 있지 않습니다"),
    ("ar", "الكلب والقط ليسا في المنزل مع الرجل"),
    ("fa", "سگ و گربه با مرد در خانه نیستند چون پژوهش گچ"),
    ("ur", "کتا اور بلی گھر میں آدمی کے ساتھ نہیں ہیں ٹھیک"),
    ("hi", "कुत्ता और बिल्ली घर में आदमी के साथ नहीं हैं"),
    ("mr", "कुत्रा आणि मांजर घरात माणसासोबत नाहीत पण ते तेथे आहेत आणि मध्ये आहे"),
    ("ne", "कुकुर र बिरालो घरमा मानिससँग छैनन् तर तिनीहरू त्यहाँ छन् र भएको हो"),
    ("bn", "কুকুর এবং বিড়াল ঘরে মানুষের সাথে নেই"),
    ("ta", "நாயும் பூனையும் வீட்டில் மனிதனுடன் இல்லை"),
    ("te", "కుక్క మరియు పిల్లి ఇంట్లో మనిషితో లేవు"),
    ("kn", "ನಾಯಿ ಮತ್ತು ಬೆಕ್ಕು ಮನೆಯಲ್ಲಿ ಮನುಷ್ಯನೊಂದಿಗೆ ಇಲ್ಲ"),
    ("ml", "നായയും പൂച്ചയും വീട്ടിൽ മനുഷ്യനോടൊപ്പം ഇല്ല"),
    ("gu", "કૂતરો અને બિલાડી ઘરમાં માણસ સાથે નથી"),
    ("pa", "ਕੁੱਤਾ ਅਤੇ ਬਿੱਲੀ ਘਰ ਵਿੱਚ ਆਦਮੀ ਨਾਲ ਨਹੀਂ ਹਨ"),
    ("el", "ο σκύλος και η γάτα δεν είναι στο σπίτι με τον άνθρωπο"),
    ("he", "הכלב והחתול אינם בבית עם האיש"),
    ("th", "สุนัขและแมวไม่ได้อยู่ในบ้านกับผู้ชาย"),
    ("my", "ခွေးနှင့်ကြောင်သည် လူနှင့်အတူ အိမ်တွင်မရှိပါ"),
    ("km", "ឆ្កែ និង ឆ្មា មិននៅក្នុងផ្ទះជាមួយបុរសទេ"),
    ("lo", "ຫມາແລະແມວບໍ່ຢູ່ໃນເຮືອນກັບຜູ້ຊາຍ"),
    ("si", "බල්ලා සහ පූසා මිනිසා සමඟ ගෙදර නැත"),
    ("ka", "ძაღლი და კატა სახლში კაცთან ერთად არ არიან"),
    ("hy", "շունը և կատուն տանը մարդու հետ չեն"),
    ("am", "ውሻ እና ድመት ከሰው ጋር በቤት ውስጥ አይደሉም"),
]


def q_lang_detect_wide(spark, sf_dir):
    """U6 wide surface: detect over all 64 supported languages (incl. the
    zh-cn/zh-tw and hi/mr/ne sub-tier splits). Text is
    synthesized per doc_id from LANG_PHRASES (doc_id % len) with a doc_id
    suffix so the latin tier still sees realistic token mixes; the oracle
    recomputes detection independently in DuckDB from the same literals."""
    d = _docs(spark, sf_dir)
    n = len(LANG_PHRASES)
    phrase = F.element_at(F.array(*[F.lit(p) for _, p in LANG_PHRASES]),
                          (F.pmod(F.col("doc_id"), F.lit(n)) + 1).cast("int"))
    synth = d.select("doc_id",
                     F.concat(phrase, F.lit(" case "),
                              F.col("doc_id").cast("string")).alias("text"))
    from .functions.analysis import detect_language_df

    return detect_language_df(synth).select("doc_id", "lang_detected")


def _sql_lang_detect_wide():
    case = (f"CASE CAST(doc_id % {len(LANG_PHRASES)} AS INT) "
            + " ".join(f"WHEN {i} THEN '{p}'"
                       for i, (_, p) in enumerate(LANG_PHRASES))
            + " END")
    synth = (f"synth AS (SELECT doc_id, {case} || ' case ' || "
             f"CAST(doc_id AS VARCHAR) AS text FROM documents)")
    return ("WITH " + synth + ",\n"
            + _sql_lang_detect(src="synth", include_given=False))


def q_quality(spark, sf_dir):
    return quality_metrics(_docs(spark, sf_dir), keep=("doc_id",))


_STOPLIST = "[" + ",".join(f"'{w}'" for w in LANG_FUNCTION_WORDS["en"]) + "]"

SQL_QUALITY = f"""
WITH b AS (
  SELECT doc_id, coalesce(text,'') AS t, {TOK_ALL} AS tk FROM documents
), m AS (
  SELECT doc_id, t, tk,
    CAST(length(t) AS INTEGER) AS n_chars, CAST(len(tk) AS INTEGER) AS n_tokens,
    CASE WHEN len(tk) > 0 THEN
      list_aggregate(list_transform(tk, x -> length(x)), 'sum')::DOUBLE / len(tk)
    ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(tk) > 0 THEN
      len(list_filter(tk, x -> list_contains({_STOPLIST}, x)))::DOUBLE / len(tk)
    ELSE 0.0 END AS stopword_ratio,
    CASE WHEN len(tk) > 0 THEN
      len(list_distinct(tk))::DOUBLE / len(tk) ELSE 0.0 END AS unique_ratio,
    CASE WHEN length(t) > 0 THEN
      1.0 - length(regexp_replace(t, '[^A-Za-z0-9]', '', 'g'))::DOUBLE / length(t)
    ELSE 1.0 END AS non_alnum_ratio,
    CASE WHEN length(t) > 0 THEN
      length(regexp_replace(t, '[^0-9]', '', 'g'))::DOUBLE / length(t)
    ELSE 0.0 END AS digit_ratio
  FROM b
)
SELECT doc_id, n_chars, n_tokens,
       round(mean_word_len, 6) AS mean_word_len,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(unique_ratio, 6) AS unique_ratio,
       round(non_alnum_ratio, 6) AS non_alnum_ratio,
       round(digit_ratio, 6) AS digit_ratio,
       (n_tokens >= 10 AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
        AND stopword_ratio >= 0.03 AND unique_ratio >= 0.2
        AND non_alnum_ratio <= 0.6 AND digit_ratio <= 0.3) AS is_quality
FROM m
"""


def q_token_counts(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", *token_count_columns("text"))


# ws_word_count = len(text.split()) — runs of unicode non-whitespace
# (Python str.split semantics; RE2 \s is ASCII-only, hence the explicit
# class from functions/text.py)
SQL_TOKEN_COUNTS = rf"""
SELECT doc_id,
  CAST(len(regexp_extract_all(coalesce(text,''), '{NONWS_CLASS_SQL}+'))
       AS INTEGER) AS ws_word_count,
  CAST(len({TOK_ALL}) AS INTEGER) AS regex_token_count,
  greatest(
    CAST(len(regexp_extract_all(coalesce(text,''), '{NONWS_CLASS_SQL}+'))
         AS BIGINT),
    CAST(ceil(length(coalesce(text,'')) / 4.0) AS BIGINT)) AS subword_estimate
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        content_fingerprint("text").alias("content_fp"),
        rolling_prefix_hash("text").alias("prefix_fp"),
    )


SQL_FINGERPRINT = f"""
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct({TOK_ALL})), ' ')) AS content_fp,
  md5(substr(coalesce(text,''), 1, 256)) AS prefix_fp
FROM documents
"""


# ---------------------------------------------------------------------------
# chunking + highlighting
# ---------------------------------------------------------------------------

def q_chunk_sentences(spark, sf_dir):
    return chunk_documents(_docs(spark, sf_dir), mode="sentence")


SQL_CHUNK_SENTENCES = rf"""
WITH l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(
           regexp_replace(coalesce(text,''), '([.!?]){WS_CLASS_SQL}+',
                          '\1' || chr(1), 'g'),
           chr(1)),
           x -> trim(x, {WS_CHARS_SQL})),
           x -> x <> '') AS parts
  FROM documents
)
SELECT doc_id,
       CAST(generate_subscripts(parts, 1) - 1 AS INTEGER) AS chunk_id,
       unnest(parts) AS chunk_text
FROM l
"""


def q_chunk_fixed(spark, sf_dir):
    return chunk_documents(_docs(spark, sf_dir), mode="fixed",
                           chunk_tokens=8, overlap=3)


SQL_CHUNK_FIXED = f"""
WITH b AS (SELECT doc_id, {TOK_ALL} AS tk FROM documents),
s AS (
  SELECT doc_id, tk, unnest(range(0, greatest(len(tk), 1), 5)) AS start
  FROM b
)
SELECT doc_id,
       CAST(start // 5 AS INTEGER) AS chunk_id,
       array_to_string(tk[CAST(start AS INT) + 1 : CAST(start AS INT) + 8], ' ') AS chunk_text
FROM s WHERE start < len(tk)
"""


def q_highlight(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id",
                    highlight("text", FLAGSHIP_TERMS).alias("highlighted"))


_HL_PAT = "(?i)\\b(" + "|".join(FLAGSHIP_TERMS) + ")\\b"

SQL_HIGHLIGHT = f"""
SELECT doc_id,
       regexp_replace(coalesce(text,''), '{_HL_PAT}', '<mark>\\1</mark>', 'g'
                      ) AS highlighted
FROM documents
"""


# ---------------------------------------------------------------------------
# metadata filter compiler
# ---------------------------------------------------------------------------

def q_metadata_filter(spark, sf_dir):
    from .operators.metadata_filter import apply_filter

    e = load_table(spark, sf_dir, "events")
    out = apply_filter(e, "k:>50 AND event_type:click", metadata_col="props")
    return out.select("event_id", "user_id", "event_type")


SQL_METADATA_FILTER = """
SELECT event_id, user_id, event_type FROM events
WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50
  AND event_type = 'click'
"""


# ---------------------------------------------------------------------------
# sessionization (gap-based, 30 min)
# ---------------------------------------------------------------------------

def q_sessionize(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)))
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )


SQL_SESSIONIZE = """
WITH m AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
  FROM m
)
SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM s GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# hybrid fusion (semantic cosine + lexical BM25, min-max fused)
# ---------------------------------------------------------------------------

def q_fuse_hybrid(spark, sf_dir):
    from .contract import K1, B, _doc_statistics
    from .operators import score as score_ops
    from .operators.fusion import fuse_hybrid

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _target_vec(spark, sf_dir, 7)
    from .operators.similarity import _dot_lit, _norm

    import numpy as np

    qn = float(np.sqrt(np.dot(qvec, qvec))) or 1.0
    sem = emb.select(
        F.lit(0).alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        (_dot_lit(F.col("embedding"), qvec)
         / (_norm(F.col("embedding")) * F.lit(qn))).alias("sem_score"),
    )
    tf, tstats, scalars = _doc_statistics(spark, sf_dir)
    qt = score_ops.query_terms_df(spark, FLAGSHIP_QUERY)
    lex = score_ops.score_query_terms(qt, tf, tstats, scalars.avg_doc_len,
                                      K1, B)
    lex = lex.select("query_id", "doc_id", F.col("score").alias("lex_score"))
    # dense parity mode: n_docs = corpus size, so the sparse lex side's
    # min is clamped to 0 exactly as the reference's dense score vectors
    # (core.py:264-268 + utils.py:57-71) would have it
    fused = fuse_hybrid(sem, lex, 0.7, 0.3, k=20, n_docs=scalars.doc_count)
    return fused.select("doc_id", "rank",
                        F.round("hybrid_score", 6).alias("hybrid_r"))


def _sql_fuse_hybrid():
    return f"""
WITH sem_raw AS ({_COSINE_CTE.format(vid=7)}),
lex_full AS (
  WITH tf AS (
    SELECT doc_id, term, count(*)::DOUBLE AS tf
    FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
    GROUP BY doc_id, term
  ),
  dl AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id),
  n AS (SELECT count(*)::DOUBLE AS n FROM documents),
  avgdl AS (SELECT sum(len({TOK_SQL}))::DOUBLE / (SELECT n FROM n) AS avgdl
            FROM documents),
  ts AS (SELECT term, ln(((SELECT n FROM n) - count(*) + 0.5)
                         / (count(*) + 0.5) + 1.0) AS idf
         FROM tf GROUP BY term)
  SELECT tf.doc_id,
         sum(ts.idf * tf.tf * (1.5 + 1.0)
             / (tf.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.doc_len
                               / (SELECT avgdl FROM avgdl)))) AS lex_score
  FROM tf JOIN ts USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({",".join(f"'{t}'" for t in FLAGSHIP_TERMS)})
  GROUP BY tf.doc_id
),
nd AS (SELECT count(*) AS n FROM documents),
-- dense-parity bounds: a side covering fewer than n docs has 0.0 scores
-- for the absent docs, so 0 joins that side's min/max (reference
-- core.py:264-268 dense vectors + utils.py:57-71 min-max)
sem_st AS (
  SELECT CASE WHEN count(*) < (SELECT n FROM nd)
              THEN least(min(cosine), 0.0) ELSE min(cosine) END AS mn,
         CASE WHEN count(*) < (SELECT n FROM nd)
              THEN greatest(max(cosine), 0.0) ELSE max(cosine) END AS mx
  FROM sem_raw
),
lex_st AS (
  SELECT CASE WHEN count(*) < (SELECT n FROM nd)
              THEN least(min(lex_score), 0.0) ELSE min(lex_score) END AS mn,
         CASE WHEN count(*) < (SELECT n FROM nd)
              THEN greatest(max(lex_score), 0.0) ELSE max(lex_score) END AS mx
  FROM lex_full
),
sem_n AS (
  SELECT vec_id AS doc_id,
         CASE WHEN (SELECT mx FROM sem_st) = (SELECT mn FROM sem_st) THEN 1.0
              ELSE (cosine - (SELECT mn FROM sem_st))
                   / ((SELECT mx FROM sem_st) - (SELECT mn FROM sem_st)) END AS sem_n
  FROM sem_raw
),
lex_n AS (
  SELECT doc_id,
         CASE WHEN (SELECT mx FROM lex_st) = (SELECT mn FROM lex_st) THEN 1.0
              ELSE (lex_score - (SELECT mn FROM lex_st))
                   / ((SELECT mx FROM lex_st) - (SELECT mn FROM lex_st)) END AS lex_n
  FROM lex_full
),
fused AS (
  SELECT coalesce(s.doc_id, l.doc_id) AS doc_id,
         0.7 * coalesce(s.sem_n,
               CASE WHEN (SELECT mx FROM sem_st) = (SELECT mn FROM sem_st) THEN 1.0
                    ELSE (0.0 - (SELECT mn FROM sem_st))
                         / ((SELECT mx FROM sem_st) - (SELECT mn FROM sem_st)) END)
       + 0.3 * coalesce(l.lex_n,
               CASE WHEN (SELECT mx FROM lex_st) = (SELECT mn FROM lex_st) THEN 1.0
                    ELSE (0.0 - (SELECT mn FROM lex_st))
                         / ((SELECT mx FROM lex_st) - (SELECT mn FROM lex_st)) END)
           AS hybrid_score
  FROM sem_n s FULL OUTER JOIN lex_n l ON s.doc_id = l.doc_id
)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY round(hybrid_score, 9) DESC, doc_id)
            AS INTEGER) AS rank,
       round(hybrid_score, 6) AS hybrid_r
FROM fused
QUALIFY rank <= 20
"""


# ---------------------------------------------------------------------------
# IR evaluation metrics (flagship ranking vs 'spark'-containing truth set)
# ---------------------------------------------------------------------------

def q_evaluate(spark, sf_dir):
    from .contract import q_bm25_topk
    from .operators.fusion import evaluate_rankings

    d = _docs(spark, sf_dir)
    res = q_bm25_topk(spark, sf_dir).withColumn("query_id", F.lit(0))
    res = res.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("query_id").orderBy(
            F.col("score_r").desc(), F.col("doc_id").asc())))
    truth = d.where(
        F.array_contains(F.expr(
            "filter(split(lower(coalesce(text,'')), '[^a-z0-9_]+'), x -> x != '')"
        ), "spark")).select(F.lit(0).alias("query_id"), "doc_id")
    per_q = evaluate_rankings(res.select("query_id", "rank", "doc_id"),
                              truth, k=10)
    return per_q.select(
        "query_id",
        F.round("precision_at_k", 6).alias("precision_r"),
        F.round("recall_at_k", 6).alias("recall_r"),
        F.round("f1", 6).alias("f1_r"),
        F.round("mrr", 6).alias("mrr_r"),
        F.round("ndcg_at_k", 6).alias("ndcg_r"),
    )


def _sql_evaluate():
    from .contract import _bm25_sql

    return f"""
WITH results AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY round(score_r, 9) DESC, doc_id)
              AS INTEGER) AS rank
  FROM ({_bm25_sql(FLAGSHIP_TERMS, k=10)})
),
truth AS (
  SELECT doc_id FROM documents
  WHERE list_contains({TOK_ALL}, 'spark')
),
hit AS (
  SELECT r.rank, CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM results r LEFT JOIN truth t USING (doc_id)
),
agg AS (
  SELECT sum(rel) AS n_hits,
         count(*) AS n_returned,
         min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
         sum(CASE WHEN rel = 1 THEN 1.0 / log2(rank + 1) ELSE 0.0 END) AS dcg,
         (SELECT count(*) FROM truth) AS n_relevant
  FROM hit
)
-- precision divides by rows retrieved (evaluation.py:82-88), not by k
SELECT 0 AS query_id,
  round(n_hits::DOUBLE / n_returned, 6) AS precision_r,
  round(CASE WHEN n_relevant > 0 THEN n_hits::DOUBLE / n_relevant ELSE 0.0 END, 6) AS recall_r,
  round(CASE WHEN n_hits::DOUBLE / n_returned + CASE WHEN n_relevant > 0 THEN n_hits::DOUBLE / n_relevant ELSE 0.0 END > 0
        THEN 2 * (n_hits::DOUBLE / n_returned) * (CASE WHEN n_relevant > 0 THEN n_hits::DOUBLE / n_relevant ELSE 0.0 END)
             / (n_hits::DOUBLE / n_returned + CASE WHEN n_relevant > 0 THEN n_hits::DOUBLE / n_relevant ELSE 0.0 END)
        ELSE 0.0 END, 6) AS f1_r,
  round(CASE WHEN first_rel IS NOT NULL THEN 1.0 / first_rel ELSE 0.0 END, 6) AS mrr_r,
  round(CASE WHEN n_relevant > 0 THEN
    dcg / list_aggregate(list_transform(range(1, least(n_relevant, 10) + 1),
                                        i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0)), 'sum')
  ELSE 0.0 END, 6) AS ndcg_r
FROM agg
"""


# ---------------------------------------------------------------------------
# WAND path over the posting index (SQL-verified against the same oracle)
# ---------------------------------------------------------------------------

def q_bm25_topk_wand(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from .build.manifest import IndexReader, build_index

    d = _docs(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    idx_dir = os.path.join(tempfile.gettempdir(), f"hse_contract_idx_{tag}")
    build_index(spark, d, idx_dir, n_shards=8)  # resumes/no-ops if built
    reader = IndexReader(spark, idx_dir)
    res = reader.search(FLAGSHIP_QUERY, k=10)
    return res.select("doc_id", F.round("score", 6).alias("score_r"))


# ---------------------------------------------------------------------------
# streaming: availableNow windowed counts (same oracle as batch windows)
# ---------------------------------------------------------------------------

def q_stream_event_windows(spark, sf_dir):
    import os

    from .streaming.ingest import as_stream_dir

    events_schema = ("event_id bigint, ts timestamp, user_id bigint, "
                     "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(events_schema)
        .parquet(as_stream_dir(os.path.join(sf_dir, "events.parquet")))
    )
    from .contract import utc_hour_str

    agg = (
        stream.groupBy(
            utc_hour_str(F.col("ts")).alias("hour"),  # TZ-free (see contract.utc_hour_str)
            "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )
    name = "hse_stream_windows"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# multimodal plumbing (oracle-checked: fake features are sha256-nibble
# arithmetic, replayable in DuckDB — multimodal._fake_feature)
# ---------------------------------------------------------------------------

def q_multimodal_features(spark, sf_dir):
    from .operators.multimodal import extract_features

    d = _docs(spark, sf_dir)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.lit(64).alias("width"), F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    feats = extract_features(media, deterministic_fake=True)
    return feats.select(
        "media_id", "decode_ok", F.size("feature").alias("feature_dim"),
        F.round(F.col("feature")[0].cast("double"), 6).alias("f0_r"),
        F.round(F.col("feature")[31].cast("double"), 6).alias("f31_r"),
        F.round(F.col("feature")[63].cast("double"), 6).alias("f63_r"),
    )


def _sql_multimodal():
    def nib(j):  # j: 1-based nibble of sha256 hex
        return (f"(strpos('0123456789abcdef', "
                f"substr(sha256(coalesce(text,'')), {j}, 1)) - 1)")

    return f"""
SELECT doc_id AS media_id, TRUE AS decode_ok, CAST(64 AS INT) AS feature_dim,
       round({nib(1)} / 16.0 - 0.5, 6) AS f0_r,
       round({nib(32)} / 16.0 - 0.5, 6) AS f31_r,
       round({nib(64)} / 16.0 - 0.5, 6) AS f63_r
FROM documents
"""


# ---------------------------------------------------------------------------
# query/feedback logging write path (reference core.py:26-58,279-282):
# log 100 synthetic searches in two appended batches + their judgments,
# read the tables back, verify stats / learned weights / hashed ids
# ---------------------------------------------------------------------------

def q_query_log(spark, sf_dir):
    import hashlib
    import os
    import shutil
    import tempfile

    from .operators.fusion import learned_weights, query_stats
    from .sources.feedback_log import (
        log_feedback,
        log_queries,
        md5_id60,
        read_feedback,
        read_query_history,
    )

    d = _docs(spark, sf_dir)
    toks = F.expr(
        "filter(split(lower(coalesce(text,'')), '[^a-z0-9_]+'), x -> x != '')")
    src = (
        d.select(
            "doc_id",
            F.array_join(F.slice(toks, 1, 3), " ").alias("query_text"),
            ((F.lit(5) + F.pmod(F.col("doc_id"), F.lit(5))) / 10.0
             ).alias("semantic_weight"),
            ((F.lit(5) - F.pmod(F.col("doc_id"), F.lit(5))) / 10.0
             ).alias("lexical_weight"),
        )
        .orderBy("doc_id").limit(100)
        .withColumn("rn", F.row_number().over(Window.orderBy("doc_id")))
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    log_dir = os.path.join(tempfile.gettempdir(), f"hse_contract_log_{tag}")
    shutil.rmtree(log_dir, ignore_errors=True)  # idempotent per invocation

    ent = src.select("query_text", "semantic_weight", "lexical_weight",
                     F.col("doc_id").alias("seq"), "rn")
    log_queries(ent.where(F.col("rn") <= 50).drop("rn"), log_dir)
    log_queries(ent.where(F.col("rn") > 50).drop("rn"), log_dir)  # append path
    fb_ent = src.select(
        md5_id60(F.concat_ws(":", "query_text", "doc_id")).alias("query_id"),
        F.pmod(F.col("doc_id") * 7, F.lit(1000)).alias("doc_id"),
        F.pmod(F.col("doc_id"), F.lit(6)).cast("int").alias("relevance_score"),
        (F.pmod(F.col("doc_id"), F.lit(3)) == 0).alias("clicked"),
        F.col("doc_id").alias("seq"),
    )
    log_feedback(fb_ent, log_dir)

    qh = read_query_history(spark, log_dir)
    fb = read_feedback(spark, log_dir)
    stats = query_stats(qh, fb)
    ids = qh.agg(F.min("query_id").alias("min_qid"),
                 F.max("query_id").alias("max_qid"))
    lw = learned_weights(qh, fb, min_samples=10).select(
        F.round("w_sem", 6).alias("w_sem_r"),
        F.round("w_lex", 6).alias("w_lex_r"),
        F.col("n").alias("n_pos"))
    return stats.crossJoin(ids).crossJoin(lw)


def _sql_query_log():
    from .sources.feedback_log import sql_md5_id60

    qid = sql_md5_id60("query_text || ':' || doc_id::VARCHAR")
    return f"""
WITH src AS (
  SELECT doc_id,
         array_to_string(({TOK_ALL})[1:3], ' ') AS query_text,
         (5 + doc_id % 5) / 10.0 AS semantic_weight,
         (5 - doc_id % 5) / 10.0 AS lexical_weight
  FROM documents ORDER BY doc_id LIMIT 100
),
qh AS (
  SELECT {qid} AS query_id, query_text, semantic_weight, lexical_weight,
         doc_id AS src_doc
  FROM src
),
fb AS (
  SELECT query_id, (src_doc * 7) % 1000 AS doc_id,
         CAST(src_doc % 6 AS INT) AS relevance_score,
         src_doc % 3 = 0 AS clicked
  FROM qh
),
stats_q AS (
  SELECT CAST(count(*) AS BIGINT) AS total_queries,
         CAST(count(DISTINCT query_text) AS BIGINT) AS unique_queries,
         round(avg(semantic_weight), 6) AS avg_semantic_weight,
         min(query_id) AS min_qid, max(query_id) AS max_qid
  FROM qh
),
stats_f AS (
  SELECT CAST(count(*) AS BIGINT) AS total_feedback,
         CAST(sum(CASE WHEN clicked THEN 1 ELSE 0 END) AS BIGINT) AS total_clicks,
         round(avg(relevance_score), 6) AS avg_relevance
  FROM fb
),
lw AS (
  SELECT round(avg(qh.semantic_weight), 6) AS w_sem_r,
         round(avg(qh.lexical_weight), 6) AS w_lex_r,
         CAST(count(*) AS BIGINT) AS n_pos
  FROM qh JOIN fb USING (query_id)
  WHERE fb.relevance_score >= 4 OR fb.clicked
)
SELECT * FROM stats_q, stats_f, lw
"""


# ---------------------------------------------------------------------------
# MMR diversification (reference pipelines.py:514-614): top-20 cosine
# candidates → greedy λ=0.5 MMR top-5; oracle = the same greedy loop
# unrolled as 5 chained CTE selection steps
# ---------------------------------------------------------------------------

def q_mmr_rerank(spark, sf_dir):
    from .operators.mmr import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _target_vec(spark, sf_dir, 7)
    cand = knn_brute(emb, qvec, k=20)
    cand = cand.join(emb, "vec_id").select(
        F.lit(0).alias("query_id"), F.col("vec_id").alias("doc_id"),
        F.col("cosine").alias("score"), F.col("embedding"))
    out = mmr_rerank(cand, k=5, lambda_param=0.5)
    return out.select("doc_id", "diversity_rank",
                      F.round("score", 6).alias("score_r"))


def _sql_mmr():
    steps = []
    prev_union = None
    for s in range(1, 6):
        if prev_union is None:
            mmr = "round(0.5 * n.rel, 9)"
            where = ""
        else:
            mmr = (f"round(0.5 * n.rel - 0.5 * (SELECT max(p.sim) FROM pair p "
                   f"WHERE p.ia = n.vec_id AND p.ib IN "
                   f"(SELECT vec_id FROM {prev_union})), 9)")
            where = (f"WHERE n.vec_id NOT IN (SELECT vec_id FROM {prev_union})")
        steps.append(
            f"s{s} AS (SELECT n.vec_id, n.cosine, {s - 1} AS diversity_rank "
            f"FROM norm n {where} ORDER BY {mmr} DESC, n.rnk LIMIT 1)")
        prev_union = f"sel{s}"
        steps.append(
            "sel{0} AS ({1})".format(
                s, " UNION ALL ".join(f"SELECT * FROM s{i}"
                                      for i in range(1, s + 1))))
    chain = ",\n".join(steps)
    return f"""
WITH cos AS ({_COSINE_CTE.format(vid=7)}),
cand AS (
  SELECT vec_id, cosine,
         row_number() OVER (ORDER BY round(cosine, 9) DESC, vec_id) AS rnk
  FROM cos QUALIFY rnk <= 20
),
norm AS (
  SELECT vec_id, cosine, rnk,
         (cosine - min(cosine) OVER ())
           / (max(cosine) OVER () - min(cosine) OVER () + 1e-8) AS rel
  FROM cand
),
ex AS (SELECT vec_id, unnest(embedding) AS v,
              generate_subscripts(embedding, 1) AS i
       FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand)),
pair AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE))
           / (sqrt(sum(CAST(a.v AS DOUBLE) * CAST(a.v AS DOUBLE)))
              * sqrt(sum(CAST(b.v AS DOUBLE) * CAST(b.v AS DOUBLE)))) AS sim
  FROM ex a JOIN ex b USING (i) GROUP BY a.vec_id, b.vec_id
),
{chain}
SELECT vec_id AS doc_id, CAST(diversity_rank AS INT) AS diversity_rank,
       round(cosine, 6) AS score_r
FROM sel5
"""


# ---------------------------------------------------------------------------
# autocomplete (A9/T7, reference autocomplete.py:46-66,139-165): frequency
# aggregation over a query log + prefix top-n. The log is synthesized from
# each document's first-2-token phrase, so the contract is self-contained.
# ---------------------------------------------------------------------------

def q_autocomplete(spark, sf_dir):
    from .operators.textproc import record_queries, suggest

    d = _docs(spark, sf_dir)
    toks = F.expr(
        "regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+', 0)")
    log = d.select(
        F.array_join(F.slice(toks, 1, 2), " ").alias("query_text"))
    return suggest(record_queries(log), "s", n=10)


SQL_AUTOCOMPLETE = f"""
WITH src AS (
  SELECT lower(trim(array_to_string(({TOK_ALL})[1:2], ' '))) AS query_text
  FROM documents
),
agg AS (
  SELECT query_text, CAST(count(*) AS BIGINT) AS frequency
  FROM src WHERE query_text <> '' GROUP BY query_text
)
SELECT query_text, frequency FROM agg
WHERE query_text LIKE 's%'
ORDER BY frequency DESC, query_text ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# best chunk per parent doc (W2, reference pipelines.py:166-183): sentence
# chunks scored by flagship-term hits, window keeps the best chunk per doc
# (score DESC, chunk_id ASC tie-break).
# ---------------------------------------------------------------------------

def q_best_chunk(spark, sf_dir):
    from .operators.textproc import best_chunk_per_doc, chunk_documents

    chunks = chunk_documents(_docs(spark, sf_dir), mode="sentence")
    terms = F.array(*[F.lit(t) for t in FLAGSHIP_TERMS])
    ctoks = F.expr(
        "regexp_extract_all(lower(coalesce(chunk_text,'')), '[a-z0-9_]+', 0)")
    scored = chunks.withColumn(
        "score",
        F.size(F.filter(ctoks, lambda t: F.array_contains(terms, t))))
    return (best_chunk_per_doc(scored)
            .select("doc_id", "chunk_id", "chunk_text", "score"))


_BC_TERMS = "[" + ",".join(f"'{t}'" for t in FLAGSHIP_TERMS) + "]"

SQL_BEST_CHUNK = f"""
WITH l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(
           regexp_replace(coalesce(text,''), '([.!?]){WS_CLASS_SQL}+',
                          '\\1' || chr(1), 'g'),
           chr(1)),
           x -> trim(x, {WS_CHARS_SQL})),
           x -> x <> '') AS parts
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST(generate_subscripts(parts, 1) - 1 AS INTEGER) AS chunk_id,
         unnest(parts) AS chunk_text
  FROM l
),
s AS (
  SELECT doc_id, chunk_id, chunk_text,
         CAST(len(list_filter(
           regexp_extract_all(lower(coalesce(chunk_text,'')), '[a-z0-9_]+'),
           t -> list_contains({_BC_TERMS}, t))) AS INTEGER) AS score
  FROM c
)
SELECT doc_id, chunk_id, chunk_text, score
FROM s
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, chunk_id ASC) = 1
"""


# ---------------------------------------------------------------------------
# multi-position snippets with overlap suppression (SO5, reference
# highlighter.py:68-145): per doc, the 3 earliest query-term positions at
# least snippet_length apart, each sliced ±len/2, word-boundary adjusted
# (±20 chars to a space), ellipsized and <mark>-highlighted. The greedy
# accept depends only on the LAST accepted position (positions scan
# ascending), and the cap is 3 — so the oracle unrolls it into three
# chained min() CTEs (same technique as the MMR oracle); candidate
# positions come from an index×term join with word-boundary checks.
# ---------------------------------------------------------------------------

def q_snippets(spark, sf_dir):
    from .operators.textproc import extract_snippets

    d = _docs(spark, sf_dir)
    out = extract_snippets(d, FLAGSHIP_QUERY, snippet_length=150,
                           max_snippets=3)
    return out.select("doc_id",
                      F.array_join("snippets", "\x1f").alias("snippets"))


def _sql_snippets(snippet_length: int = 150) -> str:
    from .reference_semantics import tokenize

    tokens = sorted(set(tokenize(FLAGSHIP_QUERY.lower())))
    terms_list = "[" + ",".join(f"'{t}'" for t in tokens) + "]"
    mark_pat = "(?i)\\b(" + "|".join(tokens) + ")\\b"
    L, H = snippet_length, snippet_length // 2
    return f"""
WITH d AS (SELECT doc_id, coalesce(text,'') AS text,
                  lower(coalesce(text,'')) AS low FROM documents),
ii AS (SELECT doc_id, low,
              unnest(range(1, CAST(length(low) AS BIGINT) + 1)) AS i FROM d),
tt AS (SELECT unnest({terms_list}) AS term),
pos AS (
  SELECT ii.doc_id, CAST(ii.i - 1 AS BIGINT) AS p
  FROM ii JOIN tt ON substr(ii.low, CAST(ii.i AS INT), length(tt.term)) = tt.term
  WHERE (ii.i = 1 OR NOT regexp_matches(
           substr(ii.low, CAST(ii.i AS INT) - 1, 1), '[a-z0-9_]'))
    AND (ii.i - 1 + length(tt.term) = length(ii.low)
         OR NOT regexp_matches(
              substr(ii.low, CAST(ii.i + length(tt.term) AS INT), 1),
              '[a-z0-9_]'))
),
s1 AS (SELECT doc_id, min(p) AS p FROM pos GROUP BY doc_id),
s2 AS (SELECT pos.doc_id, min(pos.p) AS p FROM pos JOIN s1 USING (doc_id)
       WHERE pos.p >= s1.p + {L} GROUP BY pos.doc_id),
s3 AS (SELECT pos.doc_id, min(pos.p) AS p FROM pos JOIN s2 USING (doc_id)
       WHERE pos.p >= s2.p + {L} GROUP BY pos.doc_id),
acc AS (
  SELECT doc_id, p, 1 AS k FROM s1
  UNION ALL SELECT doc_id, p, 2 FROM s2
  UNION ALL SELECT doc_id, p, 3 FROM s3
),
win AS (
  SELECT a.doc_id, a.k, d.text, length(d.text) AS n,
         greatest(a.p - {H}, 0) AS start0,
         least(length(d.text), a.p + {H}) AS end0
  FROM acc a JOIN d USING (doc_id)
),
r1 AS (
  SELECT *, strpos(reverse(substr(text, CAST(greatest(start0 - 20, 0) AS INT) + 1,
                                  CAST(start0 - greatest(start0 - 20, 0) AS INT))),
                   ' ') AS rsp,
            strpos(substr(text, CAST(end0 AS INT) + 1,
                          CAST(least(n, end0 + 20) - end0 AS INT)), ' ') AS fsp
  FROM win
),
adj AS (
  SELECT doc_id, k, text, n,
    CASE WHEN start0 > 0 AND rsp > 0 AND start0 - rsp > 0
         THEN start0 - rsp + 1 ELSE start0 END AS start1,
    CASE WHEN end0 < n AND fsp > 0 AND end0 + fsp - 1 > 0
         THEN end0 + fsp - 1 ELSE end0 END AS end1
  FROM r1
),
snips AS (
  SELECT doc_id, k,
    regexp_replace(
      (CASE WHEN start1 > 0 THEN '...' ELSE '' END)
      || substr(text, CAST(start1 AS INT) + 1, CAST(end1 - start1 AS INT))
      || (CASE WHEN end1 < n THEN '...' ELSE '' END),
      '{mark_pat}', '<mark>\\1</mark>', 'g') AS snip
  FROM adj
),
agg AS (
  SELECT doc_id, string_agg(snip, chr(31) ORDER BY k) AS snippets
  FROM snips GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(agg.snippets,
                substr(d.text, 1, {L})
                || CASE WHEN length(d.text) > {L} THEN '...' ELSE '' END
               ) AS snippets
FROM d LEFT JOIN agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# unicode-script detection (F15, reference semantics model language.py:
# 140-168): per-char range counts, argmax. Text synthesized per doc_id from
# LANG_PHRASES so every script range is exercised; the oracle recomputes the
# counts in DuckDB with the same literal ranges (RE2 accepts them too).
# ---------------------------------------------------------------------------

def q_script_detect(spark, sf_dir):
    from .functions.analysis import detect_script

    d = _docs(spark, sf_dir)
    n = len(LANG_PHRASES)
    phrase = F.element_at(F.array(*[F.lit(p) for _, p in LANG_PHRASES]),
                          (F.pmod(F.col("doc_id"), F.lit(n)) + 1).cast("int"))
    synth = d.select("doc_id", phrase.alias("text"))
    return synth.select("doc_id", detect_script("text").alias("script"))


def _sql_script_detect():
    from .functions.analysis import SCRIPT_RANGES

    case = (f"CASE CAST(doc_id % {len(LANG_PHRASES)} AS INT) "
            + " ".join(f"WHEN {i} THEN '{p}'"
                       for i, (_, p) in enumerate(LANG_PHRASES))
            + " END")
    counts = ",\n         ".join(
        f"len(regexp_extract_all(coalesce(text,''), '{pat}')) AS c_{name}"
        for name, pat in SCRIPT_RANGES.items())
    mx = "greatest(" + ", ".join(f"c_{n}" for n in SCRIPT_RANGES) + ")"
    # earliest dict entry attaining the (nonzero) max — mirrors the Spark
    # strict-> scan in detect_script
    pick = ("CASE WHEN mx = 0 THEN 'unknown' "
            + " ".join(f"WHEN c_{n} = mx THEN '{n}'" for n in SCRIPT_RANGES)
            + " END")
    return f"""
WITH synth AS (SELECT doc_id, {case} AS text FROM documents),
r AS (SELECT doc_id, {counts} FROM synth),
m AS (SELECT *, {mx} AS mx FROM r)
SELECT doc_id, {pick} AS script FROM m
"""


# ---------------------------------------------------------------------------
# dedup action policy (P7, reference deduplication.py:196-241 SKIP/MERGE/
# FLAG): near-dup pairs → canonical map → flag columns on the docs table.
# Pairs here come from the exact sha-256 groups so the row is deterministic.
# ---------------------------------------------------------------------------

def q_dedup_action(spark, sf_dir):
    from .operators.dedup import apply_dedup_action, exact_duplicates

    d = _docs(spark, sf_dir)
    ex = exact_duplicates(d)
    pairs = ex.where(F.col("is_duplicate")).select(
        F.col("canonical_doc_id").alias("doc_a"),
        F.col("doc_id").alias("doc_b"))
    out = apply_dedup_action(d.select("doc_id", "text"), pairs, action="flag")
    return out.select("doc_id", "canonical_doc_id", "is_duplicate")


SQL_DEDUP_ACTION = f"""
WITH h AS (SELECT doc_id, sha256({NORM_SQL}) AS ch
           FROM documents),
g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY ch) AS canon FROM h),
pairs AS (SELECT canon AS doc_a, doc_id AS doc_b FROM g WHERE doc_id <> canon),
canonmap AS (SELECT doc_b AS doc_id, min(doc_a) AS canonical_doc_id
             FROM pairs GROUP BY doc_b)
SELECT d.doc_id,
       coalesce(c.canonical_doc_id, d.doc_id) AS canonical_doc_id,
       c.canonical_doc_id IS NOT NULL AS is_duplicate
FROM documents d LEFT JOIN canonmap c USING (doc_id)
"""


# ---------------------------------------------------------------------------
# test set from feedback (A8, reference evaluation.py:269-297): group
# relevant judgments (score >= 3 OR clicked) by query text. Feedback is
# synthesized deterministically from doc_ids; the id list is sorted and
# joined to a string so the hash compare sees a scalar column.
# ---------------------------------------------------------------------------

def q_feedback_sets(spark, sf_dir):
    from .operators.fusion import test_set_from_feedback

    d = _docs(spark, sf_dir)
    toks = F.expr(
        "regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+', 0)")
    src = d.select("doc_id",
                   F.array_join(F.slice(toks, 1, 2), " ").alias("query_text"))
    qh = src.select(F.col("doc_id").alias("query_id"), "query_text")
    fb = src.select(
        F.col("doc_id").alias("query_id"),
        F.pmod(F.col("doc_id") * 13, F.lit(500)).alias("doc_id"),
        F.pmod(F.col("doc_id"), F.lit(6)).cast("int").alias("relevance_score"),
        (F.pmod(F.col("doc_id"), F.lit(4)) == 0).alias("clicked"))
    ts = test_set_from_feedback(qh, fb, min_relevant=1)
    return ts.select(
        "query_text",
        F.array_join(F.array_sort("relevant_doc_ids").cast("array<string>"),
                     ",").alias("rel_ids"),
        "n_judgments")


SQL_FEEDBACK_SETS = f"""
WITH src AS (
  SELECT doc_id, array_to_string(({TOK_ALL})[1:2], ' ') AS query_text,
         (doc_id * 13) % 500 AS fdoc,
         CAST(doc_id % 6 AS INT) AS score,
         doc_id % 4 = 0 AS clicked
  FROM documents
),
rel AS (SELECT * FROM src WHERE score >= 3 OR clicked)
SELECT query_text,
       array_to_string(list_sort(array_agg(fdoc)), ',') AS rel_ids,
       CAST(count(*) AS BIGINT) AS n_judgments
FROM rel GROUP BY query_text HAVING count(*) >= 1
"""


# ---------------------------------------------------------------------------
# dedup groups: transitive closure of the near-dup 1-NN graph
# (operators/dedup.py::connected_components — alternating large-star /
# small-star). The pair graph is each doc's single best bigram-Jaccard
# neighbor (jac >= 0.05, ties broken by smaller neighbor id): a 1-NN graph
# chains instead of forming cliques, so the query genuinely exercises
# multi-hop closure (the sf0.01 fixture yields components up to ~16 docs,
# most of them non-cliques). Oracle replays closure with a recursive CTE.
# ---------------------------------------------------------------------------

def q_dedup_groups(spark, sf_dir):
    from .operators.dedup import dedup_groups

    d = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(d, n=2, threshold=0.05, df_cap=0)
    both = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"),
                        "jaccard").unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"),
                     "jaccard"))
    w = Window.partitionBy("u").orderBy(F.desc("jaccard"), F.asc("v"))
    nn = (both.withColumn("rn", F.row_number().over(w))
          .where(F.col("rn") == 1)
          .select(F.least("u", "v").alias("doc_a"),
                  F.greatest("u", "v").alias("doc_b"))
          .distinct())
    out = dedup_groups(d, nn)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      F.col("group_id").cast("bigint").alias("group_id"))


def _sql_dedup_groups():
    return f"""
WITH RECURSIVE g AS (
  SELECT doc_id, list_distinct({_BIGRAMS_SQL}) AS gs FROM documents
), j AS (
  SELECT a.doc_id AS u, b.doc_id AS v,
         len(list_intersect(a.gs, b.gs))::DOUBLE
         / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jac
  FROM g a JOIN g b ON a.doc_id <> b.doc_id
), nn AS (
  SELECT least(u, v) AS a, greatest(u, v) AS b
  FROM (SELECT u, v,
               row_number() OVER (PARTITION BY u ORDER BY jac DESC, v) AS rn
        FROM j WHERE jac >= 0.05)
  WHERE rn = 1
), e AS (
  SELECT DISTINCT a, b FROM nn
), sym AS (
  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
), reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS group_id
FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# repetition signals (functions/analysis.py::repetition_metrics —
# Gopher-style duplicate/top n-gram fractions for crawl quality filtering)
# ---------------------------------------------------------------------------

def q_repetition(spark, sf_dir):
    from .functions.analysis import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir))


def _rep_ngrams_sql(n: int) -> str:
    parts = " || ' ' || ".join(f"t[CAST(i AS INT)+{j}]" for j in range(n))
    return (f"CASE WHEN len(t) >= {n} THEN "
            f"list_transform(range(1, len(t) - {n - 2}), i -> {parts}) "
            f"ELSE [] END")


SQL_REPETITION = f"""
WITH toks AS (SELECT doc_id, {TOK_ALL} AS t FROM documents),
u AS (
  SELECT doc_id, 1 AS n, unnest(t) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 2 AS n, unnest({_rep_ngrams_sql(2)}) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 3 AS n, unnest({_rep_ngrams_sql(3)}) AS gram FROM toks
),
c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM u GROUP BY doc_id, n, gram),
s AS (SELECT doc_id, n, max(cnt) AS mx,
             sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup,
             sum(cnt) AS tot
      FROM c GROUP BY doc_id, n),
w AS (SELECT doc_id,
        max(CASE WHEN n=1 THEN mx END) AS m1, max(CASE WHEN n=1 THEN tot END) AS t1,
        max(CASE WHEN n=2 THEN mx END) AS m2, max(CASE WHEN n=2 THEN dup END) AS d2,
        max(CASE WHEN n=2 THEN tot END) AS t2,
        max(CASE WHEN n=3 THEN mx END) AS m3, max(CASE WHEN n=3 THEN dup END) AS d3,
        max(CASE WHEN n=3 THEN tot END) AS t3
      FROM s GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(w.t1, 0) AS BIGINT) AS n_tokens,
       coalesce(round(w.m1::DOUBLE / w.t1, 6), 0.0) AS max_token_frac,
       coalesce(round(w.m2::DOUBLE / w.t2, 6), 0.0) AS top_bigram_frac,
       coalesce(round(w.d2::DOUBLE / w.t2, 6), 0.0) AS dup_bigram_frac,
       coalesce(round(w.m3::DOUBLE / w.t3, 6), 0.0) AS top_trigram_frac,
       coalesce(round(w.d3::DOUBLE / w.t3, 6), 0.0) AS dup_trigram_frac
FROM documents d LEFT JOIN w USING (doc_id)
"""


# ---------------------------------------------------------------------------
# deterministic train/val/test split (operators/dataset.py::split_dataset —
# md5-bucketed by key, fixed-width-hex threshold compare so the oracle
# evaluates the identical string comparison)
# ---------------------------------------------------------------------------

def q_dataset_split(spark, sf_dir):
    from .operators.dataset import split_dataset

    d = _docs(spark, sf_dir)
    return split_dataset(d.select("doc_id"), seed=42).select("doc_id", "split")


def _sql_dataset_split():
    from .operators.dataset import _thresholds

    ths = _thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    case = "CASE " + " ".join(
        f"WHEN h8 < '{th}' THEN '{name}'" for name, th in ths[:-1]
    ) + f" ELSE '{ths[-1][0]}' END"
    return f"""
WITH h AS (SELECT doc_id,
                  substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h8
           FROM documents)
SELECT doc_id, {case} AS split FROM h
"""


# ---------------------------------------------------------------------------
# url_canonical: web-crawl URL canonicalization (functions/url.py)
# ---------------------------------------------------------------------------
# The driver tables carry no URL column, so both engines synthesize the
# SAME urls deterministically from documents(doc_id, source) — six variants
# covering every canonicalization rule (case, www, default/kept ports,
# trailing slashes, tracking params, empty-segment queries, fragments,
# non-URL passthrough) — then canonicalize. Exercises the operator over
# every documents row, not a literal fixture.

_URL_VARIANTS = [
    ("'HTTPS://WWW.' || source || '.Example.com:443/Docs/' || id || "
     "'/?utm_source=feed&b=2&a=1#frag'"),
    "'http://' || source || '.example.com:80/a//?z=1&y=&x=3'",
    "'https://' || source || '.example.com/'",
    "'ftp://Host.com:21/file/' || id",
    "'doc ' || id || ' has no url'",
    "'  https://m.' || source || '.example.com/p?gclid=1&ref=x  '",
]


def q_url_canonical(spark, sf_dir):
    from .functions.url import canonicalize_url

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sid = F.col("doc_id").cast("string")
    src = F.col("source")

    def build(expr: str):
        parts = []
        for tok in expr.split(" || "):
            if tok == "id":
                parts.append(sid)
            elif tok == "source":
                parts.append(src)
            else:
                parts.append(F.lit(tok[1:-1]))
        return F.concat(*parts)

    v = F.pmod(F.col("doc_id"), F.lit(len(_URL_VARIANTS)))
    url = F.when(v == 0, build(_URL_VARIANTS[0]))
    for i in range(1, len(_URL_VARIANTS) - 1):
        url = url.when(v == i, build(_URL_VARIANTS[i]))
    url = url.otherwise(build(_URL_VARIANTS[-1]))
    return d.select("doc_id", url.alias("url"),
                    canonicalize_url(url).alias("canon_url"))


def _sql_url_canonical():
    from .functions.url import duckdb_canonicalize_url_sql

    n = len(_URL_VARIANTS)
    def render(expr: str) -> str:  # token-exact: 'id' → cast, not substrings
        return " || ".join("CAST(doc_id AS VARCHAR)" if t == "id" else t
                           for t in expr.split(" || "))

    whens = " ".join(f"WHEN {i} THEN {render(v)}"
                     for i, v in enumerate(_URL_VARIANTS))
    return f"""
WITH u AS (
  SELECT doc_id, CASE doc_id % {n} {whens} END AS url FROM documents)
SELECT doc_id, url, {duckdb_canonicalize_url_sql('url')} AS canon_url
FROM u
"""


def q_url_dedup(spark, sf_dir):
    """Keep-latest-crawl per canonical URL — the first dedup pass of a
    Common-Crawl pipeline (pages carry warc_ts; re-crawls of the same
    canonical URL supersede older snapshots). Synthesized crawl time =
    doc_id (deterministic, both engines); newest wins, doc_id breaks
    ties. Doc-grain window over the canonical key — the same doc-hash
    shuffle shape as every dedup operator here; at 10^12 docs the
    canonical-url key is near-unique so the window groups are tiny."""
    from .operators.url_dedup import keep_latest_by_canonical_url

    urls = q_url_canonical(spark, sf_dir).select(
        "doc_id", "url", F.col("doc_id").alias("crawl_ts"))
    return keep_latest_by_canonical_url(urls, ts_col="crawl_ts")


def _sql_url_dedup():
    return f"""
WITH c AS (
  SELECT doc_id, canon_url, doc_id AS crawl_ts
  FROM ({_sql_url_canonical()})),
r AS (
  SELECT doc_id, canon_url, crawl_ts,
         row_number() OVER (PARTITION BY canon_url
                            ORDER BY crawl_ts DESC, doc_id DESC) AS rn,
         count(*) OVER (PARTITION BY canon_url) AS n_crawls
  FROM c)
SELECT doc_id, canon_url, CAST(crawl_ts AS BIGINT) AS crawl_ts,
       CAST(n_crawls AS BIGINT) AS n_crawls
FROM r WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# line_dedup: corpus-wide boilerplate-line removal (operators/line_dedup.py)
# ---------------------------------------------------------------------------
# The driver documents are single-line texts, so both engines reshape each
# text into 3-token lines first (same chunking, native on both sides); the
# 29-term vocabulary makes 3-gram lines collide corpus-wide, which is
# exactly the boilerplate-frequency shape the operator targets.

_LINE_CHUNK = 3


def q_line_dedup(spark, sf_dir):
    from .operators.line_dedup import dedup_lines

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lines = F.transform(
        F.sequence(F.lit(0),
                   F.floor((F.size(toks) - 1) / _LINE_CHUNK).cast("int")),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * _LINE_CHUNK + 1, _LINE_CHUNK)))
    reshaped = d.select("doc_id",
                        F.array_join(lines, "\n").alias("text"))
    return dedup_lines(reshaped)


def _sql_line_dedup():
    k = _LINE_CHUNK
    return f"""
WITH reshaped AS (
  SELECT doc_id,
         array_to_string(list_apply(
           range(0, greatest(len(string_split(text, ' ')), 1), {k}),
           i -> array_to_string(list_slice(string_split(text, ' '),
                                           i + 1, i + {k}), ' ')),
           chr(10)) AS text
  FROM documents),
l AS (SELECT doc_id, generate_subscripts(ls, 1) AS i, unnest(ls) AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM reshaped)),
f AS (SELECT line, count(*) AS c FROM l GROUP BY line)
SELECT l.doc_id,
       coalesce(string_agg(CASE WHEN f.c <= 1 THEN l.line END,
                           chr(10) ORDER BY l.i), '') AS text,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM l JOIN f USING (line)
GROUP BY l.doc_id
"""


# ---------------------------------------------------------------------------
# phrase_match: exact phrase search, scan tier (operators/phrase.py)
# ---------------------------------------------------------------------------
# Beyond-reference fulltext capability (the reference is bag-of-words BM25
# only). Planted docs pin the edge cases the corpus can't guarantee:
# overlapping occurrences, a repeated-term phrase, an out-of-order
# non-match, and case/punctuation robustness. The oracle reconstructs the
# same semantics relationally: tokens WITH ORDINALITY joined to a
# (phrase, offset, term) table — a start qualifies iff every offset of the
# phrase is satisfied, which the GROUP BY ... HAVING count(*) = phrase_len
# enforces even when the phrase repeats a term (each offset j matches at
# most one token row per start).

PHRASES = ["window fast query", "table table", "fast query"]

PLANTED_PHRASE_DOCS = [
    # 'table table' overlaps: positions (1,2) and (2,3) -> n_matches=2
    (910000001, "table table table window fast query end"),
    (910000002, "window fast query then window fast query again"),
    # all three terms present but out of order -> trigram must NOT match
    (910000003, "fast window query table"),
    # tokenizer lowercases and strips punctuation -> must match
    (910000004, "Window FAST query, with punctuation!"),
]


def _docs_with_planted_phrases(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    p = local_df(spark, PLANTED_PHRASE_DOCS, "doc_id long, text string")
    return d.unionByName(p)


def q_phrase_match(spark, sf_dir):
    from .operators.phrase import phrase_match_scan

    return phrase_match_scan(_docs_with_planted_phrases(spark, sf_dir),
                             PHRASES)


def _sql_phrase_match():
    planted = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS doc_id, '{t}' AS text"
        for i, t in PLANTED_PHRASE_DOCS)
    ph_rows = ", ".join(
        f"('{p}', {j}, '{t}', {len(p.split())})"
        for p in PHRASES for j, t in enumerate(p.split()))
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents UNION ALL {planted}),
t AS (SELECT doc_id,
             regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+') AS toks
      FROM docs),
u AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM t),
ph(phrase, j, term, plen) AS (VALUES {ph_rows}),
hits AS (
  SELECT ph.phrase, u.doc_id, u.pos - ph.j AS start_pos
  FROM u JOIN ph ON u.tok = ph.term
  GROUP BY ph.phrase, ph.plen, u.doc_id, u.pos - ph.j
  HAVING count(*) = ph.plen)
SELECT phrase, doc_id,
       CAST(count(*) AS INTEGER) AS n_matches,
       CAST(min(start_pos) AS INTEGER) AS first_pos
FROM hits GROUP BY phrase, doc_id
"""


# ---------------------------------------------------------------------------
# pii_redact: PII detection + redaction (operators/pii.py)
# ---------------------------------------------------------------------------
# The corpus is PII-free by construction, so the corpus rows exercise the
# no-op path (all counts 0, redacted == text) while planted docs carry the
# real detections, including the ordering traps: an SSN that would also
# match the phone pattern (must count as SSN only), dotted triplets that
# must NOT count as IPv4, and a '+'-prefixed spaced phone number.

PLANTED_PII_DOCS = [
    (920000001,
     "Contact john.doe+spam@example-mail.com or admin@sub.example.org now"),
    (920000002,
     "Server at 192.168.0.1 and 10.0.0.255, call +1 555 0199 2837 today"),
    (920000003, "SSN 123-45-6789 leaked; backup phone 555-0100-7788"),
    (920000004, "no pii here, just 42 and version 1.2.3"),
]


def _docs_with_planted_pii(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    p = local_df(spark, PLANTED_PII_DOCS, "doc_id long, text string")
    return d.unionByName(p)


def q_pii_redact(spark, sf_dir):
    from .operators.pii import redact_pii

    return redact_pii(_docs_with_planted_pii(spark, sf_dir))


def _sql_pii_redact():
    from .operators.pii import PII_PATTERNS

    planted = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS doc_id, '{t}' AS text"
        for i, t in PLANTED_PII_DOCS)
    sel_prev = "SELECT doc_id, coalesce(text,'') AS c FROM docs"
    stages, counts = [], []
    for k, (name, pat, repl) in enumerate(PII_PATTERNS):
        lit = pat.replace("'", "''")
        stages.append(
            f"s{k} AS (SELECT doc_id, "
            + ", ".join(f"n_{n}" for n, _, _ in PII_PATTERNS[:k])
            + (", " if k else "")
            + f"CAST(len(regexp_extract_all(c, '{lit}')) AS INTEGER)"
            f" AS n_{name}, "
            f"regexp_replace(c, '{lit}', '{repl}', 'g') AS c "
            f"FROM {f's{k-1}' if k else f'({sel_prev})'})")
        counts.append(f"n_{name}")
    last = f"s{len(PII_PATTERNS) - 1}"
    return (
        f"WITH docs AS (SELECT doc_id, text FROM documents UNION ALL "
        f"{planted}),\n" + ",\n".join(stages) +
        f"\nSELECT doc_id, {', '.join(counts)}, c AS redacted FROM {last}"
    )


# ---------------------------------------------------------------------------
# bool_query / near_query: boolean + proximity retrieval
# (operators/boolquery.py, operators/phrase.py)
# ---------------------------------------------------------------------------
# Both contract rows run the INDEX tier (postings-side plan) so the oracle
# gate covers the inverted-index path; scan-tier equivalence is pinned by
# unit tests. Terms come from the corpus vocabulary, so the rows are
# non-vacuous at every sf.

_BOOL_MUST = ["spark", "query"]
_BOOL_SHOULD = ["window", "fast"]
_BOOL_NOT = ["slow"]
_NEAR_A, _NEAR_B, _NEAR_SLOP = "window", "query", 3

_TOKS_ALL_SQL = "regexp_extract_all(lower(coalesce(text,'')), '[a-z0-9_]+')"


def _positional_tf(spark, sf_dir):
    from .operators.phrase import doc_term_positions

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    return doc_term_positions(d)


def q_bool_query(spark, sf_dir):
    from .operators.boolquery import bool_query_indexed

    return bool_query_indexed(
        _positional_tf(spark, sf_dir),
        must=_BOOL_MUST, should=_BOOL_SHOULD, must_not=_BOOL_NOT)


SQL_BOOL_QUERY = f"""
WITH t AS (SELECT doc_id, list_distinct({_TOKS_ALL_SQL}) AS toks
           FROM documents)
SELECT doc_id,
       CAST(len(list_intersect(toks, {_BOOL_SHOULD!r})) AS INTEGER)
         AS n_should
FROM t
WHERE {' AND '.join(f"list_contains(toks, '{t}')" for t in _BOOL_MUST)}
  AND {' AND '.join(f"NOT list_contains(toks, '{t}')" for t in _BOOL_NOT)}
"""


def q_near_query(spark, sf_dir):
    from .operators.phrase import near_search_indexed

    return near_search_indexed(
        _positional_tf(spark, sf_dir), _NEAR_A, _NEAR_B, _NEAR_SLOP)


SQL_NEAR_QUERY = f"""
WITH t AS (SELECT doc_id, {_TOKS_ALL_SQL} AS toks FROM documents),
u AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM t),
g AS (SELECT a.doc_id, min(b.pos - a.pos - 1) AS min_gap
      FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos > a.pos
      WHERE a.tok = '{_NEAR_A}' AND b.tok = '{_NEAR_B}'
      GROUP BY a.doc_id)
SELECT doc_id, CAST(min_gap AS INTEGER) AS min_gap
FROM g WHERE min_gap <= {_NEAR_SLOP}
"""


# ---------------------------------------------------------------------------
# lm_score: unigram corpus cross-entropy (operators/lm.py)
# ---------------------------------------------------------------------------
# Both engines compute p(t)=cf/total over the same corpus and the per-doc
# mean negative ln-likelihood; ln() agrees to ~1 ulp across Java/DuckDB and
# the contract's round(6) absorbs summation-order drift (same tolerance
# discipline as every float aggregate in the contract).


def q_lm_score(spark, sf_dir):
    from .operators.lm import unigram_logprob

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    return unigram_logprob(d)


SQL_LM_SCORE = f"""
WITH t AS (SELECT doc_id, {_TOKS_ALL_SQL} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS cnt FROM e GROUP BY doc_id, term),
cf AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS cf FROM tf GROUP BY term),
tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS total_tokens FROM cf)
SELECT tf.doc_id,
       CAST(sum(tf.cnt) AS BIGINT) AS n_tokens,
       round(-sum(tf.cnt * ln(cf.cf / tot.total_tokens)) / sum(tf.cnt), 6)
         AS avg_nll
FROM tf JOIN cf USING (term) CROSS JOIN tot
GROUP BY tf.doc_id
"""


# ---------------------------------------------------------------------------
# decontaminate: benchmark n-gram overlap flags (operators/decontaminate.py)
# ---------------------------------------------------------------------------
# n=3 against probe strings whose trigrams occur in the driver corpus at
# both sf (so the row is non-vacuous), plus a 5-token probe (contributes 3
# trigrams) and a sub-n probe that must contribute nothing.

_DECON_N = 3
DECON_PROBES = [
    ("window fast query",),
    ("slow hash batch",),
    ("the window fast query plan",),
    ("tiny",),  # < n tokens: no n-grams, by the papers' convention
]


def q_decontaminate(spark, sf_dir):
    from .operators.decontaminate import contamination_flags

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    probes = local_df(spark, DECON_PROBES, "probe string")
    return contamination_flags(d, probes, n=_DECON_N)


def _sql_decontaminate():
    n = _DECON_N
    probes = " UNION ALL ".join(
        f"SELECT '{p}' AS probe" for (p,) in DECON_PROBES)
    grams = (
        f"unnest(list_apply(range(1, greatest(len(toks)-{n - 1}, 0)+1), "
        f"i -> array_to_string(list_slice(toks, i, i+{n - 1}), ' ')))"
    )
    return f"""
WITH pt AS (SELECT regexp_extract_all(lower(coalesce(probe,'')),
                   '[a-z0-9_]+') AS toks FROM ({probes})),
pg AS (SELECT DISTINCT {grams} AS gram FROM pt),
dt AS (SELECT doc_id, regexp_extract_all(lower(coalesce(text,'')),
                   '[a-z0-9_]+') AS toks FROM documents),
dg AS (SELECT doc_id, {grams} AS gram FROM dt)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(DISTINCT gram) AS BIGINT) AS n_probes
FROM dg JOIN pg USING (gram)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# span_dedup: cross-document verbatim-span duplication (decontaminate.py)
# ---------------------------------------------------------------------------

_SPAN_N = 5


def q_span_dedup(spark, sf_dir):
    from .operators.decontaminate import shared_span_flags

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    return shared_span_flags(d, n=_SPAN_N)


def _sql_span_dedup():
    n = _SPAN_N
    grams = (
        f"unnest(list_apply(range(1, greatest(len(toks)-{n - 1}, 0)+1), "
        f"i -> array_to_string(list_slice(toks, i, i+{n - 1}), ' ')))"
    )
    return f"""
WITH dt AS (SELECT doc_id, regexp_extract_all(lower(coalesce(text,'')),
                   '[a-z0-9_]+') AS toks FROM documents),
dg AS (SELECT doc_id, {grams} AS gram FROM dt),
gf AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd
                         FROM dg GROUP BY gram) WHERE nd > 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shared_positions,
       CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_spans
FROM dg JOIN gf USING (gram)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# spell_correct: SymSpell deletion-neighborhood corrector (operators/spell.py)
# ---------------------------------------------------------------------------
# Spark runs the deletion-neighborhood JOIN (the scale algorithm); the
# oracle runs the exhaustive cross-product levenshtein — both must land on
# identical best suggestions under the same deterministic ranking
# (min distance, max df, term asc). 'zzzzzz' has no vocab term within
# edit distance 1 and must be absent on both sides — as must 'tabel',
# whose intended correction 'table' sits at plain-levenshtein distance 2
# (transposition; this corrector is levenshtein, not Damerau).

_SPELL_QTERMS = ["tabl", "querry", "sparkk", "windoww", "fastt",
                 "tabel", "zzzzzz"]


def q_spell_correct(spark, sf_dir):
    from .operators.spell import spell_correct

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text"))
    from .functions.text import tokens_native_keep_order

    vocab = (
        d.select("doc_id", tokens_native_keep_order("text").alias("__toks"))
        .select("doc_id", F.explode("__toks").alias("term"))
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    qs = local_df(spark, [(t,) for t in _SPELL_QTERMS], "qterm string")
    return spell_correct(vocab, qs, max_edit=1)


def _sql_spell_correct():
    qrows = " UNION ALL ".join(
        f"SELECT '{t}' AS qterm" for t in _SPELL_QTERMS)
    return f"""
WITH e AS (SELECT doc_id, unnest({_TOKS_ALL_SQL}) AS term FROM documents),
v AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM e GROUP BY term),
q AS ({qrows}),
c AS (SELECT q.qterm, v.term, v.df,
             levenshtein(q.qterm, v.term) AS dist
      FROM q CROSS JOIN v
      WHERE levenshtein(q.qterm, v.term) <= 1)
SELECT qterm, term AS suggestion, CAST(dist AS INTEGER) AS dist, df
FROM (SELECT *, row_number() OVER (PARTITION BY qterm
        ORDER BY dist, df DESC, term) AS rn FROM c)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES_EXT = {
    "minhash_sig": q_minhash_sig,
    "lsh_pairs": q_lsh_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "simhash16": q_simhash16,
    "knn_brute": q_knn_brute,
    "knn_batch": q_knn_batch,
    "knn_ivf": q_knn_ivf,
    "embedding_near_pairs": q_embedding_near_pairs,
    "lang_detect": q_lang_detect,
    "lang_detect_wide": q_lang_detect_wide,
    "autocomplete": q_autocomplete,
    "best_chunk": q_best_chunk,
    "feedback_sets": q_feedback_sets,
    "script_detect": q_script_detect,
    "snippets": q_snippets,
    "dedup_action": q_dedup_action,
    "dataset_split": q_dataset_split,
    "dedup_groups": q_dedup_groups,
    "repetition": q_repetition,
    "quality": q_quality,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "chunk_sentences": q_chunk_sentences,
    "chunk_fixed": q_chunk_fixed,
    "highlight": q_highlight,
    "metadata_filter": q_metadata_filter,
    "sessionize": q_sessionize,
    "fuse_hybrid": q_fuse_hybrid,
    "evaluate_ranking": q_evaluate,
    "bm25_topk_wand": q_bm25_topk_wand,
    "stream_event_windows": q_stream_event_windows,
    "multimodal_features": q_multimodal_features,
    "query_log": q_query_log,
    "mmr_rerank": q_mmr_rerank,
    "url_canonical": q_url_canonical,
    "url_dedup": q_url_dedup,
    "line_dedup": q_line_dedup,
    "phrase_match": q_phrase_match,
    "pii_redact": q_pii_redact,
    "bool_query": q_bool_query,
    "near_query": q_near_query,
    "lm_score": q_lm_score,
    "decontaminate": q_decontaminate,
    "span_dedup": q_span_dedup,
    "spell_correct": q_spell_correct,
}


def _oracles_ext():
    from .contract import SQL_BM25_TOPK, SQL_EVENT_WINDOWS

    return {
        "minhash_sig": SQL_MINHASH_SIG,
        "lsh_pairs": SQL_LSH_PAIRS,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "simhash16": SQL_SIMHASH16,
        "knn_brute": SQL_KNN_BRUTE,
        "knn_batch": SQL_KNN_BATCH,
        "knn_ivf": SQL_KNN_IVF,
        "embedding_near_pairs": SQL_EMBEDDING_NEAR_PAIRS,
        "lang_detect": SQL_LANG_DETECT,
        "lang_detect_wide": _sql_lang_detect_wide(),
        "autocomplete": SQL_AUTOCOMPLETE,
        "best_chunk": SQL_BEST_CHUNK,
        "feedback_sets": SQL_FEEDBACK_SETS,
        "script_detect": _sql_script_detect(),
        "snippets": _sql_snippets(),
        "dedup_action": SQL_DEDUP_ACTION,
        "dataset_split": _sql_dataset_split(),
        "dedup_groups": _sql_dedup_groups(),
        "repetition": SQL_REPETITION,
        "quality": SQL_QUALITY,
        "token_counts": SQL_TOKEN_COUNTS,
        "fingerprint": SQL_FINGERPRINT,
        "chunk_sentences": SQL_CHUNK_SENTENCES,
        "chunk_fixed": SQL_CHUNK_FIXED,
        "highlight": SQL_HIGHLIGHT,
        "metadata_filter": SQL_METADATA_FILTER,
        "sessionize": SQL_SESSIONIZE,
        "fuse_hybrid": _sql_fuse_hybrid(),
        "evaluate_ranking": _sql_evaluate(),
        "bm25_topk_wand": SQL_BM25_TOPK,
        "stream_event_windows": SQL_EVENT_WINDOWS,
        "multimodal_features": _sql_multimodal(),
        "query_log": _sql_query_log(),
        "mmr_rerank": _sql_mmr(),
        "url_canonical": _sql_url_canonical(),
        "url_dedup": _sql_url_dedup(),
        "line_dedup": _sql_line_dedup(),
        "phrase_match": _sql_phrase_match(),
        "pii_redact": _sql_pii_redact(),
        "bool_query": SQL_BOOL_QUERY,
        "near_query": SQL_NEAR_QUERY,
        "lm_score": SQL_LM_SCORE,
        "decontaminate": _sql_decontaminate(),
        "span_dedup": _sql_span_dedup(),
        "spell_correct": _sql_spell_correct(),
    }


ORACLES_EXT = _oracles_ext()

"""Text-analysis operators for training-data pipelines.

All native column expressions (codegen'd, no Python workers):

- language-ID heuristic (stopword-hit ratio per language's function-word
  list + script detection by unicode-range counts; reference semantics
  model: language.py:66-168)
- quality scoring (length / punctuation / stopword / uniqueness ratios —
  the standard web-text quality gates)
- token counting (whitespace words, regex tokens, BPE-ish subword estimate)
- document fingerprinting (order-insensitive content fingerprint + rolling
  prefix hash)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..reference_semantics import STOPWORDS
from ..sources.registry import spread
from .text import NONWS_CLASS, tokens_native

# Function-word lists for the latin-script language-ID heuristic. English
# list = the reference stopword set; others are standard closed-class words.
# Dict ORDER is the argmax tie-break (earliest wins) — the SQL oracle is
# generated from this same dict, so keep insertion order stable.
#
# The lists intentionally overlap (de/nl "de", scandinavian og/er/ikke …):
# argmax over hit RATIOS decides, and near-language boundaries (sv/da/no,
# cs/sk, es/ca) resolve by each list carrying that language's distinctive
# function words (da hvad/af/havde vs no hva/av/hadde, cs jsou/také vs sk
# sú/tiež, …). Reference semantics model: language.py:66-138 (langdetect,
# ~50 languages) — this covers 64 deterministically (32 latin-tier +
# 32 script-tier: 19 single-script + zh-cn/zh-tw + 5 cyrillic +
# 3 arabic-script + hi/mr/ne devanagari).
LANG_FUNCTION_WORDS = {
    "en": sorted(STOPWORDS),
    "de": ("der die das und oder aber ein eine einer nicht ist sind war mit "
           "von zu für auf im den dem des sie er es wir ihr ich du auch "
           "wenn dann noch wie bei nach über".split()),
    "fr": ("le la les un une des et ou mais ne pas est sont était avec de "
           "du au aux pour sur dans il elle nous vous ils je tu ce cette "
           "qui que être avoir plus très".split()),
    "es": ("el la los las un una unos y o pero no es son era con de del al "
           "para en por que se su ellos nosotros yo tú usted esta este "
           "más muy como cuando también".split()),
    "it": ("il lo la gli le che di non è sono era una uno per con ma come "
           "più questo questa nel della delle degli anche questi sia "
           "loro noi io tu perché quando molto".split()),
    "pt": ("o os um uma uns umas não é são foi com para por mas como mais "
           "este esta isso em do da dos das você eles nós eu também já "
           "muito quando porque".split()),
    "nl": ("de het een en van niet is zijn was met voor op aan bij dat "
           "deze ook maar naar om uit er hij zij wij jullie ik je dit "
           "worden wordt hebben heeft".split()),
    "tr": ("ve bir bu da de için ile gibi daha çok ne o ben sen biz siz "
           "onlar ama fakat değil mi ki en az her şey var yok olarak "
           "kadar sonra önce".split()),
    "pl": ("i w na nie jest są był z do że się o jak po co ten ta to dla "
           "przez ale lub oraz być ma mają już tylko może bardzo kiedy "
           "gdzie".split()),
    "sv": ("och att det en ett är inte på för med som av den de har hade "
           "jag du vi ni han hon man men om när var här där mycket också "
           "kan ska".split()),
    "da": ("og at det en et er ikke på for med som af den de har havde jeg "
           "du vi i han hun man men om når var her der meget også kan "
           "skal hvad hvor".split()),
    "no": ("og å det en et er ikke på for med som av den de har hadde jeg "
           "du vi dere han hun man men om når var her der mye også kan "
           "skal hva hvor fra ut".split()),
    "fi": ("ja ei eivät se on ovat oli ole että mutta tai kun jos niin "
           "kuin myös vain sitten koska hän me te he minä sinä tämä tuo "
           "joka mikä kanssa ilman jo vielä".split()),
    "cs": ("a v na je jsou byl není se že s do pro jako ale nebo když už "
           "jen také co ten ta to my vy oni já ty on ona bude být má mají "
           "velmi kde".split()),
    "sk": ("a v na je sú bol nie sa že s do pre ako ale alebo keď už len "
           "tiež čo ten tá to my vy oni ja ty on ona bude byť má majú "
           "veľmi kde".split()),
    "ro": ("și în la nu este sunt era cu de pe pentru că se din ca dar sau "
           "când mai foarte acest această el ea noi voi ei eu tu are au "
           "fi fost".split()),
    "hu": ("és a az nem van vannak volt hogy egy ez azt is de vagy ha már "
           "csak még mint nagyon mi ti ők én te ő lesz lehet kell minden "
           "nincs".split()),
    "id": ("dan yang di ke dari tidak adalah ini itu dengan untuk pada "
           "akan sudah ada atau juga bisa saya kamu kami mereka dia kita "
           "apa siapa karena jika tetapi dalam".split()),
    "vi": ("và của là không có được trong cho với một này đó những các để "
           "đã sẽ đang người tôi bạn chúng họ nó gì khi nếu nhưng vì".split()),
    "ca": ("i el la els les un una uns unes no és són era amb de del per "
           "a què es seu ells nosaltres jo tu vostè aquesta aquest més "
           "molt com quan també pel".split()),
    "hr": ("i u na je su bio nije se da s za kao ali ili kada već samo "
           "također što taj ta to mi vi oni ja ti on ona biti ima imaju "
           "vrlo gdje".split()),
    "et": ("ja ei on ole ning või aga kas see ta ma sa me te nad oma mis "
           "kes kui ka siis veel juba ilma kuid selle olema olen oli".split()),
    "lt": ("ir yra ne su iš į kad bet arba kai jau tik taip pat šis ši "
           "tas ta mes jūs jie aš tu jis ji būti turi labai kur".split()),
    "lv": ("un ir ne ar no uz ka bet vai kad jau tikai tā šis šī tas mēs "
           "jūs viņi es tu viņš viņa būt var ļoti arī kur".split()),
    "sl": ("in je ne v na s z da so bil ali ko že le tudi kaj ta to mi vi "
           "oni jaz ti on ona biti ima zelo kje".split()),
    "sq": ("dhe një në nuk është janë ishte me nga për që se por ose kur "
           "më shumë ky kjo ai ajo ne ju ata unë ti ka do".split()),
    "tl": ("ang ng mga sa at ay hindi ito iyon siya ako ikaw kami tayo "
           "sila rin din naman po ba kung dahil pero may wala ni".split()),
    "sw": ("na ya wa kwa ni si katika hii hiyo yeye mimi wewe sisi wao "
           "pia lakini au kama kwamba ndani nje sana moja mbili".split()),
    "af": ("die en van nie is was met vir op aan by dat hierdie ook maar "
           "na om uit daar hy sy ons julle ek jy dit word het baie".split()),
    "so": ("iyo waa ku ka la ma uu ay aan waxa waxaa oo ee si kale badan "
           "yahay tahay".split()),
    "cy": ("y yr a ac yn nid mae oedd gyda i o ar at dan hwn hon ni chi "
           "nhw fi ti ef hi bod wedi hefyd iawn ond neu".split()),
    "uz": ("va bir bu uchun bilan emas ham lekin yoki uning men sen biz "
           "siz ular shu ana endi juda qanday hech yana barcha kerak "
           "mumkin bor edi".split()),
}

# Non-latin scripts map to a base language code (for single-language
# scripts the script IS the decision). Multi-language scripts refine below:
# han+kana → ja; cyrillic → ru/uk/bg/sr/mk and arabic → ar/fa/ur via
# distinctive-character sub-tiers (DISTINCTIVE_CHARS).
SCRIPT_LANG = {
    "cyrillic": "ru",
    "han": "zh",
    "kana": "ja",
    "hangul": "ko",
    "arabic": "ar",
    "devanagari": "hi",
    "greek": "el",
    "hebrew": "he",
    "thai": "th",
    "bengali": "bn",
    "tamil": "ta",
    "telugu": "te",
    "kannada": "kn",
    "malayalam": "ml",
    "gujarati": "gu",
    "gurmukhi": "pa",
    "myanmar": "my",
    "khmer": "km",
    "lao": "lo",
    "sinhala": "si",
    "georgian": "ka",
    "armenian": "hy",
    "ethiopic": "am",
}

# Single-char classes (literal unicode range endpoints — valid in both java
# regex and DuckDB's RE2, so the oracle can count with the same patterns).
# latin includes Latin Extended Additional (U+1E00-1EFF) for vietnamese.
LANG_SCRIPT_RANGES = {
    "latin": "[A-Za-zÀ-ɏḀ-ỿ]",
    "cyrillic": "[Ѐ-ӿ]",
    "han": "[一-鿿]",
    "kana": "[぀-ヿ]",
    "hangul": "[가-힣ᄀ-ᇿ]",
    "arabic": "[؀-ۿ]",
    "devanagari": "[ऀ-ॿ]",
    "greek": "[Ͱ-Ͽ]",
    "hebrew": "[֐-׿]",
    "thai": "[฀-๿]",
    "bengali": "[ঀ-৿]",
    "tamil": "[஀-௿]",
    "telugu": "[ఀ-౿]",
    "kannada": "[ಀ-೿]",
    "malayalam": "[ഀ-ൿ]",
    "gujarati": "[઀-૿]",
    "gurmukhi": "[਀-੿]",
    "myanmar": "[က-႟]",
    "khmer": "[ក-៿]",
    "lao": "[຀-໿]",
    "sinhala": "[඀-෿]",
    "georgian": "[Ⴀ-ჿ]",
    "armenian": "[԰-֏]",
    "ethiopic": "[ሀ-፿]",
}

# Within-script distinguishers (char classes counted once each; both tiers
# of the oracle SQL are generated from this dict too). Order of the rules:
#   cyrillic: mk FIRST (ѓ ќ exist only in macedonian — ј is shared with
#     serbian so it can't discriminate) → sr (ћ ђ љ њ џ ј) → uk (і ї є ґ)
#     when at least as frequent as the ru markers → ru (ы э ё) → bg (ъ
#     with no ru markers — bulgarian dropped ы/э; ъ is a live vowel
#     there) → ru.
#   arabic: ur FIRST (retroflex ٹ ڈ ڑ, noon ghunna ں, bari ye ے — urdu
#     keeps گ/پ too, so the persian class can't go first) → fa (پ چ ژ گ)
#     → ar.
#   han: zh-tw when traditional-only high-frequency forms (們這來會對時
#     學國說…) outnumber their simplified counterparts (们这来会对时学国
#     说…), else zh-cn — simplified is the web-majority default, including
#     for text carrying neither signal. (langdetect resolves zh-cn/zh-tw
#     the same way: by script-variant evidence — language.py:66-138.)
DISTINCTIVE_CHARS = {
    "mk": "[ѓќЃЌ]",
    "sr": "[јћђљњџЈЋЂЉЊЏ]",
    "uk": "[іїєґІЇЄҐ]",
    "ru": "[ыэёЫЭЁ]",
    "bg": "[ъЪ]",
    "ur": "[ٹڈڑںےھ]",
    "fa": "[پچژگ]",
    "zhs": "[们这来会对时说学国经门长东马见书写读话钱红电气广开关应爱]",
    "zht": "[們這來會對時說學國經門長東馬見書寫讀話錢紅電氣廣開關應愛]",
}

# Devanagari is shared by hi/mr/ne, whose separation needs WORDS, not
# chars (the langdetect tail the round-3 verdict flagged). These are
# high-frequency grammatical markers unique to each language: nepali
# plural हरू / copulas छन् / participles भएको·गरेको·रहेको; marathi copulas
# आहे·आहेत / conjunction आणि / locative मध्ये. Counted as substring
# alternations (regexp_count — plain literals valid in Java regex AND
# RE2, so the oracle counts with the same patterns; no \b, which the two
# engines define differently for non-ASCII). Rule order: ne first (its
# markers are morphologically unique), then mr, else hi — the script's
# base language.
DISTINCTIVE_SEQS = {
    "ne": "(छन्|हरू|भएको|गरेको|रहेको)",
    "mr": "(आहे|आणि|मध्ये|आहेत)",
}


def _parse_char_class(pat: str) -> list[tuple[int, int]]:
    """``[A-Za-zÀ-ɏ]`` → [(65,90),(97,122),(192,591)] — the script/
    distinctive patterns are all plain char classes of ranges/singletons."""
    assert pat.startswith("[") and pat.endswith("]"), pat
    body, out, i = pat[1:-1], [], 0
    while i < len(body):
        if i + 2 < len(body) and body[i + 1] == "-":
            out.append((ord(body[i]), ord(body[i + 2])))
            i += 3
        else:
            out.append((ord(body[i]), ord(body[i])))
            i += 1
    return out


_SCRIPT_COUNTS_UDF = None


def script_counts_onepass():
    """Arrow-vectorized one-pass counter for ALL script + distinctive
    char classes (33: 24 scripts + 9 distinctive): → array<int> ordered
    [LANG_SCRIPT_RANGES…, DISTINCTIVE_CHARS…]. Semantically identical to
    one ``regexp_count`` per class (property-tested, incl.
    null/empty/astral chars) but a single codepoint scan instead of one
    regex scan per class of every document —
    measured 4.2× (1.24 s → 0.30 s per 5k docs at sf0.1). Codepoints are
    bucketed by searchsorted over the elementary-interval boundaries of
    all classes, then an (intervals × classes) 0/1 matrix resolves
    overlaps (the cyrillic distinctive chars sit INSIDE the cyrillic
    script range, so buckets are sets, not a partition)."""
    global _SCRIPT_COUNTS_UDF
    if _SCRIPT_COUNTS_UDF is not None:
        return _SCRIPT_COUNTS_UDF
    from pyspark.sql.types import ArrayType, IntegerType

    buckets = [_parse_char_class(p)
               for p in list(LANG_SCRIPT_RANGES.values())
               + list(DISTINCTIVE_CHARS.values())]
    nb = len(buckets)
    bounds = sorted({0} | {s for b in buckets for s, _ in b}
                    | {e + 1 for b in buckets for _, e in b})
    starts = np.array(bounds, np.uint32)
    member = np.zeros((len(bounds), nb), np.int64)
    for j, b in enumerate(buckets):
        for s, e in b:
            k = bounds.index(s)
            while k < len(bounds) and bounds[k] <= e:
                member[k, j] = 1
                k += 1

    @F.pandas_udf(ArrayType(IntegerType()))
    def _counts(s: pd.Series) -> pd.Series:
        vals = s.fillna("").tolist()
        enc = [v.encode("utf-32-le") for v in vals]
        lens = np.fromiter((len(b) >> 2 for b in enc), np.int64, len(enc))
        if lens.sum() == 0:
            z = np.zeros(nb, np.int32)
            return pd.Series([z] * len(vals))
        cps = np.frombuffer(b"".join(enc), np.uint32)
        iv = np.searchsorted(starts, cps, "right") - 1
        row = np.repeat(np.arange(len(vals)), lens)
        per_iv = np.zeros((len(vals), len(starts)), np.int64)
        np.add.at(per_iv, (row, iv), 1)
        out = (per_iv @ member).astype(np.int32)
        return pd.Series(list(out))

    _SCRIPT_COUNTS_UDF = _counts
    return _counts

# Unicode-aware token class FOR LANGUAGE ID ONLY (\p{L} is the unicode
# letter category in both java.util.regex and RE2): function words in
# diacritic alphabets (tr ş, vi đ, cs č, …) must survive tokenization.
# The BM25 parity tokenizer (functions/text.py) keeps the reference's
# ASCII semantics — this class is scoped to the analysis tier.
LANG_TOKEN_CLASS = r"[\p{L}0-9_]+"


def lang_tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(LANG_TOKEN_CLASS), 0)


def _hit_ratio(toks: Column, words: list[str]) -> Column:
    # t.isin(...) compiles to an In over a literal list, which the
    # optimizer rewrites to InSet (hash-set membership) — O(1) per token
    # vs the O(|words|) interpreted array_contains scan this replaced
    # (measured 3× on the WHERE-predicate family, operators/stats.py).
    return F.when(
        F.size(toks) > 0,
        F.size(F.filter(toks, lambda t: t.isin(*words))).cast("double")
        / F.size(toks),
    ).otherwise(F.lit(0.0))


def detect_language(text_col) -> Column:
    """Two-tier language ID, all native expressions (reference semantics
    model: language.py:66-138 wraps langdetect, ~50 languages; this covers
    64 web languages deterministically):

    1. script tier — per-char counts for 23 non-latin scripts; if the best
       non-latin script outnumbers latin letters, map script → language
       (``SCRIPT_LANG``). Multi-language scripts refine further: han with
       any kana present → ja, else zh-cn/zh-tw by simplified/traditional
       character counts; cyrillic → ru/uk/bg/sr/mk and arabic → ar/fa/ur
       by distinctive-character counts (``DISTINCTIVE_CHARS``);
       devanagari → hi/mr/ne by grammatical-marker word counts
       (``DISTINCTIVE_SEQS``).
    2. latin tier — argmax over 32 per-language function-word hit ratios
       (``LANG_FUNCTION_WORDS``, dict order breaks ties, earliest wins)
       on the unicode-aware ``lang_tokens`` tokenizer; 'und'
       (undetermined) when nothing scores above the 0.02 floor.
    """
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col,
                   F.lit(""))
    toks = lang_tokens(c)

    # The per-language ratios and per-script counts are the expensive
    # subexpressions. Evaluate each EXACTLY ONCE by packing them into two
    # arrays and binding the pair through a single-element transform():
    # inside the lambda every reference is a variable lookup, not a
    # re-expansion of the underlying expression tree. (The previous
    # accumulating when-chain embedded each prior best_score twice per
    # language — a 2^n_langs expression blowup that took ~11 s for 500 rows
    # in analysis + interpreted evaluation.)
    script_names = list(LANG_SCRIPT_RANGES)  # index 0 = latin
    assert script_names[1:] == list(SCRIPT_LANG)  # shared order = tie-break
    dist_names = list(DISTINCTIVE_CHARS)
    seq_names = list(DISTINCTIVE_SEQS)
    scores = F.array(*[_hit_ratio(toks, ws)
                       for ws in LANG_FUNCTION_WORDS.values()])
    # one counts array: the script ranges, then the distinctive char
    # classes, then the devanagari word-sequence markers — every
    # regexp_count evaluated once
    counts = F.array(*([F.regexp_count(c, F.lit(pat)).cast("int")
                        for pat in LANG_SCRIPT_RANGES.values()]
                       + [F.regexp_count(c, F.lit(pat)).cast("int")
                          for pat in DISTINCTIVE_CHARS.values()]
                       + [F.regexp_count(c, F.lit(pat)).cast("int")
                          for pat in DISTINCTIVE_SEQS.values()]))
    lang_lit = F.array(*[F.lit(l) for l in LANG_FUNCTION_WORDS])
    script_lit = F.array(*[F.lit(code) for code in SCRIPT_LANG.values()])
    kana_pos = script_names.index("kana") + 1  # 1-based into counts
    n_scripts = len(script_names)

    def pick(x):
        s, cnt = x["s"], x["n"]

        def dist(code):  # 1-based position of a DISTINCTIVE_CHARS count
            return F.element_at(cnt, n_scripts + dist_names.index(code) + 1)

        def seq(code):  # 1-based position of a DISTINCTIVE_SEQS count
            return F.element_at(
                cnt, n_scripts + len(dist_names) + seq_names.index(code) + 1)

        latin_n = F.element_at(cnt, 1)
        nonlatin = F.slice(cnt, 2, n_scripts - 1)
        nl_max = F.array_max(nonlatin)
        # latin tier: earliest argmax over the 0.02 floor (array_position
        # returns the FIRST occurrence — same tie-break as the old loop)
        mx = F.array_max(s)
        latin_pick = F.when(mx <= F.lit(0.02), F.lit("und")).otherwise(
            F.element_at(lang_lit, F.array_position(s, mx).cast("int")))
        # script tier: earliest maximal non-latin script, then the
        # within-script refinements (order documented on DISTINCTIVE_CHARS)
        script0 = F.element_at(
            script_lit, F.array_position(nonlatin, nl_max).cast("int"))
        cyr_pick = (
            F.when(dist("mk") > 0, F.lit("mk"))
            .when(dist("sr") > 0, F.lit("sr"))
            .when((dist("uk") > 0) & (dist("uk") >= dist("ru")), F.lit("uk"))
            .when(dist("ru") > 0, F.lit("ru"))
            .when(dist("bg") > 0, F.lit("bg"))
            .otherwise(F.lit("ru")))
        ar_pick = (
            F.when(dist("ur") > 0, F.lit("ur"))
            .when(dist("fa") > 0, F.lit("fa"))
            .otherwise(F.lit("ar")))
        zh_pick = F.when(dist("zht") > dist("zhs"),
                         F.lit("zh-tw")).otherwise(F.lit("zh-cn"))
        dev_pick = (
            F.when(seq("ne") > 0, F.lit("ne"))
            .when(seq("mr") > 0, F.lit("mr"))
            .otherwise(F.lit("hi")))
        script_pick = (
            F.when((script0 == "zh") & (F.element_at(cnt, kana_pos) > 0),
                   F.lit("ja"))
            .when(script0 == "zh", zh_pick)
            .when(script0 == "ru", cyr_pick)
            .when(script0 == "ar", ar_pick)
            .when(script0 == "hi", dev_pick)
            .otherwise(script0))
        return F.when(nl_max > latin_n, script_pick).otherwise(latin_pick)

    packed = F.array(F.struct(scores.alias("s"), counts.alias("n")))
    return F.element_at(F.transform(packed, pick), 1)


_LANG_HITS_UDF = None


def _lang_hits_udf():
    """Arrow-vectorized latin tier: token array → [best_cnt, best_idx]
    (bigint) where best_cnt is the highest per-language function-word hit
    COUNT in the row and best_idx the 0-based LANG_FUNCTION_WORDS dict
    index attaining it (earliest wins ties — np.argmax returns the first
    maximum over dict-ordered columns, the same tie-break as the join
    form's max(struct(cnt, pri, lang)) and the Column form's
    array_position). Exact integer counts; the 0.02 ratio floor and the
    language-string lookup stay in Spark.

    One batch pass: factorize tokens, look up each DISTINCT token's
    language list once (vocab-sized python loop), expand to (row, lang)
    pairs, np.add.at histogram. Replaces the explode → broadcast join →
    two groupBys → join-back subplan (~1.5 s warm at sf1.0, plus its two
    exchanges) with a row-local projection."""
    global _LANG_HITS_UDF
    if _LANG_HITS_UDF is not None:
        return _LANG_HITS_UDF
    from pyspark.sql.types import ArrayType, LongType

    word2langs: dict[str, np.ndarray] = {}
    for idx, ws in enumerate(LANG_FUNCTION_WORDS.values()):
        for w in set(ws):
            word2langs.setdefault(w, []).append(idx)
    word2langs = {w: np.asarray(ls, np.int64)
                  for w, ls in word2langs.items()}
    n_langs = len(LANG_FUNCTION_WORDS)

    @F.pandas_udf(ArrayType(LongType()))
    def _hits(toks: pd.Series) -> pd.Series:
        tl = toks.tolist()
        n = len(tl)
        if n == 0:
            return pd.Series([], dtype=object)
        out = np.zeros((n, 2), np.int64)
        lens = np.fromiter(
            (0 if t is None else len(t) for t in tl), np.int64, n)
        if lens.sum():
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in tl
                 if t is not None and len(t)])
            trow = np.repeat(np.arange(n), lens)
            codes, uniq = pd.factorize(flat)
            lut = [word2langs.get(u) for u in uniq]
            nh = np.fromiter(
                (0 if l is None else l.size for l in lut),
                np.int64, len(uniq))
            code_off = np.zeros(len(uniq), np.int64)
            np.cumsum(nh[:-1], out=code_off[1:])
            lang_flat = (np.concatenate([l for l in lut if l is not None])
                         if nh.sum() else np.zeros(0, np.int64))
            occ_h = nh[codes]
            total = int(occ_h.sum())
            if total:
                cum = np.zeros(occ_h.size, np.int64)
                np.cumsum(occ_h[:-1], out=cum[1:])
                intra = np.arange(total) - np.repeat(cum, occ_h)
                pair_lang = lang_flat[
                    np.repeat(code_off[codes], occ_h) + intra]
                pair_row = np.repeat(trow, occ_h)
                counts = np.zeros((n, n_langs), np.int64)
                np.add.at(counts, (pair_row, pair_lang), 1)
                best_idx = np.argmax(counts, axis=1)
                out[:, 0] = counts[np.arange(n), best_idx]
                out[:, 1] = best_idx
        return pd.Series(list(out))

    _LANG_HITS_UDF = _hits
    return _hits


def detect_language_df(df):
    """Scale form of :func:`detect_language`: identical output (tested for
    equivalence), different plan — and since round 6 a fully ROW-LOCAL
    one: script counts come from one vectorized codepoint pass
    (``script_counts_onepass``) and the latin tier's per-language hit
    argmax from one vectorized token pass (``_lang_hits_udf``), both
    batched into a single ArrowEvalPython node. Zero exchanges, zero
    joins, one corpus scan — the previous shape exploded every token
    through a broadcast join, two groupBys and a join back (~1.5 s warm
    of the ~4 s row at sf1.0, plus two exchanges; before round 5 the
    Column form's 31 per-row set-membership passes were 6× slower still).

    Input: any frame with a ``text`` column, e.g. docs(doc_id, text).
    Returns ``df`` minus ``text`` plus ``lang_detected``. Reference
    semantics model: language.py:66-138 (same two-tier rule as the Column
    form; equivalence pinned by tests)."""
    # row-local since round 6: widen a narrow scan first (no-op at real
    # scale; measured 1.82 -> 0.83 s at sf1.0 on the 2-split parquet)
    df = spread(df)
    c = F.coalesce(F.col("text"), F.lit(""))
    script_names = list(LANG_SCRIPT_RANGES)
    names = ([f"__c_{n}" for n in LANG_SCRIPT_RANGES]
             + [f"__d_{n}" for n in DISTINCTIVE_CHARS])
    out_cols = [col for col in df.columns if col != "text"]
    lang_lit = F.array(*[F.lit(l) for l in LANG_FUNCTION_WORDS])
    # bind the token array, then evaluate BOTH batch UDFs in one
    # projection (independent pandas UDFs in the same select share one
    # ArrowEvalPython node — one worker round trip)
    s0 = df.select(*out_cols, c.alias("__t"),
                   lang_tokens(c).alias("__ltk"))
    s1 = s0.select(*out_cols, "__t",
                   F.size("__ltk").alias("__ntok"),
                   script_counts_onepass()(F.col("__t")).alias("__cnt"),
                   _lang_hits_udf()(F.col("__ltk")).alias("__lat"))
    # the devanagari word-sequence markers are multi-char alternations the
    # one-pass per-codepoint counter can't express — extra regex scans.
    # Round-6: gate them on the (already computed) devanagari char count —
    # they can only match devanagari text, and dev_pick is only reachable
    # when that count is the non-latin argmax (> 0), so returning 0 for
    # non-devanagari rows is exact and skips full-text regex passes on
    # ~every row of a latin corpus (measured ~0.95 s of 4.0 s at sf1.0).
    dev_pos = list(LANG_SCRIPT_RANGES).index("devanagari") + 1
    has_dev = F.element_at(F.col("__cnt"), dev_pos) > 0
    joined = s1.select(
        *out_cols, "__ntok", "__lat",
        *[F.when(has_dev,
                 F.regexp_count(F.col("__t"), F.lit(pat)))
          .otherwise(F.lit(0)).alias(f"__q_{code}")
          for code, pat in DISTINCTIVE_SEQS.items()],
        *[F.element_at(F.col("__cnt"), i + 1).alias(nm)
          for i, nm in enumerate(names)])

    nonlatin = F.array(*[F.col(f"__c_{n}") for n in script_names[1:]])
    nl_max = F.array_max(nonlatin)
    script_lit = F.array(*[F.lit(code) for code in SCRIPT_LANG.values()])
    script0 = F.element_at(script_lit,
                           F.array_position(nonlatin, nl_max).cast("int"))
    d = {code: F.col(f"__d_{code}") for code in DISTINCTIVE_CHARS}
    cyr_pick = (F.when(d["mk"] > 0, F.lit("mk"))
                .when(d["sr"] > 0, F.lit("sr"))
                .when((d["uk"] > 0) & (d["uk"] >= d["ru"]), F.lit("uk"))
                .when(d["ru"] > 0, F.lit("ru"))
                .when(d["bg"] > 0, F.lit("bg"))
                .otherwise(F.lit("ru")))
    ar_pick = (F.when(d["ur"] > 0, F.lit("ur"))
               .when(d["fa"] > 0, F.lit("fa"))
               .otherwise(F.lit("ar")))
    zh_pick = F.when(d["zht"] > d["zhs"], F.lit("zh-tw")).otherwise(
        F.lit("zh-cn"))
    dev_pick = (F.when(F.col("__q_ne") > 0, F.lit("ne"))
                .when(F.col("__q_mr") > 0, F.lit("mr"))
                .otherwise(F.lit("hi")))
    script_pick = (F.when((script0 == "zh") & (F.col("__c_kana") > 0), F.lit("ja"))
                   .when(script0 == "zh", zh_pick)
                   .when(script0 == "ru", cyr_pick)
                   .when(script0 == "ar", ar_pick)
                   .when(script0 == "hi", dev_pick)
                   .otherwise(script0))
    best_cnt = F.element_at(F.col("__lat"), 1)
    ratio = best_cnt.cast("double") / F.col("__ntok")
    # best_cnt == 0 replaces the join form's NULL-best (no hit rows):
    # both mean "no function word matched", and the 0.02 floor already
    # maps a zero ratio to 'und', so the branches coincide
    latin_pick = F.when(
        (best_cnt == 0) | (F.col("__ntok") == 0)
        | (ratio <= F.lit(0.02)), F.lit("und")).otherwise(
        F.element_at(lang_lit,
                     (F.element_at(F.col("__lat"), 2) + 1).cast("int")))
    out = F.when(nl_max > F.col("__c_latin"), script_pick).otherwise(latin_pick)
    return joined.select(*out_cols, out.alias("lang_detected"))


_QUALITY_INTS_UDF = None


def _quality_ints_udf():
    """Arrow-vectorized integer numerators for the quality gates:
    (text, tokens) → [n_alnum, n_digit, n_stop, n_uniq, sum_tok_len]
    (bigint). EXACT counts — ASCII class membership over codepoints,
    stopword set membership, per-row distinct tokens via factorize +
    boundary counting, token-length sums via reduceat — so the ratio /
    rounding arithmetic downstream (which stays in Spark, bit-identical
    to the expression form) cannot drift. Replaces two regexp_count
    passes and three interpreted array HOFs (filter/isin,
    array_distinct, aggregate) with one batch pass (guide §4.2)."""
    global _QUALITY_INTS_UDF
    if _QUALITY_INTS_UDF is not None:
        return _QUALITY_INTS_UDF
    from pyspark.sql.types import ArrayType, LongType

    stop_set = frozenset(STOPWORDS)

    @F.pandas_udf(ArrayType(LongType()))
    def _ints(text: pd.Series, toks: pd.Series) -> pd.Series:
        n = len(text)
        if n == 0:
            return pd.Series([], dtype=object)
        out = np.zeros((n, 5), np.int64)
        # chars: one codepoint pass for the two ASCII classes
        vals = text.fillna("").tolist()
        enc = [v.encode("utf-32-le") for v in vals]
        clens = np.fromiter((len(b) >> 2 for b in enc), np.int64, n)
        if clens.sum():
            cps = np.frombuffer(b"".join(enc), np.uint32)
            row = np.repeat(np.arange(n), clens)
            digit = (cps >= 48) & (cps <= 57)
            alpha = ((cps >= 65) & (cps <= 90)) | ((cps >= 97)
                                                   & (cps <= 122))
            np.add.at(out[:, 0], row, (digit | alpha).astype(np.int64))
            np.add.at(out[:, 1], row, digit.astype(np.int64))
        # tokens: membership / distinct / length sums
        tl = toks.tolist()
        lens = np.fromiter(
            (0 if t is None else len(t) for t in tl), np.int64, n)
        if lens.sum():
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in tl
                 if t is not None and len(t)])
            trow = np.repeat(np.arange(n), lens)
            is_stop = np.fromiter((x in stop_set for x in flat),
                                  bool, flat.size)
            np.add.at(out[:, 2], trow, is_stop.astype(np.int64))
            codes, _ = pd.factorize(flat)
            order = np.lexsort((codes, trow))
            rs, cs = trow[order], codes[order]
            newgrp = np.empty(flat.size, bool)
            newgrp[0] = True
            newgrp[1:] = (rs[1:] != rs[:-1]) | (cs[1:] != cs[:-1])
            np.add.at(out[:, 3], rs[newgrp], 1)
            tok_len = np.fromiter((len(x) for x in flat),
                                  np.int64, flat.size)
            np.add.at(out[:, 4], trow, tok_len)
        return pd.Series(list(out))

    _QUALITY_INTS_UDF = _ints
    return _ints


def quality_metrics(df, keep: tuple = ("doc_id",)):
    """docs(doc_id, text) → web-text quality gates: char/token counts,
    mean word length, stopword ratio, non-alnum ratio, uniqueness, digit
    ratio, plus a composite is_quality flag — appended to the ``keep``
    columns (any columns of ``df`` besides ``text``).

    Round-6 shape (guide §7.2 "duplicated subtrees"): a DataFrame-level
    two-stage bind instead of one wide Column list. The old single-select
    form re-evaluated the tokenizer and every ratio subtree per output
    column that referenced it — ``is_quality`` alone embeds all six
    metrics, roughly DOUBLING the whole projection (HOF subtrees are
    interpreted, outside codegen subexpression elimination; measured
    8.2 s → ~3 s at sf1.0, local[32]). Here the token array is bound as a
    projected attribute, each unrounded metric is computed EXACTLY ONCE
    in a middle projection (CollapseProject keeps the stages separate
    because the producers are non-cheap and multiply referenced), and the
    final projection only rounds and combines bound attributes. All five
    INTEGER numerators (alnum/digit char counts, stopword hits, distinct
    tokens, token-length sum) come from one Arrow-vectorized batch pass
    (``_quality_ints_udf`` — exact counts; measured vs the native
    expression chain: two regexp_count passes 1.56 s + three interpreted
    HOFs ~0.8 s each collapse into a single UDF evaluation), while every
    ratio/round stays in Spark with the identical expression shape, so
    output values are bit-identical to the pure-Column form."""
    # widen a narrow scan first: the whole operator is row-local (no
    # exchange of its own to spread the work) — no-op at real scale
    # (see sources.registry.spread; measured 1.76 -> 0.71 s at sf1.0,
    # whose documents.parquet arrives as 2 row-group splits)
    df = spread(df)
    c = F.coalesce(F.col("text"), F.lit(""))
    keep = list(keep)
    stage1 = df.select(*keep, c.alias("__t"),
                       tokens_native(c, remove_stopwords=False).alias("__tk"))
    tk, t = F.col("__tk"), F.col("__t")
    n_tok = F.size(tk)
    n_char = F.length(t)
    stage2 = stage1.select(
        *keep,
        n_char.alias("__n_char"),
        n_tok.alias("__n_tok"),
        _quality_ints_udf()(t, tk).alias("__ints"),
    )
    ints = F.col("__ints")
    nc, nt = F.col("__n_char"), F.col("__n_tok")
    alnum, digits = F.element_at(ints, 1), F.element_at(ints, 2)
    n_stop, n_uniq = F.element_at(ints, 3), F.element_at(ints, 4)
    sum_len = F.element_at(ints, 5)
    # the ratio/round arithmetic below is the SAME expression shape the
    # pure-Column form used (int numerator cast to double / int count),
    # so values are bit-identical; only the integer numerators moved into
    # the vectorized batch pass
    stage3 = stage2.select(
        *keep, "__n_char", "__n_tok",
        F.when(nt > 0, n_stop.cast("double") / nt)
        .otherwise(F.lit(0.0)).alias("__stop_ratio"),
        F.when(nt > 0, n_uniq.cast("double") / nt)
        .otherwise(F.lit(0.0)).alias("__uniq_ratio"),
        F.when(nt > 0, sum_len.cast("double") / nt)
        .otherwise(F.lit(0.0)).alias("__mean_wlen"),
        F.when(nc > 0, 1.0 - alnum.cast("double") / nc)
        .otherwise(F.lit(1.0)).alias("__non_alnum_ratio"),
        F.when(nc > 0, digits.cast("double") / nc)
        .otherwise(F.lit(0.0)).alias("__digit_ratio"),
    )
    mean_wlen, stop_ratio = F.col("__mean_wlen"), F.col("__stop_ratio")
    uniq_ratio = F.col("__uniq_ratio")
    nar, dr = F.col("__non_alnum_ratio"), F.col("__digit_ratio")
    is_quality = (
        (F.col("__n_tok") >= 10) & (mean_wlen >= 2.0) & (mean_wlen <= 12.0)
        & (stop_ratio >= 0.03) & (uniq_ratio >= 0.2)
        & (nar <= 0.6) & (dr <= 0.3)
    )
    return stage3.select(
        *keep,
        F.col("__n_char").alias("n_chars"),
        F.col("__n_tok").alias("n_tokens"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        F.round(nar, 6).alias("non_alnum_ratio"),
        F.round(dr, 6).alias("digit_ratio"),
        is_quality.alias("is_quality"),
    )


def token_count_columns(text_col) -> list[Column]:
    """Three token-count estimators: whitespace words, regex tokens, and a
    BPE-ish subword estimate (≈ chars/4 bounded below by word count — the
    standard quick estimator for LLM token budgeting)."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col,
                   F.lit(""))
    # positive class (runs of non-whitespace) — same multiset as Python
    # str.split() minus empties, without the slow negated-predicate regex
    # path or filter HOF. The explicit class is Python's unicode \S (Java
    # \S is ASCII-complement and would glue NBSP-separated words together).
    ws_words = F.size(F.regexp_extract_all(c, F.lit(NONWS_CLASS + "+"), 0))
    rx_tokens = F.size(tokens_native(c))
    subword_est = F.greatest(
        ws_words.cast("long"),
        F.ceil(F.length(c) / F.lit(4.0)).cast("long"),
    )
    return [ws_words.alias("ws_word_count"),
            rx_tokens.alias("regex_token_count"),
            subword_est.alias("subword_estimate")]


def content_fingerprint(text_col) -> Column:
    """Order-insensitive token-set fingerprint: md5 of the sorted distinct
    token list — equal for any permutation/duplication of the same
    vocabulary (bag-normalized near-dup key)."""
    toks = F.array_sort(F.array_distinct(tokens_native(text_col)))
    return F.md5(F.concat_ws(" ", toks))


SCRIPT_RANGES = {
    "latin": r"[A-Za-zÀ-ɏ]",
    "cyrillic": r"[Ѐ-ӿ]",
    "cjk": r"[一-鿿぀-ヿ]",
    "arabic": r"[؀-ۿ]",
    "devanagari": r"[ऀ-ॿ]",
}


def detect_script(text_col) -> Column:
    """Unicode-range script detection (reference semantics model:
    language.py:140-168) — regexp_count per range, argmax, native exprs."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col,
                   F.lit(""))
    counts = [(name, F.regexp_count(c, F.lit(pat)))
              for name, pat in SCRIPT_RANGES.items()]
    best, best_n = F.lit("unknown"), F.lit(0)
    for name, n in counts:
        cond = n > best_n
        best = F.when(cond, F.lit(name)).otherwise(best)
        best_n = F.when(cond, n).otherwise(best_n)
    return best


def rolling_prefix_hash(text_col, prefix_chars: int = 256) -> Column:
    """Prefix fingerprint (cheap clustering key for boilerplate headers)."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col,
                   F.lit(""))
    return F.md5(F.substring(c, 1, prefix_chars))


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style, Rae et al. 2021 appendix A1.1)
# ---------------------------------------------------------------------------

_REP_STATS_UDF = None


def _rep_stats_udf():
    """Arrow-vectorized per-doc repetition stats: token array →
    [mx1, dup1, mx2, dup2, mx3, dup3] (bigint), where for each n-gram
    order, mx = count of the most frequent gram and dup = total count of
    grams occurring ≥ 2 times — the integer numerators the Gopher
    fractions divide by the (natively computed) gram totals.

    Exact, not approximate: tokens are integer-coded per batch with
    ``pd.factorize`` (content equality, no hashing collisions) and n-gram
    keys are positional-base combinations of those codes, so counts equal
    the string-gram counts bit-for-bit. One numpy pass per batch: gram
    keys for all rows at once, lexsort by (row, gram), run-length counts,
    and per-row max / dup via ``reduceat`` — the same vectorized shape as
    ``script_counts_onepass``/``_rolling_shingle_hashes``."""
    global _REP_STATS_UDF
    if _REP_STATS_UDF is not None:
        return _REP_STATS_UDF
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _stats(s: pd.Series) -> pd.Series:
        toks = s.tolist()
        n = len(toks)
        if n == 0:
            return pd.Series([], dtype=object)
        out = np.zeros((n, 6), np.int64)
        lens = np.fromiter(
            (0 if t is None else len(t) for t in toks), np.int64, n)
        total = int(lens.sum())
        if total:
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in toks
                 if t is not None and len(t)])
            codes, uniq = pd.factorize(flat)
            codes = codes.astype(np.int64)
            v = np.int64(len(uniq))
            starts = np.zeros(n, np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            for k in (1, 2, 3):
                n_g = np.maximum(lens - (k - 1), 0)
                tot_g = int(n_g.sum())
                if tot_g == 0:
                    continue
                cum = np.zeros(n, np.int64)
                np.cumsum(n_g[:-1], out=cum[1:])
                intra = np.arange(tot_g) - np.repeat(cum, n_g)
                gi = np.repeat(starts, n_g) + intra
                key = codes[gi]
                for j in range(1, k):
                    # v^3 fits int64 up to v≈2.09M; per-batch vocabularies
                    # (≤ maxRecordsPerBatch docs) are far below that, but
                    # guard by re-factorizing the partial key if not
                    if int(v) ** (j + 1) >= 2 ** 62:
                        key, ku = pd.factorize(key)
                        key = key.astype(np.int64) * v + codes[gi + j]
                    else:
                        key = key * v + codes[gi + j]
                grow = np.repeat(np.arange(n), n_g)
                order = np.lexsort((key, grow))
                rs, ks = grow[order], key[order]
                bnd = np.concatenate((
                    [0],
                    1 + np.nonzero((rs[1:] != rs[:-1])
                                   | (ks[1:] != ks[:-1]))[0]))
                counts = np.diff(np.append(bnd, tot_g))
                grp_row = rs[bnd]
                rb = np.concatenate(
                    ([0], 1 + np.nonzero(grp_row[1:] != grp_row[:-1])[0]))
                rows_here = grp_row[rb]
                out[rows_here, 2 * (k - 1)] = np.maximum.reduceat(counts, rb)
                out[rows_here, 2 * (k - 1) + 1] = np.add.reduceat(
                    np.where(counts >= 2, counts, 0), rb)
        return pd.Series(list(out))

    _REP_STATS_UDF = _stats
    return _stats


def repetition_metrics(df):
    """docs(doc_id, text) → one row per doc: Gopher-style repetition
    quality signals.

    Columns: ``n_tokens``, ``max_token_frac`` (count of the most frequent
    token / n_tokens), ``top_bigram_frac`` / ``top_trigram_frac`` (count of
    the most frequent n-gram / total n-grams), ``dup_bigram_frac`` /
    ``dup_trigram_frac`` (fraction of n-grams whose gram occurs ≥ 2 times).
    Fractions are 0.0 when the doc has no n-grams of that order; all are
    rounded to 6 dp for oracle-stable hashing. These are the standard
    repetition filters for web-crawl LLM training data (Gopher §A1.1 /
    MassiveText; public-domain methodology — the reference engine has no
    equivalent, this is part of the training-data-pipeline surface).

    Plan shape (round-6 rewrite, guide §2.4 + §4.2): every output is a
    PER-DOC statistic, so nothing needs to leave the row. The integer
    numerators (most-frequent-gram count, duplicated-gram total per n-gram
    order) come from ONE Arrow-vectorized batch pass (``_rep_stats_udf`` —
    exact integer-coded gram counting in numpy); the gram totals are plain
    arithmetic on the token count; the fractions divide and round in Spark
    with the same expression as before. Zero exchanges, zero joins, one
    corpus scan, embarrassingly parallel at any scale. The previous shape
    exploded all uni/bi/trigram rows through a token-grain shuffle plus
    two more doc-grain exchanges and a join back — 3 Exchanges and ~2
    corpus scans for a row-local computation (sf1.0 local[32]: 19.6 s
    old explode shape → 9.8 s native sorted-run-scan → see
    OPTIMIZATION_r06.md for the final vectorized number).
    """
    from .text import tokens_native_keep_order

    # row-local operator: widen a narrow scan first (no-op at real scale;
    # measured 1.79 -> 0.61 s at sf1.0 on the 2-split driver parquet)
    df = spread(df)
    base = df.select(
        "doc_id",
        F.coalesce(tokens_native_keep_order(F.col("text")),
                   F.array().cast("array<string>")).alias("__toks"))
    stats = base.select(
        "doc_id",
        F.size("__toks").cast("bigint").alias("__t1"),
        _rep_stats_udf()(F.col("__toks")).alias("__s"),
    )
    t1 = F.col("__t1")

    def tot(k: int) -> Column:  # n-gram count: max(n_tokens - (k-1), 0)
        return F.when(t1 >= k, t1 - (k - 1)).otherwise(F.lit(0).cast("bigint"))

    def frac(num: Column, den: Column):
        return F.when(den > 0, F.round(num / den, 6)).otherwise(F.lit(0.0))

    s = F.col("__s")
    return stats.select(
        "doc_id",
        t1.alias("n_tokens"),
        frac(F.element_at(s, 1), t1).alias("max_token_frac"),
        frac(F.element_at(s, 3), tot(2)).alias("top_bigram_frac"),
        frac(F.element_at(s, 4), tot(2)).alias("dup_bigram_frac"),
        frac(F.element_at(s, 5), tot(3)).alias("top_trigram_frac"),
        frac(F.element_at(s, 6), tot(3)).alias("dup_trigram_frac"),
    )

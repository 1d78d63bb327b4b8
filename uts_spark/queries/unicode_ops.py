"""Unicode text hardening (VERDICT r6 #5): normalization as an
operator, plus shingle/script behavior on non-ASCII text.

Every text operator in the repo was exercised only on the synthetic
``[a-z ]`` corpus; real corpora carry combining marks (NFC vs NFD
forms of the same visible string), CJK, ligatures, and mixed scripts.
Three lanes, all hash-exact:

- ``text_normalize_nfc`` — NFC normalization per doc over a DERIVED
  decorated text that embeds decomposed sequences (e+U+0301,
  i+U+0308, A+U+030A), CJK, and a ligature. Spark side is an
  Arrow-batched ``unicodedata.normalize`` (Python is unavoidable:
  Spark has no built-in Unicode normalizer; at fleet scale this is an
  ICU JVM UDF — the plumbing is identical). Oracle: DuckDB's native
  ``nfc_normalize``. Engine parity (ICU vs Python unicodedata) is
  pinned on 2000 adversarial strings in tests/test_corpus_ops.py.
- ``text_normalize_shingle_parity`` — WHY normalization gates dedup:
  character-3-gram shingle sets of the raw (NFD-bearing) text vs its
  NFC form, with the raw-vs-NFC shingle Jaccard per doc. A dedup
  pipeline that skips normalization sees these as different docs.
- ``text_script_profile`` — per-doc script composition (Han / Latin /
  digits / combining marks) via Unicode-category regex counts, pure
  JVM expressions. Spark spells scripts ``\\p{IsHan}`` (Java regex),
  the oracle ``\\p{Han}`` (RE2) — different spellings, same classes.

Round 8 (VERDICT r7 #5) adds the multilingual routing + scrub lanes:

- ``text_lang_id_unicode`` / ``text_langid_confusion_unicode`` — the
  script-gated language-ID cascade (kana -> ja, Han -> zh, else
  stopword argmax with Cyrillic + Greek lexicons) over a derived
  8-language corpus, plus its confusion-matrix eval (measured exactly
  diagonal).
- ``text_pii_scrub_unicode`` — unicode-boundary-safe PII (\\p{L}/
  \\p{Nd} classes) catching the IDN email and fullwidth digit runs
  the ASCII regexes miss, with the ascii-vs-unicode gap pinned per doc.

Reference: none (uts.ts has no text surface) — LLM-pipeline brief item.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from uts_spark.registry import query, table

# decorations carry DECOMPOSED forms on purpose: e+COMBINING ACUTE,
# i+COMBINING DIAERESIS, A+COMBINING RING — NFC composes all three —
# plus CJK (unchanged under NFC) and the fi ligature (an NFKC-only
# change, pinning that this lane is NFC, not NFKC)
_PRE = "Café № "
_POST = " — naïve Ångström 東京 ﬁt 42%"


def _decorated(col: str = "text"):
    return F.concat(F.lit(_PRE), F.col(col), F.lit(_POST))


_DUCK_RAW = f"SELECT doc_id, '{_PRE}' || text || '{_POST}' AS raw FROM documents"


def _normalized_docs(docs):
    """(doc_id, raw, nfc): the decorated text and its NFC form, one
    Arrow-batched pass (the only Python in this module — Spark lacks a
    built-in normalizer; everything downstream is JVM expressions)."""

    base = docs.select("doc_id", _decorated().alias("raw"))

    def norm(batches):
        import unicodedata

        for pdf in batches:
            pdf = pdf.copy()
            pdf["nfc"] = [
                None if s is None else unicodedata.normalize("NFC", s)
                for s in pdf["raw"]
            ]
            yield pdf

    return base.mapInPandas(norm, "doc_id long, raw string, nfc string")


@query(
    "text_normalize_nfc",
    f"""
    SELECT doc_id,
           nfc_normalize(raw) AS nfc_text,
           CAST(octet_length(encode(raw)) AS BIGINT) AS n_bytes_raw,
           CAST(octet_length(encode(nfc_normalize(raw))) AS BIGINT)
             AS n_bytes_nfc,
           raw != nfc_normalize(raw) AS changed
    FROM ({_DUCK_RAW})
    """,
)
def text_normalize_nfc(spark, sf_dir):
    """NFC normalization as a corpus operator (module docstring): the
    normalized text itself is in the output, so the driver's value
    hash pins byte-exact agreement between Python unicodedata and
    DuckDB's ICU-backed nfc_normalize on every doc. Byte lengths
    before/after and a changed flag make the compaction visible
    (every doc changes here — the decorations guarantee a composable
    sequence)."""
    nd = _normalized_docs(table(spark, sf_dir, "documents"))
    return nd.select(
        "doc_id",
        F.col("nfc").alias("nfc_text"),
        F.octet_length("raw").cast("long").alias("n_bytes_raw"),
        F.octet_length("nfc").cast("long").alias("n_bytes_nfc"),
        (F.col("raw") != F.col("nfc")).alias("changed"),
    )


# character 3-gram shingle set; code-point substrings agree between
# Spark (UTF8String code points) and DuckDB (code-point length/substr)
_SH_SPARK = (
    "array_distinct(transform(sequence(1, greatest(length({c}) - 2, 1)), "
    "i -> substring({c}, i, 3)))"
)
_SH_DUCK = (
    "list_distinct(list_transform(range(1, greatest(length({c}) - 2, 1) + 1), "
    "i -> substr({c}, i, 3)))"
)


@query(
    "text_normalize_shingle_parity",
    f"""
    WITH base AS ({_DUCK_RAW}),
    sh AS (
      SELECT doc_id,
             {_SH_DUCK.format(c='raw')} AS sr,
             {_SH_DUCK.format(c='nfc_normalize(raw)')} AS sn
      FROM base
    )
    SELECT doc_id,
           CAST(len(sr) AS BIGINT) AS n_sh_raw,
           CAST(len(sn) AS BIGINT) AS n_sh_nfc,
           CAST(len(list_intersect(sr, sn)) AS BIGINT) AS n_sh_shared,
           CAST(len(list_intersect(sr, sn)) AS DOUBLE)
             / len(list_distinct(list_concat(sr, sn))) AS sh_jaccard
    FROM sh
    """,
)
def text_normalize_shingle_parity(spark, sf_dir):
    """Character-shingle sets of the raw (decomposed) text vs its NFC
    form, with the cross-form Jaccard — the measurement behind the
    'normalize before dedup' rule: identical visible strings in
    different normal forms share only part of their shingles (the
    decorated docs land well below 1.0 here), so an unnormalized
    MinHash pass under-clusters. Pure JVM set expressions after the
    one normalization pass; the Jaccard is a single IEEE division of
    exact intersection/union cardinalities — hash-exact."""
    nd = _normalized_docs(table(spark, sf_dir, "documents"))
    sh = nd.select(
        "doc_id",
        F.expr(_SH_SPARK.format(c="raw")).alias("sr"),
        F.expr(_SH_SPARK.format(c="nfc")).alias("sn"),
    )
    inter = F.size(F.array_intersect("sr", "sn"))
    union = F.size(F.array_union("sr", "sn"))
    return sh.select(
        "doc_id",
        F.size("sr").cast("long").alias("n_sh_raw"),
        F.size("sn").cast("long").alias("n_sh_nfc"),
        inter.cast("long").alias("n_sh_shared"),
        (inter.cast("double") / union).alias("sh_jaccard"),
    )


def _cnt_spark(raw, pat: str):
    return (
        F.length(raw) - F.length(F.regexp_replace(raw, pat, ""))
    ).cast("long")


def _cnt_duck(pat: str) -> str:
    return (
        "CAST(length(raw) - length(regexp_replace(raw, "
        f"'{pat}', '', 'g')) AS BIGINT)"
    )


_D_HAN = _cnt_duck(r"[\p{Han}]")
_D_LATIN = _cnt_duck(r"[\p{Latin}]")
_D_DIGIT = _cnt_duck(r"[\p{Nd}]")
_D_MARK = _cnt_duck(r"[\p{M}]")

_SCRIPT_ORACLE = f"""
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_chars,
           {_D_HAN} AS n_han,
           {_D_LATIN} AS n_latin,
           {_D_DIGIT} AS n_digit,
           {_D_MARK} AS n_mark,
           CASE WHEN {_D_LATIN} >= {_D_HAN}
                THEN 'latin' ELSE 'han' END AS dominant
    FROM ({_DUCK_RAW})
    """


@query("text_script_profile", _SCRIPT_ORACLE)
def text_script_profile(spark, sf_dir):
    """Per-doc script composition over the decorated text — the
    language-routing signal a multilingual pipeline shards on: Unicode
    script/category counts (Han, Latin, decimal digits, combining
    marks) as pure JVM regex-removal expressions (count = length minus
    length-after-removing-the-class), plus a deterministic dominant
    label. Java regex spells scripts \\p{{IsHan}}; the RE2 oracle
    \\p{{Han}} — the classes are the same Unicode data. No shuffle at
    all: this is a map-only scan, the 100 TB shape for routing."""
    docs = table(spark, sf_dir, "documents")
    raw = _decorated()
    n_han = _cnt_spark(raw, r"[\p{IsHan}]")
    n_latin = _cnt_spark(raw, r"[\p{IsLatin}]")
    return docs.select(
        "doc_id",
        F.length(raw).cast("long").alias("n_chars"),
        n_han.alias("n_han"),
        n_latin.alias("n_latin"),
        _cnt_spark(raw, r"[\p{Nd}]").alias("n_digit"),
        _cnt_spark(raw, r"[\p{M}]").alias("n_mark"),
        F.when(n_latin >= n_han, F.lit("latin"))
        .otherwise(F.lit("han"))
        .alias("dominant"),
    )


# --------------------------------------------------------------------------
# Unicode language ID + PII (VERDICT r7 #5): the ASCII lanes
# (text_lang_id, text_pii_scrub) run on the [a-z ] corpus; a real crawl
# is multi-script. These lanes derive a deterministic MULTILINGUAL
# corpus honoring each doc's lang label (en docs re-labeled round-robin
# to also cover ru / el / ja) — a language-true unicode prefix plus a
# 40-char slice of the English-ish soup (truncated so the labeled
# language dominates the lexicon scores, as it would in real text) —
# and run the script-gated unicode cascade + unicode-safe scrub on it.

# lowercase outside ASCII on purpose: lower() parity between engines is
# then exact (no Greek final-sigma / locale edge); no apostrophes (SQL)
_ULANG_PREFIX = {
    "en": "the cat is in that house and it is for a while",
    "de": "der kleine Hund und die Katze ist ein schönes Tier mit von nicht zu",
    "fr": "le café est dans la rue et les amis pour que une vie est là",
    "es": "el niño y la niña es un jardín en los árboles por una casa",
    "ru": "и это не дом в котором мы были с ними и у них это",
    "el": "και αυτό είναι ένα σπίτι με τον στο για τα και δεν",
    "ja": "これは とても きれい です ね そして わたし の",
    "zh": "東京都是一個大城市和這裡的人們都很好",
}
_ULAL_ORDER = ("en", "de", "fr", "es", "ru", "el", "ja", "zh")

_ULABEL_DUCK = (
    "CASE WHEN lang = 'en' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'ru' WHEN 2 THEN 'el' WHEN 3 THEN 'ja' "
    "ELSE 'en' END ELSE lang END"
)

_UPREFIX_DUCK = "CASE ulabel " + " ".join(
    f"WHEN '{lab}' THEN '{_ULANG_PREFIX[lab]}'" for lab in _ULAL_ORDER
) + " END"

_UCORPUS_DUCK = f"""
  SELECT doc_id, ulabel,
         ({_UPREFIX_DUCK}) || ' ' || substr(text, 1, 40) AS utext
  FROM (SELECT doc_id, text, {_ULABEL_DUCK} AS ulabel FROM documents)
"""


def _ucorpus(docs):
    """(doc_id, ulabel, utext) — the derived multilingual corpus.
    Both projections are single selectExpr strings (optimization r11:
    one py4j round trip per expression instead of one per Column op;
    the parsed CASE/concat trees are identical — the prefix strings
    carry no quotes and the corpus is ASCII-safe on the SQL side)."""
    ulabel_sql = (
        "CASE WHEN (lang = 'en') THEN"
        " CASE WHEN ((doc_id % 4) = 1) THEN 'ru'"
        " WHEN ((doc_id % 4) = 2) THEN 'el'"
        " WHEN ((doc_id % 4) = 3) THEN 'ja'"
        " ELSE 'en' END ELSE lang END"
    )
    prefix_sql = "CASE " + " ".join(
        f"WHEN (ulabel = '{lab}') THEN '{_ULANG_PREFIX[lab]}'"
        for lab in _ULAL_ORDER
    ) + " END"
    return (
        docs.selectExpr("doc_id", "text", f"{ulabel_sql} AS ulabel")
        .selectExpr(
            "doc_id",
            "ulabel",
            f"concat({prefix_sql}, ' ', substring(text, 1, 40)) AS utext",
        )
    )


def _duck_ulang_case() -> str:
    from uts_spark.functions.text import (
        HAN_CLS_RE2,
        KANA_CLS_RE2,
        ULANGS,
        duck_ustopword_count,
        duck_utokens,
    )

    sel = ", ".join(
        f"{duck_ustopword_count('toks', lang)} AS s_{lang}" for lang in ULANGS
    )
    branches = []
    for i, lang in enumerate(ULANGS):
        conds = [f"s_{lang} >= s_{other}" for other in ULANGS[i + 1:]]
        conds.append(f"s_{lang} > 0")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    argmax = "CASE " + " ".join(branches) + " ELSE 'unknown' END"
    kana = (
        f"length(utext) - length(regexp_replace(utext, '{KANA_CLS_RE2}', '', 'g'))"
    )
    han = (
        f"length(utext) - length(regexp_replace(utext, '{HAN_CLS_RE2}', '', 'g'))"
    )
    return f"""
    WITH c AS ({_UCORPUS_DUCK}),
    t AS (SELECT doc_id, ulabel, utext, {duck_utokens('utext')} AS toks FROM c),
    s AS (SELECT doc_id, ulabel, utext, {sel} FROM t)
    SELECT doc_id, ulabel AS label_lang,
           CASE WHEN {kana} > 0 THEN 'ja'
                WHEN {han} > 0 THEN 'zh'
                ELSE {argmax} END AS pred_lang
    FROM s
    """


@query("text_lang_id_unicode", _duck_ulang_case())
def text_lang_id_unicode(spark, sf_dir):
    """Unicode language ID over the derived multilingual corpus
    (module comment): the script-gated cascade — kana → ja (Japanese
    mixes kana with Han, so kana gates FIRST), Han → zh, else stopword
    argmax over unicode tokens with Cyrillic + Greek lexicons
    (functions/text.ulang_id). The ASCII lane scores ru/el/zh/ja text
    0 everywhere and calls it 'unknown'; this one routes all 8 labels.
    Pure JVM expressions, fuses into the scan — the 100 TB shape for
    crawl language routing. Accuracy is measured by the confusion
    matrix lane below; this one pins the per-doc prediction."""
    from uts_spark.functions.text import ulang_id

    c = _ucorpus(table(spark, sf_dir, "documents"))
    return c.select(
        "doc_id",
        F.col("ulabel").alias("label_lang"),
        ulang_id("utext").alias("pred_lang"),
    )


@query(
    "text_langid_confusion_unicode",
    f"""
    WITH p AS ({_duck_ulang_case()})
    SELECT label_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
    """,
)
def text_langid_confusion_unicode(spark, sf_dir):
    """Confusion matrix of the unicode cascade vs the derived labels —
    the eval harness next to the predictor (same pattern as the ASCII
    text_langid_confusion). Measured on the derived corpus the matrix
    is exactly diagonal (8 cells, zero off-diagonal): script gates are
    exact for ja/zh and each prefix's 9-11 stopword hits dominate the
    truncated 40-char soup slice — the truncation is the deliberate
    design margin. One groupBy over <= 8x8 keys — eval cost is
    corpus-scan shaped."""
    from uts_spark.functions.text import ulang_id

    c = _ucorpus(table(spark, sf_dir, "documents"))
    return (
        c.select(
            F.col("ulabel").alias("label_lang"),
            ulang_id("utext").alias("pred_lang"),
        )
        .groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Calibrated router v2 (VERDICT r8 #6): the v1 corpus is prefix-dominant
# and ALL-in-set, so v1's measured accuracy 1.0 says nothing about what
# a real crawl front does to the router — Korean, Arabic, Thai text
# carrying a few Latin loanwords routes to the nearest in-set label
# (the argmax only needs best > 0). The v2 corpus extends the derivation
# with three OUT-OF-SET scripts (Arabic, Hangul, Thai — de docs
# re-labeled round-robin, mirroring how en docs fund ru/el/ja), keeping
# every doc's 40-char Latin soup slice — exactly the loanword
# contamination that fools v1. ulang_id_v2 must route those rows to
# EXACTLY 'unknown' (script-coverage majority gate + 1/8 lexicon-margin;
# functions/text.py) while the 8 in-set labels stay exactly diagonal.

_ULANG_PREFIX_V2 = {
    **_ULANG_PREFIX,
    # no case in any of the three scripts -> lower() parity is exact;
    # long enough that the out-of-set script is the letter MAJORITY
    # even with the 40-char soup slice attached
    "ar": "هذا هو البيت الكبير في المدينة ونحن هنا معهم اليوم وهذه حياة جميلة جدا هنا",
    "ko": "이것은 매우 좋은 집이고 우리는 오늘 여기에 있다 그리고 이것은 아주 좋은 하루이다 우리는 모두 여기에 산다",
    "th": "นี่คือบ้านที่ดีมากและเราอยู่ที่นี่วันนี้และนี่เป็นสิ่งที่ดีมากในชีวิตของเราทุกคน",
}
_ULAL_ORDER_V2 = _ULAL_ORDER + ("ar", "ko", "th")

_ULABEL_V2_DUCK = (
    "CASE WHEN lang = 'en' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'ru' WHEN 2 THEN 'el' WHEN 3 THEN 'ja' "
    "ELSE 'en' END "
    "WHEN lang = 'de' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'ar' WHEN 2 THEN 'ko' WHEN 3 THEN 'th' "
    "ELSE 'de' END "
    "ELSE lang END"
)

_UPREFIX_V2_DUCK = "CASE ulabel " + " ".join(
    f"WHEN '{lab}' THEN '{_ULANG_PREFIX_V2[lab]}'" for lab in _ULAL_ORDER_V2
) + " END"

_UCORPUS_V2_DUCK = f"""
  SELECT doc_id, ulabel,
         ({_UPREFIX_V2_DUCK}) || ' ' || substr(text, 1, 40) AS utext
  FROM (SELECT doc_id, text, {_ULABEL_V2_DUCK} AS ulabel FROM documents)
"""


def _ulabel_v2_spark():
    en_sub = (
        F.when(F.col("doc_id") % 4 == 1, F.lit("ru"))
        .when(F.col("doc_id") % 4 == 2, F.lit("el"))
        .when(F.col("doc_id") % 4 == 3, F.lit("ja"))
        .otherwise(F.lit("en"))
    )
    de_sub = (
        F.when(F.col("doc_id") % 4 == 1, F.lit("ar"))
        .when(F.col("doc_id") % 4 == 2, F.lit("ko"))
        .when(F.col("doc_id") % 4 == 3, F.lit("th"))
        .otherwise(F.lit("de"))
    )
    return (
        F.when(F.col("lang") == "en", en_sub)
        .when(F.col("lang") == "de", de_sub)
        .otherwise(F.col("lang"))
    )


def _ucorpus_v2(docs):
    """(doc_id, ulabel, utext) — the 11-label corpus (8 in-set + 3
    out-of-set scripts)."""
    prefix = None
    for lab in _ULAL_ORDER_V2:
        w = (
            F.when(F.col("ulabel") == lab, F.lit(_ULANG_PREFIX_V2[lab]))
            if prefix is None
            else prefix.when(
                F.col("ulabel") == lab, F.lit(_ULANG_PREFIX_V2[lab])
            )
        )
        prefix = w
    return (
        docs.select("doc_id", "text", _ulabel_v2_spark().alias("ulabel"))
        .select(
            "doc_id",
            "ulabel",
            F.concat(
                prefix, F.lit(" "), F.substring(F.col("text"), 1, 40)
            ).alias("utext"),
        )
    )


def _duck_ulang_v2_case() -> str:
    from uts_spark.functions.text import (
        HAN_CLS_RE2,
        KANA_CLS_RE2,
        ULANG_INSET_RE2,
        ULANG_MARGIN_DEN,
        ULANGS,
        ULETTER_RE,
        duck_ustopword_count,
        duck_utokens,
    )

    sel = ", ".join(
        f"{duck_ustopword_count('toks', lang)} AS s_{lang}" for lang in ULANGS
    )
    branches = []
    for i, lang in enumerate(ULANGS):
        conds = [f"s_{lang} >= s_{other}" for other in ULANGS[i + 1:]]
        conds.append(f"s_{lang} > 0")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    argmax = "CASE " + " ".join(branches) + " ELSE 'unknown' END"
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in ULANGS) + ")"

    def cnt(cls):
        return (
            "length(utext) - length("
            f"regexp_replace(utext, '{cls}', '', 'g'))"
        )

    return f"""
    WITH c AS ({_UCORPUS_V2_DUCK}),
    t AS (
      SELECT doc_id, ulabel, utext,
             {duck_utokens('utext')} AS toks,
             {cnt(ULETTER_RE)} AS n_letters,
             {cnt(ULETTER_RE)} - ({cnt(ULANG_INSET_RE2)}) AS n_out
      FROM c
    ),
    s AS (
      SELECT doc_id, ulabel, utext, n_letters, n_out,
             len(toks) AS n_toks, {sel}
      FROM t
    )
    SELECT doc_id, ulabel AS label_lang,
           CASE WHEN n_out * 2 > n_letters THEN 'unknown'
                WHEN {cnt(KANA_CLS_RE2)} > 0 THEN 'ja'
                WHEN {cnt(HAN_CLS_RE2)} > 0 THEN 'zh'
                WHEN {best} * {ULANG_MARGIN_DEN} >= n_toks THEN {argmax}
                ELSE 'unknown' END AS pred_lang,
           CAST({best} AS BIGINT) AS s_best,
           CAST(n_toks AS BIGINT) AS n_toks,
           CAST(n_out AS BIGINT) AS n_out_letters,
           CAST(n_letters AS BIGINT) AS n_letters
    FROM s
    """


@query("text_lang_id_unicode_v2", _duck_ulang_v2_case())
def text_lang_id_unicode_v2(spark, sf_dir):
    """The calibrated router over the 11-label corpus (module comment):
    out-of-set scripts (ar/ko/th) land EXACTLY on 'unknown' via the
    script-coverage majority gate, in-set labels route as before after
    ALSO clearing the 1/8 lexicon margin. The router's evidence rides
    in the output — winning-lexicon hits, token count, out-of-set
    letter count — all integers, so confidence is hash-exact too.
    Same 100 TB shape as v1: pure JVM expressions fused into the scan
    (the confusion lane below pins the accuracy claim)."""
    from uts_spark.functions.text import ulang_confidence, ulang_id_v2

    c = _ucorpus_v2(table(spark, sf_dir, "documents"))
    conf = ulang_confidence(F.col("utext"))
    return c.select(
        "doc_id",
        F.col("ulabel").alias("label_lang"),
        ulang_id_v2(F.col("utext")).alias("pred_lang"),
        conf["s_best"].alias("s_best"),
        conf["n_toks"].alias("n_toks"),
        conf["n_out_letters"].alias("n_out_letters"),
        conf["n_letters"].alias("n_letters"),
    )


@query(
    "text_langid_confusion_v2",
    f"""
    WITH p AS ({_duck_ulang_v2_case()})
    SELECT label_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
    """,
)
def text_langid_confusion_v2(spark, sf_dir):
    """Confusion matrix of the CALIBRATED router on the corpus with
    out-of-set scripts — the hash-exact 'Done' gate for VERDICT r8 #6:
    11 cells total, the 8 in-set labels exactly diagonal AND all three
    out-of-set labels (ar/ko/th) mapping exactly to 'unknown' (pinned
    in tests/test_corpus_ops.py). The contrast lane: v1's cascade on
    the same corpus routes those rows to in-set labels (its argmax
    only needs one Latin loanword) — measured in SCALE.md round 9."""
    from uts_spark.functions.text import ulang_id_v2

    c = _ucorpus_v2(table(spark, sf_dir, "documents"))
    return (
        c.select(
            F.col("ulabel").alias("label_lang"),
            ulang_id_v2(F.col("utext")).alias("pred_lang"),
        )
        .groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# v3 router corpus (round-10 candidate #5): ar/ko/th PROMOTED to in-set
# script routes, and the 'unknown' long tail re-exercised with two NEW
# out-of-set scripts (Hebrew, Devanagari) so the calibrated fallback
# stays a tested property, not a leftover. 13 labels: 11 in-set (8
# lexicon/kana/Han + ar/ko/th script gates) + he/hi out-of-set.
# Prefixes are long enough that the out-of-set script is the letter
# MAJORITY even with the 40-char soup slice attached (same device as
# the v2 ar/ko/th prefixes).

_ULANG_PREFIX_V3 = {
    **_ULANG_PREFIX_V2,
    "he": (
        "זהו בית גדול מאוד בעיר ואנחנו נמצאים כאן היום עם כולם וזה יום "
        "יפה מאוד לכולנו כאן בעיר הזאת"
    ),
    "hi": (
        "यह शहर में एक बहुत बड़ा घर है और हम आज यहाँ सब के साथ हैं और यह "
        "हमारे जीवन का एक बहुत अच्छा दिन है"
    ),
}
_ULAL_ORDER_V3 = _ULAL_ORDER_V2 + ("he", "hi")

_ULABEL_V3_DUCK = (
    "CASE WHEN lang = 'en' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'ru' WHEN 2 THEN 'el' WHEN 3 THEN 'ja' "
    "ELSE 'en' END "
    "WHEN lang = 'de' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'ar' WHEN 2 THEN 'ko' WHEN 3 THEN 'th' "
    "ELSE 'de' END "
    "WHEN lang = 'fr' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'he' WHEN 2 THEN 'hi' ELSE 'fr' END "
    "ELSE lang END"
)

_UPREFIX_V3_DUCK = "CASE ulabel " + " ".join(
    f"WHEN '{lab}' THEN '{_ULANG_PREFIX_V3[lab]}'" for lab in _ULAL_ORDER_V3
) + " END"

_UCORPUS_V3_DUCK = f"""
  SELECT doc_id, ulabel,
         ({_UPREFIX_V3_DUCK}) || ' ' || substr(text, 1, 40) AS utext
  FROM (SELECT doc_id, text, {_ULABEL_V3_DUCK} AS ulabel FROM documents)
"""


def _ulabel_v3_spark():
    en_sub = (
        F.when(F.col("doc_id") % 4 == 1, F.lit("ru"))
        .when(F.col("doc_id") % 4 == 2, F.lit("el"))
        .when(F.col("doc_id") % 4 == 3, F.lit("ja"))
        .otherwise(F.lit("en"))
    )
    de_sub = (
        F.when(F.col("doc_id") % 4 == 1, F.lit("ar"))
        .when(F.col("doc_id") % 4 == 2, F.lit("ko"))
        .when(F.col("doc_id") % 4 == 3, F.lit("th"))
        .otherwise(F.lit("de"))
    )
    fr_sub = (
        F.when(F.col("doc_id") % 4 == 1, F.lit("he"))
        .when(F.col("doc_id") % 4 == 2, F.lit("hi"))
        .otherwise(F.lit("fr"))
    )
    return (
        F.when(F.col("lang") == "en", en_sub)
        .when(F.col("lang") == "de", de_sub)
        .when(F.col("lang") == "fr", fr_sub)
        .otherwise(F.col("lang"))
    )


def _ucorpus_v3(docs):
    """(doc_id, ulabel, utext) — the 13-label corpus (11 in-set + 2
    out-of-set scripts)."""
    prefix = None
    for lab in _ULAL_ORDER_V3:
        w = (
            F.when(F.col("ulabel") == lab, F.lit(_ULANG_PREFIX_V3[lab]))
            if prefix is None
            else prefix.when(
                F.col("ulabel") == lab, F.lit(_ULANG_PREFIX_V3[lab])
            )
        )
        prefix = w
    return (
        docs.select("doc_id", "text", _ulabel_v3_spark().alias("ulabel"))
        .select(
            "doc_id",
            "ulabel",
            F.concat(
                prefix, F.lit(" "), F.substring(F.col("text"), 1, 40)
            ).alias("utext"),
        )
    )


def _duck_ulang_v3_case() -> str:
    from uts_spark.functions.text import (
        ARABIC_CLS_RE2,
        HAN_CLS_RE2,
        HANGUL_CLS_RE2,
        KANA_CLS_RE2,
        THAI_CLS_RE2,
        ULANG_INSET_V3_RE2,
        ULANG_MARGIN_DEN,
        ULANGS,
        ULETTER_RE,
        duck_ustopword_count,
        duck_utokens,
    )

    sel = ", ".join(
        f"{duck_ustopword_count('toks', lang)} AS s_{lang}" for lang in ULANGS
    )
    branches = []
    for i, lang in enumerate(ULANGS):
        conds = [f"s_{lang} >= s_{other}" for other in ULANGS[i + 1:]]
        conds.append(f"s_{lang} > 0")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    argmax = "CASE " + " ".join(branches) + " ELSE 'unknown' END"
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in ULANGS) + ")"

    def cnt(cls):
        return (
            "length(utext) - length("
            f"regexp_replace(utext, '{cls}', '', 'g'))"
        )

    return f"""
    WITH c AS ({_UCORPUS_V3_DUCK}),
    t AS (
      SELECT doc_id, ulabel, utext,
             {duck_utokens('utext')} AS toks,
             {cnt(ULETTER_RE)} AS n_letters,
             {cnt(ULETTER_RE)} - ({cnt(ULANG_INSET_V3_RE2)}) AS n_out
      FROM c
    ),
    s AS (
      SELECT doc_id, ulabel, utext, n_letters, n_out,
             len(toks) AS n_toks, {sel}
      FROM t
    )
    SELECT doc_id, ulabel AS label_lang,
           CASE WHEN n_out * 2 > n_letters THEN 'unknown'
                WHEN {cnt(KANA_CLS_RE2)} > 0 THEN 'ja'
                WHEN {cnt(HANGUL_CLS_RE2)} > 0 THEN 'ko'
                WHEN {cnt(HAN_CLS_RE2)} > 0 THEN 'zh'
                WHEN {cnt(ARABIC_CLS_RE2)} > 0 THEN 'ar'
                WHEN {cnt(THAI_CLS_RE2)} > 0 THEN 'th'
                WHEN {best} * {ULANG_MARGIN_DEN} >= n_toks THEN {argmax}
                ELSE 'unknown' END AS pred_lang
    FROM s
    """


@query("text_lang_id_unicode_v3", _duck_ulang_v3_case())
def text_lang_id_unicode_v3(spark, sf_dir):
    """The 11-route router over the 13-label corpus (round-10
    candidate #5 — ar/ko/th promoted from v2's 'unknown' tail to
    IN-SET SCRIPT ROUTES): Arabic, Hangul, and Thai are
    (near-)language-unique scripts, so like kana/Han they gate on
    script presence — no stopword lexicons needed, and the spaceless
    Thai case (untokenizable by a word lexicon) routes anyway. Gate
    order is mixing-aware: kana before Han (Japanese), Hangul before
    Han (Korean hanja), then Han/Arabic/Thai. v2's two calibrated
    guards survive unchanged: the out-of-set-script majority now
    catches the REMAINING tail (Hebrew and Devanagari rows land
    exactly on 'unknown' — the fallback stays a tested property), and
    lexicon routes still clear the 1/8 margin. Script caveat the
    production note owns: Arabic script also writes Persian/Urdu — a
    real router disambiguates within the script by lexicon, the same
    way ru/el disambiguate within Cyrillic/Greek here. Pure JVM
    expressions fused into the scan — v1's measured 119k docs/sec
    shape."""
    from uts_spark.functions.text import ulang_id_v3

    c = _ucorpus_v3(table(spark, sf_dir, "documents"))
    return c.select(
        "doc_id",
        F.col("ulabel").alias("label_lang"),
        ulang_id_v3(F.col("utext")).alias("pred_lang"),
    )


@query(
    "text_langid_confusion_v3",
    f"""
    WITH p AS ({_duck_ulang_v3_case()})
    SELECT label_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
    """,
)
def text_langid_confusion_v3(spark, sf_dir):
    """Confusion matrix of the v3 router on the 13-label corpus — the
    hash-exact gate for the in-set promotion: 13 cells total, all 11
    in-set labels exactly diagonal (incl. the three new script
    routes) and BOTH remaining out-of-set scripts (he/hi) mapping
    exactly to 'unknown' (pinned in tests/test_corpus_ops.py). The
    contrast: v2 on this corpus routes ar/ko/th to 'unknown' — a third
    of a realistic non-Latin crawl discarded; v3 keeps them."""
    from uts_spark.functions.text import ulang_id_v3

    c = _ucorpus_v3(table(spark, sf_dir, "documents"))
    return (
        c.select(
            F.col("ulabel").alias("label_lang"),
            ulang_id_v3(F.col("utext")).alias("pred_lang"),
        )
        .groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# v4 router corpus: WITHIN-SCRIPT disambiguation — Arabic script writes
# Arabic, Persian, AND Urdu; v3's blanket script->'ar' gate guessed the
# member. The v4 corpus splits 'es' docs into fa/ur labels (prefixes in
# Persian/Urdu function words — codepoint-disjoint lexicons: Persian ک
# U+06A9 vs Arabic ك U+0643, Urdu ہ/ے), giving 15 labels: 13 in-set
# (the v3 eleven + fa + ur) + he/hi still out-of-set.

_ULANG_PREFIX_V4 = {
    **_ULANG_PREFIX_V3,
    "fa": (
        "است که این را با برای های می آن خود در شهر بزرگ ما امروز "
        "اینجا هستیم و این زندگی خوب است"
    ),
    "ur": (
        "یہ ہے کے میں کی اور سے کا ہیں نے ہم آج یہاں بڑے شہر میں "
        "رہتے ہیں اور یہ اچھا دن ہے"
    ),
}
_ULAL_ORDER_V4 = _ULAL_ORDER_V3 + ("fa", "ur")

_ULABEL_V4_DUCK = (
    "CASE WHEN lang = 'en' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'ru' WHEN 2 THEN 'el' WHEN 3 THEN 'ja' "
    "ELSE 'en' END "
    "WHEN lang = 'de' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'ar' WHEN 2 THEN 'ko' WHEN 3 THEN 'th' "
    "ELSE 'de' END "
    "WHEN lang = 'fr' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'he' WHEN 2 THEN 'hi' ELSE 'fr' END "
    "WHEN lang = 'es' THEN "
    "CASE doc_id % 4 WHEN 1 THEN 'fa' WHEN 2 THEN 'ur' ELSE 'es' END "
    "ELSE lang END"
)

_UPREFIX_V4_DUCK = "CASE ulabel " + " ".join(
    f"WHEN '{lab}' THEN '{_ULANG_PREFIX_V4[lab]}'" for lab in _ULAL_ORDER_V4
) + " END"

_UCORPUS_V4_DUCK = f"""
  SELECT doc_id, ulabel,
         ({_UPREFIX_V4_DUCK}) || ' ' || substr(text, 1, 40) AS utext
  FROM (SELECT doc_id, text, {_ULABEL_V4_DUCK} AS ulabel FROM documents)
"""


def _ulabel_v4_spark():
    es_sub = (
        F.when(F.col("doc_id") % 4 == 1, F.lit("fa"))
        .when(F.col("doc_id") % 4 == 2, F.lit("ur"))
        .otherwise(F.lit("es"))
    )
    return F.when(F.col("lang") == "es", es_sub).otherwise(
        _ulabel_v3_spark()
    )


def _ucorpus_v4(docs):
    """(doc_id, ulabel, utext) — the 15-label corpus (13 in-set + 2
    out-of-set scripts)."""
    prefix = None
    for lab in _ULAL_ORDER_V4:
        w = (
            F.when(F.col("ulabel") == lab, F.lit(_ULANG_PREFIX_V4[lab]))
            if prefix is None
            else prefix.when(
                F.col("ulabel") == lab, F.lit(_ULANG_PREFIX_V4[lab])
            )
        )
        prefix = w
    return (
        docs.select("doc_id", "text", _ulabel_v4_spark().alias("ulabel"))
        .select(
            "doc_id",
            "ulabel",
            F.concat(
                prefix, F.lit(" "), F.substring(F.col("text"), 1, 40)
            ).alias("utext"),
        )
    )


def _duck_ulang_v4_case() -> str:
    from uts_spark.functions.text import (
        ARABIC_CLS_RE2,
        HAN_CLS_RE2,
        HANGUL_CLS_RE2,
        KANA_CLS_RE2,
        THAI_CLS_RE2,
        UARFAM,
        UARFAM_STOPWORDS,
        ULANG_INSET_V3_RE2,
        ULANG_MARGIN_DEN,
        ULANGS,
        ULETTER_RE,
        duck_lex_count,
        duck_ustopword_count,
        duck_utokens,
    )

    sel = ", ".join(
        f"{duck_ustopword_count('toks', lang)} AS s_{lang}" for lang in ULANGS
    )
    asel = ", ".join(
        f"{duck_lex_count('toks', UARFAM_STOPWORDS[m])} AS a_{m}"
        for m in UARFAM
    )
    branches = []
    for i, lang in enumerate(ULANGS):
        conds = [f"s_{lang} >= s_{other}" for other in ULANGS[i + 1:]]
        conds.append(f"s_{lang} > 0")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    argmax = "CASE " + " ".join(branches) + " ELSE 'unknown' END"
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in ULANGS) + ")"
    abranches = []
    for i, m in enumerate(UARFAM):
        conds = [f"a_{m} >= a_{other}" for other in UARFAM[i + 1:]]
        conds.append(f"a_{m} > 0")
        abranches.append(f"WHEN {' AND '.join(conds)} THEN '{m}'")
    ar_argmax = "CASE " + " ".join(abranches) + " ELSE 'unknown' END"
    ar_best = "greatest(" + ", ".join(f"a_{m}" for m in UARFAM) + ")"

    def cnt(cls):
        return (
            "length(utext) - length("
            f"regexp_replace(utext, '{cls}', '', 'g'))"
        )

    return f"""
    WITH c AS ({_UCORPUS_V4_DUCK}),
    t AS (
      SELECT doc_id, ulabel, utext,
             {duck_utokens('utext')} AS toks,
             {cnt(ULETTER_RE)} AS n_letters,
             {cnt(ULETTER_RE)} - ({cnt(ULANG_INSET_V3_RE2)}) AS n_out
      FROM c
    ),
    s AS (
      SELECT doc_id, ulabel, utext, n_letters, n_out,
             len(toks) AS n_toks, {sel}, {asel}
      FROM t
    )
    SELECT doc_id, ulabel AS label_lang,
           CASE WHEN n_out * 2 > n_letters THEN 'unknown'
                WHEN {cnt(KANA_CLS_RE2)} > 0 THEN 'ja'
                WHEN {cnt(HANGUL_CLS_RE2)} > 0 THEN 'ko'
                WHEN {cnt(HAN_CLS_RE2)} > 0 THEN 'zh'
                WHEN {cnt(ARABIC_CLS_RE2)} > 0 THEN
                  CASE WHEN {ar_best} * {ULANG_MARGIN_DEN} >= n_toks
                       THEN {ar_argmax} ELSE 'unknown' END
                WHEN {cnt(THAI_CLS_RE2)} > 0 THEN 'th'
                WHEN {best} * {ULANG_MARGIN_DEN} >= n_toks THEN {argmax}
                ELSE 'unknown' END AS pred_lang
    FROM s
    """


@query("text_lang_id_unicode_v4", _duck_ulang_v4_case())
def text_lang_id_unicode_v4(spark, sf_dir):
    """WITHIN-SCRIPT disambiguation (the v3 docstring's owned caveat):
    Arabic script writes Arabic, Persian, and Urdu — the script gate
    now hands off to a lexicon argmax over {ar, fa, ur} with the same
    1/8 margin, exactly the way ru/el disambiguate within
    Cyrillic/Greek. The lexicons are codepoint-disjoint even where
    words look alike (Persian ک U+06A9 vs Arabic ك U+0643; Urdu ہ/ے),
    so the argmax is evidence, not orthographic luck. An Arabic-script
    doc clearing no member's margin routes 'unknown' — v3's blanket
    'ar' guessed the member; v4 doesn't guess. Hangul/Thai stay pure
    script routes (each writes one language). Pure JVM expressions,
    same scan-fused shape."""
    from uts_spark.functions.text import ulang_id_v4

    c = _ucorpus_v4(table(spark, sf_dir, "documents"))
    return c.select(
        "doc_id",
        F.col("ulabel").alias("label_lang"),
        ulang_id_v4(F.col("utext")).alias("pred_lang"),
    )


@query(
    "text_langid_confusion_v4",
    f"""
    WITH p AS ({_duck_ulang_v4_case()})
    SELECT label_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
    """,
)
def text_langid_confusion_v4(spark, sf_dir):
    """Confusion matrix of the v4 router on the 15-label corpus: 15
    cells — 13 in-set labels exactly diagonal (fa and ur now resolve
    WITHIN the Arabic script instead of collapsing onto 'ar') and
    he/hi still exactly on 'unknown'. The contrast: v3 on this corpus
    routes fa and ur rows to 'ar' — right family, wrong language, and
    a downstream per-language pipeline (fertility budgets, training
    mix) would silently pool three languages' text."""
    from uts_spark.functions.text import ulang_id_v4

    c = _ucorpus_v4(table(spark, sf_dir, "documents"))
    return (
        c.select(
            F.col("ulabel").alias("label_lang"),
            ulang_id_v4(F.col("utext")).alias("pred_lang"),
        )
        .groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- ar-family margin sweep: the threshold curve for the within-script
# argmax (same pattern as text_langid_margin_sweep for the main
# lexicon) — per margin denominator, how many Arabic-script docs clear
# the evidence bar, and of those how many land on the right member.

_ARFAM_MARGIN_DENS = (2, 4, 8, 16, 32)


def _duck_arfam_margin_sweep() -> str:
    from uts_spark.functions.text import (
        UARFAM,
        UARFAM_STOPWORDS,
        duck_lex_count,
        duck_utokens,
    )

    asel = ", ".join(
        f"{duck_lex_count('toks', UARFAM_STOPWORDS[m])} AS a_{m}"
        for m in UARFAM
    )
    abranches = []
    for i, m in enumerate(UARFAM):
        conds = [f"a_{m} >= a_{other}" for other in UARFAM[i + 1:]]
        conds.append(f"a_{m} > 0")
        abranches.append(f"WHEN {' AND '.join(conds)} THEN '{m}'")
    ar_argmax = "CASE " + " ".join(abranches) + " ELSE 'unknown' END"
    ar_best = "greatest(" + ", ".join(f"a_{m}" for m in UARFAM) + ")"
    dens = ", ".join(str(d) for d in _ARFAM_MARGIN_DENS)
    return f"""
    WITH c AS ({_UCORPUS_V4_DUCK}),
    s AS (
      SELECT ulabel, len({duck_utokens('utext')}) AS n_toks, {asel}
      FROM (SELECT ulabel, utext,
                   {duck_utokens('utext')} AS toks FROM c)
      WHERE ulabel IN ('ar', 'fa', 'ur')
    ),
    d AS (SELECT unnest([{dens}]) AS margin_den)
    SELECT CAST(d.margin_den AS BIGINT) AS margin_den,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {ar_best} * d.margin_den >= n_toks
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_routed,
           CAST(SUM(CASE WHEN {ar_best} * d.margin_den >= n_toks
                         AND ({ar_argmax}) = ulabel
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           SUM(CASE WHEN {ar_best} * d.margin_den >= n_toks
                    AND ({ar_argmax}) = ulabel THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE) AS routed_accuracy
    FROM s, d GROUP BY d.margin_den
    """


@query("text_langid_arfam_margin_sweep", _duck_arfam_margin_sweep())
def text_langid_arfam_margin_sweep(spark, sf_dir):
    """The Arabic-family evidence-threshold CURVE (the sweep pattern
    every calibrated gate in this repo ships with): over the v4
    corpus's Arabic-script rows, for each margin denominator — how
    many docs clear the within-family lexicon bar (``n_routed``) and
    how many of those land on the right member (``n_correct``). Reads
    off the curve: the shipped 1/8 margin routes every prefix-bearing
    doc correctly; tightening to 1/2 starts refusing real docs whose
    soup slice dilutes the token count (evidence loss, not error);
    loosening costs nothing HERE because the lexicons are
    codepoint-disjoint — on a real crawl the loose end admits
    borrowed-phrase noise, which is why the shared default stays 1/8.
    Integer counts end-to-end; ratio computed identically both
    engines."""
    from uts_spark.functions.text import UARFAM, UARFAM_STOPWORDS, _lex_count, utokens

    c = _ucorpus_v4(table(spark, sf_dir, "documents")).filter(
        F.col("ulabel").isin("ar", "fa", "ur")
    )
    toks = utokens(F.col("utext"))
    scores = {m: _lex_count(toks, UARFAM_STOPWORDS[m]) for m in UARFAM}
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    for m in reversed(UARFAM):
        expr = F.when(
            (scores[m] == best) & (best > 0), F.lit(m)
        ).otherwise(expr)
    s = c.select(
        "ulabel",
        F.size(toks).alias("n_toks"),
        best.alias("a_best"),
        expr.alias("a_pick"),
    )
    d = s.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(int(x),) for x in _ARFAM_MARGIN_DENS], "margin_den long"
            )
        )
    )
    routed = F.col("a_best") * F.col("margin_den") >= F.col("n_toks")
    correct = routed & (F.col("a_pick") == F.col("ulabel"))
    return d.groupBy("margin_den").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(routed.cast("long")).alias("n_routed"),
        F.sum(correct.cast("long")).alias("n_correct"),
        (
            F.sum(correct.cast("long"))
            / F.count(F.lit(1)).cast("double")
        ).alias("routed_accuracy"),
    )


def _duck_arfam_confidence() -> str:
    from uts_spark.functions.text import (
        UARFAM,
        UARFAM_STOPWORDS,
        ULANG_MARGIN_DEN,
        duck_lex_count,
        duck_utokens,
    )

    asel = ", ".join(
        f"{duck_lex_count('toks', UARFAM_STOPWORDS[m])} AS a_{m}"
        for m in UARFAM
    )
    abranches = []
    for i, m in enumerate(UARFAM):
        conds = [f"a_{m} >= a_{other}" for other in UARFAM[i + 1:]]
        conds.append(f"a_{m} > 0")
        abranches.append(f"WHEN {' AND '.join(conds)} THEN '{m}'")
    ar_argmax = "CASE " + " ".join(abranches) + " ELSE 'unknown' END"
    ar_best = "greatest(" + ", ".join(f"a_{m}" for m in UARFAM) + ")"
    return f"""
    WITH c AS ({_UCORPUS_V4_DUCK}),
    s AS (
      SELECT doc_id, ulabel, len(toks) AS n_toks, {asel}
      FROM (SELECT doc_id, ulabel, utext,
                   {duck_utokens('utext')} AS toks FROM c)
      WHERE ulabel IN ('ar', 'fa', 'ur')
    )
    SELECT doc_id, ulabel AS label_lang,
           CASE WHEN {ar_best} * {ULANG_MARGIN_DEN} >= n_toks
                THEN {ar_argmax} ELSE 'unknown' END AS pred_lang,
           CAST(a_ar AS BIGINT) AS a_ar,
           CAST(a_fa AS BIGINT) AS a_fa,
           CAST(a_ur AS BIGINT) AS a_ur,
           CAST({ar_best} AS BIGINT) AS a_best,
           CAST(n_toks AS BIGINT) AS n_toks
    FROM s
    """


@query("text_langid_arfam_confidence", _duck_arfam_confidence())
def text_langid_arfam_confidence(spark, sf_dir):
    """CONFIDENCE COLUMNS for the Arabic-family route (ROADMAP
    round-10 #1, the last open router item): per Arabic-script doc,
    the per-member lexicon evidence (``a_ar``/``a_fa``/``a_ur``), the
    winning count, the token count, and the margined pick — the v4
    label plus everything a consumer needs to re-gate it. Why columns
    and not just a label: a corpus pipeline routing fa/ur shards wants
    to TIGHTEN the gate for high-stakes shards (training-mix budgets)
    and LOOSEN it for recall-side analytics; with the raw integers in
    the output both are a filter, not a re-tokenization. All evidence
    is integer, so the lane is hash-exact. Scale: pure JVM expressions
    fused into the scan — same map-only shape as the router itself."""
    from uts_spark.functions.text import (
        UARFAM,
        UARFAM_STOPWORDS,
        ULANG_MARGIN_DEN,
        _lex_count,
        uarfam_confidence,
        utokens,
    )

    c = _ucorpus_v4(table(spark, sf_dir, "documents")).filter(
        F.col("ulabel").isin("ar", "fa", "ur")
    )
    toks = utokens(F.col("utext"))
    scores = {m: _lex_count(toks, UARFAM_STOPWORDS[m]) for m in UARFAM}
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    for m in reversed(UARFAM):
        expr = F.when(
            (scores[m] == best) & (best > 0), F.lit(m)
        ).otherwise(expr)
    margined = F.when(
        best * F.lit(ULANG_MARGIN_DEN) >= F.size(toks), expr
    ).otherwise(F.lit("unknown"))
    conf = uarfam_confidence(F.col("utext"))
    return c.select(
        "doc_id",
        F.col("ulabel").alias("label_lang"),
        margined.alias("pred_lang"),
        *[conf[k].alias(k) for k in ("a_ar", "a_fa", "a_ur", "a_best", "n_toks")],
    )


def _duck_arfam_member_sweep() -> str:
    from uts_spark.functions.text import (
        UARFAM,
        UARFAM_STOPWORDS,
        duck_lex_count,
        duck_utokens,
    )

    asel = ", ".join(
        f"{duck_lex_count('toks', UARFAM_STOPWORDS[m])} AS a_{m}"
        for m in UARFAM
    )
    abranches = []
    for i, m in enumerate(UARFAM):
        conds = [f"a_{m} >= a_{other}" for other in UARFAM[i + 1:]]
        conds.append(f"a_{m} > 0")
        abranches.append(f"WHEN {' AND '.join(conds)} THEN '{m}'")
    ar_argmax = "CASE " + " ".join(abranches) + " ELSE 'unknown' END"
    ar_best = "greatest(" + ", ".join(f"a_{m}" for m in UARFAM) + ")"
    dens = ", ".join(str(d) for d in _ARFAM_MARGIN_DENS)
    return f"""
    WITH c AS ({_UCORPUS_V4_DUCK}),
    s AS (
      SELECT ulabel, len({duck_utokens('utext')}) AS n_toks, {asel}
      FROM (SELECT ulabel, utext,
                   {duck_utokens('utext')} AS toks FROM c)
      WHERE ulabel IN ('ar', 'fa', 'ur')
    ),
    d AS (SELECT unnest([{dens}]) AS margin_den)
    SELECT CAST(d.margin_den AS BIGINT) AS margin_den,
           s.ulabel AS member,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {ar_best} * d.margin_den >= n_toks
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_routed,
           CAST(SUM(CASE WHEN {ar_best} * d.margin_den >= n_toks
                         AND ({ar_argmax}) = s.ulabel
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM s, d GROUP BY d.margin_den, s.ulabel
    """


@query("text_langid_arfam_member_sweep", _duck_arfam_member_sweep())
def text_langid_arfam_member_sweep(spark, sf_dir):
    """The PER-MEMBER evidence-threshold curve (the other half of the
    round-10 #1 item: the pooled sweep above can hide one member's
    evidence starving behind another's surplus — ar's dense stopword
    lexicon clears margins that fa/ur's sparser function-word sets
    might not): the same routed/correct counts, grouped by
    (margin_den, member). A member whose n_routed collapses while the
    pooled curve stays flat is exactly the signal that its lexicon —
    not the margin — needs work. Integer counts end-to-end."""
    from uts_spark.functions.text import UARFAM, UARFAM_STOPWORDS, _lex_count, utokens

    c = _ucorpus_v4(table(spark, sf_dir, "documents")).filter(
        F.col("ulabel").isin("ar", "fa", "ur")
    )
    toks = utokens(F.col("utext"))
    scores = {m: _lex_count(toks, UARFAM_STOPWORDS[m]) for m in UARFAM}
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    for m in reversed(UARFAM):
        expr = F.when(
            (scores[m] == best) & (best > 0), F.lit(m)
        ).otherwise(expr)
    s = c.select(
        F.col("ulabel").alias("member"),
        F.size(toks).alias("n_toks"),
        best.alias("a_best"),
        expr.alias("a_pick"),
    )
    d = s.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(int(x),) for x in _ARFAM_MARGIN_DENS], "margin_den long"
            )
        )
    )
    routed = F.col("a_best") * F.col("margin_den") >= F.col("n_toks")
    correct = routed & (F.col("a_pick") == F.col("member"))
    return d.groupBy("margin_den", "member").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(routed.cast("long")).alias("n_routed"),
        F.sum(correct.cast("long")).alias("n_correct"),
    )


# PII in unicode clothing: an accented-local-part / IDN-domain email
# (invisible whole to the ASCII email regex — its classes stop at the
# first non-ASCII letter) and a FULLWIDTH six-digit run (never matched
# by [0-9]). Injected deterministically from doc_id, next to an ASCII
# run the old regex DOES catch, so the ascii-vs-unicode count gap is
# pinned per doc.
_FW = "０１２３４５６７８９"

_UPII_DUCK = (
    "substr(text, 1, 30) || ' naïve.user' || CAST(doc_id AS VARCHAR)"
    " || '@exämple.com ' ||"
    " translate(lpad(CAST(doc_id AS VARCHAR), 6, '0'), '0123456789', "
    f"'{_FW}')"
    " || ' téléphone ' ||"
    " lpad(CAST(doc_id * 7919 % 1000000 AS VARCHAR), 6, '0') || ' end'"
)


def _upii_spark():
    return F.concat(
        F.substring(F.col("text"), 1, 30),
        F.lit(" naïve.user"),
        F.col("doc_id").cast("string"),
        F.lit("@exämple.com "),
        F.translate(
            F.lpad(F.col("doc_id").cast("string"), 6, "0"),
            "0123456789",
            _FW,
        ),
        F.lit(" téléphone "),
        F.lpad(
            ((F.col("doc_id") * 7919) % 1000000).cast("string"), 6, "0"
        ),
        F.lit(" end"),
    )


def _duck_upii_scrub() -> str:
    from uts_spark.functions.text import (
        DIGITS_RE,
        EMAIL_RE,
        UDIGITS_RE,
        UEMAIL_RE,
    )

    return f"""
    WITH s AS (SELECT doc_id, {_UPII_DUCK} AS src FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(src, '{UEMAIL_RE}', '<EMAIL>', 'g'),
                          '{UDIGITS_RE}', '<NUM>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(src, '{UEMAIL_RE}'))
              + len(regexp_extract_all(src, '{UDIGITS_RE}')) AS BIGINT)
             AS n_redactions_unicode,
           CAST(len(regexp_extract_all(src, '{EMAIL_RE}'))
              + len(regexp_extract_all(src, '{DIGITS_RE}')) AS BIGINT)
             AS n_redactions_ascii
    FROM s
    """


@query("text_pii_scrub_unicode", _duck_upii_scrub())
def text_pii_scrub_unicode(spark, sf_dir):
    """Unicode-boundary-safe PII scrub (module comment above; VERDICT
    r7 #5): \\p{{L}}/\\p{{Nd}} classes catch the IDN email and the
    fullwidth digit run the ASCII regexes miss — the output carries
    BOTH counts (unicode 3 vs ascii 1 on every doc), so the oracle
    hash pins the gap itself, not just the scrub. Same pure-projection
    scan shape as text_pii_scrub; email pass first so digit-bearing
    local parts redact as emails."""
    from uts_spark.functions.text import redaction_count, uredact, uredaction_count

    docs = table(spark, sf_dir, "documents")
    src = _upii_spark()
    return docs.select(
        "doc_id",
        uredact(src).alias("clean_text"),
        uredaction_count(src).cast("long").alias("n_redactions_unicode"),
        redaction_count(src).cast("long").alias("n_redactions_ascii"),
    )


# --------------------------------------------------------------------------
# Tokenizer FERTILITY by language: the standard multilingual tokenizer
# eval (tokens emitted per pre-token, bytes per token) over the derived
# 8-language corpus, under the 512-merge byte-level BPE table. The
# merges were trained on ASCII-heavy text, so this lane MEASURES the
# well-known English-centric-tokenizer effect: CJK and Cyrillic
# pre-tokens explode to near-raw-byte granularity (~1 token per UTF-8
# byte) while English/German compress — the number a data-mix or
# token-budget planner needs per language before shard accounting.

def _duck_bpe_fertility() -> str:
    from uts_spark.functions.bpe_pretrained import byte_merge_patterns_sql
    from uts_spark.queries.sketch_ops import _PRETOK_RE

    pre = _PRETOK_RE.replace("'", "''")
    return f"""
    WITH base AS ({_UCORPUS_DUCK}),
    dpts AS (
      SELECT doc_id, ulabel, ws[i] AS pt, nb
      FROM (SELECT doc_id, ulabel,
                   regexp_extract_all(utext, '{pre}') AS ws,
                   CAST(octet_length(encode(utext)) AS BIGINT) AS nb
            FROM base),
           unnest(range(1, len(ws) + 1)) AS u(i)
    ),
    seg AS (
      SELECT pt,
             list_reduce(
               list_prepend(
                 regexp_replace(lower(hex(encode(pt))), '(..)', '|\\1|', 'g'),
                 {byte_merge_patterns_sql()}),
               (acc, p) -> replace(acc, p, replace(p, '||', ''))) AS s
      FROM (SELECT DISTINCT pt FROM dpts)
    ),
    ptok AS (
      SELECT pt,
             CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_tok
      FROM seg
    ),
    doc AS (
      SELECT d.doc_id, d.ulabel,
             CAST(COUNT(*) AS BIGINT) AS n_pre,
             CAST(SUM(p.n_tok) AS BIGINT) AS n_tok,
             CAST(MIN(d.nb) AS BIGINT) AS nb
      FROM dpts d JOIN ptok p USING (pt)
      GROUP BY d.doc_id, d.ulabel
    )
    SELECT ulabel AS label_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_pre) AS BIGINT) AS n_pretokens,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(nb) AS BIGINT) AS n_bytes,
           SUM(n_tok) / CAST(SUM(n_pre) AS DOUBLE) AS fertility,
           SUM(nb) / CAST(SUM(n_tok) AS DOUBLE) AS bytes_per_token
    FROM doc GROUP BY ulabel
    """


@query("text_bpe_fertility_by_lang", _duck_bpe_fertility())
def text_bpe_fertility_by_lang(spark, sf_dir):
    """Byte-BPE fertility per language (module comment above): per
    label, pre-token / token / byte totals plus tokens-per-pretoken
    (fertility) and bytes-per-token — exact ratios of exact longs.
    Same 100 TB shape as text_bpe_apply_bytes: all merge work runs
    once per DISTINCT pre-token in one Arrow-batched mapInPandas, the
    corpus contributes a regexp + explode + one dictionary join, and
    the per-language rollup is a two-level groupBy (doc, then label).
    Measured at sf0.01 (SCALE.md round-8 note): fertility runs en 1.53
    < fr 2.03 < de/es ~2.67 < ru 4.32 < ja 4.64 < el 4.96 < zh 7.16,
    and bytes-per-token en 2.84 vs ru/el/ja/zh ~1.33-1.49 — non-Latin
    scripts tokenize near raw-byte granularity under the ASCII-heavy
    merge table (a ~4.7x zh-vs-en token-budget penalty), exactly the
    per-language correction factor a shard planner must apply."""
    from uts_spark.queries.sketch_ops import (
        _PRETOK_RE,
        _bpe_byte_pretoken_tokens,
    )

    c = _ucorpus(table(spark, sf_dir, "documents"))
    dpts = c.select(
        "doc_id",
        "ulabel",
        F.octet_length("utext").cast("long").alias("nb"),
        F.explode(
            F.regexp_extract_all(F.col("utext"), F.lit(_PRETOK_RE), 0)
        ).alias("pt"),
    )
    ptok = _bpe_byte_pretoken_tokens(dpts.select("pt").distinct())
    doc = (
        dpts.join(ptok, "pt")
        .groupBy("doc_id", "ulabel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pre"),
            F.sum("n_tok").alias("n_tok"),
            F.min("nb").alias("nb"),
        )
    )
    return (
        doc.groupBy(F.col("ulabel").alias("label_lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_pre").alias("n_pretokens"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("nb").alias("n_bytes"),
        )
        .select(
            "label_lang",
            "n_docs",
            "n_pretokens",
            "n_tokens",
            "n_bytes",
            (F.col("n_tokens") / F.col("n_pretokens")).alias("fertility"),
            (F.col("n_bytes") / F.col("n_tokens")).alias("bytes_per_token"),
        )
    )


# Router MARGIN SWEEP (the threshold-sweep pattern the quality model
# has, applied to ulang_id_v2's lexicon margin): the shipped 1/8 was
# picked between the measured distributions (in-set hit ratio >= 0.391
# vs out-of-set <= 0.087); this lane SHOWS the whole curve — per
# candidate margin 1/2, 1/4, 1/8, 1/16, 1/32, how many in-set rows
# route correctly / fall to unknown, and how many out-of-set rows stay
# on unknown. Measured at sf0.01: every margin in the separated band
# [0.087, 0.391) is identical (451 in-correct / 49 out-unknown / 0
# misroutes — the plateau the shipped 1/8 sits on), while 1/2 = 0.5
# crosses the in-set distribution and drops 242 of 451 in-set docs to
# unknown with zero misroutes — the knee that proves the sweep would
# CATCH a corpus where the distributions stop being separated.

_ULANG_MARGIN_DENS = (2, 4, 8, 16, 32)


def _duck_ulang_margin_sweep() -> str:
    from uts_spark.functions.text import (
        HAN_CLS_RE2,
        KANA_CLS_RE2,
        ULANG_INSET_RE2,
        ULANGS,
        ULETTER_RE,
        duck_ustopword_count,
        duck_utokens,
    )

    sel = ", ".join(
        f"{duck_ustopword_count('toks', lang)} AS s_{lang}" for lang in ULANGS
    )
    branches = []
    for i, lang in enumerate(ULANGS):
        conds = [f"s_{lang} >= s_{other}" for other in ULANGS[i + 1:]]
        conds.append(f"s_{lang} > 0")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    argmax = "CASE " + " ".join(branches) + " ELSE 'unknown' END"
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in ULANGS) + ")"

    def cnt(cls):
        return (
            "length(utext) - length("
            f"regexp_replace(utext, '{cls}', '', 'g'))"
        )

    dens = ", ".join(str(d) for d in _ULANG_MARGIN_DENS)
    return f"""
    WITH c AS ({_UCORPUS_V2_DUCK}),
    t AS (
      SELECT doc_id, ulabel, utext,
             {duck_utokens('utext')} AS toks,
             {cnt(ULETTER_RE)} AS n_letters,
             {cnt(ULETTER_RE)} - ({cnt(ULANG_INSET_RE2)}) AS n_out,
             {cnt(KANA_CLS_RE2)} AS n_kana,
             {cnt(HAN_CLS_RE2)} AS n_han
      FROM c
    ),
    s AS (
      SELECT doc_id, ulabel, n_letters, n_out, n_kana, n_han,
             len(toks) AS n_toks, {sel}
      FROM t
    ),
    base AS (
      SELECT doc_id, ulabel, n_letters, n_out, n_kana, n_han, n_toks,
             {best} AS s_best, {argmax} AS lex_label,
             ulabel IN ('ar', 'ko', 'th') AS is_out
      FROM s
    ),
    sw AS (
      SELECT b.*, d.den,
             CASE WHEN b.n_out * 2 > b.n_letters THEN 'unknown'
                  WHEN b.n_kana > 0 THEN 'ja'
                  WHEN b.n_han > 0 THEN 'zh'
                  WHEN b.s_best * d.den >= b.n_toks THEN b.lex_label
                  ELSE 'unknown' END AS pred
      FROM base b CROSS JOIN (SELECT unnest([{dens}]) AS den) d
    )
    SELECT CAST(den AS BIGINT) AS margin_den,
           CAST(SUM(CASE WHEN NOT is_out AND pred = ulabel
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_in_correct,
           CAST(SUM(CASE WHEN NOT is_out AND pred = 'unknown'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_in_unknown,
           CAST(SUM(CASE WHEN NOT is_out AND pred != ulabel
                          AND pred != 'unknown'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_in_misrouted,
           CAST(SUM(CASE WHEN is_out AND pred = 'unknown'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out_unknown,
           CAST(SUM(CASE WHEN is_out AND pred != 'unknown'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out_misrouted
    FROM sw GROUP BY den
    """


@query("text_langid_margin_sweep", _duck_ulang_margin_sweep())
def text_langid_margin_sweep(spark, sf_dir):
    """The router's margin TUNING CURVE (comment above): the v2
    cascade evaluated at margins 1/2, 1/4, 1/8, 1/16, 1/32 over the
    11-label corpus — per margin, in-set correct / dropped-to-unknown
    / misrouted, and out-of-set retained-on-unknown / leaked. The
    coverage gate and script gates are margin-independent, so the
    sweep isolates exactly the lexicon-margin knob. One corpus pass
    computes the shared columns; the 4-margin explode is a 4x row
    multiply on a tiny aggregate — eval cost stays corpus-scan
    shaped."""
    from uts_spark.functions.text import (
        HAN_CLS_JAVA,
        KANA_CLS_JAVA,
        ULANG_INSET_JAVA,
        ULANGS,
        ULETTER_RE,
        _class_count,
        ustopword_count,
        utokens,
    )

    c = _ucorpus_v2(table(spark, sf_dir, "documents"))
    toks = utokens(F.col("utext"))
    scores = [ustopword_count(toks, lang) for lang in ULANGS]
    best = F.greatest(*scores)
    lex = F.lit("unknown")
    for lang, score in reversed(list(zip(ULANGS, scores))):
        lex = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(lex)
    n_letters = _class_count(F.col("utext"), ULETTER_RE)
    base = c.select(
        "doc_id",
        "ulabel",
        F.col("ulabel").isin("ar", "ko", "th").alias("is_out"),
        best.alias("s_best"),
        F.size(toks).alias("n_toks"),
        lex.alias("lex_label"),
        n_letters.alias("n_letters"),
        (n_letters - _class_count(F.col("utext"), ULANG_INSET_JAVA)).alias(
            "n_out"
        ),
        _class_count(F.col("utext"), KANA_CLS_JAVA).alias("n_kana"),
        _class_count(F.col("utext"), HAN_CLS_JAVA).alias("n_han"),
    )
    dens = F.explode(
        F.array(*[F.lit(d) for d in _ULANG_MARGIN_DENS])
    ).alias("den")
    sw = base.select("*", dens).withColumn(
        "pred",
        F.when(F.col("n_out") * 2 > F.col("n_letters"), F.lit("unknown"))
        .when(F.col("n_kana") > 0, F.lit("ja"))
        .when(F.col("n_han") > 0, F.lit("zh"))
        .when(
            F.col("s_best") * F.col("den") >= F.col("n_toks"),
            F.col("lex_label"),
        )
        .otherwise(F.lit("unknown")),
    )
    z = F.lit(0).cast("long")
    cnt_if = lambda cond: F.sum(F.when(cond, 1).otherwise(z)).cast("long")  # noqa: E731
    in_ = ~F.col("is_out")
    return sw.groupBy(F.col("den").cast("long").alias("margin_den")).agg(
        cnt_if(in_ & (F.col("pred") == F.col("ulabel"))).alias("n_in_correct"),
        cnt_if(in_ & (F.col("pred") == "unknown")).alias("n_in_unknown"),
        cnt_if(
            in_ & (F.col("pred") != F.col("ulabel"))
            & (F.col("pred") != "unknown")
        ).alias("n_in_misrouted"),
        cnt_if(F.col("is_out") & (F.col("pred") == "unknown")).alias(
            "n_out_unknown"
        ),
        cnt_if(F.col("is_out") & (F.col("pred") != "unknown")).alias(
            "n_out_misrouted"
        ),
    )


# --------------------------------------------------------------------------
# MIX-TRAINED byte merges + fertility A/B (VERDICT r8 #2, the round-9
# quantitative headline): the shipped 512-merge byte table is trained
# on English seed text, and the lane above MEASURES the resulting
# English-centric tax (zh 7.16 vs en 1.53 tokens/pre-token). The fix a
# real pipeline ships: train the merges ON the language mix. The
# training sample is the corpus's own per-language sample texts
# (_ULANG_PREFIX — one source of truth with the corpus derivation),
# equal-weighted, through the same GPT-2-style pre-tokenizer and the
# same deterministic trainer, hex-pair symbols (291 merges — the
# sample's full pair supply). Measured at sf0.01 (SCALE.md round 9):
# fertility zh 7.16 -> 3.68, el 4.96 -> 2.19, ru 4.32 -> 2.08,
# ja 4.64 -> 2.49 while en pays the classic multilingual tax
# (1.53 -> 2.18); the max/min fertility spread compresses 4.68x ->
# 1.81x and corpus-total tokens drop 35% — the per-language byte-token
# budgets downstream (v6 shards, language mix) stop being 4.7x unfair.

_MIX_TRAIN_SAMPLE = tuple(
    (_ULANG_PREFIX[lab], 400) for lab in _ULAL_ORDER
)


def _mix_merges():
    from uts_spark.functions.bpe_pretrained import mix_trained_byte_merges

    return mix_trained_byte_merges(_MIX_TRAIN_SAMPLE)


def _mix_vocab_ids():
    from uts_spark.functions.bpe_pretrained import mix_trained_byte_vocab_ids

    return mix_trained_byte_vocab_ids(_MIX_TRAIN_SAMPLE)


def _duck_bpe_fertility_ab() -> str:
    from uts_spark.functions.bpe_pretrained import (
        byte_merge_patterns_sql,
        merges_to_patterns_sql,
    )
    from uts_spark.queries.sketch_ops import _PRETOK_RE

    pre = _PRETOK_RE.replace("'", "''")

    def seg_cte(pats):
        return f"""(
      SELECT pt,
             CAST(len(string_split(trim(
               list_reduce(
                 list_prepend(
                   regexp_replace(lower(hex(encode(pt))), '(..)', '|\\1|', 'g'),
                   {pats}),
                 (acc, p) -> replace(acc, p, replace(p, '||', ''))),
               '|'), '||')) AS BIGINT) AS n_tok
      FROM (SELECT DISTINCT pt FROM dpts))"""

    return f"""
    WITH base AS ({_UCORPUS_DUCK}),
    dpts AS (
      SELECT doc_id, ulabel, ws[i] AS pt
      FROM (SELECT doc_id, ulabel,
                   regexp_extract_all(utext, '{pre}') AS ws
            FROM base),
           unnest(range(1, len(ws) + 1)) AS u(i)
    ),
    pa AS {seg_cte(byte_merge_patterns_sql())},
    pm AS {seg_cte(merges_to_patterns_sql(_mix_merges()))},
    doc AS (
      SELECT d.doc_id, d.ulabel,
             CAST(COUNT(*) AS BIGINT) AS n_pre,
             CAST(SUM(a.n_tok) AS BIGINT) AS ta,
             CAST(SUM(m.n_tok) AS BIGINT) AS tm
      FROM dpts d JOIN pa a USING (pt) JOIN pm m USING (pt)
      GROUP BY d.doc_id, d.ulabel
    )
    SELECT ulabel AS label_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_pre) AS BIGINT) AS n_pretokens,
           CAST(SUM(ta) AS BIGINT) AS n_tokens_ascii,
           CAST(SUM(tm) AS BIGINT) AS n_tokens_mix,
           SUM(ta) / CAST(SUM(n_pre) AS DOUBLE) AS fertility_ascii,
           SUM(tm) / CAST(SUM(n_pre) AS DOUBLE) AS fertility_mix,
           SUM(tm) / CAST(SUM(ta) AS DOUBLE) AS token_ratio_mix_vs_ascii
    FROM doc GROUP BY ulabel
    """


@query("text_bpe_fertility_mix_trained", _duck_bpe_fertility_ab())
def text_bpe_fertility_mix_trained(spark, sf_dir):
    """The fertility A/B (module comment above): per language, token
    totals and fertility under BOTH byte tables — the shipped
    English-seed 512-merge table and the mix-trained 291-merge table —
    plus the per-language token ratio. All counts exact longs, ratios
    exact-over-exact, so the measured multilingual win (and the
    honest en regression) is itself hash-exact. Scale shape unchanged
    from the single-table lane: each table's merge work runs once per
    DISTINCT pre-token in one Arrow batch; the corpus contributes one
    regexp + explode + two dictionary joins."""
    from uts_spark.queries.sketch_ops import (
        _PRETOK_RE,
        _bpe_byte_pretoken_tokens,
    )

    c = _ucorpus(table(spark, sf_dir, "documents"))
    dpts = c.select(
        "doc_id",
        "ulabel",
        F.explode(
            F.regexp_extract_all(F.col("utext"), F.lit(_PRETOK_RE), 0)
        ).alias("pt"),
    )
    distinct_pts = dpts.select("pt").distinct()
    pa = _bpe_byte_pretoken_tokens(distinct_pts).select(
        "pt", F.col("n_tok").alias("ta")
    )
    pm = _bpe_byte_pretoken_tokens(
        distinct_pts, merges=_mix_merges(), vocab_ids=_mix_vocab_ids()
    ).select("pt", F.col("n_tok").alias("tm"))
    doc = (
        dpts.join(pa, "pt")
        .join(pm, "pt")
        .groupBy("doc_id", "ulabel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pre"),
            F.sum("ta").alias("ta"),
            F.sum("tm").alias("tm"),
        )
    )
    return (
        doc.groupBy(F.col("ulabel").alias("label_lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_pre").alias("n_pretokens"),
            F.sum("ta").alias("n_tokens_ascii"),
            F.sum("tm").alias("n_tokens_mix"),
        )
        .select(
            "label_lang",
            "n_docs",
            "n_pretokens",
            "n_tokens_ascii",
            "n_tokens_mix",
            (F.col("n_tokens_ascii") / F.col("n_pretokens")).alias(
                "fertility_ascii"
            ),
            (F.col("n_tokens_mix") / F.col("n_pretokens")).alias(
                "fertility_mix"
            ),
            (F.col("n_tokens_mix") / F.col("n_tokens_ascii")).alias(
                "token_ratio_mix_vs_ascii"
            ),
        )
    )


# --------------------------------------------------------------------------
# Training-prep v6 (round 8 capstone): LANGUAGE-ROUTED shards with
# fertility-correct token budgeting. v5's production gates stay (frozen
# quality model, SimHash near-dup removal); v6 adds the multilingual
# front: every doc is routed by the script-gated cascade, and shards
# are PER LANGUAGE with boundaries in BYTE-BPE tokens of the
# multilingual text — which automatically applies the per-language
# correction the fertility lane measures (char- or word-budgeted
# shards under-pack zh by ~4.7x vs en; token-budgeted shards are what
# the training stack actually consumes).
#
# Scale shape: ONE global range-partitioned exact prefix sum over the
# total order (lang_idx, doc_id) — not 8 per-language single-partition
# windows — then an 8-row broadcast join subtracts each language's
# start offset. Everything upstream is the v5 machinery (map-only
# gates, distinct-pretoken tokenizer).

_V6_BUDGET = 12_000  # byte-level tokens per shard, per language
# v6_mix: same shard semantics under the MIX-TRAINED table. The budget
# is the v6 budget rescaled by the measured corpus-total token ratio
# (21,337 mix vs 32,851 ascii tokens at sf0.01 = 0.649 -> 12,000 x
# 0.649 ~= 7,800), so expected shard counts stay comparable while the
# PER-LANGUAGE text-per-shard equity improves by the fertility
# compression (4.68x max/min spread -> 1.81x; SCALE.md round 9).
_V6_MIX_BUDGET = 7_800


def _duck_pipeline_v6(patterns_sql=None, budget=_V6_BUDGET) -> str:
    from uts_spark.functions.bpe_pretrained import byte_merge_patterns_sql
    from uts_spark.queries.llm_ops import (
        _duck_quality_model_features,
        _duck_simhash_pairs,
        _qm_logit_sql,
    )
    from uts_spark.queries.sketch_ops import _PRETOK_RE

    if patterns_sql is None:
        patterns_sql = byte_merge_patterns_sql()
    pre = _PRETOK_RE.replace("'", "''")
    lang_idx = "CASE route_lang " + " ".join(
        f"WHEN '{lab}' THEN {i}" for i, lab in enumerate(_ULAL_ORDER)
    ) + " ELSE 99 END"
    return f"""
    WITH {_duck_quality_model_features()},
    mdl AS (SELECT doc_id, {_qm_logit_sql()} >= 0 AS model_pass FROM qf),
    pairs AS ({_duck_simhash_pairs()}),
    route AS (SELECT doc_id, pred_lang FROM ({_duck_ulang_case()})),
    uc AS ({_UCORPUS_DUCK}),
    dpts6 AS (
      SELECT doc_id, ws[i] AS pt
      FROM (SELECT doc_id, regexp_extract_all(utext, '{pre}') AS ws
            FROM uc),
           unnest(range(1, len(ws) + 1)) AS u(i)
    ),
    bseg6 AS (
      SELECT pt,
             list_reduce(
               list_prepend(
                 regexp_replace(lower(hex(encode(pt))), '(..)', '|\\1|', 'g'),
                 {patterns_sql}),
               (acc, p) -> replace(acc, p, replace(p, '||', ''))) AS s
      FROM (SELECT DISTINCT pt FROM dpts6)
    ),
    btok6 AS (
      SELECT pt,
             CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_tok
      FROM bseg6
    ),
    bpe6 AS (
      SELECT d.doc_id, CAST(SUM(t.n_tok) AS BIGINT) AS n_btok
      FROM dpts6 d JOIN btok6 t USING (pt) GROUP BY d.doc_id
    ),
    kept AS (
      SELECT r.doc_id, r.pred_lang AS route_lang, b.n_btok
      FROM route r JOIN mdl m USING (doc_id) JOIN bpe6 b USING (doc_id)
      WHERE m.model_pass AND r.doc_id NOT IN (SELECT id_b FROM pairs)
    ),
    cum AS (
      SELECT doc_id, route_lang, n_btok,
             SUM(n_btok) OVER (ORDER BY {lang_idx}, doc_id
                               ROWS UNBOUNDED PRECEDING) - n_btok AS cb
      FROM kept
    )
    SELECT doc_id, route_lang, n_btok,
           CAST((cb - MIN(cb) OVER (PARTITION BY route_lang))
                // {budget} AS BIGINT) AS shard
    FROM cum
    """


def _pipeline_v6_frame(
    spark, sf_dir, merges=None, vocab_ids=None, budget=_V6_BUDGET
):
    """Shared v6 machinery (gates -> route -> byte-tokenize -> one
    global prefix sum -> per-language shards), parameterized by the
    byte merge table and shard budget so the ASCII-table lane and the
    mix-trained lane stay one implementation."""
    from uts_spark.functions.dedup import simhash_band_pairs
    from uts_spark.functions.text import ulang_id
    from uts_spark.operators.distributed_rank import ranked_cumsum
    from uts_spark.queries.llm_ops import _QM_W, _quality_model_features
    from uts_spark.queries.sketch_ops import (
        _PRETOK_RE,
        _bpe_byte_pretoken_tokens,
    )

    docs = table(spark, sf_dir, "documents")
    w = _QM_W
    feats = _quality_model_features(docs)
    logit = (
        F.lit(w["w0"])
        + F.lit(w["x_len"]) * F.col("x_len")
        + F.lit(w["x_stop"]) * F.col("x_stop")
        + F.lit(w["x_mwl"]) * F.col("x_mwl")
        + F.lit(w["x_ttr"]) * F.col("x_ttr")
        + F.lit(w["x_rep"]) * F.col("x_rep")
    ).cast("long")
    mdl = feats.select("doc_id", (logit >= 0).alias("model_pass"))
    pairs = simhash_band_pairs(docs, "text", "doc_id", bands=4, max_hamming=6)

    c = _ucorpus(docs)
    route = c.select(
        "doc_id", ulang_id("utext").alias("route_lang")
    )
    dpts = c.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("utext"), F.lit(_PRETOK_RE), 0)
        ).alias("pt"),
    )
    toks = (
        dpts.join(
            _bpe_byte_pretoken_tokens(
                dpts.select("pt").distinct(),
                merges=merges,
                vocab_ids=vocab_ids,
            ),
            "pt",
        )
        .groupBy("doc_id")
        .agg(F.sum("n_tok").alias("n_btok"))
    )
    lang_idx = None
    for i, lab in enumerate(_ULAL_ORDER):
        cond = F.col("route_lang") == lab
        lang_idx = (
            F.when(cond, F.lit(i))
            if lang_idx is None
            else lang_idx.when(cond, F.lit(i))
        )
    lang_idx = lang_idx.otherwise(F.lit(99))
    kept = (
        route.join(mdl, "doc_id")
        .join(toks, "doc_id")
        .filter(F.col("model_pass"))
        .join(
            pairs.select(F.col("id_b").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        .select(
            "doc_id",
            "route_lang",
            "n_btok",
            (lang_idx.cast("long") * F.lit(1 << 40) + F.col("doc_id")).alias(
                "__ord"
            ),
        )
    )
    # ranked_cumsum's plan references its input several times (boundary
    # sample, per-bucket sums, final join); without materialization the
    # gates + router + tokenizer upstream recompute per reference —
    # measured 42s -> ~8s at sf0.1. kept is survivor-sized (hundreds of
    # narrow rows), so the eager checkpoint is ~free.
    kept = kept.localCheckpoint(eager=True)
    r = ranked_cumsum(
        kept,
        F.col("__ord"),
        [F.asc("__ord")],
        values={"tok": F.col("n_btok")},
        n_buckets=64,
    ).withColumn("cb", F.col("cum_tok") - F.col("n_btok"))
    starts = r.groupBy("route_lang").agg(F.min("cb").alias("__start"))
    return (
        r.join(F.broadcast(starts), "route_lang")
        .select(
            "doc_id",
            "route_lang",
            "n_btok",
            F.floor(
                (F.col("cb") - F.col("__start")) / F.lit(budget)
            ).cast("long").alias("shard"),
        )
    )


@query("pipeline_training_prep_v6", _duck_pipeline_v6())
def pipeline_training_prep_v6(spark, sf_dir):
    """Training-prep v6 (module comment above): frozen-model quality
    gate + SimHash near-dup removal (both on the raw text, as v5),
    then LANGUAGE ROUTING via the unicode cascade and per-language
    shard assignment with boundaries in byte-BPE tokens of the
    multilingual text. The per-language prefix sums come from ONE
    range-partitioned exact global prefix sum over the total order
    (lang_idx * 2^40 + doc_id) — no single-partition window, no
    8-partition skew — minus each language's start offset (an 8-row
    broadcast join). Token budgeting makes the fertility correction
    automatic: a zh shard holds ~4.7x less raw text than an en shard
    at the same token budget, exactly what the training stack sees."""
    return _pipeline_v6_frame(spark, sf_dir)


def _duck_pipeline_v6_mix() -> str:
    from uts_spark.functions.bpe_pretrained import merges_to_patterns_sql

    return _duck_pipeline_v6(
        patterns_sql=merges_to_patterns_sql(_mix_merges()),
        budget=_V6_MIX_BUDGET,
    )


@query("pipeline_training_prep_v6_mix", _duck_pipeline_v6_mix())
def pipeline_training_prep_v6_mix(spark, sf_dir):
    """v6 with the BUDGETS RECOMPUTED under the mix-trained byte table
    (VERDICT r8 #2's second half): same gates, same routing, same one
    global prefix sum — but token counts come from the 291-merge
    mix-trained table and the shard budget is the v6 budget rescaled
    by the measured corpus-total token ratio (12,000 x 0.649 ~= 7,800;
    see _V6_MIX_BUDGET comment). What changes materially is EQUITY: at
    the ASCII table a zh shard held ~4.7x less text than an en shard
    at the same token budget; under the mix table the spread is 1.81x
    — shard boundaries now land where a multilingual training stack's
    real tokenizer would put them."""
    return _pipeline_v6_frame(
        spark,
        sf_dir,
        merges=_mix_merges(),
        vocab_ids=_mix_vocab_ids(),
        budget=_V6_MIX_BUDGET,
    )


# --------------------------------------------------------------------------
# TOKEN-budgeted language mix: the mixing step of a multilingual
# pretraining recipe done in the unit that matters. domain_mix_rebalance
# (sampling_ops) weights by ROW counts; for a multilingual corpus that
# is wrong by exactly the fertility factor — at equal rows, zh
# contributes ~4.7x more TOKENS per pre-token budget than en under the
# byte tokenizer. This lane computes per-language sampling rates from
# target TOKEN shares over the byte-BPE token counts (fertility
# correction applied automatically), then keeps docs by the
# deterministic hash draw.

# en's target deliberately EXCEEDS its available tokens (~1.4k at the
# gate SFs vs want = 0.15 x 16k = 2.4k): its rate clamps at 1.0 and the
# eval's undershoot flag fires — both regimes of the mix are exercised
# on the fixture, not just the happy path.
_LMIX_TARGETS = {
    "en": 0.15, "de": 0.10, "fr": 0.10, "es": 0.10,
    "ru": 0.15, "el": 0.15, "zh": 0.10, "ja": 0.15,
}
_LMIX_BUDGET = 16_000  # byte-level tokens


def _duck_lang_mix_rated() -> str:
    from uts_spark.functions.bpe_pretrained import byte_merge_patterns_sql
    from uts_spark.functions.sampling import duck_hash_u
    from uts_spark.queries.sketch_ops import _PRETOK_RE

    pre = _PRETOK_RE.replace("'", "''")
    share = "CASE route_lang " + " ".join(
        f"WHEN '{k}' THEN {float(v)!r}" for k, v in _LMIX_TARGETS.items()
    ) + " END"
    return f"""
    WITH route AS (
      SELECT doc_id, pred_lang AS route_lang FROM ({_duck_ulang_case()})
    ),
    uc AS ({_UCORPUS_DUCK}),
    dpts AS (
      SELECT doc_id, ws[i] AS pt
      FROM (SELECT doc_id, regexp_extract_all(utext, '{pre}') AS ws
            FROM uc),
           unnest(range(1, len(ws) + 1)) AS u(i)
    ),
    seg AS (
      SELECT pt,
             list_reduce(
               list_prepend(
                 regexp_replace(lower(hex(encode(pt))), '(..)', '|\\1|', 'g'),
                 {byte_merge_patterns_sql()}),
               (acc, p) -> replace(acc, p, replace(p, '||', ''))) AS s
      FROM (SELECT DISTINCT pt FROM dpts)
    ),
    ptok AS (
      SELECT pt,
             CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_tok
      FROM seg
    ),
    toks AS (
      SELECT d.doc_id, CAST(SUM(p.n_tok) AS BIGINT) AS n_btok
      FROM dpts d JOIN ptok p USING (pt) GROUP BY d.doc_id
    ),
    lang AS (
      SELECT r.doc_id, r.route_lang, t.n_btok
      FROM route r JOIN toks t USING (doc_id)
    ),
    have AS (
      SELECT route_lang, SUM(n_btok) AS have_tok FROM lang GROUP BY route_lang
    ),
    rated AS (
      SELECT l.doc_id, l.route_lang, l.n_btok,
             LEAST(1.0, ({share}) * {float(_LMIX_BUDGET)!r}
                        / CAST(h.have_tok AS DOUBLE)) AS rate
      FROM lang l JOIN have h USING (route_lang)
    )
    SELECT doc_id, route_lang, n_btok, rate,
           {duck_hash_u('lmix', 'doc_id')} < rate AS kept
    FROM rated
    """


def _duck_lang_mix() -> str:
    return f"""
    SELECT doc_id, route_lang, n_btok
    FROM ({_duck_lang_mix_rated()}) WHERE kept
    """


@query("corpus_language_mix_tokens", _duck_lang_mix())
def corpus_language_mix_tokens(spark, sf_dir):
    """Token-budgeted language mix (module comment above): per
    language, rate = min(1, share x token_budget / have_tokens) over
    byte-BPE token counts of the multilingual corpus — the unit the
    training stack consumes, so the measured fertility tax is
    corrected automatically (a row-count mix over-serves zh by ~4.7x
    tokens). Selection is the deterministic uniform hash draw (no RNG
    state; identical on every rerun and engine). Scale shape: the
    per-language token totals are an 8-row aggregate joined back
    broadcast, token counting is the flat distinct-pretoken kernel,
    and the corpus itself is touched by one narrow filter."""
    from uts_spark.functions.sampling import hash_u
    from uts_spark.functions.text import ulang_id
    from uts_spark.queries.sketch_ops import (
        _PRETOK_RE,
        _bpe_byte_pretoken_tokens,
    )

    c = _ucorpus(table(spark, sf_dir, "documents"))
    route = c.select("doc_id", ulang_id("utext").alias("route_lang"))
    dpts = c.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("utext"), F.lit(_PRETOK_RE), 0)
        ).alias("pt"),
    )
    toks = (
        dpts.join(_bpe_byte_pretoken_tokens(dpts.select("pt").distinct()), "pt")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").alias("n_btok"))
    )
    lang = route.join(toks, "doc_id")
    have = lang.groupBy("route_lang").agg(F.sum("n_btok").alias("have_tok"))
    share = None
    for k, v in _LMIX_TARGETS.items():
        w = F.when(F.col("route_lang") == k, F.lit(float(v)))
        share = w if share is None else share.when(
            F.col("route_lang") == k, F.lit(float(v))
        )
    rated = lang.join(F.broadcast(have), "route_lang").select(
        "doc_id",
        "route_lang",
        "n_btok",
        F.least(
            F.lit(1.0),
            share * F.lit(float(_LMIX_BUDGET))
            / F.col("have_tok").cast("double"),
        ).alias("rate"),
    )
    return (
        rated.filter(hash_u("lmix", F.col("doc_id")) < F.col("rate"))
        .select("doc_id", "route_lang", "n_btok")
    )


def _duck_lang_mix_eval() -> str:
    return f"""
    WITH r AS ({_duck_lang_mix_rated()}),
    per AS (
      SELECT route_lang,
             CAST(SUM(n_btok) AS BIGINT) AS have_tok,
             CAST(SUM(CASE WHEN kept THEN n_btok END) AS BIGINT) AS kept_tok,
             MIN(rate) AS rate
      FROM r GROUP BY route_lang
    ),
    tot AS (SELECT SUM(kept_tok) AS total_kept FROM per)
    SELECT p.route_lang,
           p.have_tok,
           CAST(ROUND(({_duck_mix_share('p.route_lang')})
                      * {float(_LMIX_BUDGET)!r}) AS BIGINT) AS want_tok,
           p.kept_tok,
           p.rate,
           p.kept_tok / CAST(t.total_kept AS DOUBLE) AS realized_share,
           ({_duck_mix_share('p.route_lang')}) AS target_share,
           p.rate >= 1.0 AS undershoot
    FROM per p CROSS JOIN tot t
    """


def _duck_mix_share(col: str) -> str:
    return "CASE " + " ".join(
        f"WHEN {col} = '{k}' THEN {float(v)!r}"
        for k, v in _LMIX_TARGETS.items()
    ) + " END"


@query("corpus_language_mix_eval", _duck_lang_mix_eval())
def corpus_language_mix_eval(spark, sf_dir):
    """Mix-REALIZATION eval — the monitoring half of the token mix:
    per language, available tokens, wanted tokens (share x budget),
    kept tokens after the hash draw, the sampling rate, the realized
    share of the kept corpus vs the target share, and an undershoot
    flag (rate clamped at 1.0 means the language had fewer tokens than
    its target wanted — no upsampling, so its share silently falls
    short unless monitored). Realized shares never exactly equal
    targets (hash-draw variance + clamping); this lane is where a mix
    recipe measures how far off it landed before a training run
    consumes it. On the fixture the en row fires the flag by design
    (want 2.4k tokens vs ~1.4k available — rate clamps at 1.0 and en's
    realized share falls short), so both regimes are gate-covered."""
    from uts_spark.functions.sampling import hash_u
    from uts_spark.functions.text import ulang_id
    from uts_spark.queries.sketch_ops import (
        _PRETOK_RE,
        _bpe_byte_pretoken_tokens,
    )

    c = _ucorpus(table(spark, sf_dir, "documents"))
    route = c.select("doc_id", ulang_id("utext").alias("route_lang"))
    dpts = c.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("utext"), F.lit(_PRETOK_RE), 0)
        ).alias("pt"),
    )
    toks = (
        dpts.join(_bpe_byte_pretoken_tokens(dpts.select("pt").distinct()), "pt")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").alias("n_btok"))
    )
    lang = route.join(toks, "doc_id")
    have = lang.groupBy("route_lang").agg(F.sum("n_btok").alias("have_tok"))
    share = None
    for k, v in _LMIX_TARGETS.items():
        w = F.when(F.col("route_lang") == k, F.lit(float(v)))
        share = w if share is None else share.when(
            F.col("route_lang") == k, F.lit(float(v))
        )
    rated = lang.join(F.broadcast(have), "route_lang").select(
        "doc_id",
        "route_lang",
        "n_btok",
        F.least(
            F.lit(1.0),
            share * F.lit(float(_LMIX_BUDGET))
            / F.col("have_tok").cast("double"),
        ).alias("rate"),
        (hash_u("lmix", F.col("doc_id"))).alias("__u"),
    )
    per = rated.groupBy("route_lang").agg(
        F.sum("n_btok").alias("have_tok"),
        F.sum(F.when(F.col("__u") < F.col("rate"), F.col("n_btok"))).alias(
            "kept_tok"
        ),
        F.min("rate").alias("rate"),
    )
    tot = per.agg(F.sum("kept_tok").alias("total_kept"))
    return per.crossJoin(F.broadcast(tot)).select(
        "route_lang",
        "have_tok",
        F.round(share.alias("x") * F.lit(float(_LMIX_BUDGET)))
        .cast("long")
        .alias("want_tok"),
        "kept_tok",
        "rate",
        (F.col("kept_tok") / F.col("total_kept").cast("double")).alias(
            "realized_share"
        ),
        share.alias("target_share"),
        (F.col("rate") >= 1.0).alias("undershoot"),
    )

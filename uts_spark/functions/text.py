"""Text-analysis operators for large-scale training-data pipelines:
tokenization, token counting, quality scoring, language ID, document
fingerprinting. All pure Column expressions (JVM-side, codegen'd, no
UDFs) with DuckDB-portable semantics so every operator is oracle-checkable.

Scale notes: each operator is a narrow map over the documents table — no
shuffle at all until a downstream groupBy. Regexes are anchored to simple
character classes that mean the same thing in Java regex and RE2.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from uts_spark.functions.hashing import duck_hash64, hash64

TOKEN_RE = "[a-z0-9]+"
PUNCT_RE = "[.,;:!?]"

# Tiny stopword lexicons for the n-gram/stopword language heuristic.
# Order matters: ties resolve by this precedence (first wins).
LANGS = ("en", "de", "fr", "es")
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "en", "por"],
}


def tokens(col: Column) -> Column:
    """Lowercased word tokens (alnum runs)."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), F.lit(0))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def stopword_count(toks: Column, lang: str) -> Column:
    """Occurrence count (not distinct) of the language's stopwords."""
    lex = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(lex, t)))


def lang_id(col: Column) -> Column:
    """Argmax of stopword-occurrence scores with fixed precedence
    (LANGS order). A deterministic heuristic — the point is the scalable
    shape (pure expressions), not linguistic accuracy."""
    toks = tokens(col)
    scores = [stopword_count(toks, lang) for lang in LANGS]
    best = F.greatest(*scores)
    expr = F.lit("unknown")
    for lang, score in reversed(list(zip(LANGS, scores))):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


# --------------------------------------------------------------------------
# Unicode language ID (VERDICT r7 #5): the ASCII lane above tokenizes
# [a-z0-9]+ only, so Cyrillic/Greek text scores 0 everywhere and CJK
# (no word spaces) can't be stopword-scored at all. The unicode lane is
# the standard fastText-style CASCADE: script gate first (kana → ja,
# Han → zh — both spaceless, lexicon-unfriendly), then a stopword
# argmax over unicode tokens with Cyrillic and Greek lexicons added.
# All regexes stay in the Java∩RE2 subset (\p{L}/\p{N}/script classes
# — Java spells scripts \p{IsHan}, RE2 \p{Han}; same Unicode data).

UTOKEN_RE = r"[\p{L}\p{N}]+"
ULANGS = ("en", "de", "fr", "es", "ru", "el")
USTOPWORDS: dict[str, list[str]] = {
    **STOPWORDS,
    "ru": ["и", "это", "не", "в", "мы", "с", "они", "у", "на", "что"],
    "el": ["και", "το", "είναι", "με", "τον", "στο", "για", "τα", "δεν", "ένα"],
}
KANA_CLS_JAVA = r"[\p{IsHiragana}\p{IsKatakana}]"
KANA_CLS_RE2 = r"[\p{Hiragana}\p{Katakana}]"
HAN_CLS_JAVA = r"[\p{IsHan}]"
HAN_CLS_RE2 = r"[\p{Han}]"


def _class_count(col: Column, cls: str) -> Column:
    """Chars-of-class count via the remove-and-diff trick (pure JVM,
    same device as text_script_profile)."""
    return F.length(col) - F.length(F.regexp_replace(col, cls, ""))


def utokens(col: Column) -> Column:
    """Lowercased unicode word tokens (letter/digit runs — accented
    Latin, Cyrillic, Greek all tokenize; the corpus this runs on is
    lowercase outside ASCII so lower() engine parity is exact)."""
    return F.regexp_extract_all(F.lower(col), F.lit(UTOKEN_RE), F.lit(0))


def ustopword_count(toks: Column, lang: str) -> Column:
    lex = F.array(*[F.lit(w) for w in USTOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(lex, t)))


def _sql_rx(pat: str) -> str:
    """Regex pattern as a SQL string literal: the parser processes
    backslash escapes (escapedStringLiterals=false), so every backslash
    doubles to reach the runtime string the Column path passed raw."""
    return "'" + pat.replace("\\", "\\\\") + "'"


def ulang_id(col: Column | str) -> Column:
    """Script-gated unicode language ID: any kana → 'ja' (Japanese
    mixes kana with Han, so kana must gate FIRST), else any Han →
    'zh', else stopword-lexicon argmax over ULANGS with fixed
    precedence (en first), 0 everywhere → 'unknown'. Pure expressions,
    fuses into the scan — the language-routing map for a multilingual
    crawl.

    A ``str`` argument (a column name / SQL fragment) builds the whole
    cascade as ONE SQL string — the per-Column form cost ~1k py4j
    round trips per plan build (optimization r11); the parsed tree is
    value-identical (lambda variable naming aside), verified plan- and
    result-equal. Column inputs keep the original construction."""
    if isinstance(col, str):
        toks = f"regexp_extract_all(lower({col}), {_sql_rx(UTOKEN_RE)}, 0)"
        score = {
            lang: (
                f"size(filter({toks}, t -> array_contains(array("
                + ", ".join(f"'{w}'" for w in USTOPWORDS[lang])
                + "), t)))"
            )
            for lang in ULANGS
        }
        best = "greatest(" + ", ".join(score[lang] for lang in ULANGS) + ")"
        expr = "'unknown'"
        for lang in reversed(ULANGS):
            expr = (
                f"CASE WHEN (({score[lang]}) = ({best}))"
                f" AND (({best}) > 0) THEN '{lang}' ELSE {expr} END"
            )
        cnt = lambda cls: (  # noqa: E731
            f"(length({col}) - length(regexp_replace({col}, "
            f"{_sql_rx(cls)}, '')))"
        )
        return F.expr(
            f"CASE WHEN {cnt(KANA_CLS_JAVA)} > 0 THEN 'ja'"
            f" WHEN {cnt(HAN_CLS_JAVA)} > 0 THEN 'zh'"
            f" ELSE {expr} END"
        )
    toks = utokens(col)
    scores = [ustopword_count(toks, lang) for lang in ULANGS]
    best = F.greatest(*scores)
    expr = F.lit("unknown")
    for lang, score in reversed(list(zip(ULANGS, scores))):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return (
        F.when(_class_count(col, KANA_CLS_JAVA) > 0, F.lit("ja"))
        .when(_class_count(col, HAN_CLS_JAVA) > 0, F.lit("zh"))
        .otherwise(expr)
    )


# --------------------------------------------------------------------------
# Calibrated router (VERDICT r8 #6): ulang_id routes 8 labels and was
# measured at accuracy 1.0 on the prefix-dominant derived corpus — but a
# real crawl front sees Korean, Arabic, Thai, …, and the v1 cascade
# routes such a doc to the nearest IN-SET label whenever it carries a
# few Latin loanwords (the lexicon argmax only needs best > 0). Two
# guards, both pure JVM expressions:
#
# 1. SCRIPT COVERAGE: letters outside the gate's covered scripts
#    (Latin / Cyrillic / Greek / kana / Han) forming a MAJORITY of the
#    doc's letters → 'unknown'. Catches every out-of-set script without
#    naming any (Arabic, Hangul, Thai, Hebrew, Devanagari, …).
# 2. LEXICON MARGIN: the winning lexicon must cover >= 1/8 of the
#    doc's tokens (best * 8 >= n_tokens), not merely be > 0 — a doc
#    whose letters are mostly Latin but whose tokens barely touch any
#    stopword list is evidence-free, not English. Thresholds measured
#    on the extended corpus at sf0.01 (SCALE.md round 9): lexicon-routed
#    in-set docs sit at hit-ratio >= 0.391, out-of-set docs at <= 0.087
#    — 1/8 = 0.125 sits between with ~3x margin on the in-set side;
#    out-of-set docs carry out-letter share >= 0.564 vs in-set exactly
#    0.0 — the 1/2 majority rule sits between with margin both ways.

ULANG_INSET_JAVA = (
    r"[\p{IsLatin}\p{IsCyrillic}\p{IsGreek}"
    r"\p{IsHiragana}\p{IsKatakana}\p{IsHan}]"
)
ULANG_INSET_RE2 = (
    r"[\p{Latin}\p{Cyrillic}\p{Greek}\p{Hiragana}\p{Katakana}\p{Han}]"
)
ULETTER_RE = r"[\p{L}]"  # same spelling in Java and RE2
ULANG_MARGIN_DEN = 8  # winning lexicon must cover >= 1/8 of tokens


def ulang_id_v2(col: Column) -> Column:
    """Script-gated unicode language ID with a calibrated 'unknown'
    (module comment above): out-of-set-script majority → 'unknown';
    any kana → 'ja'; any Han → 'zh'; else stopword argmax that must
    ALSO clear the 1/8 token-coverage margin. Still pure expressions —
    fuses into the scan like v1."""
    toks = utokens(col)
    n_toks = F.size(toks)
    scores = [ustopword_count(toks, lang) for lang in ULANGS]
    best = F.greatest(*scores)
    expr = F.lit("unknown")
    for lang, score in reversed(list(zip(ULANGS, scores))):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    margined = F.when(
        best * F.lit(ULANG_MARGIN_DEN) >= n_toks, expr
    ).otherwise(F.lit("unknown"))
    n_letters = _class_count(col, ULETTER_RE)
    n_out = n_letters - _class_count(col, ULANG_INSET_JAVA)
    return (
        F.when(n_out * 2 > n_letters, F.lit("unknown"))
        .when(_class_count(col, KANA_CLS_JAVA) > 0, F.lit("ja"))
        .when(_class_count(col, HAN_CLS_JAVA) > 0, F.lit("zh"))
        .otherwise(margined)
    )


# --------------------------------------------------------------------------
# v3 router (round-10 candidate #5): ar/ko/th promoted from the v2
# 'unknown' tail to IN-SET SCRIPT ROUTES. Arabic, Hangul, and Thai are
# (near-)language-unique scripts, so like kana/Han they gate on script
# presence, not lexicons — no stopword lists needed, and the spaceless
# Thai case (which a token-based lexicon cannot score) routes anyway.
# Caveat the docstring owns: Arabic SCRIPT also writes Persian/Urdu/
# Pashto — a production router disambiguates within the script by
# lexicon, exactly the way ru/el disambiguate within Cyrillic/Greek
# here; the script gate is the correct first stage either way.
# 'unknown' remains the calibrated long tail for every script still
# outside the set (Hebrew, Devanagari, … — exercised by the v3 corpus).

ARABIC_CLS_JAVA, ARABIC_CLS_RE2 = r"[\p{IsArabic}]", r"[\p{Arabic}]"
HANGUL_CLS_JAVA, HANGUL_CLS_RE2 = r"[\p{IsHangul}]", r"[\p{Hangul}]"
THAI_CLS_JAVA, THAI_CLS_RE2 = r"[\p{IsThai}]", r"[\p{Thai}]"
ULANG_INSET_V3_JAVA = (
    r"[\p{IsLatin}\p{IsCyrillic}\p{IsGreek}"
    r"\p{IsHiragana}\p{IsKatakana}\p{IsHan}"
    r"\p{IsArabic}\p{IsHangul}\p{IsThai}]"
)
ULANG_INSET_V3_RE2 = (
    r"[\p{Latin}\p{Cyrillic}\p{Greek}\p{Hiragana}\p{Katakana}\p{Han}"
    r"\p{Arabic}\p{Hangul}\p{Thai}]"
)


def ulang_id_v3(col: Column) -> Column:
    """The 11-route calibrated router: v2's two guards (out-of-set
    script majority → 'unknown'; 1/8 lexicon margin) with ar/ko/th as
    in-set script gates. Gate order is mixing-aware: kana before Han
    (Japanese mixes them), Hangul before Han (Korean hanja), then Han,
    Arabic, Thai — each gate fires on ANY presence because within the
    in-set majority a unique-script character is decisive evidence.
    Still pure JVM expressions fused into the scan."""
    toks = utokens(col)
    n_toks = F.size(toks)
    scores = [ustopword_count(toks, lang) for lang in ULANGS]
    best = F.greatest(*scores)
    expr = F.lit("unknown")
    for lang, score in reversed(list(zip(ULANGS, scores))):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    margined = F.when(
        best * F.lit(ULANG_MARGIN_DEN) >= n_toks, expr
    ).otherwise(F.lit("unknown"))
    n_letters = _class_count(col, ULETTER_RE)
    n_out = n_letters - _class_count(col, ULANG_INSET_V3_JAVA)
    return (
        F.when(n_out * 2 > n_letters, F.lit("unknown"))
        .when(_class_count(col, KANA_CLS_JAVA) > 0, F.lit("ja"))
        .when(_class_count(col, HANGUL_CLS_JAVA) > 0, F.lit("ko"))
        .when(_class_count(col, HAN_CLS_JAVA) > 0, F.lit("zh"))
        .when(_class_count(col, ARABIC_CLS_JAVA) > 0, F.lit("ar"))
        .when(_class_count(col, THAI_CLS_JAVA) > 0, F.lit("th"))
        .otherwise(margined)
    )


# --------------------------------------------------------------------------
# v4 router: WITHIN-SCRIPT disambiguation for the Arabic script. The
# script tells you the FAMILY — Arabic script writes Arabic, Persian,
# Urdu (and Pashto, Kurdish, …) — the lexicon picks the member, exactly
# the way ru/el disambiguate within Cyrillic/Greek. Distinctive
# function words: Persian uses its own letters for some (ک U+06A9 vs
# Arabic ك U+0643) and Urdu likewise (ہ U+06C1, ے U+06D2), so the
# lexicons are disjoint at the codepoint level even where words look
# alike. An Arabic-script doc clearing no lexicon's 1/8 margin routes
# 'unknown' — the same evidence-free rule every lexicon route obeys
# (v3's blanket script->'ar' guessed the member; v4 doesn't guess).

UARFAM = ("ar", "fa", "ur")
UARFAM_STOPWORDS: dict[str, list[str]] = {
    "ar": ["هذا", "هو", "في", "من", "على", "هذه", "أن", "إلى", "كان", "مع"],
    "fa": ["است", "که", "این", "را", "با", "برای", "های", "می", "آن", "خود"],
    "ur": ["ہے", "کے", "میں", "کی", "اور", "یہ", "سے", "کا", "ہیں", "نے"],
}


def _lex_count(toks: Column, words: list[str]) -> Column:
    lex = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lex, t)))


def duck_lex_count(toks: str, words: list[str]) -> str:
    lex = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({toks}, t -> list_contains({lex}, t)))"


def ulang_id_v4(col: Column) -> Column:
    """The 13-route router: v3 with the Arabic script gate replaced by
    a within-family lexicon argmax over {ar, fa, ur} (fixed precedence,
    same 1/8 margin; no member clearing it → 'unknown'). Hangul/Thai
    stay pure script routes (each writes one language); kana/Han
    ordering unchanged. Still pure JVM expressions fused into the
    scan."""
    toks = utokens(col)
    n_toks = F.size(toks)
    scores = [ustopword_count(toks, lang) for lang in ULANGS]
    best = F.greatest(*scores)
    expr = F.lit("unknown")
    for lang, score in reversed(list(zip(ULANGS, scores))):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    margined = F.when(
        best * F.lit(ULANG_MARGIN_DEN) >= n_toks, expr
    ).otherwise(F.lit("unknown"))

    ar_scores = [_lex_count(toks, UARFAM_STOPWORDS[m]) for m in UARFAM]
    ar_best = F.greatest(*ar_scores)
    ar_expr = F.lit("unknown")
    for m, score in reversed(list(zip(UARFAM, ar_scores))):
        ar_expr = F.when(
            (score == ar_best) & (ar_best > 0), F.lit(m)
        ).otherwise(ar_expr)
    ar_margined = F.when(
        ar_best * F.lit(ULANG_MARGIN_DEN) >= n_toks, ar_expr
    ).otherwise(F.lit("unknown"))

    n_letters = _class_count(col, ULETTER_RE)
    n_out = n_letters - _class_count(col, ULANG_INSET_V3_JAVA)
    return (
        F.when(n_out * 2 > n_letters, F.lit("unknown"))
        .when(_class_count(col, KANA_CLS_JAVA) > 0, F.lit("ja"))
        .when(_class_count(col, HANGUL_CLS_JAVA) > 0, F.lit("ko"))
        .when(_class_count(col, HAN_CLS_JAVA) > 0, F.lit("zh"))
        .when(_class_count(col, ARABIC_CLS_JAVA) > 0, ar_margined)
        .when(_class_count(col, THAI_CLS_JAVA) > 0, F.lit("th"))
        .otherwise(margined)
    )


def uarfam_confidence(col: Column) -> dict[str, Column]:
    """The Arabic-family argmax's evidence, as output columns (the one
    open router item from ROADMAP round-10 #1: downstream consumers of
    a fa/ur route need to SEE the margin, not just trust it): one
    per-member lexicon hit count (``a_ar``/``a_fa``/``a_ur``), the
    winning count, and the token count the margin divides by. All
    integers — the confidence is hash-exact, like the router itself.
    ``a_best * margin_den >= n_toks`` recovers exactly the v4 routing
    decision at any margin, so a consumer can re-gate stricter than
    the shipped 1/8 without re-tokenizing."""
    toks = utokens(col)
    out: dict[str, Column] = {
        f"a_{m}": _lex_count(toks, UARFAM_STOPWORDS[m]).cast("long")
        for m in UARFAM
    }
    out["a_best"] = F.greatest(
        *[_lex_count(toks, UARFAM_STOPWORDS[m]) for m in UARFAM]
    ).cast("long")
    out["n_toks"] = F.size(toks).cast("long")
    return out


def ulang_confidence(col: Column) -> dict[str, Column]:
    """The router's evidence, as output columns (VERDICT r8 #6 asked
    for confidence in the output, not just a label): winning-lexicon
    hit count, token count, and the out-of-set letter count — all
    integers, so the confidence itself is hash-exact."""
    toks = utokens(col)
    scores = [ustopword_count(toks, lang) for lang in ULANGS]
    n_letters = _class_count(col, ULETTER_RE)
    return {
        "s_best": F.greatest(*scores).cast("long"),
        "n_toks": F.size(toks).cast("long"),
        "n_out_letters": (
            n_letters - _class_count(col, ULANG_INSET_JAVA)
        ).cast("long"),
        "n_letters": n_letters.cast("long"),
    }


def duck_utokens(expr: str) -> str:
    return f"regexp_extract_all(lower({expr}), '{UTOKEN_RE}')"


def duck_ustopword_count(toks: str, lang: str) -> str:
    lex = "[" + ", ".join(f"'{w}'" for w in USTOPWORDS[lang]) + "]"
    return f"len(list_filter({toks}, t -> list_contains({lex}, t)))"


def quality_metrics(col: Column) -> dict[str, Column]:
    """Raw quality signals; combine with :func:`quality_score`."""
    toks = tokens(col)
    n_chars = F.length(col)
    n_tokens = F.size(toks)
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": (
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
            .cast("double")
            / n_tokens
        ),
        "punct_ratio": (
            F.regexp_count(col, F.lit(PUNCT_RE)).cast("double") / n_chars
        ),
        "stopword_ratio": (
            stopword_count(toks, "en").cast("double") / n_tokens
        ),
    }


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality score. Weighted mix of length saturation,
    mean token length window, punctuation moderation, stopword presence —
    the standard cheap pre-filter shape for LLM corpus cleaning. The exact
    op order is mirrored in the DuckDB oracle (queries/llm_ops.py)."""
    m = quality_metrics(col)
    length_sat = F.least(m["n_tokens"].cast("double") / F.lit(64.0), F.lit(1.0))
    tok_len_ok = F.when(
        (m["mean_token_len"] >= 3.0) & (m["mean_token_len"] <= 8.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    punct_ok = F.greatest(F.lit(0.0), F.lit(1.0) - m["punct_ratio"] * F.lit(10.0))
    stop_ok = F.least(m["stopword_ratio"] * F.lit(5.0), F.lit(1.0))
    return (
        length_sat * F.lit(0.4)
        + tok_len_ok * F.lit(0.2)
        + punct_ok * F.lit(0.2)
        + stop_ok * F.lit(0.2)
    )


# GPT-2-style pre-tokenizer, restricted to the regex subset Java and RE2
# share (no lookahead): contraction suffixes, space-prefixed letter runs,
# digit runs, punctuation runs, whitespace runs. Counting these matches
# estimates LLM token counts ~within the pre-tokenizer's granularity —
# the "BPE-ish" budget metric for training-data pipelines.
BPEISH_RE = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpeish_token_count(col: Column) -> Column:
    """BPE-ish token count: matches of the GPT-2-style pre-tokenizer
    pattern. Pure regexp — JVM-side, linear scan."""
    return F.size(F.regexp_extract_all(col, F.lit(BPEISH_RE), 0))


def duck_bpeish_count(expr: str) -> str:
    quoted = BPEISH_RE.replace("'", "''")  # pattern starts with a quote
    return f"len(regexp_extract_all({expr}, '{quoted}'))"


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-gram shingles joined by a single space; [] if fewer than n
    tokens.

    ``toks`` must be a column reference (project the token array first):
    the n-gram lambda is interpreted without common-subexpression
    elimination, so an inline ``tokens(...)`` expression would re-run the
    regex tokenizer once per n-gram, O(T^2) per document."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def fingerprint(col: Column, toks: Column, n: int = 5) -> Column:
    """Document fingerprint: min 64-bit hash over word n-gram shingles
    (one-permutation minhash); short docs hash the whole text. Two docs
    sharing a fingerprint share at least one shingle. ``toks`` is the
    column reference of ``tokens(col)``, projected first (see
    :func:`word_ngrams`)."""
    shingles = word_ngrams(toks, n)
    return F.when(
        F.size(shingles) > 0,
        F.array_min(F.transform(shingles, lambda s: hash64(s))),
    ).otherwise(hash64(col))


# --------------------------------------------------------------------------
# DuckDB mirrors (SQL fragments) for the oracle side

def duck_tokens(expr: str) -> str:
    return f"regexp_extract_all(lower({expr}), '{TOKEN_RE}')"


def duck_stopword_count(toks: str, lang: str) -> str:
    lex = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
    return f"len(list_filter({toks}, t -> list_contains({lex}, t)))"


def duck_word_ngrams(toks: str, n: int) -> str:
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' ')) "
        f"ELSE [] END"
    )


def duck_fingerprint(expr: str, toks: str, n: int = 5) -> str:
    sh = duck_word_ngrams(toks, n)
    return (
        f"CASE WHEN len({sh}) > 0 THEN "
        f"list_min(list_transform({sh}, s -> {duck_hash64('s')})) "
        f"ELSE {duck_hash64(expr)} END"
    )


# --------------------------------------------------------------------------
# Repetition filters (Gopher-style quality signals)

def repetition_metrics(df, text_col: str, id_col: str):
    """Per-document repetition signals used by corpus quality filters:

    - ``top2gram_frac``  — character mass of the single most frequent
      word bigram over the doc's total token characters (ties broken to
      the lexicographically smallest bigram);
    - ``dup3gram_frac``  — character mass of word trigrams occurring
      more than once over the mass of all trigram occurrences;
    - ``max_token_run``  — length of the longest consecutive run of one
      token (gaps-and-islands via pos − row_number).

    Shapes, not UDFs: each signal is explode → count → per-doc
    aggregate; the run-length signal shuffles once on (doc, token) for
    its window and once for the final max — all JVM-side expressions.
    Degenerate docs (< n tokens) surface NULL fractions rather than a
    fabricated 0, and 3-token docs with no repeats give dup3gram 0.
    """
    from pyspark.sql.window import Window

    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__toks"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("tok_chars"),
    )

    g2 = base.select("doc_id", F.explode(word_ngrams(F.col("__toks"), 2)).alias("g"))
    c2 = g2.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    # min(struct(-cnt, g)) = (max count, smallest gram among ties)
    top2 = (
        c2.select(
            "doc_id",
            F.struct((-F.col("cnt")).alias("nc"), F.col("g").alias("g")).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.min("s").alias("best"))
        .select(
            "doc_id",
            ((-F.col("best.nc")) * F.length("best.g")).alias("top2_chars"),
        )
    )

    g3 = base.select("doc_id", F.explode(word_ngrams(F.col("__toks"), 3)).alias("g"))
    c3 = g3.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    dup3 = c3.groupBy("doc_id").agg(
        (
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.length("g")).otherwise(0)
            ).cast("double")
            / F.sum(F.col("cnt") * F.length("g")).cast("double")
        ).alias("dup3gram_frac")
    )

    pos = base.select(
        "doc_id", F.posexplode(F.col("__toks")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id", "tok").orderBy("pos")
    runs = (
        pos.withColumn("isl", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "tok", "isl")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy("doc_id")
        .agg(F.max("run").alias("max_token_run"))
    )

    return (
        base.select("doc_id", "tok_chars")
        .join(top2, "doc_id", "left")
        .join(dup3, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("top2_chars").cast("double") / F.col("tok_chars").cast("double")
             ).alias("top2gram_frac"),
            "dup3gram_frac",
            "max_token_run",
        )
    )


def duck_repetition_metrics(n2: int = 2, n3: int = 3) -> str:
    """DuckDB mirror of :func:`repetition_metrics` over ``documents``."""
    toks = duck_tokens("text")
    g2 = duck_word_ngrams("toks", n2)
    g3 = duck_word_ngrams("toks", n3)
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    base AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT)
               AS tok_chars
      FROM t),
    c2 AS (
      SELECT doc_id, g, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest({g2}) AS g FROM t) GROUP BY doc_id, g),
    top2 AS (
      SELECT doc_id, cnt * len(g) AS top2_chars
      FROM (SELECT doc_id, g, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, g ASC) AS rn
            FROM c2) WHERE rn = 1),
    c3 AS (
      SELECT doc_id, g, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest({g3}) AS g FROM t) GROUP BY doc_id, g),
    dup3 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN cnt > 1 THEN cnt * len(g) ELSE 0 END) AS DOUBLE)
               / CAST(SUM(cnt * len(g)) AS DOUBLE) AS dup3gram_frac
      FROM c3 GROUP BY doc_id),
    p AS (
      SELECT doc_id,
             unnest(range(1, len(toks) + 1)) AS pos,
             unnest(toks) AS tok
      FROM t),
    runs AS (
      SELECT doc_id, MAX(run) AS max_token_run FROM (
        SELECT doc_id, COUNT(*) AS run
        FROM (SELECT doc_id, tok, pos,
                     pos - ROW_NUMBER() OVER (PARTITION BY doc_id, tok
                                              ORDER BY pos) AS isl
              FROM p)
        GROUP BY doc_id, tok, isl
      ) GROUP BY doc_id),
    j AS (
      SELECT b.doc_id,
             CAST(top2.top2_chars AS DOUBLE) / CAST(b.tok_chars AS DOUBLE)
               AS top2gram_frac,
             dup3.dup3gram_frac,
             runs.max_token_run
      FROM base b
        LEFT JOIN top2 ON b.doc_id = top2.doc_id
        LEFT JOIN dup3 ON b.doc_id = dup3.doc_id
        LEFT JOIN runs ON b.doc_id = runs.doc_id)
    SELECT doc_id, top2gram_frac, dup3gram_frac, max_token_run FROM j
    """


# --------------------------------------------------------------------------
# Chunking (token-budget windows) and PII redaction

CHUNK_SIZE = 32
CHUNK_OVERLAP = 8

EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
DIGITS_RE = "[0-9]{6,}"

# Unicode-boundary-safe PII patterns (VERDICT r7 #5): the ASCII classes
# above stop at the first accented letter (an IDN/unicode-local email
# like naïve.user@exämple.com escapes whole) and [0-9] never matches
# fullwidth or Arabic-Indic digits, so a phone number typed as ０１２３４５
# sails through the scrub. \p{L}/\p{Nd} are the same Unicode classes in
# Java regex and RE2 — deterministic cross-engine.
UEMAIL_RE = r"[\p{L}\p{Nd}._%+-]+@[\p{L}\p{Nd}.-]+\.\p{L}{2,}"
UDIGITS_RE = r"\p{Nd}{6,}"


def chunk_windows(
    df,
    text_col: str,
    id_col: str,
    size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
):
    """Split each document into overlapping token-budget chunks (the
    1→N fan-out feeding sequence packing / embedding): chunk *i* covers
    tokens ``[i·stride, i·stride + size)`` with ``stride = size −
    overlap``; the last chunk may be short; every doc yields ≥ 1 chunk.
    A pure ``explode(sequence(...))`` + ``slice`` — no UDF, the fan-out
    multiplies rows but each output row is built from the parent's token
    array without re-tokenizing."""
    stride = size - overlap
    assert stride > 0
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("__t"), F.size(toks).alias("__nt")
    )
    nchunks = F.greatest(
        F.lit(1),
        F.floor((F.col("__nt") - overlap + stride - 1) / F.lit(stride)).cast("long"),
    )
    out = base.select(
        "doc_id",
        "__t",
        F.explode(F.sequence(F.lit(0).cast("long"), nchunks - 1)).alias("chunk_id"),
    )
    ctoks = F.slice(F.col("__t"), (F.col("chunk_id") * stride + 1).cast("int"), size)
    return out.select(
        "doc_id",
        "chunk_id",
        F.array_join(ctoks, " ").alias("chunk_text"),
        F.size(ctoks).alias("n_tokens"),
    )


def duck_chunk_windows(size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> str:
    stride = size - overlap
    toks = duck_tokens("text")
    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks, len({toks}) AS nt FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(1,
               CAST(floor((nt - {overlap} + {stride - 1}) / {stride}.0) AS BIGINT))))
               AS chunk_id
      FROM t
    )
    SELECT doc_id, chunk_id,
           array_to_string(toks[chunk_id * {stride} + 1 : chunk_id * {stride} + {size}], ' ')
             AS chunk_text,
           len(toks[chunk_id * {stride} + 1 : chunk_id * {stride} + {size}])
             AS n_tokens
    FROM c
    """


# --------------------------------------------------------------------------
# Corpus-statistical scoring: TF-IDF terms, unigram-LM cross-entropy
#
# Both operators need ln(), whose last ULP is not guaranteed identical
# between the JVM and DuckDB's libm. To keep the oracle hash-exact, every
# log is snapped to integer MICRO-NATS (round(ln(x)·1e6) as BIGINT) on both
# engines; all downstream arithmetic (weighting by term counts, per-doc
# sums) is then pure 64-bit integer math — order-independent and
# bit-identical — and only the final displayed value divides back to
# double in a fixed expression order.

LOG_SCALE = 1_000_000


def tfidf_top_terms(df, text_col: str, id_col: str, k: int = 3):
    """Top-k TF-IDF terms per document.

    tf = in-doc occurrences, idf = ln(N/df) in micro-nats, score =
    tf · idf_u (exact BIGINT). Two shuffles total: (doc, term) counts,
    then term document-frequencies joined back (term-key shuffle); N
    rides in via a 1-row broadcast cross join. Ranking is a per-doc
    window with (score DESC, term ASC) tie-break — deterministic."""
    from pyspark.sql.window import Window

    base = df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t"))
    tf = (
        base.select("doc_id", F.explode("__t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document frequency as a whole-partition window count over term
    # (optimization r11, guide §2.4): the old groupBy + join planned the
    # tokenize + (doc, term) aggregation TWICE (build and probe side)
    # and paid an extra term-key exchange for the join — the window
    # computes df in the join's own shuffle, one tokenize pass total
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    idf_u = F.round(
        F.log(F.col("__n").cast("double") / F.col("df")) * LOG_SCALE
    ).cast("long")
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf_u", F.col("tf") * idf_u)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_u"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id", "term", "tf", "df",
            (F.col("tfidf_u").cast("double") / LOG_SCALE).alias("tfidf"),
            "rnk",
        )
    )


def duck_tfidf_top_terms(k: int = 3) -> str:
    toks = duck_tokens("text")
    return f"""
    WITH t AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    s AS (
      SELECT doc_id, term, tf, df,
             tf * CAST(ROUND(LN(CAST(n_docs AS DOUBLE)/df) * {LOG_SCALE})
                       AS BIGINT) AS tfidf_u
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_u DESC, term ASC) AS rnk
      FROM s)
    SELECT doc_id, term, tf, df,
           CAST(tfidf_u AS DOUBLE) / {LOG_SCALE} AS tfidf,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {k}
    """


def unigram_xent(df, text_col: str, id_col: str):
    """Per-document unigram-LM cross-entropy (nats/token) against the
    corpus's own unigram distribution — the classic cheap "perplexity"
    quality signal for corpus filtering (low = templated/common, high =
    rare-token soup).

    surprisal_u(term) = round(−ln(ct/total)·1e6) micro-nats; per-doc
    xent = Σ tf·surprisal_u / (1e6·n_tokens). Integer accumulation makes
    the shuffle-order of the sum irrelevant. One (doc,term) shuffle, one
    term-key join against the corpus term counts, totals broadcast."""
    from pyspark.sql.window import Window

    base = df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t"))
    tf = (
        base.select("doc_id", F.explode("__t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # materialized once (optimization r11): the old groupBy-ct +
        # tot-from-ct + join shape planned the tokenize + (doc, term)
        # aggregation THREE times (ct build, tot, probe side)
        .localCheckpoint(eager=True)
    )
    # corpus term counts in the join's own term-key shuffle (window sum
    # over the term partition — guide §2.4: one exchange, no self-join)
    tot = tf.agg(F.sum("tf").alias("__tot"))
    surp_u = F.round(
        -F.log(F.col("ct").cast("double") / F.col("__tot")) * LOG_SCALE
    ).cast("long")
    per_doc = (
        tf.withColumn("ct", F.sum("tf").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * surp_u).alias("__s"),
            F.sum("tf").alias("n_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        (F.col("__s").cast("double") / F.col("n_tokens") / LOG_SCALE).alias("xent"),
    )


def duck_unigram_xent() -> str:
    toks = duck_tokens("text")
    return f"""
    WITH t AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
    ct AS (SELECT term, SUM(tf) AS ct FROM tf GROUP BY term),
    tot AS (SELECT SUM(ct) AS tot FROM ct),
    s AS (
      SELECT doc_id,
             SUM(tf * CAST(ROUND(-LN(CAST(ct AS DOUBLE)/tot) * {LOG_SCALE})
                           AS BIGINT)) AS su,
             SUM(tf) AS n_tokens
      FROM tf JOIN ct USING (term) CROSS JOIN tot
      GROUP BY doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(su AS DOUBLE) / n_tokens / {LOG_SCALE} AS xent
    FROM s
    """


def redact(col: Column) -> Column:
    """PII-style redaction: emails → ``<EMAIL>``, runs of ≥ 6 digits →
    ``<NUM>``. Patterns restricted to the regex subset Java and RE2
    share, so the exact same strings come out of both engines."""
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, DIGITS_RE, "<NUM>")


def redaction_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), F.lit(0))) + F.size(
        F.regexp_extract_all(col, F.lit(DIGITS_RE), F.lit(0))
    )


def uredact(col: Column) -> Column:
    """Unicode-boundary-safe redaction: emails (incl. IDN domains and
    accented local parts) → ``<EMAIL>``, ≥ 6-char runs of ANY decimal
    digit (ASCII, fullwidth, Arabic-Indic, ...) → ``<NUM>``. Email
    pass runs FIRST so a digit-bearing local part is redacted as an
    email, not chopped by the number rule — same order as redact()."""
    out = F.regexp_replace(col, UEMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, UDIGITS_RE, "<NUM>")


def uredaction_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(UEMAIL_RE), F.lit(0))) + F.size(
        F.regexp_extract_all(col, F.lit(UDIGITS_RE), F.lit(0))
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS scheme)

WINNOW_K = 8   # char k-gram width
WINNOW_W = 4   # winnowing window (guarantee: any match >= k+w-1 chars shares a fp)
_WINNOW_POS_BITS = 14  # (48-bit hash << 14) + pos stays under 2^62


def winnow_fingerprints(df, text_col: str, id_col: str,
                        k: int = WINNOW_K, w: int = WINNOW_W):
    """Rolling-hash document fingerprints by WINNOWING: hash every
    k-char gram, slide a w-gram window, keep each window's minimum —
    the classic local fingerprinting scheme (any substring match of
    length ≥ k+w−1 between two docs is guaranteed to share a selected
    fingerprint, at ~2/(w+1) selection density).

    Engine shape: one explode to (doc, pos, gram-hash) — no UDF, the
    gram hash is the portable 48-bit md5 prefix — then ONE window-min
    pass partitioned by doc and a distinct. (h, pos) packs into a
    single BIGINT so the window min carries the position tie-break for
    free; positions ≥ 2^14 are dropped (guard for megadocs — raise
    ``_WINNOW_POS_BITS`` for book-length texts).

    Returns (doc_id, fp_hash, fp_pos) — the inverted index for
    substring-level duplicate detection: group by fp_hash to find
    cross-document shared regions (cheaper and more local than shingle
    Jaccard when the target is COPIED SPANS rather than whole-doc
    similarity)."""
    from pyspark.sql.window import Window

    pos_mod = 1 << _WINNOW_POS_BITS
    n = F.length(F.col(text_col))
    nk = n - k + 1
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text"),
        nk.alias("__nk"),
    ).filter(F.col("__nk") >= 1)
    g = base.select(
        "doc_id",
        "__nk",
        F.explode(F.sequence(F.lit(1), F.least(F.col("__nk"), F.lit(pos_mod - 1))))
        .alias("pos"),
        "__text",
    )
    h48 = F.conv(
        F.substring(F.md5(F.col("__text").substr(F.col("pos"), F.lit(k))), 1, 12),
        16, 10,
    ).cast("long")
    keyed = g.select(
        "doc_id", "__nk", "pos", (h48 * pos_mod + F.col("pos")).alias("__key")
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = (
        keyed.withColumn("__wkey", F.min("__key").over(win))
        .filter(F.col("pos") <= F.greatest(F.lit(1), F.col("__nk") - w + 1))
        .select("doc_id", "__wkey")
        .distinct()
    )
    return sel.select(
        "doc_id",
        # exact integer unpack: __wkey is up to ~2^62, beyond double's 2^53
        # exact range, so float division would corrupt ~1% of fp_hash values
        F.shiftright(F.col("__wkey"), _WINNOW_POS_BITS).alias("fp_hash"),
        (F.col("__wkey") % pos_mod).alias("fp_pos"),
    )


def duck_winnow_fingerprints(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    pos_mod = 1 << _WINNOW_POS_BITS
    return f"""
    WITH t AS (
      SELECT doc_id, text, length(text) - {k} + 1 AS nk FROM documents
      WHERE length(text) - {k} + 1 >= 1
    ),
    g AS (
      SELECT doc_id, nk,
             unnest(range(1, least(nk, {pos_mod - 1}) + 1)) AS pos, text
      FROM t
    ),
    h AS (
      SELECT doc_id, nk, pos,
             CAST(('0x' || substr(md5(substr(text, pos, {k})), 1, 12))
                  AS BIGINT) * {pos_mod} + pos AS key
      FROM g
    ),
    wm AS (
      SELECT doc_id, nk, pos,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
               AS wkey
      FROM h
    ),
    sel AS (
      SELECT DISTINCT doc_id, wkey FROM wm
      WHERE pos <= greatest(1, nk - {w} + 1)
    )
    SELECT doc_id, wkey // {pos_mod} AS fp_hash, wkey % {pos_mod} AS fp_pos
    FROM sel
    """


# --------------------------------------------------------------------------
# Exact substring-duplication rate (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": repeated substrings are
# the unit of duplication that matters for LM memorization, not whole
# documents). The reference has no text ops at all; this is a north-star
# training-pipeline operator.

def substring_dup_rate(df, text_col: str, id_col: str, n: int = 8):
    """Per-document exact substring duplication: the fraction of a
    document's word ``n``-gram instances whose shingle also occurs in at
    least one OTHER document.

    The full suffix-array construction of the paper doesn't distribute;
    the standard large-corpus approximation is fixed-width shingles —
    any duplicated substring of >= n words contains a duplicated
    n-shingle, so the rate is a tight proxy for duplicated-span
    coverage.

    Plan (scale path): explode to (shingle-hash, doc) pairs, one
    two-level hash aggregation for per-shingle distinct-doc counts, one
    shuffle join back on the 60-bit hash, one final per-doc aggregation.
    Joining on the portable 60-bit hash instead of the raw shingle
    string keeps shuffle rows narrow at 100 TB; hash collisions affect
    Spark and the DuckDB oracle identically, so results stay
    bit-comparable. Docs with fewer than ``n`` words have no shingles
    and are reported with rate NULL via the left join from the corpus.
    """
    from uts_spark.functions.hashing import hash64

    sh = word_ngrams(F.col("__toks"), n)
    ex = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(F.transform(sh, lambda s: hash64(s))).alias("sh"),
    )
    counts = ex.groupBy("sh").agg(
        F.count_distinct(F.col(id_col)).alias("nd")
    )
    per_doc = (
        ex.join(counts, "sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("nd") > 1, F.lit(1))).alias("n_dup"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            (F.col("n_dup") / F.col("n_shingles")).alias("dup_rate"),
        )
    )


def duck_substring_dup_rate(n: int = 8) -> str:
    toks = duck_tokens("text")
    sh = duck_word_ngrams("ws", n)
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS ws, text FROM documents),
    ex AS (
      SELECT doc_id, unnest(list_transform({sh}, s -> {duck_hash64('s')}))
               AS sh
      FROM t
    ),
    c AS (SELECT sh, COUNT(DISTINCT doc_id) AS nd FROM ex GROUP BY sh),
    per AS (
      SELECT ex.doc_id,
             COUNT(*) AS n_shingles,
             COUNT(CASE WHEN c.nd > 1 THEN 1 END) AS n_dup
      FROM ex JOIN c USING (sh) GROUP BY ex.doc_id
    )
    SELECT d.doc_id,
           COALESCE(per.n_shingles, 0) AS n_shingles,
           COALESCE(per.n_dup, 0) AS n_dup,
           CASE WHEN per.n_shingles IS NOT NULL
                THEN CAST(per.n_dup AS DOUBLE) / per.n_shingles END
             AS dup_rate
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    """


# --------------------------------------------------------------------------
# EXACT duplicated-span finder (VERDICT r4 #4 — the Lee et al. 2022
# "exact substring" half, replacing the shingle RATE proxy above with
# actual span extents and actual removal).
#
# Identity: a maximal cross-document duplicated span of >= L words is
# EXACTLY the union of its duplicated L-gram instances — every window
# of L consecutive words inside the span is itself duplicated, and any
# position covered by a duplicated L-gram lies inside a duplicated span
# of >= L words.  So per-doc exact span extents fall out of (1) anchor
# every L-gram (the anchor bucket is the gram itself — grouping is by
# the full string, so the result is EXACT, never hash-probabilistic),
# (2) keep grams seen in >1 distinct doc, (3) merge overlapping or
# adjacent instance intervals [pos, pos+L-1] per doc (gaps-and-islands
# on a doc-partitioned window).  Removal = drop every covered word.
#
# 100 TB shape: the only corpus-sized shuffle is the gram groupBy
# (map-side combine collapses within-partition repeats first); the
# interval merge is a doc-partitioned window; the removal join probes
# each doc's words against its own tiny span list.  The classical
# suffix array does not distribute; minimizer THINNING (anchor only at
# k-mer window minima) is the standard way to cut anchor volume ~2/(w+1)
# at fleet scale and is measured in tools/scale_smoke.py / SCALE.md —
# the grouping key and the bucket-size distribution are what matter,
# and both are identical under thinning.

def exact_substring_spans(df, text_col: str, id_col: str, L: int = 15):
    """Per-document EXACT cross-doc duplicated spans of >= ``L`` words:
    span count, covered word count, longest span, coverage rate, and a
    portable hash of the document with every covered word removed (the
    dedup output, checkable without shipping cleaned text)."""
    from uts_spark.functions.hashing import hash64

    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("ws"))
    grams = F.when(
        F.size(F.col("ws")) >= L,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("ws")) - L),
            lambda i: F.struct(
                (i + F.lit(1)).cast("long").alias("pos"),
                F.array_join(F.slice(F.col("ws"), i + 1, L), " ").alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,gram:string>>"))
    g = base.select(id_col, F.explode(grams).alias("g")).select(
        id_col, F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram")
    )
    dup = (
        g.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    inst = g.join(dup, "gram").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + L, F.lit(1)).otherwise(
        F.lit(0)
    )
    isl = inst.withColumn("brk", F.coalesce(brk, F.lit(1))).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy(id_col, "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + F.lit(L - 1)).alias("e")
    )
    per = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_words"),
        F.max(F.col("e") - F.col("s") + 1).alias("longest_span"),
    )
    words = base.select(
        id_col, F.posexplode(F.col("ws")).alias("p", "w")
    ).select(id_col, (F.col("p") + 1).cast("long").alias("wpos"), "w")
    covered = (
        words.join(spans, [id_col])
        .filter((F.col("wpos") >= F.col("s")) & (F.col("wpos") <= F.col("e")))
        .select(id_col, "wpos")
    )
    kept = words.join(covered, [id_col, "wpos"], "left_anti")
    kd = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("wpos", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("kept_text")
    )
    return (
        base.select(id_col, F.size("ws").cast("long").alias("total_words"))
        .join(per, id_col, "left")
        .join(kd, id_col, "left")
        .select(
            id_col,
            "total_words",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_words", F.lit(0)).alias("dup_words"),
            F.coalesce("longest_span", F.lit(0)).alias("longest_span"),
            F.when(
                F.col("total_words") > 0,
                F.coalesce("dup_words", F.lit(0)) / F.col("total_words"),
            ).alias("dup_rate"),
            hash64(F.coalesce("kept_text", F.lit(""))).alias("kept_hash"),
        )
    )


def duck_exact_substring_spans(L: int = 15) -> str:
    from uts_spark.functions.hashing import duck_hash64

    return f"""
    WITH t AS (SELECT doc_id, {duck_tokens('text')} AS ws FROM documents),
    g AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(ws[i:i+{L - 1}], ' ') AS gram
      FROM t, unnest(range(1, len(ws) - {L} + 2)) AS u(i)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) > 1),
    inst AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos > prev + {L}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM inst)
    ),
    spans AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {L - 1} AS e
      FROM isl GROUP BY doc_id, island
    ),
    per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(e - s + 1) AS BIGINT) AS dup_words,
             CAST(MAX(e - s + 1) AS BIGINT) AS longest_span
      FROM spans GROUP BY doc_id
    ),
    words AS (
      SELECT doc_id, CAST(i AS BIGINT) AS wpos, ws[i] AS w
      FROM t, unnest(range(1, len(ws) + 1)) AS u(i)
    ),
    kept AS (
      SELECT w0.doc_id, w0.wpos, w0.w
      FROM words w0
      WHERE NOT EXISTS (SELECT 1 FROM spans sp
                        WHERE sp.doc_id = w0.doc_id
                          AND w0.wpos BETWEEN sp.s AND sp.e)
    ),
    kd AS (SELECT doc_id, string_agg(w, ' ' ORDER BY wpos) AS kept_text
           FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.ws) AS BIGINT) AS total_words,
           COALESCE(per.n_spans, 0) AS n_spans,
           COALESCE(per.dup_words, 0) AS dup_words,
           COALESCE(per.longest_span, 0) AS longest_span,
           CASE WHEN len(t.ws) > 0
                THEN CAST(COALESCE(per.dup_words, 0) AS DOUBLE) / len(t.ws)
                END AS dup_rate,
           {duck_hash64("COALESCE(kd.kept_text, '')")} AS kept_hash
    FROM t LEFT JOIN per USING (doc_id) LEFT JOIN kd USING (doc_id)
    """


def minimizer_positions(df, text_col: str, id_col: str, k: int = 8,
                        w: int = 8):
    """Winnowing/minimizer anchor selection (Schleimer et al. 2003):
    per doc, hash every word ``k``-gram, and select a position iff it
    is the (h, pos)-minimum of SOME window of ``w`` consecutive
    positions — the standard thinning that guarantees any duplicated
    span of >= k + w - 1 words still carries a SHARED selected anchor
    in both copies (a full window fits inside the span, and identical
    window contents select the identical offset).

    Returns (id_col, pos, gram) for the selected anchors. Two rolling
    doc-partitioned windows + one bounded join (w rows per window) —
    no global sort, no python.
    """
    from uts_spark.functions.hashing import hash64

    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("ws"))
    grams = F.when(
        F.size(F.col("ws")) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("ws")) - k),
            lambda i: F.struct(
                (i + F.lit(1)).cast("long").alias("pos"),
                F.array_join(F.slice(F.col("ws"), i + 1, k), " ").alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,gram:string>>"))
    g = base.select(id_col, F.explode(grams).alias("g")).select(
        id_col,
        F.col("g.pos").alias("pos"),
        F.col("g.gram").alias("gram"),
    ).withColumn("h", hash64(F.col("gram")))
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    wins = g.select(
        id_col,
        F.col("pos").alias("s"),
        F.min("h").over(win).alias("minh"),
        F.max("pos").over(win).alias("smax"),
    ).filter(F.col("smax") == F.col("s") + w - 1)  # full windows only
    cand = (
        wins.withColumn("pos", F.explode(F.sequence(
            F.col("s"), F.col("s") + F.lit(w - 1))))
        .join(g, [id_col, "pos"])
        .filter(F.col("h") == F.col("minh"))
        .groupBy(id_col, "s")
        .agg(F.min("pos").alias("pos"))  # (h, pos)-min: pos breaks h ties
        .select(id_col, "pos")
        .distinct()
    )
    return cand.join(g.select(id_col, "pos", "gram"), [id_col, "pos"])


def duck_minimizer_positions(k: int = 8, w: int = 8) -> str:
    """CTE chain mirroring :func:`minimizer_positions`; exposes
    ``ganchor(doc_id, pos, gram, h)`` and ``msel(doc_id, pos, gram)``."""
    from uts_spark.functions.hashing import duck_hash64

    return f"""
    tmin AS (SELECT doc_id, {duck_tokens('text')} AS ws FROM documents),
    ganchor AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(ws[i:i+{k - 1}], ' ') AS gram,
             {duck_hash64(f"array_to_string(ws[i:i+{k - 1}], ' ')")} AS h
      FROM tmin, unnest(range(1, len(ws) - {k} + 2)) AS u(i)
    ),
    wins AS (
      SELECT doc_id, pos AS s,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
               AS minh,
             MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
               AS smax
      FROM ganchor
    ),
    msel0 AS (
      SELECT g.doc_id, w0.s, MIN(g.pos) AS pos
      FROM (SELECT * FROM wins WHERE smax = s + {w - 1}) w0
      JOIN ganchor g
        ON g.doc_id = w0.doc_id
       AND g.pos BETWEEN w0.s AND w0.s + {w - 1}
       AND g.h = w0.minh
      GROUP BY g.doc_id, w0.s
    ),
    msel AS (
      SELECT DISTINCT m.doc_id, m.pos, g.gram
      FROM (SELECT DISTINCT doc_id, pos FROM msel0) m
      JOIN ganchor g ON g.doc_id = m.doc_id AND g.pos = m.pos
    )"""


# Tiny deterministic sentiment lexicons (SURVEY §2.7's promised
# sentiment-lexicon scoring — the point is the scalable shape: pure
# array-intersection expressions, not lexicon quality).
SENTIMENT_POS = [
    "good", "great", "fast", "small", "big", "best", "new", "fine",
]
SENTIMENT_NEG = [
    "slow", "bad", "error", "fail", "worst", "wrong", "old", "broken",
]


def sentiment_score(col: Column) -> dict[str, Column]:
    """Lexicon sentiment: (pos − neg) / tokens in [−1, 1] plus the raw
    hit counts; ties and empty docs are neutral (0.0)."""
    toks = tokens(col)
    pos_lex = F.array(*[F.lit(w) for w in SENTIMENT_POS])
    neg_lex = F.array(*[F.lit(w) for w in SENTIMENT_NEG])
    n_pos = F.size(F.filter(toks, lambda t: F.array_contains(pos_lex, t)))
    n_neg = F.size(F.filter(toks, lambda t: F.array_contains(neg_lex, t)))
    n = F.size(toks)
    score = F.when(
        n > 0, (n_pos - n_neg).cast("double") / n
    ).otherwise(F.lit(0.0))
    return {
        "n_pos": n_pos.cast("long"),
        "n_neg": n_neg.cast("long"),
        "sentiment": score,
        "label": F.when(score > 0, F.lit("pos"))
        .when(score < 0, F.lit("neg"))
        .otherwise(F.lit("neutral")),
    }


def duck_sentiment(toks: str) -> dict[str, str]:
    pos = "[" + ", ".join(f"'{w}'" for w in SENTIMENT_POS) + "]"
    neg = "[" + ", ".join(f"'{w}'" for w in SENTIMENT_NEG) + "]"
    n_pos = f"len(list_filter({toks}, t -> list_contains({pos}, t)))"
    n_neg = f"len(list_filter({toks}, t -> list_contains({neg}, t)))"
    score = (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"CAST({n_pos} - {n_neg} AS DOUBLE) / len({toks}) ELSE 0.0 END"
    )
    return {"n_pos": n_pos, "n_neg": n_neg, "score": score}

"""Benchmark decontamination: flag training documents sharing word
n-gram shingles with an evaluation set.

The standard hygiene step of a large-corpus build (the reference, a
time-series store, has nothing comparable — north-star op): any train
document that shares even one n-gram shingle with any eval document is
contaminated and must be dropped or audited. Expressed as a shingle-hash
equi-join, never a doc×doc comparison:

    train docs ─ shingle+hash ─┐
                               ├─ join on shingle hash → per-doc hit count
    eval docs ── shingle+hash ─┘   (eval side distinct'd first)

Scale notes (100 TB story): per-doc ``array_distinct`` before the
explode caps the row blowup at distinct-shingles-per-doc; the eval side
collapses to one row per distinct shingle hash (typically millions of
rows — AQE broadcasts it when small enough, else it's a plain hash
join on a 64-bit key); the final aggregation is one shuffle on doc_id,
the minimum possible for a per-doc verdict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from uts_spark.functions.hashing import duck_hash64
from uts_spark.functions.text import duck_tokens, duck_word_ngrams, tokens


def shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """One row per (doc, distinct word-n-gram shingle id). Docs with
    fewer than ``n`` tokens contribute no rows (they cannot overlap).

    Shingle ids are the rotate-XOR combine of native per-token xxhash64
    — same id scheme as functions/dedup.doc_shingle_arrays — built
    ROW-WISE: tokens posexplode to (doc, pos, token-hash) rows and the
    n-gram id is ``lead()`` windows XORed together. The array
    formulation is a trap here: exploding a computed array column lets
    the Generate's implicit ``size > 0`` filter push down and inline
    the whole tokenize+hash expression once per element reference
    (measured 65 s for sf0.1 vs 0.5 s for this shape). One shuffle on
    doc id for the window, which the downstream per-doc distinct
    reuses. The oracle hashes shingle STRINGS with its own md5 family:
    overlap COUNTS agree under any injective id, which is all the
    output exposes."""
    from pyspark.sql.window import Window

    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "__t"),
    ).select("doc_id", "pos", F.xxhash64("__t").alias("__h0"))
    w = Window.partitionBy("doc_id").orderBy("pos")

    def rotl(c, r):
        r = r % 64
        if r == 0:
            return c
        return F.shiftleft(c, r).bitwiseOR(F.shiftrightunsigned(c, 64 - r))

    gram = None
    for k in range(n):
        h = rotl(F.lead("__h0", k).over(w), (17 * k) % 64)
        gram = h if gram is None else gram.bitwiseXOR(h)
    return (
        tok.select("doc_id", gram.alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )


def contamination(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Per contaminated train doc: the number of distinct shingles it
    shares with the eval corpus. Docs with zero overlap are absent
    (semi-join-like output — callers anti-join to get the clean set)."""
    train_sh = shingle_hashes(train, text_col, id_col, n)
    eval_sh = shingle_hashes(eval_set, text_col, id_col, n).select("h").distinct()
    return (
        train_sh.join(eval_sh, "h")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("h")).alias("n_shared"))
    )


def duck_shingle_hashes(table: str, id_expr: str, text_expr: str, n: int) -> str:
    grams = duck_word_ngrams(duck_tokens(text_expr), n)
    return (
        f"SELECT doc_id, {duck_hash64('g')} AS h FROM ("
        f"SELECT {id_expr} AS doc_id, unnest(list_distinct({grams})) AS g "
        f"FROM {table})"
    )


# --------------------------------------------------------------------------
# Bloom-prefilter variant: the 100 TB shape when even the distinct eval
# shingle-hash set is too big to hash-join cheaply per batch. The filter
# is a few KB of bit-or'd words, broadcastable anywhere; bit positions
# come from the PORTABLE hash family, so an external engine reproduces
# membership bit-for-bit (engine-native bloom_filter_agg state is opaque).

_BLOOM_BITS = 1 << 16        # m = 65536 bits
_BLOOM_WORD = 32             # 32-bit words: 1 << bit stays positive on
_BLOOM_WORDS = _BLOOM_BITS // _BLOOM_WORD  # both engines (DuckDB errors
                                           # on BIGINT 1<<63 overflow)


def _probes(h):
    """Two probe positions from one 60-bit portable hash — shift/mask
    only (h reaches 2^60: double division would lose low bits)."""
    return [
        h.bitwiseAND(F.lit(_BLOOM_BITS - 1)),
        F.shiftright(h, 16).bitwiseAND(F.lit(_BLOOM_BITS - 1)),
    ]


def bloom_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Per-train-doc contamination via a bloom prefilter built from the
    eval set's shingle hashes (2 probes into 2^16 bits), with the exact
    hash-join count alongside: ``n_bloom_pass >= n_exact_hits`` always
    (no false negatives), and the gap is the false-positive cost.

    Plan: eval shingles fold into <= 2048 bit-or'd words (one tiny
    aggregation); the words broadcast-join onto the train shingle
    stream twice (once per probe) — the full eval set is never joined
    for the prefilter, which is the point at 100 TB. Uses the portable
    md5 family for both probes, so the oracle replays membership
    exactly.
    """
    from uts_spark.functions.hashing import hash64
    from uts_spark.functions.text import tokens, word_ngrams

    def sh(df):
        return df.select(
            F.col(id_col).alias("doc_id"),
            tokens(F.col(text_col)).alias("__toks"),
        ).select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        word_ngrams(F.col("__toks"), n),
                        lambda s: hash64(s),
                    )
                )
            ).alias("h"),
        )

    ev = sh(eval_df).select("h").distinct()
    probes = ev.select(F.explode(F.array(*_probes(F.col("h")))).alias("p"))
    # variable shift amounts need the SQL form: the python F.shiftleft/
    # F.shiftright helpers accept only literal ints for numBits
    bloom = probes.groupBy(
        F.shiftright(F.col("p"), 5).alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").alias("bits")
    )
    tr = sh(train)
    p1, p2 = _probes(F.col("h"))
    t = tr.select(
        "doc_id", "h",
        F.shiftright(p1, 5).alias("w1"),
        p1.bitwiseAND(F.lit(31)).cast("int").alias("b1"),
        F.shiftright(p2, 5).alias("w2"),
        p2.bitwiseAND(F.lit(31)).cast("int").alias("b2"),
    )
    b1 = bloom.select(F.col("word_idx").alias("w1"), F.col("bits").alias("bits1"))
    b2 = bloom.select(F.col("word_idx").alias("w2"), F.col("bits").alias("bits2"))
    hit1 = F.expr("(shiftright(coalesce(bits1, 0L), b1) & 1) = 1")
    hit2 = F.expr("(shiftright(coalesce(bits2, 0L), b2) & 1) = 1")
    exact = ev.withColumn("__ex", F.lit(1))
    return (
        t.join(F.broadcast(b1), "w1", "left")
        .join(F.broadcast(b2), "w2", "left")
        .withColumn("__pass", (hit1 & hit2).cast("int"))
        .join(exact, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("__pass").alias("n_bloom_pass"),
            F.sum(F.coalesce("__ex", F.lit(0))).alias("n_exact_hits"),
        )
        .select(
            "doc_id", "n_shingles",
            F.col("n_bloom_pass").cast("long").alias("n_bloom_pass"),
            F.col("n_exact_hits").cast("long").alias("n_exact_hits"),
            (F.col("n_exact_hits") > 0).alias("contaminated"),
        )
    )


def duck_bloom_contamination(rate: float, n: int = 5) -> str:
    from uts_spark.functions.sampling import duck_hash_u

    u = duck_hash_u("decon", "doc_id")
    toks = duck_tokens("text")
    shg = duck_word_ngrams("ws", n)
    hh = duck_hash64("s")
    m, wsz = _BLOOM_BITS, _BLOOM_WORD
    return f"""
    WITH train AS (SELECT * FROM documents WHERE {u} >= {rate!r}),
    ev AS (SELECT * FROM documents WHERE {u} < {rate!r}),
    tsh AS (
      SELECT doc_id, unnest(list_distinct(list_transform({shg}, s -> {hh})))
               AS h
      FROM (SELECT doc_id, {toks} AS ws, text FROM train)
    ),
    esh AS (
      SELECT DISTINCT unnest(list_distinct(list_transform({shg}, s -> {hh})))
               AS h
      FROM (SELECT doc_id, {toks} AS ws, text FROM ev)
    ),
    probes AS (
      SELECT unnest([h % {m}, (h // {m}) % {m}]) AS p FROM esh
    ),
    bloom AS (
      SELECT p // {wsz} AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(p % {wsz} AS INT)) AS bits
      FROM probes GROUP BY p // {wsz}
    ),
    t AS (
      SELECT doc_id, h,
             (h % {m}) // {wsz} AS w1, CAST((h % {m}) % {wsz} AS INT) AS b1,
             ((h // {m}) % {m}) // {wsz} AS w2,
             CAST(((h // {m}) % {m}) % {wsz} AS INT) AS b2
      FROM tsh
    ),
    j AS (
      SELECT t.doc_id, t.h,
             CASE WHEN (COALESCE(x1.bits, 0) >> t.b1) & 1 = 1
                   AND (COALESCE(x2.bits, 0) >> t.b2) & 1 = 1
                  THEN 1 ELSE 0 END AS pass,
             CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END AS ex
      FROM t
      LEFT JOIN bloom x1 ON x1.word_idx = t.w1
      LEFT JOIN bloom x2 ON x2.word_idx = t.w2
      LEFT JOIN esh e ON e.h = t.h
    )
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(pass) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(ex) AS BIGINT) AS n_exact_hits,
           SUM(ex) > 0 AS contaminated
    FROM j GROUP BY doc_id
    """

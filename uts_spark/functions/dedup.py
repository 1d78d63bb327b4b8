"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design (the reason each exists):
- EXACT: hash-groupBy on md5(text) — one shuffle, linear.
- NGRAM JACCARD: exact pairwise similarity but only over pairs sharing a
  shingle (inverted-index self-join) — correct, cost ∝ true overlap.
- MINHASH+LSH: signatures + banding → candidate pairs ∝ near-dups, the
  only shape that survives 100 TB all-pairs dedup; candidates re-verified
  with exact Jaccard so the output has no false positives.
- SIMHASH: one 48-bit sketch per doc, near-dups differ in few bits —
  cheapest stream-side prefilter.
- EMBEDDING COSINE: semantic near-dup; brute force here, LSH/IVF variant
  in functions/similarity.py.
- PERSISTED BAND INDEX: dedup-as-a-service keeps the corpus band rows at
  rest and probes each new batch against them. The index verbs are the
  snapshot-committed ``minhash_vindex_*`` in functions/vindex.py; this
  module holds the row builder, probe/verify kernel and skew statistic
  they share.

Everything is Column-expression-only (no UDFs); the md5-based hash family
(functions/hashing) keeps every step reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uts_spark.functions.hashing import hash64
from uts_spark.functions.text import tokens, word_ngrams

SIMHASH_BITS = 48  # 48 (not 64): avoids BIGINT sign-bit overflow under ANSI


def exact_canonical(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: canonical id = min id among identical texts.
    Adds ``canonical_id`` and ``is_dup``."""
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return df.withColumn("canonical_id", F.min(id_col).over(w)).withColumn(
        "is_dup", (F.col(id_col) != F.col("canonical_id")).cast("long")
    )


def _rotl64(c: Column, r: int) -> Column:
    """64-bit rotate-left as shift/or (shifts drop overflow bits — no ANSI
    overflow path)."""
    r = r % 64
    if r == 0:
        return c
    return F.shiftleft(c, r).bitwiseOR(F.shiftrightunsigned(c, 64 - r))


def doc_shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, sh: distinct 64-bit-hashed shingle array, ns: set size) per doc.

    Each TOKEN is hashed once (native xxhash64); an n-gram's 64-bit id is
    the rotate-XOR combine of its n token hashes with a per-position
    rotation — so the n-gram strings are never materialized or re-hashed
    (the old shingle-string path built ~25-char strings and hashed 3× the
    bytes; this was the measured floor of the whole dedup pipeline).
    Position-dependent rotations keep permuted windows distinct; 64-bit
    collisions over a corpus's shingle vocabulary stay ~2^-40-level.
    Downstream join / groupBy / array_intersect all run on 8-byte keys.
    Overlap/Jaccard results are identical under ANY injective shingle id,
    so the portable md5 family is not needed here (it IS needed where the
    oracle checks hash values: simhash, fingerprints).

    Repartitions the input first: document tables often arrive as few
    fat files, and the regex+shingle build is CPU-bound — without the
    spread a 32-core machine tokenizes on one core."""
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    th = spread.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias("__th"),
    )

    def gram(i: Column) -> Column:
        out = None
        for k in range(n):
            # 17·k mod 64 is injective for k < 64 (gcd(17,64)=1); the old
            # 21·k mod 63 schedule repeated at k=3 (63≡0) and k=4 (84≡21),
            # making positions 0/3 and 1/4 of a 5-gram interchangeable —
            # and letting equal tokens at those positions XOR-cancel
            h = _rotl64(F.element_at(F.col("__th"), i + k + 1), (17 * k) % 64)
            out = h if out is None else out.bitwiseXOR(h)
        return out

    sh = F.when(
        F.size("__th") >= n,
        F.transform(F.sequence(F.lit(0), F.size("__th") - n), gram),
    ).otherwise(F.array().cast("array<long>"))
    return th.select("id", F.array_distinct(sh).alias("sh")).withColumn(
        "ns", F.size("sh")
    )


def pair_jaccard(cands: DataFrame, arrays: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs via array_intersect
    on the full shingle sets — no re-explode, cost ∝ candidates.

    Candidates are re-spread first: they typically come out of a
    distinct() that AQE coalesces to one partition, which would serialize
    every per-pair intersect onto a single core. ``shared`` is computed
    once into a column (the intersect is the expensive part — don't let
    it appear twice in the projection)."""
    sc = cands.sparkSession.sparkContext
    cands = cands.repartition(sc.defaultParallelism, "id_a")
    a = arrays.select(F.col("id").alias("id_a"), F.col("sh").alias("__sa"), F.col("ns").alias("na"))
    b = arrays.select(F.col("id").alias("id_b"), F.col("sh").alias("__sb"), F.col("ns").alias("nb"))
    # no broadcast hint: under the autoBroadcast threshold Spark broadcasts
    # the array side anyway; above it (huge corpora) a shuffle join on id
    # is the correct plan and forcing broadcast would OOM the executors
    joined = cands.join(a, "id_a").join(b, "id_b")
    with_shared = joined.withColumn(
        "__shared", F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    )
    jac = F.col("__shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("__shared")
    )
    return with_shared.select("id_a", "id_b", jac.alias("jaccard"))


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard near-dup pairs at ``jaccard >= threshold`` via
    PPJoin-style PREFIX FILTERING (result-identical to the naive
    inverted-index join, orders of magnitude cheaper on skewed shingles):

    1. global shingle frequencies (one groupBy);
    2. each doc keeps only its ``ns - ceil(t*ns) + 1`` RAREST shingles
       (any pair with J >= t must collide inside both prefixes);
    3. candidate pairs = prefix-index self-join + size-ratio filter
       (J >= t ⇒ t <= na/nb <= 1/t) + POSITIONAL filter: both records
       are sorted in the same global frequency order, so for a common
       shingle at sorted positions (pa, pb) the true overlap is bounded
       by ``min(pa-1, pb-1) + 1 + min(na-pa, nb-pb)``; J >= t needs
       overlap >= ceil(t/(1+t)·(na+nb)), and any match whose bound falls
       short disqualifies the pair;
    3b. COUNT filter (Vernica et al., SIGMOD'10 §3.2): the dedup shuffle
       that merges per-shingle matches into distinct pairs is a groupBy
       anyway, so aggregate the number of prefix co-occurrences ``cnt``
       and the furthest matched positions instead of distinct() — the
       true overlap is bounded by ``cnt + min(na - max(pa), nb -
       max(pb))`` (everything past the last prefix match), and pairs
       whose bound misses alpha are dropped BEFORE the expensive exact
       verify (measured 309k per-match rows → 1.3k verified pairs at
       sf0.1: verification goes from the dominant cost to noise);
    4. exact Jaccard on full sets per candidate (array_intersect on the
       64-bit shingle hashes).

    The prefix order is ascending global shingle frequency: hot
    shingles fall out of prefixes, which keeps candidates bounded on
    skewed/template-heavy corpora (the 100 TB-safe choice), at the cost
    of one extra groupBy over the inverted index + a join back.
    """
    arrays = doc_shingle_arrays(df, text_col, id_col, n).cache()
    prefix_len = F.col("ns") - F.ceil(F.col("ns") * F.lit(threshold)) + 1

    inv = arrays.select("id", "ns", F.explode("sh").alias("shingle"))
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("id").orderBy("freq", "shingle")
    # groupBy + join back kept DELIBERATELY (optimization r11,
    # measured): a whole-partition window over `shingle` forces the
    # full inverted index through a high-cardinality sort-shuffle,
    # while this shape reduces to the distinct-shingle table first
    # and lets AQE broadcast it (no shuffle of inv at all when the
    # vocabulary fits) — the adaptive choice survives at scale too.
    # cached: the a/b self-join below would otherwise recompute the
    # freq-join + window sort twice
    prefix = (
        inv.join(freq, "shingle")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= prefix_len)
        .select("id", "ns", "shingle", F.col("__r").alias("pos"))
        .cache()
    )

    a = prefix.select(
        F.col("id").alias("id_a"), F.col("ns").alias("na"),
        "shingle", F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col("id").alias("id_b"), F.col("ns").alias("nb"),
        "shingle", F.col("pos").alias("pb"),
    )
    size_ok = (F.col("na") >= F.col("nb") * F.lit(threshold)) & (
        F.col("nb") >= F.col("na") * F.lit(threshold)
    )
    # overlap needed for J >= t, and the per-match positional upper bound
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb")))
    ubound = (
        F.least(F.col("pa") - 1, F.col("pb") - 1)
        + 1
        + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
    )
    # groupBy replaces the distinct() the pair-merge needs anyway (same
    # shuffle), and the aggregated count bound prunes before verify
    count_bound = F.col("__cnt") + F.least(
        F.col("na") - F.col("__mpa"), F.col("nb") - F.col("__mpb")
    )
    cands = (
        a.join(b, "shingle")
        .filter((F.col("id_a") < F.col("id_b")) & size_ok & (ubound >= alpha))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max("pa").alias("__mpa"),
            F.max("pb").alias("__mpb"),
        )
        .filter(count_bound >= alpha)
        .select("id_a", "id_b")
    )
    return pair_jaccard(cands, arrays).filter(F.col("jaccard") >= threshold)


# Universal-hash family over ONE base md5 hash per shingle:
# h_i(s) = (a_i * (h(s) mod P) + b_i) mod P, P = 2^31 - 1 (Mersenne).
# One md5 per shingle instead of k — md5 is ~100x an integer multiply, so
# this is the difference between hashing dominating the job and being
# free. Constants derive from Knuth's multiplicative constant; products
# stay < 2^62 (no ANSI overflow).
MINHASH_P = 2_147_483_647


def _family_constants(k: int) -> list[tuple[int, int]]:
    return [
        ((i * 2_654_435_761 + 1_013_904_223) % MINHASH_P or 1,
         (i * 97_531 + 12_345) % MINHASH_P)
        for i in range(k)
    ]


def doc_shingle_arrays_portable(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, sh, sh2, ns) per doc with PORTABLE shingle ids: each distinct
    word n-gram string is md5'd ONCE and split into two independent 60-bit
    lanes (hex chars 1-15 and 17-31) — the "dual-lane md5" trick: a second
    hash family seed for free, reproducible in any engine with md5/substr.
    ``sh`` (lane A) doubles as the set-identity for exact Jaccard; the
    xxhash64 rotate-combine path (:func:`doc_shingle_arrays`) stays the
    fast lane when no external oracle needs to replay the hashes."""
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    base = spread.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__t")
    ).select(
        "id", F.array_distinct(word_ngrams(F.col("__t"), n)).alias("__g")
    )
    md5s = base.select(
        "id", F.transform(F.col("__g"), lambda g: F.md5(g)).alias("__m")
    )
    lane = lambda lo: F.transform(  # noqa: E731
        F.col("__m"),
        lambda m: F.conv(F.substring(m, lo, 15), 16, 10).cast("long"),
    )
    return md5s.select(
        "id", lane(1).alias("sh"), lane(17).alias("sh2")
    ).withColumn("ns", F.size("sh"))


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, k: int = 32,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """k-wide minhash signature per doc: sig[i] = min over shingles of
    h_i(shingle), one groupBy with k min-aggregates (no row blowup
    beyond the shingle explode).

    Pass ``arrays`` (a doc_shingle_arrays result, ideally cached) to
    reuse an existing tokenize+hash pass — minhash_lsh_pairs does, so
    the corpus is tokenized exactly once for signatures AND
    verification."""
    if arrays is None:
        arrays = doc_shingle_arrays(df, text_col, id_col, n)
    # pmod: xxhash64 is signed; the universal-hash family needs [0, P)
    inv = arrays.select("id", F.explode("sh").alias("__h64")).withColumn(
        "__h", F.pmod(F.col("__h64"), F.lit(MINHASH_P))
    )
    # SQL-string aggregates: one expr round trip per family member (the
    # constants are int-typed literals both ways, so the parsed tree is
    # the byte-identical Multiply/Add/Remainder chain — optimization r11)
    aggs = [
        F.expr(f"min(({a} * __h + {b}) % {MINHASH_P})").alias(f"h{i}")
        for i, (a, b) in enumerate(_family_constants(k))
    ]
    return inv.groupBy("id").agg(*aggs)


def minhash_signatures_portable(arrays: DataFrame, k: int = 32) -> DataFrame:
    """Signatures over the dual-lane portable arrays: family member ``i``
    draws its base hash from lane ``i % 2``, so the k members split across
    two independent 60-bit seeds at the cost of ONE md5 per shingle."""
    inv = arrays.select(
        "id", F.explode(F.arrays_zip("sh", "sh2")).alias("__z")
    ).select(
        "id",
        F.pmod(F.col("__z.sh"), F.lit(MINHASH_P)).alias("__hA"),
        F.pmod(F.col("__z.sh2"), F.lit(MINHASH_P)).alias("__hB"),
    )
    aggs = [
        F.expr(
            f"min(({a} * __h{'A' if i % 2 == 0 else 'B'} + {b})"
            f" % {MINHASH_P})"
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(_family_constants(k))
    ]
    return inv.groupBy("id").agg(*aggs)


def _est_sql(k: int, a: str, b: str) -> Column:
    """Signature-agreement Jaccard estimate as ONE SQL expression —
    the same 0-seeded left-associative CASE sum and double division the
    per-Column loop built (~5 py4j round trips per family member),
    parsed in a single round trip (optimization r11)."""
    terms = " + ".join(
        f"CASE WHEN {a}{i} = {b}{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return F.expr(f"(0 + {terms}) / {float(k)}D")


def _band_struct_sql(k: int, bands: int) -> Column:
    """The banding array-of-structs as ONE SQL-string expression: the
    per-Column form cost ~20 py4j round trips per band on every build
    (optimization r11); the parsed tree — int band literal, md5 over
    concat_ws of CAST(h_i AS STRING) — is identical."""
    rpb = k // bands
    return F.expr(
        "array(" + ", ".join(
            f"struct({b} AS band, md5(concat_ws(',', "
            + ", ".join(
                f"CAST(h{i} AS STRING)"
                for i in range(b * rpb, (b + 1) * rpb)
            )
            + ")) AS bucket)"
            for b in range(bands)
        ) + ")"
    )


def minhash_band_candidates(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """LSH banding over a k-wide signature table: every band's row-slice
    hashes to a bucket, docs colliding in ANY band become a candidate
    pair. All bands in ONE pass over the signatures (explode of a struct
    array), not a bands-way unionAll of per-band selects; candidate
    volume ∝ bucket collisions, never n² (the 100 TB bound that
    tools/neardup_smoke.py measures empirically). Returns distinct
    (id_a, id_b) with id_a < id_b."""
    band_struct = _band_struct_sql(k, bands)
    buckets = sig.select("id", F.explode(band_struct).alias("__b")).select(
        "id", F.col("__b.band").alias("band"), F.col("__b.bucket").alias("bucket")
    )
    return (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    portable: bool = False,
    checkpoint: bool = False,
) -> DataFrame:
    """MinHash+LSH near-dup: signatures → ``bands`` bands of k/bands rows
    → bucket-join on (band, bucket-hash) → candidates → exact Jaccard
    verification (no false positives; recall from the banding curve).
    Returns (id_a, id_b, est_jaccard, jaccard).

    ``portable=True`` routes the shingle ids through the dual-lane md5
    family (:func:`doc_shingle_arrays_portable`) — every intermediate
    (signatures, bands, candidates, Jaccard) is then bit-reproducible in
    an external SQL engine, turning the whole pipeline hash-exact
    oracle-checkable; the default xxhash64 path hashes ~3× less bytes and
    is the 100 TB fast lane.

    ``checkpoint=True`` eagerly ``localCheckpoint``s the (tiny) verified
    pair set so the two signature/shingle caches can be released
    immediately instead of pinning executor storage. Tradeoffs the
    caller opts into (ADVICE r3 — default is False so this stays a lazy
    plan builder with no side-effect job): it runs a Spark job at build
    time, and localCheckpoint blocks live on executor LOCAL disk — an
    executor loss afterwards fails downstream actions (acceptable for
    single-query batch runs that would rerun anyway; wrong for
    long-lived DataFrames on a preemptible cluster)."""
    if portable:
        arrays = doc_shingle_arrays_portable(df, text_col, id_col, n).cache()
        sig = minhash_signatures_portable(arrays, k).cache()
    else:
        arrays = doc_shingle_arrays(df, text_col, id_col, n).cache()
        sig = minhash_signatures(df, text_col, id_col, n, k, arrays=arrays).cache()

    cand = minhash_band_candidates(sig, k, bands)

    # estimated + exact Jaccard in ONE pass over the candidate pairs
    # (optimization r11): signature and shingle columns pre-join on the
    # doc-sized (cached) frames, the pair stream is re-spread once (the
    # distinct() upstream AQE-coalesces to few partitions and the
    # per-pair array_intersect is the expensive part — same re-spread
    # pair_jaccard applies), and est + exact compute in one projection:
    # two pair-stream joins, no (id_a, id_b)-keyed est⋈exact join.
    # Result-identical to the previous est ⋈ pair_jaccard left-join by
    # inner-join associativity (every sig id has exactly one arrays
    # row — sig derives from arrays by groupBy — so the left join was
    # effectively inner, with coalesce kept for the 0-length guard).
    scx = cand.sparkSession.sparkContext
    spread = cand.repartition(scx.defaultParallelism, "id_a")
    feats = sig.join(arrays.select("id", "sh", "ns"), "id")
    # toDF: the k-wide renames in ONE round trip each (same Project of
    # aliases the per-Column selects built — optimization r11)
    fa = feats.toDF("id_a", *[f"a{i}" for i in range(k)], "__sa", "na")
    fb = feats.toDF("id_b", *[f"b{i}" for i in range(k)], "__sb", "nb")
    scored = (
        spread.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "__shared", F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
        )
    )
    est = _est_sql(k, "a", "b")
    jac = F.col("__shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("__shared")
    )
    out = (
        scored.select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            F.coalesce(jac, F.lit(0.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # materialize the (tiny) verified-pair set eagerly so both caches can
    # be released now instead of pinning executor storage for the session
    # lifetime (same pattern as simhash_band_pairs); checkpoint=False
    # keeps the full lazy plan (plan-shape tests inspect it)
    if checkpoint:
        out = out.localCheckpoint(eager=True)
        arrays.unpersist()
        sig.unpersist()
    return out


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """48-bit SimHash per doc: per-token 60-bit hash, per-bit ±1 vote sum,
    sign → bit. One explode over tokens + one groupBy with 48 sum
    expressions (no per-bit row blowup).

    The portable md5 hash is computed once per DISTINCT token and
    broadcast-joined back (no new shuffle on the token stream) —
    corpora repeat their vocabulary thousands of times over, so hashing
    per token INSTANCE pays the md5+conv chain ~n_tokens/n_vocab times
    over; at cluster scale that CPU feeds straight into the scan
    stage's critical path."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    vocab = tok.select("t").distinct().withColumn("h", hash64(F.col("t")))
    tok = tok.join(F.broadcast(vocab), "t")
    # per-bit expressions built as SQL strings, one F.expr round trip per
    # aggregate instead of ~8 py4j calls per Column op (optimization r11:
    # the 48-bit builder alone cost ~9.3k py4j round trips ≈ 1s of every
    # build; the SQL-string form produces the IDENTICAL optimized plan —
    # verified plan- and result-equal — at ~0.9k calls)
    votes = tok.groupBy("id").agg(
        *[
            F.expr(f"sum((shiftright(h, {j}) & 1) * 2 - 1)").alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sim_sql = " + ".join(
        f"shiftleft(CASE WHEN v{j} > 0 THEN CAST(1 AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END, {j})"
        for j in range(SIMHASH_BITS)
    )
    return votes.select("id", F.expr(sim_sql).alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two ≤64-bit hashes via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """SimHash near-dup pairs: banded hamming LSH + exact verification.

    The 48-bit sketch splits into ``bands`` equal bit-slices; candidate
    pairs share at least one identical slice (pigeonhole: any pair with
    hamming < ``bands`` is guaranteed caught; beyond that recall decays
    gracefully), then ``bit_count(xor)`` verifies ``<= max_hamming``.
    One sketch pass, one equi-join on (band, slice) — never an all-pairs
    comparison, which is what makes SimHash the cheapest near-dup shape
    at corpus scale. Deterministic: the sketch uses the portable md5
    hash family, so the full pipeline is oracle-checkable."""
    assert SIMHASH_BITS % bands == 0
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    # cache: the banded self-join reads the sketch table twice, and
    # without this the tokenize+md5+48-sum pass runs twice (ReusedExchange
    # does not fire across the self-join's two differently-aliased scans)
    sk = simhash(df, text_col, id_col).cache()
    slice_arr = F.expr(
        "array(" + ", ".join(
            f"struct({b} AS band, (shiftrightunsigned(simhash, {b * width})"
            f" & {mask}) AS slice)"
            for b in range(bands)
        ) + ")"
    )
    slices = sk.select(
        "id",
        "simhash",
        F.explode(slice_arr).alias("__s"),
    ).select("id", "simhash", F.col("__s.band").alias("band"), F.col("__s.slice").alias("slice"))
    a = slices.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("__ha"), "band", "slice"
    )
    b = slices.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("__hb"), "band", "slice"
    )
    # hamming verify BEFORE the dedup shuffle: bit_count(xor) is a cheap
    # per-row expression, and filtering first shrinks the distinct()'s
    # input from "pairs sharing any band" to actual near-dups (same
    # result — the filter is deterministic per pair)
    cand = (
        a.join(b, ["band", "slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", hamming64(F.col("__ha"), F.col("__hb")).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    # materialize the (tiny) pair set eagerly so the sketch cache can be
    # released now — otherwise every invocation pins executor storage for
    # the session lifetime (bench loops run many queries)
    out = cand.localCheckpoint(eager=True)
    sk.unpersist()
    return out


# --------------------------------------------------------------------------
# Persisted MinHash band index (round 6): dedup-as-a-service. Production
# dedup doesn't recompute the corpus sketch per batch — it maintains a
# band-bucket index at rest and probes it with each new crawl. The index
# verbs live in functions/vindex.py (minhash_vindex_*, snapshot-committed
# like the LSH/IVF ANN indexes); this module keeps the shared row builder,
# the probe/verify kernel and the skew monitor's primitives. The contract
# is "persistence is physical, never semantic": the probe's oracle is the
# recompute formulation.

def _band_bucket_rows(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(id, h0..h{k-1}, band, bucket): one row per (doc, band) with the
    md5 band bucket — the single-explode banding shared with
    minhash_band_candidates."""
    band_struct = _band_struct_sql(k, bands)
    return sig.select(
        "id", *[f"h{i}" for i in range(k)], F.explode(band_struct).alias("__b")
    ).select(
        "id", *[f"h{i}" for i in range(k)],
        F.col("__b.band").alias("band"), F.col("__b.bucket").alias("bucket"),
    )


def _minhash_index_probe(
    scan: DataFrame,
    new_docs: DataFrame,
    old_docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n_grps: int = 16,
    checkpoint: bool = True,
) -> DataFrame:
    """Probe a band index with a new batch: sketch the BATCH
    (batch-sized work only), push its distinct (band, grp) keys into
    the narrow index ``scan`` — the (id, band, bucket, grp) rows of one
    resolved snapshot (functions/vindex.minhash_vindex_probe) — as a
    static filter (bounded by batch x bands — the same
    driver-materialized-literal precedent as similarity._lsh_index_probe),
    equi-join on the exact (band, bucket) for candidate pairs, then
    re-sketch ONLY the candidate old docs from ``old_docs`` (bounded by
    bucket collisions) for the estimated + exact Jaccard verify. Returns
    directional (id_new, id_old, est_jaccard, jaccard) pairs with
    jaccard >= threshold — new x old only; the corpus is never
    re-sketched wholesale and the old x old quadrant is never generated.

    ``checkpoint=True`` (default — ADVICE r6, low) eagerly
    ``localCheckpoint``s the (candidate-bounded) verified pair set and
    releases the two shingle caches immediately, mirroring
    :func:`minhash_lsh` / :func:`simhash_band_pairs`: a dedup service
    probes repeatedly in one session, and un-released caches accumulate
    executor storage per probe. ``checkpoint=False`` keeps the full
    lazy plan (plan-shape tests pin the pruned index scan)."""
    arrays_n = doc_shingle_arrays_portable(new_docs, text_col, id_col, n).cache()
    # cached (optimization r11): the batch signatures are consumed
    # THREE times (probed-key list, candidate join, estimate join) and
    # each read would re-run the explode + k-min groupBy from the
    # cached arrays — the cache bounds it to one computation
    sig_n = minhash_signatures_portable(arrays_n, k).cache()
    bk_n = _band_bucket_rows(sig_n, k, bands)

    pdf = (
        bk_n.select(
            "band", F.pmod(F.xxhash64("bucket"), F.lit(n_grps)).alias("grp")
        )
        .distinct()
        .toPandas()
    )
    pairs = sorted((int(b), int(g)) for b, g in pdf.itertuples(index=False))
    if pairs:
        # the per-column IN-lists are what the parquet reader can push
        # down (row groups of the (band, grp, bucket)-sorted snapshot
        # dirs prune on their min/max stats); the combined key is the
        # exact (band, grp) set, one IN even for hundreds of keys
        idx = scan.filter(
            F.col("band").isin(sorted({b for b, _ in pairs}))
            & F.col("grp").isin(sorted({g for _, g in pairs}))
            & (F.col("band") * n_grps + F.col("grp")).isin(
                [b * n_grps + g for b, g in pairs]
            )
        )
    else:
        idx = scan.filter(F.lit(False))  # empty batch: empty result

    cand = (
        bk_n.select(F.col("id").alias("id_new"), "band", "bucket")
        .join(
            idx.select(F.col("id").alias("id_old"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("id_new") != F.col("id_old"))
        .select("id_new", "id_old")
        .distinct()
    )
    if checkpoint:
        # candidate pairs feed the old-doc re-sketch AND the verify
        # join — materialize once so the pruned index scan + bucket
        # join runs once, not per consumer (optimization r11; the
        # lazy path keeps the pruned-scan plan the shape tests pin)
        cand = cand.localCheckpoint(eager=True)

    # verification inputs: re-sketch only the CANDIDATE old docs
    cand_old = cand.select(F.col("id_old").alias(id_col)).distinct()
    hit_docs = old_docs.join(cand_old, id_col, "left_semi")
    arrays_o = doc_shingle_arrays_portable(hit_docs, text_col, id_col, n).cache()
    sig_o = minhash_signatures_portable(arrays_o, k)

    # (measured r11: pre-joining sig+arrays per side — the
    # minhash_lsh_pairs verify shape below — is a wash-to-loss HERE:
    # +1 AQE stage for the feats join, min 3.62 vs 3.60 paired; the
    # probe's pair stream is small enough that four broadcast probes
    # beat materializing a combined features frame. Kept as-is.)
    sa = sig_n.toDF("id_new", *[f"a{i}" for i in range(k)])
    sb = sig_o.toDF("id_old", *[f"b{i}" for i in range(k)])
    an = arrays_n.select(
        F.col("id").alias("id_new"), F.col("sh").alias("__sn"), F.col("ns").alias("nn")
    )
    ao = arrays_o.select(
        F.col("id").alias("id_old"), F.col("sh").alias("__so"), F.col("ns").alias("no")
    )
    scored = (
        cand.join(sa, "id_new")
        .join(sb, "id_old")
        .join(an, "id_new")
        .join(ao, "id_old")
        .withColumn(
            "__shared", F.size(F.array_intersect(F.col("__sn"), F.col("__so")))
        )
    )
    est = _est_sql(k, "a", "b")
    jac = F.col("__shared").cast("double") / (
        F.col("nn") + F.col("no") - F.col("__shared")
    )
    out = (
        scored.select(
            "id_new", "id_old", est.alias("est_jaccard"), jac.alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if checkpoint:
        out = out.localCheckpoint(eager=True)
        arrays_n.unpersist()
        arrays_o.unpersist()
        sig_n.unpersist()
    return out


# --------------------------------------------------------------------------
# Band-occupancy skew monitor: the measured thresholds and the collision
# statistic of the dedup ingest's drift control loop
# (vindex.minhash_vindex_ingest_tick / minhash_vindex_cap_hot_buckets, the
# MinHash sibling of vindex.ivf_vindex_ingest_tick).
# The band index has no quantizer to drift, but it has the analogous
# failure: a boilerplate/template FLOOD (many near-identical documents)
# collapses into a handful of mega-buckets, and every future probe's
# candidate set — hence its verify cost — grows with those buckets'
# sizes. The monitor measures each batch's bucket-collision RATE against
# the build-time organic rate; the corrective verb quarantines buckets
# above a size cap (the standard production LSH-dedup mitigation: a
# mega-bucket IS one duplicate cluster, and generating its O(s^2)
# candidate pairs per probe buys nothing a single representative
# wouldn't).
#
# Measured levels (SCALE.md round 9b; documents fixture, K=32 B=8 N=3):
#   organic max bucket size:   2 (sf0.001/0.01), 3 (sf0.1)
#   normal-batch rate ratio:   0.63 / 0.85 / 0.94 x build reference
#   boilerplate-batch ratio:   487 / 475 / 5892 x
# SKEW_MILLI = 8000 (8x) sits an order of magnitude above every healthy
# batch and two below every flood; HOT_BUCKET_CAP = 16 sits above every
# organic bucket and below the smallest flood bucket (45).

SKEW_MILLI = 8000      # flag when batch collision rate > 8x reference
HOT_BUCKET_CAP = 16    # quarantine buckets larger than this on a flag


def minhash_collision_stat_ints(
    batch_rows: DataFrame, index_scan: DataFrame
) -> tuple[int, int]:
    """The skew monitor primitive: exact collision count of a batch's
    band rows against (index ∪ batch), self-pairs excluded, as two
    longs — ``coll_sum`` = Σ over buckets of nb·(nb−1) + nb·ni (nb =
    batch rows, ni = index rows in that bucket) and ``row_n`` = batch
    band rows. Integer-exact end-to-end so tick records and threshold
    comparisons are arbitrary-precision Python arithmetic, never a
    float compare (same discipline as the IVF fit monitor). The
    intra-batch term is what catches a self-similar flood whose
    documents match nothing already indexed.

    Cost: the index side is filtered by a broadcast semi-join on the
    batch's distinct buckets (bounded by batch × bands), so the scan is
    candidate-shaped — the same class as the probe the service runs
    per tick; with cluster-sorted partitions the bucket row-group
    stats prune it further."""
    bsz = batch_rows.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("nb")
    )
    ni = (
        index_scan.join(
            F.broadcast(bsz.select("band", "bucket")), ["band", "bucket"]
        )
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    row = (
        bsz.join(ni, ["band", "bucket"], "left")
        .agg(
            F.sum(
                F.col("nb") * (F.col("nb") - F.lit(1))
                + F.col("nb") * F.coalesce(F.col("ni"), F.lit(0))
            ).alias("c"),
            F.sum("nb").alias("n"),
        )
        .first()
    )
    return int(row["c"] or 0), int(row["n"] or 0)

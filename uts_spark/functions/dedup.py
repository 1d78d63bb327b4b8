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

Everything is Column-expression-only (no UDFs); the md5-based hash family
(functions/hashing) keeps every step reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uts_spark.functions.hashing import hash64
from uts_spark.sources.tables import parquet_cached_schema as _read_pq
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
    prefix_order: str = "freq", checkpoint: bool = False,
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

    ``prefix_order`` picks the global total order the filter needs:

    - ``"freq"`` (default): ascending global frequency — hot shingles
      fall out of prefixes, which is what keeps candidates bounded on
      skewed/template-heavy corpora (the 100 TB-safe choice). Costs one
      extra groupBy over the inverted index + a join back.
    - ``"hash"``: the shingle hash itself — prefix becomes a pure
      per-doc array expression (array_sort + slice: NO extra shuffle,
      no window). Same output (any consistent total order is correct);
      cheaper on uniform corpora, risky under shingle skew.

    ``checkpoint=True`` eagerly materializes the (tiny) verified pair
    set and releases the ``arrays``/``prefix`` caches immediately —
    same opt-in contract and tradeoffs as :func:`minhash_lsh_pairs`
    (VERDICT r11 #8: the lazy default pins both caches in executor
    storage for the session lifetime; a one-shot batch query should
    opt in, a caller holding the lazy plan must unpersist itself or
    accept the LRU-bounded pin).
    """
    assert prefix_order in ("freq", "hash")
    arrays = doc_shingle_arrays(df, text_col, id_col, n).cache()
    prefix_len = F.col("ns") - F.ceil(F.col("ns") * F.lit(threshold)) + 1

    if prefix_order == "hash":
        prefix = arrays.select(
            "id", "ns",
            F.posexplode(
                F.slice(F.array_sort("sh"), 1, prefix_len.cast("int"))
            ).alias("__p0", "shingle"),
        ).select("id", "ns", "shingle", (F.col("__p0") + 1).alias("pos"))
    else:
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
    out = pair_jaccard(cands, arrays).filter(F.col("jaccard") >= threshold)
    if checkpoint:
        out = out.localCheckpoint(eager=True)
        arrays.unpersist()
        if prefix_order == "freq":
            prefix.unpersist()
    return out


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
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams(tokens(F.col(text_col)), n)).alias("__g"),
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
    if checkpoint:
        # the candidate set feeds BOTH the signature-estimate join and
        # the exact-Jaccard verify below — materialize the (tiny,
        # collision-bounded) pair list once so the banding explode +
        # bucket self-join + distinct runs once, not per consumer
        # (optimization r11; the lazy checkpoint=False path keeps the
        # full plan for the plan-shape tests)
        cand = cand.localCheckpoint(eager=True)

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
# band-bucket index at rest and probes it with each new crawl. This is
# the MinHash sibling of the persisted LSH/IVF ANN indexes
# (functions/vindex.py): the same literal bucket-filter probe, the same
# "persistence is physical, never semantic" contract (the probe's
# oracle is the recompute formulation).

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


def minhash_index_write(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    n_grps: int = 16,
    fingerprint: str | None = None,
) -> None:
    """Persist the corpus MinHash band index: one NARROW row per
    (doc, band) — just (id, band, bucket) — written as parquet
    PARTITIONED BY (band, grp) where ``grp = pmod(xxhash64(bucket),
    n_grps)`` coarsens the unbounded md5-bucket space into a prunable
    directory grid. ``grp`` is a physical layout detail only — probes
    re-derive it Spark-side and re-filter on the exact bucket string,
    so no oracle ever sees it.

    The index deliberately stores NO signatures and NO shingle sets:
    a first cut carried both, and the probe's wide scan of them
    dominated its wall (measured ~25 s vs 27 s recompute at 1M docs —
    no win). Candidate verification instead re-sketches only the
    CANDIDATE old docs from the corpus table, which is bounded by
    bucket collisions, so the probe's cost is narrow-scan + batch-sized
    hashing (see tools/neardup_smoke.py --index-probe for the A/B)."""
    from uts_spark.sources.sinks import write_partitioned

    arrays = doc_shingle_arrays_portable(df, text_col, id_col, n)
    sig = minhash_signatures_portable(arrays, k)
    rows = (
        _band_bucket_rows(sig, k, bands)
        .select("id", "band", "bucket")
        .withColumn("grp", F.pmod(F.xxhash64("bucket"), F.lit(n_grps)))
    )
    write_partitioned(rows, path, ["band", "grp"], cluster=True)
    index_manifest_write(
        path, fingerprint or "", n=n, k=k, bands=bands, n_grps=n_grps
    )
    index_history_append(
        path, 0, _index_data_files(path), fingerprint=fingerprint or ""
    )


_MANIFEST_NAME = "_INDEX_MANIFEST.json"
_HISTORY_NAME = "_MANIFEST_HISTORY.jsonl"


def _index_data_files(
    path: str, parts: tuple[str, ...] = ("band=*", "grp=*")
) -> list[str]:
    """All data-file relpaths currently in the index's partition grid
    (``parts`` names the grid — compact_partitioned passes its own)."""
    import glob
    import os

    return sorted(
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(path, *parts, "*.parquet"))
    )


def index_history_append(
    path: str, version: int, files: list[str], reset: bool = False, **meta
) -> None:
    """Record one index VERSION in the append-only history sidecar:
    the build writes version 0 with its full file census, each
    idempotent append tick appends (version, its published files), and
    rewriting verbs (DELETE) append a ``reset`` line carrying the full
    post-rewrite census — erasure legally invalidates time travel to
    the pre-erasure index, so versions before a reset become
    unreadable BY DESIGN (GDPR wins over snapshots)."""
    import json
    import os

    with open(os.path.join(path, _HISTORY_NAME), "a") as fh:
        fh.write(
            json.dumps(
                {"version": version, "reset": reset, "files": files, **meta}
            )
            + "\n"
        )


def _index_history_rewrite(path: str, recs: list[dict]) -> None:
    """Atomically replace the history sidecar (tmp + rename)."""
    import json
    import os

    p = os.path.join(path, _HISTORY_NAME)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        for r in recs:
            fh.write(json.dumps(r) + "\n")
    os.replace(tmp, p)


def index_history_versions(path: str) -> list[dict]:
    import json
    import os

    p = os.path.join(path, _HISTORY_NAME)
    if not os.path.exists(p):
        return []
    with open(p) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def index_history_vacuum(path: str) -> int:
    """Truncate the history sidecar to the records FROM the last reset
    on (VERDICT r8 #7 — the sidecar grows one line per tick forever
    and every history reader parses all of it; over a service
    lifetime that is an unbounded driver-side scan per probe).
    Everything before the last reset is unreadable BY DESIGN already
    (index_files_at raises 'predates the rewrite'), so dropping those
    lines changes no reachable version's census — stale pins keep
    raising the same error, because the reset line itself is
    retained. No-op (returns 0) when the history has no reset.
    Returns the number of lines removed. Run it inside the same
    service tick that compacts the data files — both are the
    'bounded metadata over unbounded ticks' hygiene."""
    recs = index_history_versions(path)
    last_reset = max(
        (r["version"] for r in recs if r.get("reset")), default=None
    )
    if last_reset is None:
        return 0
    kept = [r for r in recs if r["version"] >= last_reset]
    if len(kept) == len(recs):
        return 0
    _index_history_rewrite(path, kept)
    return len(recs) - len(kept)


def index_history_changes(
    spark, path: str, from_version: int, to_version: int | None = None
):
    """CHANGE DATA FEED for the MARKER-protocol index families,
    derived from the history sidecar (ROADMAP r10 #2 — the snapshot
    side has versioned.table_changes; this gives migration tooling
    the same incremental read over a marker index): between two
    history versions with NO reset in the range, every change is an
    insert living in the files the ticks between them published — the
    feed is a plain scan of ``files_at(to) - files_at(from)``, no
    join, mirroring the snapshot table's append-only dir-diff fast
    path. A RESET in the range (erasure, compaction) makes the feed
    undefined by design — the pre-reset files are physically gone —
    so the call refuses loudly and the consumer resyncs from the
    reset census (exactly how Delta CDF consumers handle a vacuumed
    range). Partition columns (band/grp, table/bucket, cell) are
    recovered via basePath."""
    from pyspark.sql import functions as F

    recs = index_history_versions(path)
    if not recs:
        raise ValueError(f"index at {path}: no version history")
    known = {r["version"] for r in recs}
    if to_version is None:
        to_version = max(known)
    for v in (from_version, to_version):
        if v not in known:
            raise ValueError(
                f"index at {path}: unknown version {v} "
                f"(history has {sorted(known)})"
            )
    if from_version > to_version:
        raise ValueError(
            f"index at {path}: from_version {from_version} > "
            f"to_version {to_version}"
        )
    resets = [
        r["version"] for r in recs
        if r.get("reset") and from_version < r["version"] <= to_version
    ]
    if resets:
        raise ValueError(
            f"index at {path}: versions {from_version}->{to_version} "
            f"cross the rewrite at version {min(resets)} — the feed is "
            "undefined across a reset (pre-reset files are physically "
            "gone); resync from the reset census"
        )
    f_from = set(index_files_at(path, from_version))
    f_to = index_files_at(path, to_version)
    added = [f for f in f_to if f not in f_from]
    scan = spark.read.option("basePath", path)
    if not added:
        return scan.parquet(*f_to).withColumn(
            "_change_type", F.lit("insert")
        ).limit(0)
    return scan.parquet(*added).withColumn(
        "_change_type", F.lit("insert")
    )


def index_epoch(path: str) -> int:
    """The index's current EPOCH = the VERSION of the last reset line
    in its history (0 when no history or no reset exists — resets are
    always appended at max(version)+1 >= 1, so 0 is unambiguous).
    Rewriting verbs (delete, compaction, re-cluster) each append a
    reset, so the epoch names the physical generation of the index's
    files. Idempotent appends key their published file names by
    (epoch, batch_id) — see
    :func:`uts_spark.sources.sinks.staged_idempotent_append` — so a
    batch_id REUSED after a rewrite (a new stream restarting at bid 0
    post-erasure, ADVICE r8) lands in a fresh name space instead of
    sweeping the earlier generation's surviving ``b0-*`` files out of
    untouched partitions. The reset VERSION (not a count of reset
    lines) keys the epoch because versions never repeat and the last
    reset line survives :func:`index_history_vacuum` — a counting
    epoch would REGRESS after a vacuum and re-collide with the
    earlier generation's surviving publish names."""
    return max(
        (
            r["version"]
            for r in index_history_versions(path)
            if r.get("reset")
        ),
        default=0,
    )


def index_files_at(path: str, version: int) -> list[str]:
    """The index's data-file set AT ``version`` (absolute paths):
    the latest reset line at or below ``version`` plus every
    subsequent append's files. Raises for versions older than the
    last reset (those files are physically gone — see
    index_history_append) and for unknown versions."""
    import os

    recs = index_history_versions(path)
    if not recs:
        raise ValueError(f"index at {path}: no version history")
    known = {r["version"] for r in recs}
    resets = [r["version"] for r in recs if r.get("reset")]
    newer_resets = [v for v in resets if v > version]
    # the rewrite check comes FIRST: after a history vacuum the
    # pre-reset records are gone from the sidecar, so a stale pin is
    # both "unknown" and "predates the rewrite" — the second is the
    # truthful diagnosis either way
    if newer_resets:
        raise ValueError(
            f"index at {path}: version {version} predates the rewrite at "
            f"version {min(newer_resets)} — its files were physically "
            "removed (erasure invalidates earlier snapshots by design)"
        )
    if version not in known:
        raise ValueError(
            f"index at {path}: unknown version {version} "
            f"(history has {sorted(known)})"
        )
    last_reset = max((v for v in resets if v <= version), default=0)
    out: list[str] = []
    for r in recs:
        v = r["version"]
        if v < last_reset or v > version:
            continue
        if r.get("reset") and v != last_reset:
            continue
        out.extend(r["files"])
    return [os.path.join(path, f) for f in out]


def index_scan_at(spark, path: str, version: int):
    """VERSION-PINNED scan shared by every index family's probe: the
    DataFrame reads exactly the file census the history recorded at
    ``version`` (explicit file list + basePath, so the partition
    columns — and therefore pruning — are unchanged). Raises a
    DESCRIPTIVE error when the census at ``version`` is empty (an
    empty build or an all-empty-batch tick, ADVICE r8): handing zero
    paths to spark.read.parquet throws an opaque 'cannot infer
    schema' instead of naming the actual condition."""
    files = index_files_at(path, version)
    if not files:
        raise ValueError(
            f"index at {path}: version {version} has an EMPTY file "
            "census — nothing was ever published at that version "
            "(empty build or empty-batch tick); probe unpinned or pin "
            "a version with data"
        )
    return spark.read.option("basePath", path).parquet(*files)


def index_manifest_write(path: str, fingerprint: str, **config) -> None:
    """Persist the index's (fingerprint, config) manifest next to
    _SUCCESS (ADVICE r6, medium): probes validate BOTH before trusting
    the index — reuse is never on pathname alone, and an append bumps
    the fingerprint so a service's index tracks the corpus it actually
    covers (the 'fingerprint chain' of VERDICT r6 #2/#8)."""
    import json
    import os

    with open(os.path.join(path, _MANIFEST_NAME), "w") as fh:
        json.dump({"fingerprint": fingerprint, **config}, fh)


def index_manifest_read(path: str) -> dict | None:
    import json
    import os

    p = os.path.join(path, _MANIFEST_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


_PENDING_NAME = "_PENDING.json"


def index_state(path: str) -> str | None:
    """Crash-safe manifest state (ADVICE r7, low): the append protocol
    is append-files THEN bump-manifest — two non-atomic steps. A crash
    between them leaves the manifest at fp(base) while the batch's rows
    are already (partially) on disk, so a naive re-run re-appends the
    entire batch and PERMANENTLY duplicates index rows (probe output
    survives via DISTINCT candidates, but file/row counts drift and
    delete's removed-count inflates). Service ticks therefore write a
    ``_PENDING.json`` marker carrying the TARGET fingerprint before
    touching the data (:func:`index_tick`) and clear it only after the
    manifest bump; this reader returns ``None`` (= index untrusted,
    rebuild) whenever a marker is present, regardless of what the
    manifest claims."""
    import os

    if os.path.exists(os.path.join(path, _PENDING_NAME)):
        return None
    m = index_manifest_read(path)
    return m["fingerprint"] if m else None


class IndexBusyError(RuntimeError):
    """A concurrent writer holds the index's pending marker."""


def index_tick(path: str, target_fp: str, work, **config) -> None:
    """One service mutation (append/delete/ingest) under the
    pending-marker protocol: write marker(target_fp) → ``work()`` →
    manifest bump → clear marker. Any crash inside the window leaves
    the marker behind, and :func:`index_state` reports the index as
    untrusted so the next tick rebuilds instead of double-applying.

    The marker is created with O_EXCL, so single-writer is ENFORCED,
    not assumed: a second concurrent ticker fails fast with
    :class:`IndexBusyError` instead of both writers interleaving
    appends and stomping each other's manifest bump (the multi-writer
    corruption mode). A crashed writer's stale marker surfaces as
    ``index_state() is None`` — the caller's rebuild path — never as a
    silent wait."""
    import json
    import os

    p = os.path.join(path, _PENDING_NAME)
    try:
        fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise IndexBusyError(
            f"index at {path}: another writer holds {_PENDING_NAME} — "
            "concurrent tick refused (if the holder crashed, "
            "index_state() is None and the caller rebuilds)"
        ) from None
    with os.fdopen(fd, "w") as fh:
        json.dump({"fingerprint": target_fp, **config}, fh)
    work()
    index_manifest_write(path, target_fp, **config)
    os.remove(p)


def _check_index_config(path: str, **config) -> None:
    """Raise if a manifest exists and disagrees with the probe's
    parameters — a silent config mismatch drops pairs, never errors."""
    m = index_manifest_read(path)
    if m is None:
        return
    for key, val in config.items():
        if key in m and m[key] != val:
            raise ValueError(
                f"minhash index at {path}: config mismatch — index has "
                f"{key}={m[key]}, probe asked {key}={val}; rebuild or "
                "probe with the index's parameters"
            )


def minhash_index_append(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    n_grps: int = 16,
) -> None:
    """Fold a new batch into the persisted band index (VERDICT r6 #2 —
    without this a dedup service serves a stale corpus after its first
    batch): sketch ONLY the batch, append its narrow (id, band, bucket)
    rows partition-aligned into the existing (band, grp) directory grid
    (parquet append adds files to matching partitions; no existing file
    is rewritten). Cost is batch-sized — sketching + one
    bands-per-doc-row write — independent of index size; SCALE.md
    records append-vs-rebuild at 1M docs. The caller bumps the manifest
    fingerprint via :func:`index_manifest_write` after the append."""
    from uts_spark.sources.sinks import write_partitioned

    _check_index_config(path, n=n, k=k, bands=bands, n_grps=n_grps)
    arrays = doc_shingle_arrays_portable(df, text_col, id_col, n)
    sig = minhash_signatures_portable(arrays, k)
    rows = (
        _band_bucket_rows(sig, k, bands)
        .select("id", "band", "bucket")
        .withColumn("grp", F.pmod(F.xxhash64("bucket"), F.lit(n_grps)))
    )
    write_partitioned(rows, path, ["band", "grp"], mode="append", cluster=True)


def minhash_index_append_idempotent(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    batch_id: int,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    n_grps: int = 16,
) -> None:
    """EXACTLY-ONCE micro-batch append for the streaming ingest loop
    (VERDICT r7 #6): plain ``minhash_index_append`` inside foreachBatch
    is append-files-then-commit-checkpoint — a crash after the files
    hit disk but before the epoch commits makes the restarted stream
    re-run the batch and append its rows TWICE. This variant is
    idempotent per (index, batch_id), so a replayed batch converges to
    the same physical index:

    1. STAGE: sketch the batch and write its (band, grp)-partitioned
       rows under ``path/_staging/b{batch_id}`` in overwrite mode
       (underscore dir — invisible to the index's partition discovery;
       a torn prior staging of the same batch is replaced wholesale);
    2. SWEEP: delete any ``b{batch_id}-*.parquet`` already published
       into the index partitions by a crashed prior attempt;
    3. PUBLISH: os.replace each staged file into its partition dir
       under the deterministic name ``b{batch_id}-{seq}.parquet``.

    Every crash window re-runs to the identical end state: staging is
    overwrite, the sweep erases any partial publish, and the names are
    a pure function of batch_id. Same batch-sized cost as the plain
    append plus a file-move pass (renames, no data copy). The
    query-level pending-marker tick still guards the WHOLE stream; this
    makes the cheap path — resume from the checkpoint without a
    rebuild — actually exact."""
    from uts_spark.sources.sinks import staged_idempotent_append

    _check_index_config(path, n=n, k=k, bands=bands, n_grps=n_grps)
    arrays = doc_shingle_arrays_portable(df, text_col, id_col, n)
    sig = minhash_signatures_portable(arrays, k)
    rows = (
        _band_bucket_rows(sig, k, bands)
        .select("id", "band", "bucket")
        .withColumn("grp", F.pmod(F.xxhash64("bucket"), F.lit(n_grps)))
    )
    published = staged_idempotent_append(
        rows, path, ["band", "grp"], batch_id, epoch=index_epoch(path)
    )
    _index_history_record_batch(path, batch_id, published)


def _index_history_record_batch(
    path: str, batch_id: int, published: list[str], **meta
) -> None:
    """Record one idempotent-append tick in the version history (no-op
    when the index predates the history feature). Idempotent per
    (epoch, batch_id) — a replayed micro-batch REWRITES its own line
    with the re-published census instead of appending a second. The
    match is scoped to records AFTER the last reset (ADVICE r8): a
    batch_id reused across a rewrite (a new stream restarting at bid 0
    after an erasure) must open a NEW version line, not resurrect the
    dead pre-reset one — rewriting that line would make index_files_at
    silently omit the new tick's files at every current version.
    ``meta`` rides on the line (the drift control loop records the
    tick's quantizer-fit integers here — the stat is part of the
    index's durable record, VERDICT r8 #3)."""
    recs = index_history_versions(path)
    if not recs:
        return
    published = sorted(published)
    last_reset = max(
        (r["version"] for r in recs if r.get("reset")), default=-1
    )
    mine = [
        r
        for r in recs
        if r.get("batch_id") == batch_id and r["version"] > last_reset
    ]
    if mine:
        others = [r for r in recs if r is not mine[0]]
        others.append(
            {
                "version": mine[0]["version"],
                "reset": False,
                "files": published,
                "batch_id": batch_id,
                **meta,
            }
        )
        _index_history_rewrite(path, sorted(others, key=lambda r: r["version"]))
    else:
        index_history_append(
            path,
            max(r["version"] for r in recs) + 1,
            published,
            batch_id=batch_id,
            **meta,
        )


def minhash_index_delete(
    spark,
    deleted_docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    n_grps: int = 16,
) -> int:
    """ERASE documents from the persisted band index (the service's
    GDPR verb — an index that can only grow keeps serving matches
    against data the corpus no longer legally holds): re-sketch ONLY
    the deleted docs to find which (band, grp) partitions hold their
    rows, then hand (id, band, grp) to the shared partition-delete
    kernel (sources/sinks.delete_from_partitioned — left-anti id join,
    dynamic partition overwrite, emptied-dir sweep). Cost ∝ touched
    partitions (bounded by deleted x bands), never the index; the
    deleted-id list stays a
    DataFrame end-to-end, so a domain-takedown-sized erasure batch
    never materializes on the driver (VERDICT r7 #2). Returns the
    number of index rows removed; the caller bumps the manifest
    fingerprint afterwards."""
    from uts_spark.sources.sinks import delete_from_partitioned

    _check_index_config(path, n=n, k=k, bands=bands, n_grps=n_grps)
    arrays = doc_shingle_arrays_portable(deleted_docs, text_col, id_col, n)
    sig = minhash_signatures_portable(arrays, k)
    rows = (
        _band_bucket_rows(sig, k, bands)
        .select("id", "band", "bucket")
        .withColumn("grp", F.pmod(F.xxhash64("bucket"), F.lit(n_grps)))
    )
    removed = delete_from_partitioned(
        spark, path, rows.select("id", "band", "grp"), ["band", "grp"], "id"
    )
    # erasure physically rewrites partitions, so pre-delete snapshot
    # versions are gone — record a RESET with the post-delete census
    # (time travel resumes from here; see index_history_append)
    recs = index_history_versions(path)
    if recs:
        index_history_append(
            path,
            max(r["version"] for r in recs) + 1,
            _index_data_files(path),
            reset=True,
        )
    return removed


def minhash_index_probe(
    spark,
    path: str,
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
    version: int | None = None,
    scan: DataFrame | None = None,
) -> DataFrame:
    """Probe the persisted index with a new batch: sketch the BATCH
    (batch-sized work only), push its distinct (band, grp) list into
    the narrow index scan as a static partition filter (bounded by
    batch x bands — the same driver-materialized-literal precedent as
    similarity._lsh_index_probe), equi-join on the exact (band, bucket) for
    candidate pairs, then re-sketch ONLY the candidate old docs from
    ``old_docs`` (bounded by bucket collisions) for the estimated +
    exact Jaccard verify. Returns directional (id_new, id_old,
    est_jaccard, jaccard) pairs with jaccard >= threshold — new x old
    only; the corpus is never re-sketched wholesale and the old x old
    quadrant is never generated.

    ``checkpoint=True`` (default — ADVICE r6, low) eagerly
    ``localCheckpoint``s the (candidate-bounded) verified pair set and
    releases the two shingle caches immediately, mirroring
    :func:`minhash_lsh` / :func:`simhash_band_pairs`: a dedup service
    probes repeatedly in one session, and un-released caches accumulate
    executor storage per probe. ``checkpoint=False`` keeps the full
    lazy plan (plan-shape tests pin the partition-pruned index scan).

    ``scan`` overrides the index source with an explicit (id, band,
    bucket, grp) frame — the snapshot-committed family
    (functions/vindex.py) passes its manifest-resolved version read
    here, so both storage protocols share one probe/verify kernel."""
    if scan is None:
        _check_index_config(path, n=n, k=k, bands=bands, n_grps=n_grps)
    arrays_n = doc_shingle_arrays_portable(new_docs, text_col, id_col, n).cache()
    # cached (optimization r11): the batch signatures are consumed
    # THREE times (probed-partition list, candidate join, estimate
    # join) and each read would re-run the explode + k-min groupBy
    # from the cached arrays — the cache bounds it to one computation
    sig_n = minhash_signatures_portable(arrays_n, k).cache()
    bk_n = _band_bucket_rows(sig_n, k, bands)

    pdf = (
        bk_n.select(
            "band", F.pmod(F.xxhash64("bucket"), F.lit(n_grps)).alias("grp")
        )
        .distinct()
        .toPandas()
    )
    # one combined-key IN over both partition columns (not a pair-wise
    # OR-chain): stays a single static PartitionFilters expression even
    # for hundreds of probed partitions, and an empty probe batch
    # degrades to IN () = false, i.e. an empty result
    keys = sorted(int(b) * n_grps + int(g) for b, g in pdf.itertuples(index=False))
    if scan is not None:
        pass  # caller-resolved rows (snapshot family)
    elif version is None:
        scan = _read_pq(spark, path)
    else:
        # VERSION-PINNED read: the scan sees exactly the file set the
        # history recorded at `version` — a reader stays on a
        # consistent snapshot while append ticks land (files published
        # after the pin are invisible; batch-keyed names make the set
        # reconstructible). basePath keeps (band, grp) as partition
        # columns, so pruning is unchanged.
        scan = index_scan_at(spark, path, version)
    idx = scan.filter(
        (F.col("band") * n_grps + F.col("grp")).isin(keys)
        if keys
        else F.lit(False)
    )

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
# Band-occupancy skew monitor + hot-bucket cap: the dedup ingest's drift
# control loop (the MinHash sibling of vindex.ivf_vindex_ingest_tick).
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

_COLL_REF_NAME = "_COLL_REF.json"
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


def minhash_coll_ref_write(
    path: str, coll: int, rown: int, rows_total: int
) -> None:
    """Persist the monitor's REFERENCE: the build corpus's organic
    self-collision integers (coll = Σ s·(s−1) over buckets, rown = its
    band rows) plus the live index's current row count (``rows_total``,
    maintained incrementally per tick — the batch rate's denominator
    must never cost an index scan). Written at build; rows_total
    advances on every append and shrinks on a cap."""
    import json
    import os

    with open(os.path.join(path, _COLL_REF_NAME), "w") as fh:
        json.dump(
            {
                "coll": int(coll),
                "rown": int(rown),
                "rows_total": int(rows_total),
            },
            fh,
        )


def minhash_coll_ref_read(path: str) -> dict | None:
    import json
    import os

    p = os.path.join(path, _COLL_REF_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def minhash_coll_ref_init(spark, path: str) -> dict:
    """Compute and persist the reference from the index as built: one
    index-shaped aggregate (build time is already corpus-shaped, so
    the reference costs a rounding error of the build)."""
    idx = _read_pq(spark, path)
    row = (
        idx.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("s"))
        .agg(
            F.sum(F.col("s") * (F.col("s") - F.lit(1))).alias("c"),
            F.sum("s").alias("n"),
        )
        .first()
    )
    coll, rown = int(row["c"] or 0), int(row["n"] or 0)
    minhash_coll_ref_write(path, coll, rown, rown)
    return {"coll": coll, "rown": rown, "rows_total": rown}


def minhash_index_cap_hot_buckets(
    spark, path: str, cap: int = HOT_BUCKET_CAP, n_grps: int = 16
) -> int:
    """The corrective verb: QUARANTINE every bucket larger than ``cap``
    — its rows move to ``path/_quarantine`` (underscore dir, invisible
    to the index's partition discovery; auditable and reversible) and
    the touched (band, grp) partitions rewrite without them, so future
    probes generate no candidates through flood buckets. Semantics are
    the documented cap policy (a probe's oracle replicates the size
    rule in SQL), not silent loss: the quarantined rows remain on disk
    with their bucket keys.

    Cost ∝ touched partitions (the hot buckets' directories), never
    the index; the hot-bucket key set is bounded by live_rows/cap
    groups and is broadcast to the rewrite. Records a RESET line in
    the version history (physical rewrite — same contract as erasure).
    Returns the number of rows quarantined."""
    import os

    idx = _read_pq(spark, path)
    hot = (
        idx.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") > cap)
        .select("band", "bucket")
        .localCheckpoint(eager=True)
    )
    n_hot = hot.count()
    if n_hot == 0:
        return 0
    touched = sorted(
        (int(r["band"]), int(r["grp"]))
        for r in hot.select(
            "band", F.pmod(F.xxhash64("bucket"), F.lit(n_grps)).alias("grp")
        )
        .distinct()
        .collect()
    )  # bounded by the (band, grp) partition GRID, never by rows
    combined = F.concat_ws(
        "/", F.col("band").cast("string"), F.col("grp").cast("string")
    )
    cond = combined.isin(["/".join(map(str, key)) for key in touched])
    scan = _read_pq(spark, path).filter(cond)
    quarantined = scan.join(F.broadcast(hot), ["band", "bucket"], "left_semi")
    keep = scan.join(
        F.broadcast(hot), ["band", "bucket"], "left_anti"
    ).localCheckpoint(eager=True)
    removed = scan.count() - keep.count()
    # write the quarantine BEFORE overwriting the partitions it reads
    quarantined.write.mode("append").parquet(
        os.path.join(path, "_quarantine")
    )
    (
        keep.repartition(F.col("band"), F.col("grp"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("band", "grp")
        .parquet(path)
    )
    import shutil as _sh

    remaining = {
        (int(r["band"]), int(r["grp"]))
        for r in keep.select("band", "grp").distinct().collect()
    }
    for key in touched:
        if key not in remaining:
            _sh.rmtree(
                os.path.join(path, f"band={key[0]}", f"grp={key[1]}"),
                ignore_errors=True,
            )
    recs = index_history_versions(path)
    if recs:
        index_history_append(
            path,
            max(r["version"] for r in recs) + 1,
            _index_data_files(path),
            reset=True,
            hot_buckets=n_hot,
        )
    return removed


def minhash_ingest_tick(
    spark,
    batch_docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    batch_id: int,
    cap: int = HOT_BUCKET_CAP,
    skew_milli: int = SKEW_MILLI,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    n_grps: int = 16,
) -> dict:
    """One CLOSED-LOOP micro-batch of the dedup ingest service (the
    MinHash sibling of vindex.ivf_vindex_ingest_tick — round-10
    candidate #3). Per tick, under the caller's pending marker:

    1. MEASURE first: the batch's bucket-collision integers against
       the CURRENT live index (pre-append — the stat must see the
       index the batch is colliding into, and the intra-batch term
       catches self-similar floods);
    2. APPEND exactly-once (epoch-keyed staged publish), recording
       (coll_sum, coll_rown) on the tick's history line — the stat is
       part of the index's durable record;
    3. ACT when the measured flag fires — batch rate > skew_milli/1000
       × the build-time organic rate, cross-multiplied in exact
       arbitrary-precision ints:
         coll·ref_rown·(ref_rown−1)·1000
           > skew_milli·ref_coll·row_n·(rows_total+row_n−1)
       (8x sits between the measured ≤0.94x healthy-batch band and
       the ≥475x flood band, SCALE.md round 9b) — by QUARANTINING
       buckets above ``cap`` (16: above every measured organic bucket,
       below the smallest measured flood bucket).

    Returns {"coll_sum", "row_n", "flagged", "capped_rows"}. A missing
    collision reference (index predates the loop) records the stat but
    never flags — monitoring degrades gracefully, it does not guess."""
    from uts_spark.sources.sinks import staged_idempotent_append

    _check_index_config(path, n=n, k=k, bands=bands, n_grps=n_grps)
    arrays = doc_shingle_arrays_portable(batch_docs, text_col, id_col, n)
    sig = minhash_signatures_portable(arrays, k)
    rows = (
        _band_bucket_rows(sig, k, bands)
        .select("id", "band", "bucket")
        .withColumn("grp", F.pmod(F.xxhash64("bucket"), F.lit(n_grps)))
        .localCheckpoint(eager=True)  # sketched once: stat + append reuse
    )
    live = _read_pq(spark, path)
    coll, row_n = minhash_collision_stat_ints(
        rows.select("id", "band", "bucket"), live
    )
    published = staged_idempotent_append(
        rows, path, ["band", "grp"], batch_id, epoch=index_epoch(path)
    )
    _index_history_record_batch(
        path, batch_id, published, coll_sum=coll, coll_rown=row_n
    )

    ref = minhash_coll_ref_read(path)
    flagged = False
    if ref is not None and row_n > 0 and ref["coll"] > 0 and ref["rown"] > 1:
        lhs = coll * ref["rown"] * (ref["rown"] - 1) * 1000
        rhs = (
            skew_milli
            * ref["coll"]
            * row_n
            * (ref["rows_total"] + row_n - 1)
        )
        flagged = lhs > rhs
    if ref is not None:
        minhash_coll_ref_write(
            path, ref["coll"], ref["rown"], ref["rows_total"] + row_n
        )
    capped = 0
    if flagged:
        capped = minhash_index_cap_hot_buckets(
            spark, path, cap=cap, n_grps=n_grps
        )
        ref2 = minhash_coll_ref_read(path)
        if ref2 is not None:
            minhash_coll_ref_write(
                path, ref2["coll"], ref2["rown"],
                ref2["rows_total"] - capped,
            )
    return {
        "coll_sum": coll,
        "row_n": row_n,
        "flagged": bool(flagged),
        "capped_rows": capped,
    }

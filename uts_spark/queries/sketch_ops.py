"""Round-4 widening, part 3: mergeable-sketch and late-interaction
families — an OWN deterministic HyperLogLog (register-exact, so the
external oracle can replay it bit-for-bit, unlike the engine-private
HLL++ demoted to DEMOS in round 4), a mergeable quantile digest, and
friends.

Reference parity note: none of these exist in the reference engine
(mixer/uts folds one in-memory series; see uts.ts) — they are §2.7
north-star extensions.  The design goal throughout: every sketch is
MERGEABLE (register/partial merge == direct computation, proven by
emitting both rows), because at 100 TB sketches are built per-partition
and merged, never computed globally.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from uts_spark.functions.hashing import duck_hash64, hash64
from uts_spark.operators.distributed_rank import ranked_cumsum
from uts_spark.operators.topk import percentile_disc
from uts_spark.registry import FDIV, MS, query, table

# --- HyperLogLog parameters (p=8 → m=256 registers) -----------------------
#
# The 60-bit portable hash (functions/hashing.py) splits into the top 8
# bucket bits and the low 52 "rho" bits; rho = leading-zeros-in-52 + 1
# (max 53).  The register sum Σ 2^-reg is kept EXACT by scaling with
# 2^53: term = 2^(53-reg) is an integer ≥ 1, the 256-bucket sum fits in
# 61 bits, and absent buckets contribute 2^53 each.  The estimate
# α·m²/Σ2^-reg is then A / reg_sum — ONE IEEE division of a literal by
# an exact integer, bit-identical across JVM and C++.
_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_REST_BITS = 60 - _HLL_P
_HLL_MASK = (1 << _HLL_REST_BITS) - 1
_HLL_RHO_MAX = _HLL_REST_BITS + 1  # 53
_HLL_ZERO_TERM = 1 << _HLL_RHO_MAX  # 2^53, the term of an untouched register
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_A = _HLL_ALPHA * _HLL_M * _HLL_M * float(_HLL_ZERO_TERM)
_HLL_A_LIT = repr(_HLL_A)


def _hll_row_sql(scope_expr: str, regs: str, exact: str) -> str:
    """One oracle output row (scope, n_exact, zero_regs, reg_sum) from a
    register CTE ``regs(bucket, reg)`` and an exact-count scalar."""
    return f"""
      SELECT {scope_expr} AS scope,
             ({exact}) AS n_exact,
             {_HLL_M} - COUNT(*) AS zero_regs,
             SUM(CAST(power(2.0, {_HLL_RHO_MAX} - reg) AS BIGINT))
               + ({_HLL_M} - COUNT(*)) * {_HLL_ZERO_TERM} AS reg_sum
      FROM {regs}
    """


_HLL_ORACLE = f"""
WITH el AS (
  SELECT event_type,
         concat('hll:', CAST(event_id AS VARCHAR)) AS elem,
         {duck_hash64("concat('hll:', CAST(event_id AS VARCHAR))")} AS h
  FROM events
),
rh AS (
  SELECT event_type, elem,
         (h >> {_HLL_REST_BITS}) AS bucket,
         CASE WHEN (h & {_HLL_MASK}) = 0 THEN {_HLL_RHO_MAX}
              ELSE {_HLL_RHO_MAX} - length(bin(h & {_HLL_MASK})) END AS rho
  FROM el
),
regs AS (SELECT event_type, bucket, MAX(rho) AS reg FROM rh GROUP BY 1, 2),
per_type AS (
  SELECT r.scope, ex.n_exact, r.zero_regs, r.reg_sum FROM (
    SELECT event_type AS scope,
           {_HLL_M} - COUNT(*) AS zero_regs,
           SUM(CAST(power(2.0, {_HLL_RHO_MAX} - reg) AS BIGINT))
             + ({_HLL_M} - COUNT(*)) * {_HLL_ZERO_TERM} AS reg_sum
    FROM regs GROUP BY 1
  ) r JOIN (
    SELECT event_type AS scope, COUNT(DISTINCT elem) AS n_exact
    FROM el GROUP BY 1
  ) ex USING (scope)
),
mregs AS (SELECT bucket, MAX(reg) AS reg FROM regs GROUP BY 1),
m_row AS ({_hll_row_sql("'__merged__'", 'mregs',
                        'SELECT COUNT(DISTINCT elem) FROM el')}),
dregs AS (SELECT bucket, MAX(rho) AS reg FROM rh GROUP BY 1),
d_row AS ({_hll_row_sql("'__direct__'", 'dregs',
                        'SELECT COUNT(DISTINCT elem) FROM el')}),
allrows AS (
  SELECT * FROM per_type
  UNION ALL SELECT * FROM m_row
  UNION ALL SELECT * FROM d_row
)
SELECT scope, n_exact, zero_regs, reg_sum,
       {_HLL_A_LIT} / reg_sum AS hll_est,
       ({_HLL_A_LIT} / reg_sum - n_exact) / n_exact * 100 AS rel_err_pct
FROM allrows
ORDER BY scope
"""


@query("sketch_hll_own", _HLL_ORACLE)
def sketch_hll_own(spark, sf_dir):
    """Own deterministic HyperLogLog (Flajolet et al. 2007): p=8,
    m=256 registers over the portable md5 hash family, one register
    table per event_type, then a REGISTER MERGE (per-bucket max across
    types) for the union sketch — emitted alongside the directly
    computed global sketch to prove merge == direct, the property that
    makes HLL the 100 TB distinct-count workhorse (per-partition
    registers, tiny merge, no second pass over data).

    Everything the oracle compares is integer-exact: the register sum
    is kept scaled by 2^53 so Σ2^-reg is a BIGINT, and the estimate is
    a single IEEE division (literal A / reg_sum) — bit-identical in
    JVM and DuckDB.  Unlike `approx_distinct`/HLL++ (engine-private
    registers, DEMOS-only since round 4), this sketch is externally
    replayable, hash-exact, and still one shuffle wide.

    Scale shape: groupBy(type, bucket) has map-side combine, so the
    shuffle is ≤ types×256 rows regardless of input size; the merge is
    256 rows.  The exact-count lane (for the error column) is the only
    input-sized aggregate and exists purely for validation.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.concat(F.lit("hll:"), F.col("event_id").cast("string")).alias("elem"),
    )
    rest = hash64(F.col("elem")).bitwiseAND(F.lit(_HLL_MASK))
    rh = ev.select(
        "event_type",
        "elem",
        F.shiftright(hash64(F.col("elem")), _HLL_REST_BITS).alias("bucket"),
        F.when(rest == 0, F.lit(_HLL_RHO_MAX))
        .otherwise(F.lit(_HLL_RHO_MAX) - F.length(F.conv(rest, 10, 2)))
        .alias("rho"),
    )
    regs = rh.groupBy("event_type", "bucket").agg(F.max("rho").alias("reg"))

    term = F.expr(f"CAST(power(2.0, {_HLL_RHO_MAX} - reg) AS BIGINT)")

    def row_stats(reg_df, keys):
        return reg_df.groupBy(*keys).agg(
            (F.lit(_HLL_M) - F.count("*")).alias("zero_regs"),
            (
                F.sum(term)
                + (F.lit(_HLL_M) - F.count("*")) * F.lit(_HLL_ZERO_TERM)
            ).alias("reg_sum"),
        )

    per_type = (
        row_stats(regs, ["event_type"])
        .join(
            ev.groupBy("event_type").agg(
                F.countDistinct("elem").alias("n_exact")
            ),
            "event_type",
        )
        .select(F.col("event_type").alias("scope"), "n_exact", "zero_regs", "reg_sum")
    )

    g_exact = ev.agg(F.countDistinct("elem").alias("n_exact"))
    merged = (
        row_stats(regs.groupBy("bucket").agg(F.max("reg").alias("reg")), [])
        .crossJoin(F.broadcast(g_exact))
        .select(F.lit("__merged__").alias("scope"), "n_exact", "zero_regs", "reg_sum")
    )
    direct = (
        row_stats(
            rh.groupBy("bucket").agg(F.max("rho").alias("reg")), []
        )
        .crossJoin(F.broadcast(g_exact))
        .select(F.lit("__direct__").alias("scope"), "n_exact", "zero_regs", "reg_sum")
    )

    out = per_type.unionByName(merged).unionByName(direct)
    est = F.lit(_HLL_A) / F.col("reg_sum")
    return (
        out.withColumn("hll_est", est)
        .withColumn(
            "rel_err_pct",
            (est - F.col("n_exact")) / F.col("n_exact") * F.lit(100),
        )
        .orderBy("scope")
    )


# --- Mergeable quantile digest ---------------------------------------------
#
# Deterministic decimation digest: shard rows by portable hash, sort each
# shard locally, keep every k-th element weighted by the run it represents
# (tail runs get the exact remainder, so shard weights sum to the shard
# size and the grand total is EXACTLY n).  The merged sample is ~n/k rows;
# quantile q is the first sample element whose running weight reaches
# ceil(q*n) — the same rank target as the exact percentile_disc lane, so
# est vs exact is an apples-to-apples element comparison.
_QD_SHARDS = 32
_QD_K = 16
_QD_QS = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]

_QD_ORACLE = f"""
WITH base AS (
  SELECT l_orderkey * 10 + l_linenumber AS uid, l_extendedprice AS v
  FROM lineitem
),
sh AS (
  SELECT uid, v,
         {duck_hash64("CAST(uid AS VARCHAR)")} % {_QD_SHARDS} AS shard
  FROM base
),
rk AS (
  SELECT shard, uid, v,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY v, uid) AS rn,
         COUNT(*) OVER (PARTITION BY shard) AS ns
  FROM sh
),
kept AS (
  SELECT v, uid, LEAST({_QD_K}, ns - rn + 1) AS w
  FROM rk WHERE (rn - 1) % {_QD_K} = 0
),
samp AS (
  SELECT v, uid, w,
         SUM(w) OVER (ORDER BY v, uid ROWS UNBOUNDED PRECEDING) AS cumw
  FROM kept
),
tot AS (SELECT COUNT(*) AS n FROM base),
nsamp AS (SELECT COUNT(*) AS sample_rows FROM kept),
qs AS (SELECT * FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(0.99)) t(q)),
est AS (
  SELECT q, min_by(v, cumw) AS est_value
  FROM qs, samp, tot
  WHERE cumw >= GREATEST(CEIL(q * n), 1)
  GROUP BY q
),
fullrk AS (
  SELECT v,
         ROW_NUMBER() OVER (ORDER BY v, uid) AS rn,
         COUNT(*) OVER () AS n
  FROM base
),
exact AS (
  SELECT q, MIN(v) AS exact_value
  FROM qs JOIN fullrk ON rn = GREATEST(CEIL(q * n), 1)
  GROUP BY q
)
SELECT e.q, e.est_value, x.exact_value,
       e.est_value - x.exact_value AS est_err,
       (SELECT n FROM tot) AS n_total,
       (SELECT sample_rows FROM nsamp) AS sample_rows
FROM est e JOIN exact x USING (q)
ORDER BY q
"""


@query("sketch_quantile_mergeable", _QD_ORACLE)
def sketch_quantile_mergeable(spark, sf_dir):
    """Mergeable decimation quantile digest (the GK/KLL deployment
    shape, deterministic variant): shard l_extendedprice by portable
    hash into 32 shards, sort each shard locally, keep every 16th
    element with the EXACT run weight (tail runs carry the remainder,
    so Σweights == n with no drift), then merge the ~n/16-row sample
    and read each decile as the first sample element whose running
    weight reaches ceil(q·n).  The exact lane uses the same rank
    target (operators/topk.percentile_disc), so est_err measures true
    digest error — element minus element, no interpolation.

    Scale shape: ONE hash exchange for the shard sort (in a real
    cluster the shard IS the partition, so even that exchange
    disappears — sortWithinPartitions); the merge ranks the decimated
    sample through the range-partitioned exact rank
    (operators/distributed_rank), never a single-partition window.
    k scales with data so the sample stays bounded; error is ≤ k·shards
    ranks by construction.
    """
    base = table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
        F.col("l_extendedprice").alias("v"),
    )
    sh = base.withColumn(
        "shard", F.pmod(hash64(F.col("uid").cast("string")), F.lit(_QD_SHARDS))
    )
    w_sh = Window.partitionBy("shard").orderBy("v", "uid")
    rk = sh.select(
        "v",
        "uid",
        F.row_number().over(w_sh).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("shard")).alias("ns"),
    )
    kept = rk.filter((F.col("rn") - 1) % _QD_K == 0).select(
        "v",
        "uid",
        F.least(F.lit(_QD_K), F.col("ns") - F.col("rn") + 1).alias("w"),
    )
    samp = ranked_cumsum(
        kept,
        F.col("v"),
        [F.col("v").asc(), F.col("uid").asc()],
        values={"w": F.col("w")},
    )
    n_samp = kept.agg(F.count(F.lit(1)).alias("sample_rows"))

    q_df = spark.createDataFrame([(q,) for q in _QD_QS], "q double")
    target = F.greatest(F.ceil(F.col("q") * F.col("tot_w")), F.lit(1))
    est = (
        samp.crossJoin(F.broadcast(q_df))
        .filter(F.col("cum_w") >= target)
        .groupBy("q")
        .agg(
            F.min_by("v", "cum_w").alias("est_value"),
            F.first("tot_w").alias("n_total"),
        )
    )
    exact = percentile_disc(base, "v", _QD_QS, tie_break="uid").select(
        F.col("p").alias("q"), F.col("value").alias("exact_value")
    )
    return (
        est.join(exact, "q")
        .crossJoin(F.broadcast(n_samp))
        .select(
            "q",
            "est_value",
            "exact_value",
            (F.col("est_value") - F.col("exact_value")).alias("est_err"),
            "n_total",
            "sample_rows",
        )
        .orderBy("q")
    )


# --- Interval × interval overlap join --------------------------------------
#
# The join shape Spark has no native operator for: two interval sets,
# emit every overlapping pair.  A theta join (s1 <= e2 AND s2 <= e1) is
# a cartesian product at the physical layer; the scale-safe plan grids
# time into fixed cells, explodes each interval to the cells it covers,
# and hash-joins on the cell.  Dedup is FREE: a pair is emitted only at
# its canonical cell — the one containing max(start1, start2), which
# both intervals necessarily cover when they overlap — so no distinct
# shuffle ever runs.  Cells per interval = len/G + 1, bounded by
# construction.
_IOJ_GAP = 30 * 60 * 1000  # session split gap
_IOJ_K = 8                 # busy-hour threshold
_IOJ_G = 6 * 3_600_000     # grid cell width


_IOJ_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts)//1000000 AS t FROM events
),
flg AS (
  SELECT user_id, t,
         CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > {_IOJ_GAP}
              THEN 1 ELSE 0 END AS f
  FROM e
),
sid AS (
  SELECT user_id, t,
         SUM(f) OVER (PARTITION BY user_id ORDER BY t
                      ROWS UNBOUNDED PRECEDING) AS sid
  FROM flg
),
sessions AS (
  SELECT user_id, MIN(t) AS s_start, MAX(t) AS s_end
  FROM sid GROUP BY user_id, sid
),
hourly AS (
  SELECT event_type, {FDIV("t", 3_600_000)} AS hr, COUNT(*) AS c
  FROM e GROUP BY 1, 2
),
busy AS (SELECT event_type, hr FROM hourly WHERE c >= {_IOJ_K}),
isl AS (
  SELECT event_type, hr,
         hr - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS island
  FROM busy
),
incidents AS (
  SELECT event_type,
         MIN(hr) * {3_600_000} AS i_start,
         (MAX(hr) + 1) * {3_600_000} - 1 AS i_end
  FROM isl GROUP BY event_type, island
)
SELECT s.user_id, s.s_start, s.s_end,
       i.event_type, i.i_start, i.i_end,
       LEAST(s.s_end, i.i_end) - GREATEST(s.s_start, i.i_start) AS overlap_ms
FROM sessions s JOIN incidents i
  ON s.s_start <= i.i_end AND i.i_start <= s.s_end
ORDER BY s.user_id, s.s_start, i.event_type, i.i_start
"""


@query("join_interval_overlap", _IOJ_ORACLE)
def join_interval_overlap(spark, sf_dir):
    """Interval overlap join: every (user session) × (busy-hour
    incident window) pair that intersects in time, with the overlap
    duration.  Sessions come from 30-min-gap sessionization; incidents
    are maximal runs of hours where an event_type logged ≥ 8 events
    (gaps-and-islands).

    Scale shape: instead of the theta join the oracle runs (a
    cartesian at the physical layer), both interval sets explode onto
    a 6-hour grid and hash-join on the cell — and each overlapping
    pair is emitted exactly once, at the canonical cell containing
    max(s_start, i_start) (both intervals cover it whenever they
    overlap), so there is NO distinct/dedup shuffle.  Work scales with
    overlaps per cell, not |A|·|B|; the grid width trades explode
    factor (len/G cells per interval) against per-cell join fan-in.
    """
    H = 3_600_000
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts_ms").alias("t")
    )
    wu = Window.partitionBy("user_id").orderBy("t")
    flg = ev.select(
        "user_id",
        "t",
        F.when(
            F.lag("t").over(wu).isNull()
            | (F.col("t") - F.lag("t").over(wu) > _IOJ_GAP),
            1,
        )
        .otherwise(0)
        .alias("f"),
    )
    sid = flg.select(
        "user_id",
        "t",
        F.sum("f")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    sessions = sid.groupBy("user_id", "sid").agg(
        F.min("t").alias("s_start"), F.max("t").alias("s_end")
    )

    hourly = ev.groupBy(
        "event_type", F.floor(F.col("t") / F.lit(H)).cast("long").alias("hr")
    ).count()
    busy = hourly.filter(F.col("count") >= _IOJ_K)
    wt = Window.partitionBy("event_type").orderBy("hr")
    incidents = (
        busy.select(
            "event_type",
            "hr",
            (F.col("hr") - F.row_number().over(wt)).alias("island"),
        )
        .groupBy("event_type", "island")
        .agg(
            (F.min("hr") * H).alias("i_start"),
            ((F.max("hr") + 1) * H - 1).alias("i_end"),
        )
    )

    a = sessions.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.floor(F.col("s_start") / F.lit(_IOJ_G)).cast("long"),
                F.floor(F.col("s_end") / F.lit(_IOJ_G)).cast("long")
            )
        ),
    )
    b = incidents.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.floor(F.col("i_start") / F.lit(_IOJ_G)).cast("long"),
                F.floor(F.col("i_end") / F.lit(_IOJ_G)).cast("long")
            )
        ),
    )
    pairs = a.join(
        b,
        (a["cell"] == b["cell"])
        & (F.col("s_start") <= F.col("i_end"))
        & (F.col("i_start") <= F.col("s_end"))
        & (
            a["cell"]
            == F.floor(F.greatest(F.col("s_start"), F.col("i_start")) / F.lit(_IOJ_G)).cast("long")
        ),
    )
    return pairs.select(
        "user_id",
        "s_start",
        "s_end",
        "event_type",
        "i_start",
        "i_end",
        (
            F.least(F.col("s_end"), F.col("i_end"))
            - F.greatest(F.col("s_start"), F.col("i_start"))
        ).alias("overlap_ms"),
    ).orderBy("user_id", "s_start", "event_type", "i_start")


# --- Late-interaction MaxSim (multi-vector / ColBERT-style) -----------------
#
# Each 64-dim embedding is treated as 4 token-level sub-vectors of 16
# dims; query-document relevance is the MaxSim late interaction
# (Khattab & Zaharia, SIGIR'20): Σ over query chunks of the max cosine
# against any document chunk.  Per-chunk cosines use the integer-stable
# dot (similarity.dot_stable); the 4-way chunk sum is snapped to nano
# units and summed as BIGINT so accumulation order cannot drift.
_MS_CHUNKS = 4
_MS_DIM = 16
_MS_ANCHORS = 5
_MS_TOPK = 3

_MS_COS = (
    "(CAST(list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST(floor(((CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)) * 1e12) + 0.5) AS BIGINT)"
    ")) AS DOUBLE) / 1e12)"
)


def _ms_duck_cos(a: str, b: str) -> str:
    dot = _MS_COS.format(a=a, b=b)
    na = _MS_COS.format(a=a, b=a)
    nb = _MS_COS.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


_MS_ORACLE = f"""
WITH ch AS (
  SELECT vec_id, i AS ci,
         embedding[CAST(i*{_MS_DIM}+1 AS INT) : CAST(i*{_MS_DIM}+{_MS_DIM} AS INT)] AS chunk
  FROM embeddings, (SELECT unnest(range(0, {_MS_CHUNKS})) AS i)
),
q AS (SELECT vec_id AS anchor_id, ci AS qi, chunk AS qchunk
      FROM ch WHERE vec_id < {_MS_ANCHORS}),
per_qi AS (
  SELECT q.anchor_id, d.vec_id AS neighbor_id, q.qi,
         MAX({_ms_duck_cos('d.chunk', 'q.qchunk')}) AS mc
  FROM ch d JOIN q ON d.vec_id != q.anchor_id
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT anchor_id, neighbor_id,
         SUM(CAST(floor(mc * 1e9 + 0.5) AS BIGINT)) AS score_nano
  FROM per_qi GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY score_nano DESC, neighbor_id) AS rank
  FROM scored
)
SELECT anchor_id, neighbor_id,
       CAST(score_nano AS DOUBLE) / 1e9 AS maxsim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_MS_TOPK}
ORDER BY anchor_id, rank
"""


@query("similarity_maxsim_multivector", _MS_ORACLE)
def similarity_maxsim_multivector(spark, sf_dir):
    """ColBERT-style late-interaction retrieval: each embedding is 4
    token-level sub-vectors; score(q, d) = Σ over q's chunks of the
    best cosine against any of d's chunks (MaxSim); top-3 neighbors
    per anchor, deterministic tie-break.

    Exactness: per-chunk cosines via the integer-stable dot; the
    4-chunk sum is nano-snapped and summed as BIGINT (4 doubles summed
    in grouped order would be accumulation-order-dependent); ranking
    orders by the BIGINT score, and the reported maxsim is one IEEE
    division.

    Scale shape: chunk explode is 4×, the anchor side (queries) is
    tiny and broadcast, the per-(anchor, doc, chunk) max and the
    per-(anchor, doc) sum both reduce behind one hash exchange keyed
    by (anchor, doc) — map-side combined.  For web-scale corpora the
    same plan runs behind an LSH/IVF candidate prefilter
    (similarity_ann_lsh) exactly like single-vector rerank.
    """
    e = table(spark, sf_dir, "embeddings")
    from uts_spark.functions.similarity import dot_stable, norm_stable

    chunk_arr = F.array(
        *[
            F.slice(F.col("embedding"), i * _MS_DIM + 1, _MS_DIM)
            for i in range(_MS_CHUNKS)
        ]
    )
    ch = e.select(
        "vec_id", F.posexplode(chunk_arr).alias("ci", "chunk")
    ).withColumn("nrm", norm_stable("chunk"))

    q = ch.filter(F.col("vec_id") < _MS_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("ci").alias("qi"),
        F.col("chunk").alias("qchunk"),
        F.col("nrm").alias("qnrm"),
    )
    cos = dot_stable("chunk", "qchunk") / (
        F.col("nrm") * F.col("qnrm")
    )
    per_qi = (
        ch.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .groupBy("anchor_id", F.col("vec_id").alias("neighbor_id"), "qi")
        .agg(F.max(cos).alias("mc"))
    )
    scored = per_qi.groupBy("anchor_id", "neighbor_id").agg(
        F.sum(F.floor(F.col("mc") * F.lit(1e9) + F.lit(0.5)).cast("long")).alias(
            "score_nano"
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score_nano").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MS_TOPK)
        .select(
            "anchor_id",
            "neighbor_id",
            (F.col("score_nano").cast("double") / F.lit(1e9)).alias("maxsim"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("anchor_id", "rank")
    )


# --- Label-propagation communities ------------------------------------------
_LPA_ROUNDS = 4
_LPA_EDGES_SQL = """
  lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
  half AS (
    SELECT a.p AS p1, b.p AS p2, COUNT(*) AS c
    FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
  ),
  edges AS (
    SELECT p1 AS src, p2 AS dst FROM half
    UNION ALL
    SELECT p2 AS src, p1 AS dst FROM half
  ),
  lab0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)
"""


def _lpa_round_sql(r: int) -> str:
    return f"""
  lab{r} AS MATERIALIZED (
    SELECT node, label FROM (
      SELECT e.src AS node, l.label, COUNT(*) AS c,
             ROW_NUMBER() OVER (PARTITION BY e.src
                                ORDER BY COUNT(*) DESC, l.label) AS rn
      FROM edges e JOIN lab{r - 1} l ON e.dst = l.node
      GROUP BY e.src, l.label
    ) WHERE rn = 1
  )"""


_LPA_ORACLE = (
    "WITH "
    + _LPA_EDGES_SQL
    + ","
    + ",".join(_lpa_round_sql(r) for r in range(1, _LPA_ROUNDS + 1))
    + f"""
SELECT l.node, l.label AS community, s.csize
FROM lab{_LPA_ROUNDS} l
JOIN (SELECT label, COUNT(*) AS csize FROM lab{_LPA_ROUNDS} GROUP BY 1) s
  ON s.label = l.label
ORDER BY l.node
"""
)


@query("graph_label_propagation", _LPA_ORACLE)
def graph_label_propagation(spark, sf_dir):
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, deterministic variant) over the part co-purchase graph
    (parts co-ordered ≥ 2 times): labels start as node ids; each round
    every node adopts its neighbors' PLURALITY label, ties broken to
    the smallest label; 4 fixed synchronous rounds (fixed rounds keep
    the oracle expressible as unrolled MATERIALIZED CTEs — the
    convergence-loop variant is the same plan in a while-loop, cf.
    functions/clustering.connected_components).

    Scale shape per round: edges ⋈ labels is a shuffle on node id
    (graph-sized, never quadratic), the plurality vote is a
    groupBy(node, label) count with map-side combine, and the argmax
    is a per-node window (hash-partitioned by node, no global sort).
    Label tables stay node-sized; 4 rounds = 4 bounded shuffles —
    the LPA cost model that holds at billions of edges.
    """
    lp = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    half = (
        lp.alias("a")
        .join(lp.alias("b"), F.expr("a.o = b.o AND a.p < b.p"))
        .groupBy(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
        .count()
        .filter(F.col("count") >= 2)
    )
    edges = half.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionByName(half.select(F.col("p2").alias("src"), F.col("p1").alias("dst")))

    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(_LPA_ROUNDS):
        votes = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy(F.col("src").alias("v"), "label")
            .count()
        )
        w = Window.partitionBy("v").orderBy(
            F.col("count").desc(), F.col("label").asc()
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("node"), "label")
        )

    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("csize"))
    return (
        labels.join(sizes, "label")
        .select("node", F.col("label").alias("community"), "csize")
        .orderBy("node")
    )


# --- Distributed BPE merge training -----------------------------------------
#
# Byte-pair-encoding tokenizer training (Sennrich et al. 2016), the
# data-parallel formulation: the corpus collapses to a (word, freq)
# table once; each merge round counts adjacent symbol pairs weighted by
# word frequency, picks the global top pair (deterministic tie-break),
# and applies the merge with GREEDY LEFTMOST semantics via plain string
# replace over a boundary-safe encoding — every symbol is wrapped
# "|sym|", so the pattern "|x||y|" can only match whole symbols, and
# leftmost non-overlapping replace (identical builtin semantics in JVM
# and DuckDB) is exactly BPE's scan order ("|a||a||a||a|" → "|aa||aa|").
_BPE_ROUNDS = 3
_BPE_SEP = "|"


def _bpe_round_sql(r: int) -> str:
    """One unrolled oracle round: pair counts from w{r-1}, top pair,
    merged segmentation w{r}, and the round's summary row."""
    return f"""
p{r} AS (
  SELECT arr[i] AS x, arr[i+1] AS y, SUM(freq) AS pf
  FROM (SELECT freq, string_split(seg, '|') AS arr FROM w{r - 1}),
       unnest(range(1, len(arr))) AS u(i)
  GROUP BY 1, 2
),
top{r} AS MATERIALIZED (
  SELECT x, y, pf FROM p{r} ORDER BY pf DESC, x, y LIMIT 1
),
w{r} AS MATERIALIZED (
  SELECT word, freq,
         replace(substr(m, 2, length(m) - 2), '||', '|') AS seg
  FROM (
    SELECT word, freq,
           replace('|' || replace(seg, '|', '||') || '|', pat, rep) AS m
    FROM w{r - 1},
         (SELECT '|' || x || '||' || y || '|' AS pat,
                 '|' || x || y || '|' AS rep FROM top{r})
  )
),
row{r} AS (
  SELECT {r} AS round, x AS sym_x, y AS sym_y, pf AS pair_freq,
         (SELECT COUNT(DISTINCT s) FROM
            (SELECT unnest(string_split(seg, '|')) AS s FROM w{r}))
           AS vocab_size_after,
         (SELECT SUM(freq * len(string_split(seg, '|'))) FROM w{r})
           AS corpus_symbols_after
  FROM top{r}
)"""


_BPE_CHAIN = (
    """w0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         rtrim(regexp_replace(word, '(.)', '\\1|', 'g'), '|') AS seg
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents)
  GROUP BY word
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
)

_BPE_ORACLE = (
    "WITH "
    + _BPE_CHAIN
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT * FROM row{r}" for r in range(1, _BPE_ROUNDS + 1)
    )
    + "\nORDER BY round"
)


def _bpe_word_table(docs):
    """Corpus → (word, freq, seg) with the initial per-character
    segmentation — the single input-sized pass of BPE training."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "seg",
            F.expr(
                "substring(regexp_replace(word, '(.)', '$1|'), 1, "
                "2 * length(word) - 1)"
            ),
        )
        .cache()
    )


def _bpe_merge_round(words):
    """One BPE merge round over the (word, freq, seg) table: the global
    top pair (TakeOrdered 1 — count desc, pair asc broadcast back) and
    the merged segmentation applied greedy-leftmost via the
    boundary-safe "|x||y|" replace. Returns (top, merged_words)."""
    # expression blocks as SQL strings — one py4j round trip per
    # projection instead of one per Column op; ~3 rounds per lane build
    # made this the bpe lanes' chattiest builder (optimization r11).
    # The zip fields are named by a pre-projection (SQL cannot alias
    # function arguments); CollapseProject folds it back into the same
    # single Project the aliased-argument Column form produced.
    sep = _BPE_SEP  # "|" — regex-escaped as \\| inside split()
    arr = "split(seg, '\\\\|')"
    pairs = words.selectExpr(
        "freq",
        f"slice({arr}, 1, size({arr}) - 1) AS x",
        f"slice({arr}, 2, size({arr}) - 1) AS y",
    ).selectExpr("freq", "explode(arrays_zip(x, y)) AS p").selectExpr(
        "freq", "p.x AS x", "p.y AS y"
    )
    top = (
        pairs.groupBy("x", "y")
        .agg(F.sum("freq").alias("pf"))
        .orderBy(F.col("pf").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(1)
    )
    wrapped = f"concat('{sep}', replace(seg, '{sep}', '{sep + sep}'), '{sep}')"
    pat = f"concat('{sep}', x, '{sep + sep}', y, '{sep}')"
    rep = f"concat('{sep}', x, y, '{sep}')"
    merged = f"replace({wrapped}, {pat}, {rep})"
    new_words = (
        words.crossJoin(F.broadcast(top))
        .selectExpr(
            "word",
            "freq",
            f"replace(substr({merged}, 2, length({merged}) - 2),"
            f" '{sep + sep}', '{sep}') AS seg",
        )
        .cache()
    )
    return top, new_words


@query("text_bpe_train", _BPE_ORACLE)
def text_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training, 3 merge rounds: collapse
    the corpus to (word, freq) once, then per round count adjacent
    symbol pairs weighted by frequency, take the global top pair
    (TakeOrdered — count desc, pair asc), and merge it everywhere with
    greedy-leftmost semantics via the boundary-safe "|x||y|" string
    replace (identical builtin replace semantics in both engines, so
    the oracle replays the merges bit-for-bit).  Emits one row per
    round: the merged pair, its frequency, and the resulting symbol
    vocabulary / corpus length.

    Scale shape: the corpus tokenize + word-frequency collapse is the
    only input-sized pass; every round after that works on the
    DISTINCT-WORD table (Zipf: orders of magnitude smaller), with one
    map-side-combined pair count, a 1-row TakeOrdered broadcast back,
    and a narrow per-row merge — the exact structure of production
    distributed BPE trainers (e.g. tokenizer training over web-scale
    corpora), where rounds are cheap because the word table is small.
    """
    docs = table(spark, sf_dir, "documents")
    words = _bpe_word_table(docs)

    rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        top, words = _bpe_merge_round(words)
        vocab = words.select(
            F.explode(F.split(F.col("seg"), r"\|")).alias("s")
        ).agg(F.countDistinct("s").alias("vocab_size_after"))
        csyms = words.agg(
            F.sum(
                F.col("freq") * F.size(F.split(F.col("seg"), r"\|")).cast("long")
            ).alias("corpus_symbols_after")
        )
        rows.append(
            top.crossJoin(F.broadcast(vocab))
            .crossJoin(F.broadcast(csyms))
            .select(
                F.lit(r).alias("round"),
                F.col("x").alias("sym_x"),
                F.col("y").alias("sym_y"),
                F.col("pf").alias("pair_freq"),
                "vocab_size_after",
                "corpus_symbols_after",
            )
        )
    out = rows[0]
    for r_df in rows[1:]:
        out = out.unionByName(r_df)
    return out.orderBy("round")


# --- BPE apply lane ----------------------------------------------------------
#
# Applying the TRAINED merge table corpus-wide (VERDICT r4 #3): the
# per-word final segmentation from the training rounds is a (word ->
# tokens) dictionary; applying it to the corpus is one join of the
# position-exploded document words against that dictionary — the
# distinct-word table does all the string work (Zipf: orders of
# magnitude smaller than the corpus), documents never re-segment.
# Token ids are assigned by lexicographic rank over the final symbol
# vocabulary (deterministic, engine-neutral); the per-doc output is the
# real token count plus a position-weighted id checksum that pins the
# full token sequence, not just its length.

_BPE_APPLY_CTES = f"""
syms AS (
  SELECT word, arr[i] AS s
  FROM (SELECT word, string_split(seg, '|') AS arr FROM w{_BPE_ROUNDS}),
       unnest(range(1, len(arr) + 1)) AS u(i)
),
vs AS (SELECT DISTINCT s FROM syms),
vocab AS (
  SELECT va.s, CAST(COUNT(vb.s) + 1 AS BIGINT) AS tid
  FROM vs va LEFT JOIN vs vb ON vb.s < va.s
  GROUP BY va.s
),
wtok AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(tid) AS BIGINT) AS idsum
  FROM syms JOIN vocab USING (s) GROUP BY word
),
dwords AS (
  SELECT doc_id, ws[i] AS word, CAST(i AS BIGINT) AS pos
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents),
       unnest(range(1, len(ws) + 1)) AS u(i)
)"""

_BPE_APPLY_ORACLE = (
    "WITH "
    + _BPE_CHAIN
    + ","
    + _BPE_APPLY_CTES
    + """
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(w.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(d.pos * w.idsum) AS BIGINT) AS tok_checksum
FROM dwords d JOIN wtok w USING (word)
GROUP BY d.doc_id
ORDER BY doc_id
"""
)


def _bpe_applied_word_tokens(docs):
    """(word, n_tok, idsum) after the _BPE_ROUNDS trained merges: run
    the training rounds, then token-ize each DISTINCT word once."""
    words = _bpe_word_table(docs)
    for _ in range(_BPE_ROUNDS):
        _, words = _bpe_merge_round(words)
    syms = words.select(
        "word", F.explode(F.split(F.col("seg"), r"\|")).alias("s")
    )
    # vocabulary is bounded (26 letters + one merged symbol per round);
    # the lexicographic rank comes from a less-than self-join over that
    # tiny distinct set — no window, no single-partition sort, and the
    # V^2 join is ~30^2 rows (plan-audit clean by construction)
    vs = syms.select("s").distinct()
    vocab = (
        vs.alias("va")
        .join(vs.alias("vb"), F.expr("vb.s < va.s"), "left")
        .groupBy(F.col("va.s").alias("s"))
        .agg((F.count(F.col("vb.s")) + 1).cast("long").alias("tid"))
    )
    return (
        syms.join(F.broadcast(vocab), "s")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("tid").alias("idsum"),
        )
    )


def _bpe_doc_words(docs):
    """Position-exploded document words (1-based, the oracle's
    range(1, len+1) indexing)."""
    return docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("p", "word"),
    ).select("doc_id", "word", (F.col("p") + 1).cast("long").alias("pos"))


@query("text_bpe_apply", _BPE_APPLY_ORACLE)
def text_bpe_apply(spark, sf_dir):
    """Corpus-wide application of the trained BPE merge table: real
    token ids and counts per document (VERDICT r4 #3 — the actual
    pipeline need behind token budgeting; `text_bpeish_tokens` is the
    regex proxy this replaces). Emits per doc the word count, the REAL
    BPE token count under the learned merges, and a position-weighted
    token-id checksum (sum of word_position x word_id_sum) that pins
    the emitted token sequence order, not just its length.

    Scale shape: training rounds run on the distinct-word table; the
    only corpus-sized operations are the word explode and one
    hash join against the (word, n_tok, idsum) dictionary — which AQE
    broadcasts when the vocabulary of distinct words is small, and
    shuffles on the word key (never on doc blobs) when it is not.
    """
    docs = table(spark, sf_dir, "documents")
    wtok = _bpe_applied_word_tokens(docs)
    dw = _bpe_doc_words(docs)
    return (
        dw.join(wtok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.col("pos") * F.col("idsum")).alias("tok_checksum"),
        )
        # no final orderBy: the output is corpus-sized (one row per
        # doc) and the driver's compare canonicalizes row order — a
        # global sort here would be the exact plan-audit smell
    )


# --- Pretrained-table BPE apply (VERDICT r5 #1) ------------------------------
#
# The production tokenizer shape: a LARGE pretrained merge table
# (1024 merges, functions/bpe_pretrained.py — trained once, shipped as
# an artifact) applied corpus-wide. The 3-round trained lane above
# proves the distributed TRAINING loop; this lane proves the apply path
# that every training-data-prep run actually pays: per DISTINCT word, a
# lowest-rank-first merge loop whose cost is bounded by word length and
# independent of merge-table size (the property that makes 50k-merge
# production tables affordable), then one corpus join.
#
# Oracle: DuckDB list_reduce over the literal 1024-pattern list — one
# greedy-leftmost replace-all per merge in rank order over the
# boundary-safe |x||y| encoding, provably equal to lowest-rank-first
# for unique-vocab tables (equivalence argument + pins in
# functions/bpe_pretrained.py and tests/test_corpus_ops.py).

from uts_spark.functions.bpe_pretrained import (  # noqa: E402
    merge_patterns_sql,
    pretrained_merges,
    pretrained_vocab_ids,
    vocab_values_sql,
)

_BPE_PRE_CTES = f"""dwords AS (
  SELECT doc_id, ws[i] AS word, CAST(i AS BIGINT) AS pos
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents),
       unnest(range(1, len(ws) + 1)) AS u(i)
),
dw AS (SELECT DISTINCT word FROM dwords),
seg AS (
  SELECT word,
         list_reduce(
           list_prepend(regexp_replace(word, '(.)', '|\\1|', 'g'),
                        {merge_patterns_sql()}),
           (acc, p) -> replace(acc, p, replace(p, '||', ''))) AS s
  FROM dw
),
toks AS (
  SELECT word, unnest(string_split(trim(s, '|'), '||')) AS tok FROM seg
),
wtok AS (
  SELECT t.word, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(v.tid) AS BIGINT) AS idsum
  FROM toks t JOIN {vocab_values_sql()} v(tok, tid) USING (tok)
  GROUP BY t.word
)"""

_BPE_PRE_ORACLE = f"""
WITH {_BPE_PRE_CTES}
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(w.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(d.pos * w.idsum) AS BIGINT) AS tok_checksum
FROM dwords d JOIN wtok w USING (word)
GROUP BY d.doc_id
"""


def _bpe_pretrained_word_tokens(words_df):
    """(word, n_tok, idsum) under the 1024-merge pretrained table:
    Arrow-batched lowest-rank-first apply over a distinct-word frame —
    the shared kernel of text_bpe_apply_pretrained,
    pipeline_training_prep_v4 and the streaming lane."""
    merges = pretrained_merges()

    def apply_batches(batches):
        import pandas as pd

        from uts_spark.functions.bpe_pretrained import (
            _CHAR_BASE,
            apply_int_ids,
            int_pair_table,
        )

        # precompiled flat pair table, once per task (process-cached);
        # the int ids ARE the vocab ids, so idsum = sum(seg) directly
        # (optimization r12 — the string kernel rebuilt tuple sets and
        # concatenated strings per merge iteration)
        pair = int_pair_table(merges, _CHAR_BASE)
        for pdf in batches:
            words = pdf["word"].tolist()
            n_tok, idsum = [], []
            for w in words:
                seg = apply_int_ids([ord(c) - 96 for c in w], pair)
                n_tok.append(len(seg))
                idsum.append(sum(seg))
            yield pd.DataFrame({"word": words, "n_tok": n_tok, "idsum": idsum})

    return words_df.mapInPandas(
        apply_batches, "word string, n_tok long, idsum long"
    )


@query("text_bpe_apply_pretrained", _BPE_PRE_ORACLE)
def text_bpe_apply_pretrained(spark, sf_dir):
    """Corpus tokenization under a PRETRAINED 1024-merge BPE table —
    the hottest operator of a real training-data pipeline in its
    production shape (vs text_bpe_apply's 3 trained merges). Per doc:
    word count, real token count, and the position-weighted token-id
    checksum that pins the full emitted token sequence.

    Scale shape: the merge-rank and vocab-id dictionaries are literal
    broadcasts (~1k entries); all string work happens on the
    DISTINCT-WORD table inside one Arrow-batched mapInPandas whose
    per-word cost is independent of table size; the only corpus-sized
    operations are the word explode and one join against the
    (word, n_tok, idsum) dictionary — AQE broadcasts it when the
    vocabulary is small, hash-shuffles on the word key when not. At
    20M docs the lane sustains the tokens/sec recorded in SCALE.md
    (tools/scale_smoke.py --family bpe_pretrained)."""
    docs = table(spark, sf_dir, "documents")
    dw = _bpe_doc_words(docs)
    wtok = _bpe_pretrained_word_tokens(dw.select("word").distinct())
    return (
        dw.join(wtok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.col("pos") * F.col("idsum")).alias("tok_checksum"),
        )
        # no final orderBy — corpus-sized output, driver canonicalizes
    )


# --- Tokenizer eval: compression ratio, trained-3 vs pretrained-1024 --------
#
# The metric every tokenizer choice is judged by: characters per token
# (compression) and the share of tokens that are real merges (vs
# single-char fallbacks). Both lanes run on the same corpus words, so
# the row pair IS the A/B — the 1024-merge pretrained table must
# compress strictly better than the 3-round toy (pinned in pytest via
# the hash-exact values themselves).

_BPE_CMP_ORACLE = (
    "WITH "
    + _BPE_CHAIN
    + f""",
dwords6 AS (
  SELECT doc_id, ws[i] AS word
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents),
       unnest(range(1, len(ws) + 1)) AS u(i)
),
tw6 AS (
  SELECT word,
         CAST(len(string_split(seg, '|')) AS BIGINT) AS n_tok,
         CAST(len(list_filter(string_split(seg, '|'),
                              s -> length(s) > 1)) AS BIGINT) AS n_multi
  FROM w{_BPE_ROUNDS}
),
pseg6 AS (
  SELECT word,
         list_reduce(
           list_prepend(regexp_replace(word, '(.)', '|\\1|', 'g'),
                        {merge_patterns_sql()}),
           (acc, p) -> replace(acc, p, replace(p, '||', ''))) AS s
  FROM (SELECT DISTINCT word FROM dwords6)
),
pw6 AS (
  SELECT word,
         CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_tok,
         CAST(len(list_filter(string_split(trim(s, '|'), '||'),
                              x -> length(x) > 1)) AS BIGINT) AS n_multi
  FROM pseg6
),
lanes AS (
  SELECT 'pretrained_1024' AS lane,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(length(d.word)) AS BIGINT) AS n_chars,
         CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens,
         CAST(SUM(p.n_multi) AS BIGINT) AS n_multi
  FROM dwords6 d JOIN pw6 p USING (word)
  UNION ALL
  SELECT 'trained_3round',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(length(d.word)) AS BIGINT),
         CAST(SUM(t.n_tok) AS BIGINT),
         CAST(SUM(t.n_multi) AS BIGINT)
  FROM dwords6 d JOIN tw6 t USING (word)
)
SELECT lane, n_words, n_chars, n_tokens, n_multi,
       CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token,
       CAST(n_multi AS DOUBLE) / n_tokens AS multi_share
FROM lanes
ORDER BY lane
"""
)


@query("text_bpe_compression_eval", _BPE_CMP_ORACLE)
def text_bpe_compression_eval(spark, sf_dir):
    """Tokenizer-quality A/B as a query (module comment above): corpus
    characters per token and merged-token share for the 3-round trained
    table vs the 1024-merge pretrained table, from the same word
    explode. Both ratios are single IEEE divisions of exact BIGINTs —
    hash-exact. Scale shape: both lanes do all string work on the
    distinct-word table; the corpus contributes one explode and two
    dictionary joins."""
    docs = table(spark, sf_dir, "documents")
    dw = _bpe_doc_words(docs).select("doc_id", "word")

    words = _bpe_word_table(docs)
    for _ in range(_BPE_ROUNDS):
        _, words = _bpe_merge_round(words)
    toks = F.split(F.col("seg"), r"\|")
    tw = words.select(
        "word",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.filter(toks, lambda s: F.length(s) > 1))
        .cast("long")
        .alias("n_multi"),
    )

    ranks = {p: r for r, p in enumerate(pretrained_merges())}

    def apply_batches(batches):
        import pandas as pd

        from uts_spark.functions.bpe_pretrained import bpe_apply_lowest_rank

        for pdf in batches:
            ws = pdf["word"].tolist()
            n_tok, n_multi = [], []
            for w in ws:
                ts = bpe_apply_lowest_rank(w, ranks)
                n_tok.append(len(ts))
                n_multi.append(sum(1 for t in ts if len(t) > 1))
            yield pd.DataFrame({"word": ws, "n_tok": n_tok, "n_multi": n_multi})

    pw = (
        dw.select("word")
        .distinct()
        .mapInPandas(apply_batches, "word string, n_tok long, n_multi long")
    )

    def lane(name, stats):
        return (
            dw.join(stats, "word")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_words"),
                F.sum(F.length("word")).cast("long").alias("n_chars"),
                F.sum("n_tok").alias("n_tokens"),
                F.sum("n_multi").alias("n_multi"),
            )
            .select(F.lit(name).alias("lane"), "*")
        )

    out = lane("pretrained_1024", pw).unionByName(lane("trained_3round", tw))
    return out.select(
        "lane", "n_words", "n_chars", "n_tokens", "n_multi",
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias(
            "chars_per_token"
        ),
        (F.col("n_multi").cast("double") / F.col("n_tokens")).alias(
            "multi_share"
        ),
    ).orderBy("lane")


# --- Byte-level pretrained BPE over REAL text (VERDICT r6 #1) ----------------
#
# The character-level pretrained lane tokenizes [a-z]+ runs only; every
# real corpus has casing, punctuation, digits, and multi-byte UTF-8.
# This lane is the production tokenizer shape end-to-end: a GPT-2-style
# pre-tokenizer regex (contractions | space-prefixed letter runs |
# space-prefixed digit runs | space-prefixed punctuation runs |
# whitespace — lookahead-free so Java regex and RE2 agree; without
# GPT-2's (?!\S) trick a multi-space run stays one whitespace token
# instead of donating its last space to the next word, a documented
# divergence applied identically in both engines), then 512 BYTE-level
# merges (functions/bpe_pretrained.py, hex-pair symbols) applied
# lowest-rank-first per DISTINCT pre-token.
#
# The documents fixture is [a-z ]+ by construction, so the query first
# derives a deterministic MIXED text per doc — casing, commas,
# semicolons, unicode quotes/dashes/CJK/€/№, digits from doc_id — via
# the same concat/substr/replace/upper expression in both engines.

# lookahead-free GPT-2-style pre-tokenizer; identical semantics in Java
# regex (Spark) and RE2 (DuckDB): \p{L}/\p{N} are Unicode categories in
# both, alternation is leftmost-first. The whitespace class is spelled
# EXPLICITLY (ADVICE r7, medium): Java's \s includes U+000B (vertical
# tab) but RE2's does not, so a bare \s silently splits '\x0b'-bearing
# text differently per engine — the explicit [ \t\n\x0b\f\r] pins
# Java's (and the Python scanner's _ASCII_WS) behavior in both.
_WS_CLS = r" \t\n\x0b\f\r"
_PRETOK_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^"
    + _WS_CLS
    + r"\p{L}\p{N}]+|["
    + _WS_CLS
    + r"]+"
)

_MIXED_SQL = (
    "concat('Round-7: “Naïve” café №', CAST(doc_id % 1000 AS {styp}), "
    "' — 東京 42% it''s ', upper(substr(text, 1, 12)), "
    "replace(substr(text, 13), ' t', '; t'), ' €9.99!')"
)

from uts_spark.functions.bpe_pretrained import (  # noqa: E402
    byte_merge_patterns_sql,
    byte_vocab_values_sql,
    pretrained_byte_merges,
    pretrained_byte_vocab_ids,
)

_BPE_BYTES_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_MIXED_SQL.format(styp='VARCHAR')} AS mt FROM documents
),
dpts AS (
  SELECT doc_id, ws[i] AS pt, CAST(i AS BIGINT) AS pos, nb
  FROM (SELECT doc_id,
               regexp_extract_all(mt, '{_PRETOK_RE.replace("'", "''")}') AS ws,
               CAST(octet_length(encode(mt)) AS BIGINT) AS nb
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
toks AS (
  SELECT pt, unnest(string_split(trim(s, '|'), '||')) AS tok FROM seg
),
ptok AS (
  SELECT t.pt, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(v.tid) AS BIGINT) AS idsum
  FROM toks t JOIN {byte_vocab_values_sql()} v(tok, tid) USING (tok)
  GROUP BY t.pt
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pretokens,
       CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens,
       CAST(MIN(d.nb) AS BIGINT) AS n_bytes,
       CAST(SUM(d.pos * p.idsum) AS BIGINT) AS tok_checksum
FROM dpts d JOIN ptok p USING (pt)
GROUP BY d.doc_id
"""


def _bpe_byte_pretoken_tokens(pts_df, merges=None):
    """(pt, n_tok, idsum) under a byte-level merge table (default: the
    shipped 512-merge English-seed table; the round-9 mix-trained
    fertility A/B passes its own): Arrow-batched lowest-rank-first
    apply over a distinct-pretoken frame — the byte-lane sibling of
    _bpe_pretrained_word_tokens. Vocab ids follow the standard
    base-bytes-then-merge-outputs construction (``ids_for``), so the
    int kernel's final ids sum to idsum directly (optimization r12)."""
    if merges is None:
        merges = pretrained_byte_merges()

    def apply_batches(batches):
        import pandas as pd

        from uts_spark.functions.bpe_pretrained import (
            _ALL_BYTES,
            apply_int_ids,
            int_pair_table,
        )

        pair = int_pair_table(merges, _ALL_BYTES)  # once per task
        for pdf in batches:
            pts = pdf["pt"].tolist()
            n_tok, idsum = [], []
            for pt in pts:
                seg = apply_int_ids([b + 1 for b in pt.encode("utf-8")], pair)
                n_tok.append(len(seg))
                idsum.append(sum(seg))
            yield pd.DataFrame({"pt": pts, "n_tok": n_tok, "idsum": idsum})

    return pts_df.mapInPandas(
        apply_batches, "pt string, n_tok long, idsum long"
    )


@query("text_bpe_apply_bytes", _BPE_BYTES_ORACLE)
def text_bpe_apply_bytes(spark, sf_dir):
    """Byte-level pretrained BPE over text WITH casing, punctuation,
    digits, and multi-byte UTF-8 (module comment above) — the actual
    production tokenizer shape: GPT-2-style pre-tokenization, 512
    byte-level merges, no OOV possible. Per doc: pre-token count, real
    token count, UTF-8 byte length, and the position-weighted token-id
    checksum pinning the full emitted token sequence.

    Scale shape identical to the character lane (the 100 TB shape):
    the merge-rank and vocab dictionaries are ~0.5k-entry literal
    broadcasts; all byte/string work runs on the DISTINCT-PRETOKEN
    table inside one Arrow-batched mapInPandas with per-pretoken cost
    independent of table size; the corpus contributes one
    regexp_extract_all + posexplode and one hash join against the
    (pt, n_tok, idsum) dictionary (AQE broadcasts it while the
    pre-token vocabulary is small)."""
    docs = table(spark, sf_dir, "documents")
    mixed = F.expr(_MIXED_SQL.format(styp="STRING"))
    dpts = docs.select(
        "doc_id",
        F.octet_length(mixed).cast("long").alias("nb"),
        F.posexplode(
            F.regexp_extract_all(mixed, F.lit(_PRETOK_RE), 0)
        ).alias("p", "pt"),
    ).select("doc_id", "pt", (F.col("p") + 1).cast("long").alias("pos"), "nb")
    ptok = _bpe_byte_pretoken_tokens(dpts.select("pt").distinct())
    return (
        dpts.join(ptok, "pt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pretokens"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("nb").alias("n_bytes"),
            F.sum(F.col("pos") * F.col("idsum")).alias("tok_checksum"),
        )
        # no final orderBy — corpus-sized output, driver canonicalizes
    )


# --- Byte-BPE DECODE round trip (VERDICT r7 #3) ------------------------------
#
# Byte-level BPE is lossless BY CONSTRUCTION (every token is a hex
# byte run; concatenation reproduces the exact UTF-8 stream), but
# until this lane that property was only implied by the position-
# weighted checksum. Any pipeline that materializes token shards needs
# ids→bytes→text to debug and to PROVE losslessness corpus-wide: this
# query tokenizes the mixed-unicode text with the apply lane's kernel,
# DECODES the emitted tokens back (unhex → UTF-8), reassembles the
# document from its decoded pre-tokens in position order, and pins
# per-doc byte counts + an equality bit against the original text.

_BPE_ROUNDTRIP_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_MIXED_SQL.format(styp='VARCHAR')} AS mt FROM documents
),
dpts AS (
  SELECT doc_id, mt, ws[i] AS pt, CAST(i AS BIGINT) AS pos, nb
  FROM (SELECT doc_id, mt,
               regexp_extract_all(mt, '{_PRETOK_RE.replace("'", "''")}') AS ws,
               CAST(octet_length(encode(mt)) AS BIGINT) AS nb
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
dec AS (
  SELECT pt,
         CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_tok,
         decode(from_hex(replace(s, '|', ''))) AS dec_pt,
         CAST(octet_length(from_hex(replace(s, '|', '')))
              AS BIGINT) AS dec_bytes
  FROM seg
)
SELECT d.doc_id,
       CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens,
       CAST(MIN(d.nb) AS BIGINT) AS n_bytes,
       CAST(SUM(p.dec_bytes) AS BIGINT) AS dec_n_bytes,
       CAST(CASE WHEN string_agg(p.dec_pt, '' ORDER BY d.pos) = MIN(d.mt)
            THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok
FROM dpts d JOIN dec p USING (pt)
GROUP BY d.doc_id
"""


@query("text_bpe_roundtrip", _BPE_ROUNDTRIP_ORACLE)
def text_bpe_roundtrip(spark, sf_dir):
    """Corpus-wide byte-BPE losslessness PROOF (module comment above):
    tokenize → decode(unhex(token hex), UTF-8) → reassemble each doc
    from its decoded pre-tokens in position order → equality bit vs
    the original mixed-unicode text (pinned all-1 in pytest AND by the
    hash-exact oracle). The decode direction runs JVM-side on the
    DISTINCT-PRETOKEN dictionary (unhex + decode are codegen'd Column
    exprs), so at 100 TB decode costs one dictionary pass + the same
    corpus join the apply lane already pays; the per-doc reassembly is
    a doc-length-bounded collect_list, the only per-row state."""
    merges = pretrained_byte_merges()

    def apply_batches(batches):
        import pandas as pd

        from uts_spark.functions.bpe_pretrained import (
            _ALL_BYTES,
            apply_int_ids,
            int_id_syms,
            int_pair_table,
        )

        # int merge kernel (optimization r12) + id -> hex-symbol map
        # for the decode join, both precompiled once per task
        pair = int_pair_table(merges, _ALL_BYTES)
        syms = int_id_syms(merges, _ALL_BYTES)
        for pdf in batches:
            pts = pdf["pt"].tolist()
            n_tok, tok_hex = [], []
            for pt in pts:
                seg = apply_int_ids([b + 1 for b in pt.encode("utf-8")], pair)
                n_tok.append(len(seg))
                tok_hex.append("".join(syms[i - 1] for i in seg))
            yield pd.DataFrame(
                {"pt": pts, "n_tok": n_tok, "tok_hex": tok_hex}
            )

    docs = table(spark, sf_dir, "documents")
    mixed = F.expr(_MIXED_SQL.format(styp="STRING"))
    dpts = docs.select(
        "doc_id",
        mixed.alias("mt"),
        F.octet_length(mixed).cast("long").alias("nb"),
        F.posexplode(
            F.regexp_extract_all(mixed, F.lit(_PRETOK_RE), 0)
        ).alias("p", "pt"),
    ).select(
        "doc_id", "mt", "pt", (F.col("p") + 1).cast("long").alias("pos"), "nb"
    )
    ptok = (
        dpts.select("pt")
        .distinct()
        .mapInPandas(apply_batches, "pt string, n_tok long, tok_hex string")
        .withColumn("dec_pt", F.decode(F.unhex("tok_hex"), "UTF-8"))
        .withColumn(
            "dec_bytes", (F.length("tok_hex") / 2).cast("long")
        )
    )
    agg = (
        dpts.join(ptok, "pt")
        .groupBy("doc_id")
        .agg(
            F.sum("n_tok").alias("n_tokens"),
            F.min("nb").alias("n_bytes"),
            F.sum("dec_bytes").alias("dec_n_bytes"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "dec_pt"))),
                    lambda x: x["dec_pt"],
                ),
            ).alias("__recon"),
            F.min("mt").alias("__mt"),
        )
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_bytes",
        "dec_n_bytes",
        F.when(F.col("__recon") == F.col("__mt"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("roundtrip_ok"),
    )


# --- DISTRIBUTED byte-level BPE training -------------------------------------
#
# The pretrained 512-merge byte table (functions/bpe_pretrained.py)
# trains driver-side on a fixed seed corpus — right for a SHIPPED
# tokenizer artifact. This lane is the other production path: training
# byte-level merges ON the corpus itself, distributed — the same
# pair-count / top-pair / greedy-leftmost-merge rounds as the
# char-level text_bpe_train (reused verbatim: _bpe_merge_round operates
# on '|'-delimited symbol segments and never cares that the symbols are
# hex byte pairs), over GPT-2-style pre-tokens of the MIXED text. Hex
# symbols also close the char lane's latent delimiter hazard: a corpus
# containing '|' would corrupt char-level segments, while hex pairs
# can never collide with the separator.

_BPE_BYTES_CHAIN = (
    f"""w0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         rtrim(regexp_replace(lower(hex(encode(word))), '(..)', '\\1|', 'g'),
               '|') AS seg
  FROM (SELECT unnest(regexp_extract_all(
                 {_MIXED_SQL.format(styp='VARCHAR')},
                 '{_PRETOK_RE.replace("'", "''")}')) AS word
        FROM documents)
  GROUP BY word
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
)

_BPE_BYTES_TRAIN_ORACLE = (
    "WITH "
    + _BPE_BYTES_CHAIN
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT * FROM row{r}" for r in range(1, _BPE_ROUNDS + 1)
    )
    + "\nORDER BY round"
)


def _bpe_byte_word_table(docs):
    """Corpus → (word=pre-token, freq, seg) with the initial per-BYTE
    hex-pair segmentation — the byte lane's single input-sized pass."""
    mixed = F.expr(_MIXED_SQL.format(styp="STRING"))
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(mixed, F.lit(_PRETOK_RE), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "seg",
            # lower(hex(utf8)) → '(..)' → 'xx|' runs; drop the trailing
            # separator (hex length is always even, so 3*nbytes chars)
            F.expr(
                "substring(regexp_replace(lower(hex(encode(word, 'UTF-8'))), "
                "'(..)', '$1|'), 1, "
                "3 * length(encode(word, 'UTF-8')) - 1)"
            ),
        )
        .cache()
    )


@query("text_bpe_train_bytes", _BPE_BYTES_TRAIN_ORACLE)
def text_bpe_train_bytes(spark, sf_dir):
    """Distributed BYTE-level BPE training on the mixed corpus (module
    comment above): per round, frequency-weighted adjacent hex-pair
    counts, global top pair (TakeOrdered — count desc, pair asc),
    greedy-leftmost merge via the boundary-safe replace — the exact
    machinery of the char-level trainer reused on byte symbols, so
    training distributes the same way at 100 TB (pair counting is the
    only corpus-scale shuffle per round; the top pair broadcasts back).
    One row per round: merged pair, its frequency, vocab size and
    corpus symbol count after — all exact integers, hash-exact."""
    docs = table(spark, sf_dir, "documents")
    words = _bpe_byte_word_table(docs)
    rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        top, words = _bpe_merge_round(words)
        vocab = words.select(
            F.explode(F.split(F.col("seg"), r"\|")).alias("s")
        ).agg(F.countDistinct("s").alias("vocab_size_after"))
        csyms = words.agg(
            F.sum(
                F.col("freq") * F.size(F.split(F.col("seg"), r"\|")).cast("long")
            ).alias("corpus_symbols_after")
        )
        rows.append(
            top.crossJoin(F.broadcast(vocab))
            .crossJoin(F.broadcast(csyms))
            .select(
                F.lit(r).alias("round"),
                F.col("x").alias("sym_x"),
                F.col("y").alias("sym_y"),
                F.col("pf").alias("pair_freq"),
                "vocab_size_after",
                "corpus_symbols_after",
            )
        )
    out = rows[0]
    for r_df in rows[1:]:
        out = out.unionByName(r_df)
    return out.orderBy("round")


_BPE_BYTES_APPLY_ORACLE = (
    "WITH "
    + _BPE_BYTES_CHAIN
    + f""",
syms AS (
  SELECT word, arr[i] AS s
  FROM (SELECT word, string_split(seg, '|') AS arr FROM w{_BPE_ROUNDS}),
       unnest(range(1, len(arr) + 1)) AS u(i)
),
vs AS (SELECT DISTINCT s FROM syms),
vocab AS (
  SELECT va.s, CAST(COUNT(vb.s) + 1 AS BIGINT) AS tid
  FROM vs va LEFT JOIN vs vb ON vb.s < va.s
  GROUP BY va.s
),
wtok AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(tid) AS BIGINT) AS idsum
  FROM syms JOIN vocab USING (s) GROUP BY word
),
dpts AS (
  SELECT doc_id, ws[i] AS word, CAST(i AS BIGINT) AS pos
  FROM (SELECT doc_id,
               regexp_extract_all({_MIXED_SQL.format(styp='VARCHAR')},
                 '{_PRETOK_RE.replace("'", "''")}') AS ws
        FROM documents),
       unnest(range(1, len(ws) + 1)) AS u(i)
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pretokens,
       CAST(SUM(w.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(d.pos * w.idsum) AS BIGINT) AS tok_checksum
FROM dpts d JOIN wtok w USING (word)
GROUP BY d.doc_id
"""
)


@query("text_bpe_apply_trained_bytes", _BPE_BYTES_APPLY_ORACLE)
def text_bpe_apply_trained_bytes(spark, sf_dir):
    """Close the on-corpus byte loop: apply the 3 DISTRIBUTED-trained
    byte merges (text_bpe_train_bytes) corpus-wide — per doc the
    pre-token count, byte-token count under the learned merges, and the
    position-weighted token-id checksum (symbol ids are lexicographic
    ranks of the hex strings via the tiny V^2 less-than join, no
    window). The byte sibling of text_bpe_apply: training on the corpus
    you tokenize is the bootstrap path; the 512-merge pretrained lane
    is the shipped-artifact path — a real pipeline runs both."""
    docs = table(spark, sf_dir, "documents")
    words = _bpe_byte_word_table(docs)
    for _ in range(_BPE_ROUNDS):
        _, words = _bpe_merge_round(words)
    syms = words.select(
        "word", F.explode(F.split(F.col("seg"), r"\|")).alias("s")
    )
    vs = syms.select("s").distinct()
    vocab = (
        vs.alias("va")
        .join(vs.alias("vb"), F.expr("vb.s < va.s"), "left")
        .groupBy(F.col("va.s").alias("s"))
        .agg((F.count(F.col("vb.s")) + 1).cast("long").alias("tid"))
    )
    wtok = (
        syms.join(F.broadcast(vocab), "s")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum("tid").alias("idsum"),
        )
    )
    mixed = F.expr(_MIXED_SQL.format(styp="STRING"))
    dpts = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(mixed, F.lit(_PRETOK_RE), 0)
        ).alias("p", "word"),
    ).select("doc_id", "word", (F.col("p") + 1).cast("long").alias("pos"))
    return (
        dpts.join(wtok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pretokens"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.col("pos") * F.col("idsum")).alias("tok_checksum"),
        )
    )


# --- Byte-vs-char tokenizer A/B on REAL text ---------------------------------
#
# The measurement that justifies carrying the byte lane: on text with
# casing/punctuation/unicode, the char-level [a-z]+ lane simply DROPS
# everything outside lowercase letter runs (coverage < 1), while the
# byte lane's pre-tokenizer tiles the whole string (coverage == 1.0 by
# construction). bytes_per_token over the covered region compares
# compression like-for-like.

_BPE_BYTES_CMP_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_MIXED_SQL.format(styp='VARCHAR')} AS mt FROM documents
),
tot AS (
  SELECT CAST(SUM(octet_length(encode(mt))) AS BIGINT) AS total_bytes
  FROM base
),
bp AS (
  SELECT unnest(regexp_extract_all(mt, '{_PRETOK_RE.replace("'", "''")}'))
    AS pt
  FROM base
),
bseg AS (
  SELECT pt,
         list_reduce(
           list_prepend(
             regexp_replace(lower(hex(encode(pt))), '(..)', '|\\1|', 'g'),
             {byte_merge_patterns_sql()}),
           (acc, p) -> replace(acc, p, replace(p, '||', ''))) AS s
  FROM (SELECT DISTINCT pt FROM bp)
),
btok AS (
  SELECT pt, CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_tok
  FROM bseg
),
cw AS (
  SELECT unnest(regexp_extract_all(lower(mt), '[a-z]+')) AS word FROM base
),
cseg AS (
  SELECT word,
         list_reduce(
           list_prepend(regexp_replace(word, '(.)', '|\\1|', 'g'),
                        {merge_patterns_sql()}),
           (acc, p) -> replace(acc, p, replace(p, '||', ''))) AS s
  FROM (SELECT DISTINCT word FROM cw)
),
ctok AS (
  SELECT word, CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_tok
  FROM cseg
),
lanes AS (
  SELECT 'bytes_512' AS lane,
         CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(t.n_tok) AS BIGINT) AS n_tokens,
         CAST(SUM(octet_length(encode(b.pt))) AS BIGINT) AS covered_bytes
  FROM bp b JOIN btok t USING (pt)
  UNION ALL
  SELECT 'char_1024',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(t.n_tok) AS BIGINT),
         CAST(SUM(length(c.word)) AS BIGINT)
  FROM cw c JOIN ctok t USING (word)
)
SELECT lane, n_units, n_tokens, covered_bytes, total_bytes,
       CAST(covered_bytes AS DOUBLE) / total_bytes AS coverage,
       CAST(covered_bytes AS DOUBLE) / n_tokens AS bytes_per_token
FROM lanes CROSS JOIN tot
ORDER BY lane
"""


@query("text_bpe_bytes_compression_eval", _BPE_BYTES_CMP_ORACLE)
def text_bpe_bytes_compression_eval(spark, sf_dir):
    """Byte-vs-char tokenizer A/B over the mixed corpus (module comment
    above): coverage (share of corpus bytes the lane tokenizes at all)
    and bytes-per-token over the covered region, one row per lane. The
    char lane's coverage gap IS the round-7 motivation in one number.
    Both lanes do all merge work on distinct units; the corpus
    contributes two explodes and two dictionary joins."""
    docs = table(spark, sf_dir, "documents")
    mixed = F.expr(_MIXED_SQL.format(styp="STRING"))
    base = docs.select("doc_id", mixed.alias("mt"))
    total = base.agg(
        F.sum(F.octet_length("mt")).cast("long").alias("total_bytes")
    )

    dpts = base.select(
        F.explode(
            F.regexp_extract_all(F.col("mt"), F.lit(_PRETOK_RE), 0)
        ).alias("pt")
    )
    ptok = _bpe_byte_pretoken_tokens(dpts.select("pt").distinct())
    bl = (
        dpts.join(ptok, "pt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.octet_length("pt")).cast("long").alias("covered_bytes"),
        )
        .select(F.lit("bytes_512").alias("lane"), "*")
    )

    dw = base.select(
        F.explode(
            F.regexp_extract_all(F.lower("mt"), F.lit("[a-z]+"), 0)
        ).alias("word")
    )
    wtok = _bpe_pretrained_word_tokens(dw.select("word").distinct())
    cl = (
        dw.join(wtok, "word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.length("word")).cast("long").alias("covered_bytes"),
        )
        .select(F.lit("char_1024").alias("lane"), "*")
    )

    return (
        bl.unionByName(cl)
        .crossJoin(F.broadcast(total))
        .select(
            "lane", "n_units", "n_tokens", "covered_bytes", "total_bytes",
            (
                F.col("covered_bytes").cast("double") / F.col("total_bytes")
            ).alias("coverage"),
            (
                F.col("covered_bytes").cast("double") / F.col("n_tokens")
            ).alias("bytes_per_token"),
        )
        .orderBy("lane")
    )


def _duck_pipeline_v3() -> str:
    from uts_spark.queries.llm_ops import (
        _DUCK_LINES,
        _duck_gopher,
        _duck_simhash_pairs,
    )

    return (
        "WITH "
        + _BPE_CHAIN
        + ","
        + _BPE_APPLY_CTES
        + f""",
    bpe_doc AS (
      SELECT d.doc_id, CAST(SUM(w.n_tok) AS BIGINT) AS n_bpe
      FROM dwords d JOIN wtok w USING (word) GROUP BY d.doc_id
    ),
    g AS ({_duck_gopher()}),
    {_DUCK_LINES},
    ld AS (
      SELECT l.doc_id,
             CAST(SUM(CASE WHEN f.df >= 2 THEN l.llen ELSE 0 END) AS DOUBLE)
               / SUM(l.llen) AS dup_char_ratio
      FROM l JOIN (SELECT lh, COUNT(DISTINCT doc_id) AS df
                   FROM l GROUP BY lh) f USING (lh)
      GROUP BY l.doc_id
    ),
    pairs AS ({_duck_simhash_pairs()}),
    kept AS (
      SELECT g.doc_id, b.n_bpe
      FROM g JOIN ld USING (doc_id) JOIN bpe_doc b USING (doc_id)
      WHERE g.gopher_pass AND ld.dup_char_ratio < 0.5
        AND g.doc_id NOT IN (SELECT id_b FROM pairs)
    )
    SELECT doc_id, n_bpe,
           CAST((SUM(n_bpe) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                 - n_bpe) // {_V3_BUDGET} AS BIGINT) AS shard
    FROM kept
    """
    )


_V3_BUDGET = 100_000  # real-token budget per shard (tokens ~ chars here)


@query("pipeline_training_prep_v3", _duck_pipeline_v3())
def pipeline_training_prep_v3(spark, sf_dir):
    """Training-prep pipeline v3: the v2 gate stack (Gopher rule pack +
    line-dedup boilerplate gate + greedy SimHash near-dup removal) but
    with the token-budget sharding driven by REAL tokens from the
    trained BPE merge table (`text_bpe_apply`) instead of the regex
    proxy — closing VERDICT r4 #3's loop end-to-end: train merges,
    apply corpus-wide, shard by actual token budget.

    The running token sum is the range-partitioned exact prefix sum
    (operators/distributed_rank.ranked_cumsum) — no single-partition
    window anywhere in the cut."""
    from uts_spark.functions.dedup import simhash_band_pairs
    from uts_spark.queries.llm_ops import text_gopher_quality, text_line_dedup

    docs = table(spark, sf_dir, "documents")
    gop = text_gopher_quality(spark, sf_dir).select("doc_id", "gopher_pass")
    ld = text_line_dedup(spark, sf_dir).select("doc_id", "dup_char_ratio")
    pairs = simhash_band_pairs(docs, "text", "doc_id", bands=4, max_hamming=6)
    toks = (
        _bpe_doc_words(docs)
        .join(_bpe_applied_word_tokens(docs), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").alias("n_bpe"))
    )
    kept = (
        toks.join(gop, "doc_id")
        .join(ld, "doc_id")
        .filter(F.col("gopher_pass") & (F.col("dup_char_ratio") < 0.5))
        .join(
            pairs.select(F.col("id_b").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        .select("doc_id", "n_bpe")
    )
    kept = kept.localCheckpoint(eager=True)  # gates compute once (round-8 lesson)
    r = ranked_cumsum(
        kept,
        F.col("doc_id"),
        [F.asc("doc_id")],
        values={"tok": F.col("n_bpe")},
        n_buckets=64,
    )
    cum_before = F.col("cum_tok") - F.col("n_bpe")
    return r.select(
        "doc_id",
        "n_bpe",
        F.floor(cum_before / F.lit(_V3_BUDGET)).cast("long").alias("shard"),
    )


def _duck_pipeline_v4() -> str:
    from uts_spark.queries.llm_ops import (
        _DUCK_LINES,
        _duck_gopher,
        _duck_simhash_pairs,
    )

    return (
        "WITH "
        + _BPE_PRE_CTES
        + f""",
    bpe_doc AS (
      SELECT d.doc_id, CAST(SUM(w.n_tok) AS BIGINT) AS n_bpe
      FROM dwords d JOIN wtok w USING (word) GROUP BY d.doc_id
    ),
    g AS ({_duck_gopher()}),
    {_DUCK_LINES},
    ld AS (
      SELECT l.doc_id,
             CAST(SUM(CASE WHEN f.df >= 2 THEN l.llen ELSE 0 END) AS DOUBLE)
               / SUM(l.llen) AS dup_char_ratio
      FROM l JOIN (SELECT lh, COUNT(DISTINCT doc_id) AS df
                   FROM l GROUP BY lh) f USING (lh)
      GROUP BY l.doc_id
    ),
    pairs AS ({_duck_simhash_pairs()}),
    kept AS (
      SELECT g.doc_id, b.n_bpe
      FROM g JOIN ld USING (doc_id) JOIN bpe_doc b USING (doc_id)
      WHERE g.gopher_pass AND ld.dup_char_ratio < 0.5
        AND g.doc_id NOT IN (SELECT id_b FROM pairs)
    )
    SELECT doc_id, n_bpe,
           CAST((SUM(n_bpe) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                 - n_bpe) // {_V4_BUDGET} AS BIGINT) AS shard
    FROM kept
    """
    )


_V4_BUDGET = 10_000  # pretrained tokens per shard (~4x fewer tokens/char)


@query("pipeline_training_prep_v4", _duck_pipeline_v4())
def pipeline_training_prep_v4(spark, sf_dir):
    """Training-prep pipeline v4: the v3 gate stack with the token
    budget driven by the PRODUCTION tokenizer — the 1024-merge
    pretrained BPE table (`text_bpe_apply_pretrained`) instead of the
    3-round trained toy. This is the flagship composition a real
    training-data run executes: quality gates + boilerplate gate +
    near-dup removal + token-budget sharding, where "token" finally
    means what the training stack will count.

    Same scale shape as v3: all tokenizer string work on the
    distinct-word frame, the running token sum through the
    range-partitioned exact prefix sum (no single-partition window)."""
    from uts_spark.functions.dedup import simhash_band_pairs
    from uts_spark.queries.llm_ops import text_gopher_quality, text_line_dedup

    docs = table(spark, sf_dir, "documents")
    gop = text_gopher_quality(spark, sf_dir).select("doc_id", "gopher_pass")
    ld = text_line_dedup(spark, sf_dir).select("doc_id", "dup_char_ratio")
    pairs = simhash_band_pairs(docs, "text", "doc_id", bands=4, max_hamming=6)
    dw = _bpe_doc_words(docs)
    toks = (
        dw.join(_bpe_pretrained_word_tokens(dw.select("word").distinct()), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").alias("n_bpe"))
    )
    kept = (
        toks.join(gop, "doc_id")
        .join(ld, "doc_id")
        .filter(F.col("gopher_pass") & (F.col("dup_char_ratio") < 0.5))
        .join(
            pairs.select(F.col("id_b").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        .select("doc_id", "n_bpe")
    )
    kept = kept.localCheckpoint(eager=True)  # gates compute once (round-8 lesson)
    r = ranked_cumsum(
        kept,
        F.col("doc_id"),
        [F.asc("doc_id")],
        values={"tok": F.col("n_bpe")},
        n_buckets=64,
    )
    cum_before = F.col("cum_tok") - F.col("n_bpe")
    return r.select(
        "doc_id",
        "n_bpe",
        F.floor(cum_before / F.lit(_V4_BUDGET)).cast("long").alias("shard"),
    )


# --- Training-prep v5: model gate + byte-token budget (round 7) -------------
#
# v4's two non-production pieces get their round-7 replacements: the
# quality gate is the TRAINED classifier (text_quality_model_score's
# frozen integer-logit decision) instead of the Gopher rule pack, and
# the shard budget counts BYTE-level production-tokenizer tokens
# (512-merge pretrained, GPT-2-style pre-tokenization) instead of
# char-level word tokens — "token" now means exactly what both the
# filter model and the training stack will see.

_V5_BUDGET = 12_000  # byte-level tokens per shard


def _duck_pipeline_v5() -> str:
    from uts_spark.queries.llm_ops import (
        _DUCK_LINES,
        _duck_quality_model_features,
        _duck_simhash_pairs,
        _qm_logit_sql,
    )

    return f"""
    WITH {_duck_quality_model_features()},
    mdl AS (
      SELECT doc_id, {_qm_logit_sql()} >= 0 AS model_pass FROM qf
    ),
    {_DUCK_LINES},
    ld AS (
      SELECT l.doc_id,
             CAST(SUM(CASE WHEN f.df >= 2 THEN l.llen ELSE 0 END) AS DOUBLE)
               / SUM(l.llen) AS dup_char_ratio
      FROM l JOIN (SELECT lh, COUNT(DISTINCT doc_id) AS df
                   FROM l GROUP BY lh) f USING (lh)
      GROUP BY l.doc_id
    ),
    pairs AS ({_duck_simhash_pairs()}),
    dpts5 AS (
      SELECT doc_id, ws[i] AS pt
      FROM (SELECT doc_id,
                   regexp_extract_all(text,
                     '{_PRETOK_RE.replace("'", "''")}') AS ws
            FROM documents),
           unnest(range(1, len(ws) + 1)) AS u(i)
    ),
    bseg5 AS (
      SELECT pt,
             list_reduce(
               list_prepend(
                 regexp_replace(lower(hex(encode(pt))), '(..)', '|\\1|', 'g'),
                 {byte_merge_patterns_sql()}),
               (acc, p) -> replace(acc, p, replace(p, '||', ''))) AS s
      FROM (SELECT DISTINCT pt FROM dpts5)
    ),
    btok5 AS (
      SELECT pt,
             CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_tok
      FROM bseg5
    ),
    bpe_doc5 AS (
      SELECT d.doc_id, CAST(SUM(t.n_tok) AS BIGINT) AS n_btok
      FROM dpts5 d JOIN btok5 t USING (pt) GROUP BY d.doc_id
    ),
    kept AS (
      SELECT m.doc_id, b.n_btok
      FROM mdl m JOIN ld USING (doc_id) JOIN bpe_doc5 b USING (doc_id)
      WHERE m.model_pass AND ld.dup_char_ratio < 0.5
        AND m.doc_id NOT IN (SELECT id_b FROM pairs)
    )
    SELECT doc_id, n_btok,
           CAST((SUM(n_btok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                 - n_btok) // {_V5_BUDGET} AS BIGINT) AS shard
    FROM kept
    """


@query("pipeline_training_prep_v5", _duck_pipeline_v5())
def pipeline_training_prep_v5(spark, sf_dir):
    """Training-prep pipeline v5 (module comment above): trained-model
    quality gate + line-dedup gate + SimHash near-dup removal + shard
    budgeting by BYTE-level production-tokenizer tokens through the
    range-partitioned exact prefix sum. Scale shape: the model gate is
    map-only expressions; all tokenizer string work runs on the
    distinct-pretoken frame; the prefix sum never creates a
    single-partition window."""
    from uts_spark.functions.dedup import simhash_band_pairs
    from uts_spark.queries.llm_ops import (
        _QM_W,
        _quality_model_features,
        text_line_dedup,
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
    ld = text_line_dedup(spark, sf_dir).select("doc_id", "dup_char_ratio")
    pairs = simhash_band_pairs(docs, "text", "doc_id", bands=4, max_hamming=6)
    dpts = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_PRETOK_RE), 0)
        ).alias("pt"),
    )
    toks = (
        dpts.join(_bpe_byte_pretoken_tokens(dpts.select("pt").distinct()), "pt")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").alias("n_btok"))
    )
    kept = (
        toks.join(mdl, "doc_id")
        .join(ld, "doc_id")
        .filter(F.col("model_pass") & (F.col("dup_char_ratio") < 0.5))
        .join(
            pairs.select(F.col("id_b").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        .select("doc_id", "n_btok")
    )
    # same materialization as v6: ranked_cumsum references kept several
    # times and the model/line-dedup/simhash gates are expensive to
    # recompute (v6 measured 42.3 -> 13.4 s at sf0.1); kept is tiny
    kept = kept.localCheckpoint(eager=True)
    r = ranked_cumsum(
        kept,
        F.col("doc_id"),
        [F.asc("doc_id")],
        values={"tok": F.col("n_btok")},
        n_buckets=64,
    )
    cum_before = F.col("cum_tok") - F.col("n_btok")
    return r.select(
        "doc_id",
        "n_btok",
        F.floor(cum_before / F.lit(_V5_BUDGET)).cast("long").alias("shard"),
    )


# --- Bucket-checksum table reconciliation -----------------------------------
#
# The migration-validation op: prove a replica equals the source WITHOUT
# shipping either table — per-bucket (count, XOR-of-row-fingerprints)
# checksums on both sides, compare the tiny checksum tables, then drill
# into ONLY the buckets that disagree.  XOR is the right aggregate: it
# is order-independent and cannot overflow, so both engines agree
# bit-for-bit with zero shuffle-order sensitivity.  The replica here is
# the source with deterministic injected drift (deletes / price edits /
# status edits keyed off o_orderkey % 997) so the query has real
# mismatches to find.
_RC_BUCKETS = 64
_RC_MOD = 997

_RC_FP_DUCK = duck_hash64(
    "concat_ws(chr(31), CAST(o_orderkey AS VARCHAR), "
    "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), "
    "o_orderstatus, o_orderpriority, "
    "CAST(epoch_ns(o_orderdate)//1000000 AS VARCHAR), "
    "CAST(o_custkey AS VARCHAR))"
)

_RC_EXTRA_OFF = 1_000_000_000  # replica-only keys live past every source key

_RC_ORACLE = f"""
WITH v1 AS (
  SELECT o_orderkey AS k,
         {duck_hash64("concat('rcb:', CAST(o_orderkey AS VARCHAR))")}
           % {_RC_BUCKETS} AS bucket,
         {_RC_FP_DUCK} AS fp
  FROM orders
),
drift AS (
  SELECT o_orderkey, o_custkey, o_orderstatus AS st0, o_orderpriority,
         o_orderdate,
         o_totalprice
           + CASE WHEN o_orderkey % {_RC_MOD} = 13 THEN 1.0 ELSE 0 END
           AS o_totalprice,
         CASE WHEN o_orderkey % {_RC_MOD} = 19 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % {_RC_MOD} != 7
  UNION ALL
  SELECT o_orderkey + {_RC_EXTRA_OFF}, o_custkey, o_orderstatus AS st0,
         o_orderpriority, o_orderdate, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % {_RC_MOD} = 29
),
v2 AS (
  SELECT o_orderkey AS k,
         {duck_hash64("concat('rcb:', CAST(o_orderkey AS VARCHAR))")}
           % {_RC_BUCKETS} AS bucket,
         {_RC_FP_DUCK} AS fp
  FROM drift
),
c1 AS (SELECT bucket, COUNT(*) AS n_v1, bit_xor(fp) AS x1 FROM v1 GROUP BY 1),
c2 AS (SELECT bucket, COUNT(*) AS n_v2, bit_xor(fp) AS x2 FROM v2 GROUP BY 1),
bad AS (
  SELECT bucket, COALESCE(n_v1, 0) AS n_v1, COALESCE(n_v2, 0) AS n_v2
  FROM c1 FULL JOIN c2 USING (bucket)
  WHERE COALESCE(n_v1, 0) != COALESCE(n_v2, 0) OR x1 IS DISTINCT FROM x2
),
d1 AS (SELECT v1.* FROM v1 JOIN bad USING (bucket)),
d2 AS (SELECT v2.* FROM v2 JOIN bad USING (bucket))
SELECT COALESCE(d1.k, d2.k) AS o_orderkey,
       COALESCE(d1.bucket, d2.bucket) AS bucket,
       CASE WHEN d2.k IS NULL THEN 'missing_in_v2'
            WHEN d1.k IS NULL THEN 'extra_in_v2'
            ELSE 'changed' END AS diff_type,
       b.n_v1, b.n_v2
FROM d1 FULL JOIN d2 ON d1.k = d2.k
JOIN bad b ON b.bucket = COALESCE(d1.bucket, d2.bucket)
WHERE d1.k IS NULL OR d2.k IS NULL OR d1.fp != d2.fp
ORDER BY o_orderkey
"""


def _rc_fingerprint():
    """Portable row fingerprint: centi-snapped price + epoch-ms date so
    no float/timestamp ever renders through an engine-specific
    formatter."""
    return hash64(
        F.concat_ws(
            "\x1f",
            F.col("o_orderkey").cast("string"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).cast("string"),
            F.col("o_custkey").cast("string"),
        )
    )


@query("dq_checksum_reconciliation", _RC_ORACLE)
def dq_checksum_reconciliation(spark, sf_dir):
    """Bucket-checksum table reconciliation (the cross-cluster
    migration validator): fingerprint every row (portable md5 over
    integer-snapped fields), reduce each side to 64 bucket rows of
    (count, XOR-of-fingerprints), compare the two tiny checksum
    tables, and drill into ONLY the disagreeing buckets to name each
    divergent key as missing_in_v2 or changed.  The replica is the
    source with deterministic injected drift (o_orderkey % 997:
    =7 deleted, =13 price+1, =19 status→'X').

    Scale shape: the checksum pass is one full scan per side reduced
    map-side to ≤ 64 rows — NO row-level shuffle; XOR is
    order-independent and overflow-free, so no shuffle-order or ANSI
    concerns.  The row-level drilldown join runs only over buckets
    that failed (broadcast semi-join on the bad-bucket list) — at
    100 TB with sparse drift that's a handful of partitions, which is
    the entire point of checksum-first reconciliation.

    The drilldown is a FULL OUTER join, so all three divergence kinds
    are named: missing_in_v2 (source-only key), extra_in_v2
    (replica-only key — drift injects these via o_orderkey % 997 = 29
    cloned past every source key), changed (fingerprint mismatch).
    """
    o = table(spark, sf_dir, "orders")
    bucket = F.pmod(
        hash64(F.concat(F.lit("rcb:"), F.col("o_orderkey").cast("string"))),
        F.lit(_RC_BUCKETS),
    )
    v1 = o.select(
        F.col("o_orderkey").alias("k"),
        bucket.alias("bucket"),
        _rc_fingerprint().alias("fp"),
    )
    drift = (
        o.filter(F.col("o_orderkey") % _RC_MOD != 7)
        .withColumn(
            "o_totalprice",
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % _RC_MOD == 13, F.lit(1.0)).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % _RC_MOD == 19, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % _RC_MOD == 29).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(_RC_EXTRA_OFF)
            )
        )
    )
    v2 = drift.select(
        F.col("o_orderkey").alias("k"),
        bucket.alias("bucket"),
        _rc_fingerprint().alias("fp"),
    )

    def checks(v, n_name, x_name):
        return v.groupBy("bucket").agg(
            F.count(F.lit(1)).alias(n_name), F.bit_xor("fp").alias(x_name)
        )

    bad = (
        checks(v1, "n_v1", "x1")
        .join(checks(v2, "n_v2", "x2"), "bucket", "full")
        .filter(
            (F.coalesce("n_v1", F.lit(0)) != F.coalesce("n_v2", F.lit(0)))
            | ~F.col("x1").eqNullSafe(F.col("x2"))
        )
        .select(
            "bucket",
            F.coalesce("n_v1", F.lit(0)).alias("n_v1"),
            F.coalesce("n_v2", F.lit(0)).alias("n_v2"),
        )
    )
    d1 = v1.join(F.broadcast(bad.select("bucket")), "bucket", "semi")
    d2 = v2.join(F.broadcast(bad.select("bucket")), "bucket", "semi").select(
        F.col("k").alias("k2"),
        F.col("bucket").alias("bucket2"),
        F.col("fp").alias("fp2"),
    )
    return (
        d1.join(d2, d1["k"] == d2["k2"], "full")
        .filter(
            F.col("k").isNull()
            | F.col("k2").isNull()
            | (F.col("fp") != F.col("fp2"))
        )
        .select(
            F.coalesce("k", "k2").alias("o_orderkey"),
            F.coalesce("bucket", "bucket2").alias("bucket"),
            F.when(F.col("k2").isNull(), F.lit("missing_in_v2"))
            .when(F.col("k").isNull(), F.lit("extra_in_v2"))
            .otherwise(F.lit("changed"))
            .alias("diff_type"),
        )
        .join(F.broadcast(bad), "bucket")
        .select("o_orderkey", "bucket", "diff_type", "n_v1", "n_v2")
        .orderBy("o_orderkey")
    )


# --- Streaming HLL: daily distinct-user sketches under a watermark ----------
_SHLL_ORACLE = f"""
WITH el AS (
  SELECT ({FDIV("epoch_ns(ts)//1000000", 86400000)}) * 86400000 AS day,
         CAST(user_id AS VARCHAR) AS elem,
         {duck_hash64("concat('shll:', CAST(user_id AS VARCHAR))")} AS h
  FROM events
),
rh AS (
  SELECT day, elem,
         (h >> {_HLL_REST_BITS}) AS bucket,
         CASE WHEN (h & {_HLL_MASK}) = 0 THEN {_HLL_RHO_MAX}
              ELSE {_HLL_RHO_MAX} - length(bin(h & {_HLL_MASK})) END AS rho
  FROM el
),
regs AS (SELECT day, bucket, MAX(rho) AS reg FROM rh GROUP BY 1, 2),
st AS (
  SELECT day,
         {_HLL_M} - COUNT(*) AS zero_regs,
         SUM(CAST(power(2.0, {_HLL_RHO_MAX} - reg) AS BIGINT))
           + ({_HLL_M} - COUNT(*)) * {_HLL_ZERO_TERM} AS reg_sum
  FROM regs GROUP BY 1
),
ex AS (SELECT day, COUNT(DISTINCT elem) AS n_exact FROM el GROUP BY 1)
SELECT st.day, ex.n_exact, st.zero_regs, st.reg_sum,
       {_HLL_A_LIT} / st.reg_sum AS hll_est
FROM st JOIN ex USING (day)
ORDER BY st.day
"""


@query("stream_hll_daily_replay", _SHLL_ORACLE)
def stream_hll_daily_replay(spark, sf_dir):
    """STREAMING HyperLogLog: per-day distinct-user sketches maintained
    as watermarked register state and finalized in append mode, then
    reduced to estimates — replayed through real micro-batches and
    hash-checked against the batch sketch.  Registers are max-
    aggregates, so the streaming fold is ORDER-INDEPENDENT: whatever
    micro-batch slicing delivers the rows, the emitted registers (and
    thus the estimates) are bit-identical to batch — the property that
    makes sketch state safe under shuffle/replay nondeterminism, unlike
    sum-of-doubles folds which need ordered replays.

    Scale shape: streaming state is ≤ 256 registers per open day window
    (constant per key, independent of traffic); emission is one row per
    (day, bucket); the post-stream reduction to estimates is a
    256-rows-per-day batch aggregate.  This is the production shape for
    'distinct users per window' at firehose rates, where exact
    distinct state would grow with cardinality.
    """
    from uts_spark.queries.streaming_replay import _replay

    DAY_MS = 86_400_000
    ev = table(spark, sf_dir, "events").select(
        "ts",
        F.concat(F.lit("shll:"), F.col("user_id").cast("string")).alias("elem"),
        F.col("ts_ms"),
    )
    rest = hash64(F.col("elem")).bitwiseAND(F.lit(_HLL_MASK))
    src = ev.select(
        "ts",
        F.shiftright(hash64(F.col("elem")), _HLL_REST_BITS).alias("bucket"),
        F.when(rest == 0, F.lit(_HLL_RHO_MAX))
        .otherwise(F.lit(_HLL_RHO_MAX) - F.length(F.conv(rest, 10, 2)))
        .alias("rho"),
    )
    max_ms = ev.agg(F.max("ts_ms")).first()[0]
    sentinels = [
        spark.createDataFrame([(s,)], "ms long").select(
            F.timestamp_millis(F.col("ms")).alias("ts"),
            F.lit(0).alias("bucket"),
            F.lit(1).alias("rho"),
        )
        for s in (max_ms + 100 * DAY_MS, max_ms + 101 * DAY_MS)
    ]

    def build(stream):
        out = (
            stream.withWatermark("ts", "60 days")
            .groupBy(F.window("ts", "1 day"), "bucket")
            .agg(F.max("rho").alias("reg"))
        )
        return (
            out.select(
                F.unix_millis(F.col("window.start")).alias("day"),
                "bucket",
                "reg",
            ),
            "append",
        )

    regs = _replay(spark, src, build, extra_feeds=sentinels).filter(
        F.col("day") <= F.lit(max_ms)
    )
    term = F.expr(f"CAST(power(2.0, {_HLL_RHO_MAX} - reg) AS BIGINT)")
    st = regs.groupBy("day").agg(
        (F.lit(_HLL_M) - F.count("*")).alias("zero_regs"),
        (
            F.sum(term) + (F.lit(_HLL_M) - F.count("*")) * F.lit(_HLL_ZERO_TERM)
        ).alias("reg_sum"),
    )
    ex = ev.groupBy(
        (F.floor(F.col("ts_ms") / F.lit(86400000)).cast("long") * DAY_MS).alias("day")
    ).agg(F.countDistinct("elem").alias("n_exact"))
    return (
        st.join(ex, "day")
        .select(
            "day",
            "n_exact",
            "zero_regs",
            "reg_sum",
            (F.lit(_HLL_A) / F.col("reg_sum")).alias("hll_est"),
        )
        .orderBy("day")
    )


# --- Streaming quantile digest: per-day histogram-digest state --------------
#
# The streaming twin of sketch_quantile_mergeable (VERDICT r4 #7). The
# batch decimation digest leans on a per-shard SORT — a batch luxury no
# watermarked stream can replay order-independently. The streaming
# member of the mergeable-digest family is the FIXED-GRID histogram
# digest: state per open day window is (value-bucket -> count), counts
# are sums — commutative, associative, order-independent — so whatever
# micro-batch slicing delivers the rows, the finalized per-day digests
# are bit-identical to batch (the same property that makes the
# streaming HLL safe). Quantile q reads as the first grid bucket whose
# running count reaches ceil(q*n); the exact per-day percentile rides
# alongside so est_err is a monitored number, mirroring the batch
# digest's apples-to-apples error lane.
#
# Scale shape: streaming state is <= grid-width rows per open day
# (constant, traffic-independent); emission is one row per (day,
# bucket); the quantile read is a per-day window over <= 246 bucket
# rows. Grid width trades error for state exactly like decimation k
# trades error for sample size.
_SQD_W = 2.0                  # value-grid bucket width (~246 buckets)
_SQD_QS = [0.5, 0.9, 0.99]
_SQD_DAY = 86_400_000

_SQD_ORACLE = f"""
WITH e AS (
  SELECT ({FDIV(MS, _SQD_DAY)}) * {_SQD_DAY} AS day,
         CAST(floor(value / {_SQD_W!r}) AS BIGINT) AS vb,
         value, event_id
  FROM events
  WHERE value IS NOT NULL
),
c AS (SELECT day, vb, CAST(COUNT(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2),
cum AS (
  SELECT day, vb, cnt,
         SUM(cnt) OVER (PARTITION BY day ORDER BY vb
                        ROWS UNBOUNDED PRECEDING) AS cumn,
         SUM(cnt) OVER (PARTITION BY day) AS n
  FROM c
),
qs AS (SELECT * FROM (VALUES (0.5),(0.9),(0.99)) t(q)),
est AS (
  SELECT day, q, CAST(MIN(n) AS BIGINT) AS n_day,
         MIN(vb) * {_SQD_W!r} AS est_value
  FROM qs, cum
  WHERE cumn >= GREATEST(CEIL(q * n), 1)
  GROUP BY day, q
),
rk AS (
  SELECT day, value,
         ROW_NUMBER() OVER (PARTITION BY day ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY day) AS n
  FROM e
),
exact AS (
  SELECT day, q, MIN(value) AS exact_value
  FROM qs JOIN rk ON rn = GREATEST(CEIL(q * n), 1)
  GROUP BY day, q
)
SELECT e2.day, e2.q, e2.n_day, e2.est_value, x.exact_value,
       e2.est_value - x.exact_value AS est_err
FROM est e2 JOIN exact x ON e2.day = x.day AND e2.q = x.q
ORDER BY e2.day, e2.q
"""


@query("stream_quantile_digest_replay", _SQD_ORACLE)
def stream_quantile_digest_replay(spark, sf_dir):
    """STREAMING quantile digest: per-day fixed-grid histogram state
    under a watermark, finalized in append mode, replayed through real
    micro-batches, hash-exact against the batch digest — see the module
    comment above for why the histogram (not decimation) digest is the
    streaming member of the mergeable family."""
    from uts_spark.queries.streaming_replay import _replay

    # NULL values are dropped on BOTH sides (ADVICE r5): Spark windows
    # order NULLS FIRST, DuckDB NULLS LAST — a single NULL would skew
    # the exact-rank lane in opposite directions.
    ev = (
        table(spark, sf_dir, "events")
        .select("ts", "ts_ms", "value", "event_id")
        .filter(F.col("value").isNotNull())
    )
    src = ev.select(
        "ts", F.floor(F.col("value") / F.lit(_SQD_W)).cast("long").alias("vb")
    )
    max_ms = ev.agg(F.max("ts_ms")).first()[0]
    sentinels = [
        spark.createDataFrame([(s,)], "ms long").select(
            F.timestamp_millis(F.col("ms")).alias("ts"),
            F.lit(0).cast("long").alias("vb"),
        )
        for s in (max_ms + 100 * _SQD_DAY, max_ms + 101 * _SQD_DAY)
    ]

    def build(stream):
        out = (
            stream.withWatermark("ts", "60 days")
            .groupBy(F.window("ts", "1 day"), "vb")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            out.select(
                F.unix_millis(F.col("window.start")).alias("day"), "vb", "cnt"
            ),
            "append",
        )

    counts = _replay(spark, src, build, extra_feeds=sentinels).filter(
        F.col("day") <= F.lit(max_ms)
    )
    wd = Window.partitionBy("day").orderBy("vb")
    cum = counts.select(
        "day",
        "vb",
        F.sum("cnt").over(wd.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cumn"
        ),
        F.sum("cnt").over(Window.partitionBy("day")).alias("n"),
    )
    q_df = spark.createDataFrame([(q,) for q in _SQD_QS], "q double")
    target = F.greatest(F.ceil(F.col("q") * F.col("n")), F.lit(1))
    est = (
        cum.crossJoin(F.broadcast(q_df))
        .filter(F.col("cumn") >= target)
        .groupBy("day", "q")
        .agg(
            F.min("n").cast("long").alias("n_day"),
            (F.min("vb") * F.lit(_SQD_W)).alias("est_value"),
        )
    )
    day = (F.floor(F.col("ts_ms") / F.lit(_SQD_DAY)).cast("long") * _SQD_DAY)
    wr = Window.partitionBy("day").orderBy("value", "event_id")
    rk = ev.select(day.alias("day"), "value", "event_id").select(
        "day",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("day")).alias("n"),
    )
    exact = (
        rk.crossJoin(F.broadcast(q_df))
        .filter(F.col("rn") == F.greatest(F.ceil(F.col("q") * F.col("n")), F.lit(1)))
        .groupBy("day", "q")
        .agg(F.min("value").alias("exact_value"))
    )
    return (
        est.join(exact, ["day", "q"])
        .select(
            "day",
            "q",
            "n_day",
            "est_value",
            "exact_value",
            (F.col("est_value") - F.col("exact_value")).alias("est_err"),
        )
        .orderBy("day", "q")
    )


# --- Streaming KMV: per-day distinct-user sketches ---------------------------
_SKMV_K = 64
_SKMV_H = float(1 << 60)
_SKMV_ORACLE = f"""
WITH el AS (
  SELECT ({FDIV(MS, 86400000)}) * 86400000 AS day,
         {duck_hash64("concat('skmv:', CAST(user_id AS VARCHAR))")} AS hv
  FROM events
),
h AS (SELECT DISTINCT day, hv FROM el),
r AS (
  SELECT day, hv,
         row_number() OVER (PARTITION BY day ORDER BY hv) AS rn,
         COUNT(*) OVER (PARTITION BY day) AS nd
  FROM h
)
SELECT day,
       CAST(MAX(nd) AS BIGINT) AS n_exact,
       CAST(LEAST(MAX(nd), {_SKMV_K}) AS BIGINT) AS n_min,
       MAX(CASE WHEN rn = {_SKMV_K} THEN hv END) AS kth_hv,
       CAST(CASE WHEN MAX(nd) >= {_SKMV_K}
            THEN ({_SKMV_K} - 1) * {_SKMV_H!r}
                 / MAX(CASE WHEN rn = {_SKMV_K} THEN hv END)
            ELSE MAX(nd) END AS DOUBLE) AS kmv_est
FROM r WHERE rn <= {_SKMV_K}
GROUP BY day
ORDER BY day
"""


@query("stream_kmv_daily_replay", _SKMV_ORACLE)
def stream_kmv_daily_replay(spark, sf_dir):
    """STREAMING KMV distinct-count sketch, replayed and hash-exact:
    per-day k=64-minimum-hash state (streaming/ops.kmv_daily_stream —
    bounded bytes per open window, cardinality-independent), finalized
    by event-time timeout in append mode, then joined with the exact
    per-day distinct lane. Like the streaming HLL, the state fold is
    ORDER-INDEPENDENT (min-k commutes), so unordered micro-batch
    slicing still finalizes bit-identically to the batch estimator —
    the third member of the streaming-sketch family (HLL registers,
    histogram quantile digest, KMV)."""
    from uts_spark.queries.streaming_replay import _replay
    from uts_spark.streaming.ops import kmv_daily_stream

    DAY_MS = 86_400_000
    ev = table(spark, sf_dir, "events").select(
        "ts",
        "ts_ms",
        hash64(
            F.concat(F.lit("skmv:"), F.col("user_id").cast("string"))
        ).alias("hv"),
    )
    src = ev.select("ts", "hv")
    max_ms = ev.agg(F.max("ts_ms")).first()[0]
    sentinels = [
        spark.createDataFrame([(s,)], "ms long").select(
            F.timestamp_millis(F.col("ms")).alias("ts"),
            F.lit(0).cast("long").alias("hv"),
        )
        for s in (max_ms + 100 * DAY_MS, max_ms + 101 * DAY_MS)
    ]

    def build(stream):
        return kmv_daily_stream(stream, k=_SKMV_K, hash_space=_SKMV_H), "append"

    out = _replay(spark, src, build, extra_feeds=sentinels).filter(
        F.col("day") <= F.lit(max_ms)
    )
    ex = ev.groupBy(
        (F.floor(F.col("ts_ms") / F.lit(DAY_MS)).cast("long") * DAY_MS).alias(
            "day"
        )
    ).agg(F.count_distinct("hv").alias("n_exact"))
    return (
        out.join(ex, "day")
        .select("day", "n_exact", "n_min", "kth_hv", "kmv_est")
        .orderBy("day")
    )


# --- Column-profile drift: the distribution companion to checksums ----------
#
# Checksum reconciliation names WHICH rows diverged; profile drift
# names HOW the distribution moved (null rates, cardinalities, moments,
# ranges) — the pair every migration validator ships. Profiles are one
# map-side-combined aggregate per side (a handful of rows out of any
# input size); deltas are a join of two tiny profile tables. All values
# integer-snapped (centi for money, exact counts otherwise) so the
# drift report itself is hash-exact.
_PD_MOD = 997


def _pd_metrics_sql(src: str) -> str:
    return f"""
      SELECT 'o_totalprice' AS col, m.metric, m.v FROM (
        SELECT * FROM (VALUES
          ('n', (SELECT CAST(COUNT(*) AS DOUBLE) FROM {src})),
          ('n_null', (SELECT CAST(COUNT(*) - COUNT(o_totalprice) AS DOUBLE)
                      FROM {src})),
          ('n_distinct', (SELECT CAST(COUNT(DISTINCT o_totalprice) AS DOUBLE)
                          FROM {src})),
          ('min_c', (SELECT CAST(floor(MIN(o_totalprice) * 100 + 0.5)
                                 AS DOUBLE) FROM {src})),
          ('max_c', (SELECT CAST(floor(MAX(o_totalprice) * 100 + 0.5)
                                 AS DOUBLE) FROM {src})),
          ('sum_c', (SELECT CAST(CAST(SUM(CAST(o_totalprice
                       AS DECIMAL(38,6))) * 100 AS BIGINT) AS DOUBLE)
                     FROM {src}))
        ) t(metric, v)) m
      UNION ALL
      SELECT 'o_orderstatus', m.metric, m.v FROM (
        SELECT * FROM (VALUES
          ('n', (SELECT CAST(COUNT(*) AS DOUBLE) FROM {src})),
          ('n_null', (SELECT CAST(COUNT(*) - COUNT(o_orderstatus) AS DOUBLE)
                      FROM {src})),
          ('n_distinct', (SELECT CAST(COUNT(DISTINCT o_orderstatus)
                                      AS DOUBLE) FROM {src}))
        ) t(metric, v)) m
      UNION ALL
      SELECT 'o_custkey', m.metric, m.v FROM (
        SELECT * FROM (VALUES
          ('n', (SELECT CAST(COUNT(*) AS DOUBLE) FROM {src})),
          ('n_null', (SELECT CAST(COUNT(*) - COUNT(o_custkey) AS DOUBLE)
                      FROM {src})),
          ('n_distinct', (SELECT CAST(COUNT(DISTINCT o_custkey) AS DOUBLE)
                          FROM {src})),
          ('min_c', (SELECT CAST(MIN(o_custkey) AS DOUBLE) FROM {src})),
          ('max_c', (SELECT CAST(MAX(o_custkey) AS DOUBLE) FROM {src})),
          ('sum_c', (SELECT CAST(SUM(o_custkey) AS DOUBLE) FROM {src}))
        ) t(metric, v)) m
    """


_PD_ORACLE = f"""
WITH v2src AS (
  SELECT o_custkey,
         o_totalprice
           + CASE WHEN o_orderkey % {_PD_MOD} = 13 THEN 1.0 ELSE 0 END
           AS o_totalprice,
         CASE WHEN o_orderkey % {_PD_MOD} = 19 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % {_PD_MOD} != 7
),
p1 AS ({_pd_metrics_sql('orders')}),
p2 AS ({_pd_metrics_sql('v2src')})
SELECT p1.col, p1.metric, p1.v AS v1, p2.v AS v2, p2.v - p1.v AS delta
FROM p1 JOIN p2 ON p1.col = p2.col AND p1.metric = p2.metric
ORDER BY p1.col, p1.metric
"""


@query("dq_profile_drift", _PD_ORACLE)
def dq_profile_drift(spark, sf_dir):
    """Column-profile drift between a table and its replica (same
    injected drift family as dq_checksum_reconciliation): per column,
    counts / null counts / distinct cardinalities, and for numeric
    columns integer-snapped min/max/sum — emitted long-form as
    (col, metric, v1, v2, delta). One aggregate pass per side, tiny
    join of the two profiles; at 100 TB the profile is what you alert
    on BEFORE paying for row-level drilldown."""
    o = table(spark, sf_dir, "orders")
    v2 = (
        o.filter(F.col("o_orderkey") % _PD_MOD != 7)
        .withColumn(
            "o_totalprice",
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % _PD_MOD == 13, F.lit(1.0)).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % _PD_MOD == 19, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
    )

    def profile(df):
        agg = df.agg(
            F.count(F.lit(1)).cast("double").alias("tp_n"),
            (F.count(F.lit(1)) - F.count("o_totalprice"))
            .cast("double").alias("tp_null"),
            F.count_distinct("o_totalprice").cast("double").alias("tp_nd"),
            F.floor(F.min("o_totalprice") * 100 + 0.5)
            .cast("double").alias("tp_min"),
            F.floor(F.max("o_totalprice") * 100 + 0.5)
            .cast("double").alias("tp_max"),
            (F.sum(F.col("o_totalprice").cast("decimal(38,6)")) * 100)
            .cast("long").cast("double").alias("tp_sum"),
            (F.count(F.lit(1)) - F.count("o_orderstatus"))
            .cast("double").alias("st_null"),
            F.count_distinct("o_orderstatus").cast("double").alias("st_nd"),
            (F.count(F.lit(1)) - F.count("o_custkey"))
            .cast("double").alias("ck_null"),
            F.count_distinct("o_custkey").cast("double").alias("ck_nd"),
            F.min("o_custkey").cast("double").alias("ck_min"),
            F.max("o_custkey").cast("double").alias("ck_max"),
            F.sum("o_custkey").cast("double").alias("ck_sum"),
        )
        pairs = [
            ("o_totalprice", "n", "tp_n"),
            ("o_totalprice", "n_null", "tp_null"),
            ("o_totalprice", "n_distinct", "tp_nd"),
            ("o_totalprice", "min_c", "tp_min"),
            ("o_totalprice", "max_c", "tp_max"),
            ("o_totalprice", "sum_c", "tp_sum"),
            ("o_orderstatus", "n", "tp_n"),
            ("o_orderstatus", "n_null", "st_null"),
            ("o_orderstatus", "n_distinct", "st_nd"),
            ("o_custkey", "n", "tp_n"),
            ("o_custkey", "n_null", "ck_null"),
            ("o_custkey", "n_distinct", "ck_nd"),
            ("o_custkey", "min_c", "ck_min"),
            ("o_custkey", "max_c", "ck_max"),
            ("o_custkey", "sum_c", "ck_sum"),
        ]
        stack = ", ".join(
            f"'{c}', '{m}', {src}" for c, m, src in pairs
        )
        return agg.selectExpr(
            f"stack({len(pairs)}, {stack}) AS (col, metric, v)"
        )

    p1 = profile(o)
    p2 = profile(v2)
    return (
        p1.join(
            p2.select(
                F.col("col"), F.col("metric"), F.col("v").alias("v2")
            ),
            ["col", "metric"],
        )
        .select(
            "col", "metric",
            F.col("v").alias("v1"),
            "v2",
            (F.col("v2") - F.col("v")).alias("delta"),
        )
        .orderBy("col", "metric")
    )

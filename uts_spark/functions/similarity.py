"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — the baseline. Dot products
  as Column HOFs (``zip_with`` + ``aggregate``), JVM-side; decimal-stable
  accumulation so results hash-match a serial oracle. Cost O(Q·N·d):
  right for small anchor sets / reranking.
- ``lsh_topk``: the scale path — random-hyperplane LSH (signed
  projections onto deterministic pseudo-random hyperplanes derived from
  the md5 hash family, no RNG state) buckets vectors; candidates share a
  bucket in ≥1 of ``tables`` repetitions; exact cosine reranks
  candidates. Cost ∝ bucket collisions, not N² — the 100 TB shape
  (PAPERS.md: LSH/IVF top-k similarity literature).

Embeddings stay arrays end-to-end — no per-row Python, no pandas
round-trip in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uts_spark.functions.hashing import hash64

SCALE = 1e12


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail: the (cosine DESC, neighbor_id ASC) tie-break
    and long-typed rank every similarity operator must agree on for the
    hash-exact contract — change it HERE, nowhere else."""
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )



def _dot_sql(a: str, b: str) -> str:
    """:func:`dot_stable` as SQL text (same tree: zip_with floor-rounded
    products, exact long fold, one rescale). 1.0E12 is DOUBLE by its
    exponent; 0.5D needs the suffix (bare SQL 0.5 parses DECIMAL)."""
    prods = (
        f"zip_with({a}, {b}, (x, y) -> floor(CAST(x AS DOUBLE)"
        " * CAST(y AS DOUBLE) * 1.0E12 + 0.5D))"
    )
    total = f"aggregate({prods}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    return f"(CAST({total} AS DOUBLE) / 1.0E12)"


def dot_stable(a: Column | str, b: Column | str) -> Column:
    """Order-independent exact dot product: per-element double products
    (IEEE-deterministic), explicitly rounded to integers at 1e-12 via
    ``floor(p*1e12 + 0.5)``, summed exactly as longs, rescaled.

    NOT a decimal cast: engines disagree on decimal rounding mode
    (Spark HALF_UP vs DuckDB HALF_EVEN) and dyadic products DO land on
    exact .5e-12 midpoints — floor(+0.5) pins one rule everywhere.

    ``str`` inputs (column names / SQL fragments) build the whole tree
    as ONE SQL expression — the per-Column form cost ~50 py4j round
    trips per call on every plan build (optimization r11); parsed tree
    identical."""
    if isinstance(a, str):
        return F.expr(_dot_sql(a, b))
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            x.cast("double") * y.cast("double") * F.lit(SCALE) + F.lit(0.5)
        ),
    )
    total = F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return total.cast("double") / F.lit(SCALE)


def norm_stable(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(f"sqrt({_dot_sql(a, a)})")
    return F.sqrt(dot_stable(a, a))


def cosine_stable(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(
            f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)})"
            f" * sqrt({_dot_sql(b, b)})))"
        )
    return dot_stable(a, b) / (norm_stable(a) * norm_stable(b))


def cosine_topk(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors (cosine) of each anchor; deterministic
    tie-break on neighbor id; self-matches excluded.
    anchors: DataFrame with (id_col, vec_col) — broadcast against emb."""
    # norms attached per SIDE, not per pair: one norm HOF per vector
    # instead of two per (anchor × vector) pair
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("__qa"),
        norm_stable(vec_col).alias("__na"),
    )
    x = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__qb"),
        norm_stable(vec_col).alias("__nb"),
    )
    scored = (
        x.crossJoin(F.broadcast(a))
        .filter(F.col("neighbor_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "neighbor_id",
            (
                dot_stable("__qa", "__qb")
                / (F.col("__na") * F.col("__nb"))
            ).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


def cosine_topk_blocked(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per anchor, same results as
    :func:`cosine_topk` (identical floor-rounded math, identical
    ``(cosine DESC, neighbor_id ASC)`` tie-break) but computed by the
    blocked numpy kernel: the anchor matrix is broadcast, each Arrow
    batch of the corpus scores against ALL anchors in one vectorized
    outer product, and each batch pre-selects its local top-k per anchor
    before anything crosses back to the JVM — the global window then
    ranks ≤ k·batches rows per anchor instead of N.

    SCALE: corpus-side cost is one pass, no shuffle until the (tiny)
    rank step; anchor side must fit in a broadcast (~10^5 × small dim).
    Beyond that, chunk the anchors or LSH/IVF-prune first."""
    sc = emb.sparkSession.sparkContext
    pdf = anchors.select(id_col, vec_col).toPandas()
    import numpy as np

    a_ids = pdf[id_col].to_numpy()
    A = np.stack(pdf[vec_col].to_list()).astype(np.float64)
    bc = sc.broadcast((a_ids, A))

    def gen(batches):
        import numpy as np
        import pandas as pd

        ids_a, Am = bc.value
        na = np.sqrt(
            np.floor(Am * Am * 1e12 + 0.5).astype(np.int64).sum(axis=1) / 1e12
        )
        for pdf_b in batches:
            b_ids = pdf_b[id_col].to_numpy()
            B = np.stack(pdf_b[vec_col].to_list()).astype(np.float64)
            nb = np.sqrt(
                np.floor(B * B * 1e12 + 0.5).astype(np.int64).sum(axis=1) / 1e12
            )
            # same per-element floor-rounding as dot_stable — no GEMM
            dots = (
                np.floor(B[:, None, :] * Am[None, :, :] * 1e12 + 0.5)
                .astype(np.int64)
                .sum(axis=2)
                / 1e12
            )
            cos = dots / (nb[:, None] * na[None, :])
            out_a, out_b, out_c = [], [], []
            for j in range(len(ids_a)):
                keep = b_ids != ids_a[j]  # self-match excluded
                ids_j, cos_j = b_ids[keep], cos[keep, j]
                # local top-k with the global tie-break: sort by
                # (-cosine, neighbor_id); any global top-k row is in its
                # batch's top-k under the same order
                order = np.lexsort((ids_j, -cos_j))[:k]
                out_a.append(np.full(len(order), ids_a[j]))
                out_b.append(ids_j[order])
                out_c.append(cos_j[order])
            yield pd.DataFrame(
                {
                    "anchor_id": np.concatenate(out_a).astype("int64"),
                    "neighbor_id": np.concatenate(out_b).astype("int64"),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = emb.select(id_col, vec_col).mapInPandas(
        gen, "anchor_id long, neighbor_id long, cosine double"
    )
    return _rank_topk(scored, k)


def cosine_pairs_blocked(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tiles: int = 8,
    block: int = 1024,
) -> DataFrame:
    """All-pairs cosine similarity >= threshold, fully distributed via
    TRIANGLE TILING: each vector is hashed into one of ``n_tiles`` tiles
    and replicated to every unordered tile-pair group it belongs to
    ({(min(t,u), max(t,u)) : u < n_tiles} — n_tiles copies per row);
    ``applyInPandas`` over the T·(T+1)/2 groups runs the block-wise
    vectorized numpy kernel on each group's two tiles. Every unordered
    vector pair lands in exactly one group (cross pairs in (t_a, t_b),
    within-tile pairs in (t, t)), so the output is the EXACT all-pairs
    set — no recall loss, unlike an LSH pre-bucket.

    EXACTNESS: identical to :func:`dot_stable` / the SQL oracle — per-
    element float64 products, ``floor(p*1e12 + 0.5)`` into int64, exact
    integer sums, same division order. numpy and the JVM both follow
    IEEE-754, so results hash-match bit-for-bit.

    SCALE: no driver-side collect anywhere (the previous revision did
    ``toPandas`` + broadcast of the whole corpus — an OOM at 10^8
    vectors); a task holds at most 2N/T vectors, so ``n_tiles`` scales
    task memory down as √replication-cost. Total compute is the same
    N²/2 kernel work spread over T·(T+1)/2 independent tasks. For
    corpora where even that is too much, LSH-bucket first (``lsh_topk``)
    and keep this kernel as the within-bucket inner loop.
    """
    T = n_tiles
    tiled = emb.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(T)).cast("int").alias("__t"),
    )
    grid = F.array(*[
        F.struct(
            F.least(F.col("__t"), F.lit(u)).alias("gi"),
            F.greatest(F.col("__t"), F.lit(u)).alias("gj"),
        )
        for u in range(T)
    ])
    rep = tiled.select(
        "__id", "__vec", "__t", F.explode(grid).alias("__g")
    ).select(
        "__id", "__vec", "__t",
        F.col("__g.gi").alias("__gi"), F.col("__g.gj").alias("__gj"),
    )

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        gi, gj = int(key[0]), int(key[1])
        empty = pd.DataFrame(
            {"id_a": np.array([], dtype="int64"),
             "id_b": np.array([], dtype="int64"),
             "cosine": np.array([], dtype="float64")}
        )

        def prep(sub):
            ids = sub["__id"].to_numpy()
            M = np.stack(sub["__vec"].to_list()).astype(np.float64)
            nrm = np.sqrt(
                np.floor(M * M * 1e12 + 0.5).astype(np.int64).sum(axis=1) / 1e12
            )
            return ids, M, nrm

        out_a, out_b, out_c = [], [], []

        def emit(ids_a, A, na, ids_b, B, nb, same):
            # per-element floor-rounding forbids BLAS GEMM; the explicit
            # outer product stays vectorized and bit-exact. Row side is
            # blocked to bound the cos-matrix footprint.
            for s in range(0, len(ids_a), block):
                ia_ids, Ab, nab = ids_a[s:s + block], A[s:s + block], na[s:s + block]
                dots = (
                    np.floor(Ab[:, None, :] * B[None, :, :] * 1e12 + 0.5)
                    .astype(np.int64)
                    .sum(axis=2)
                    / 1e12
                )
                cos = dots / (nab[:, None] * nb[None, :])
                mask = cos >= threshold
                if same:
                    mask &= ia_ids[:, None] < ids_b[None, :]
                ii, jj = np.nonzero(mask)
                a, b = ia_ids[ii], ids_b[jj]
                # canonical id_a < id_b orientation for cross-tile pairs
                lo, hi = np.minimum(a, b), np.maximum(a, b)
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cos[ii, jj])

        if gi == gj:
            ids, M, nrm = prep(pdf)
            if len(ids) >= 2:
                emit(ids, M, nrm, ids, M, nrm, same=True)
        else:
            pa, pb = pdf[pdf["__t"] == gi], pdf[pdf["__t"] == gj]
            if len(pa) and len(pb):
                ids_a, A, na = prep(pa)
                ids_b, B, nb = prep(pb)
                emit(ids_a, A, na, ids_b, B, nb, same=False)
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a).astype("int64"),
                "id_b": np.concatenate(out_b).astype("int64"),
                "cosine": np.concatenate(out_c),
            }
        )

    return rep.groupBy("__gi", "__gj").applyInPandas(
        kernel, "id_a long, id_b long, cosine double"
    )


def hyperplane(h: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane h: component i derived from
    the portable hash family → uniform in [-1, 1]. Reproducible anywhere,
    including a SQL oracle."""
    import hashlib

    out = []
    for i in range(dim):
        hx = hashlib.md5(f"hp{h}:{i}".encode()).hexdigest()[:15]
        out.append((int(hx, 16) % 2001 - 1000) / 1000.0)
    return out


def lsh_bucket_table(
    df: DataFrame,
    dim: int,
    planes: int = 12,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    impl: str = "np",
) -> DataFrame:
    """(id, vec, table, bucket) for ALL hash tables in one pass.

    Two implementations, bit-identical buckets (pinned in
    tests/test_llm_ops.py; measured A/B in tools/lsh_bucket_ab.py —
    SCALE.md round 11):

    - ``impl="np"`` (default — VERDICT r10 #6): ZERO-SHUFFLE
      mapInPandas kernel. The hyperplane matrix rides the task
      closure (tables·planes·dim doubles — KBs); each Arrow batch
      computes every table's sign bits in one GEMM and emits its own
      (id, table, bucket) rows — no crossJoin, no groupBy, no
      exchange at all. At 1M×64 vectors: 2.0s vs 12.8s for the agg
      shape (6.3×), and the saved shuffle is corpus×tables rows.
    - ``impl="agg"``: the JVM-side shape — hyperplanes as a broadcast
      DataFrame (NOT expression literals: the per-plane Column form
      built planes×tables aggregate-HOF expressions each embedding a
      dim-wide literal array, ~9.5s of codegen for 5k vectors), one
      cross join, sign bits assembled by a groupBy over (id, table).
      Kept as the reference shape that
      ``test_lsh_bucket_table_np_equals_agg`` checks the default
      against, and as the control of ``tools/lsh_bucket_ab.py``.

    ``keep_cols`` rides metadata columns through either pass for free.
    """
    # Bucket ids pack into a signed 64-bit long; >62 planes would wrap.
    if not (1 <= planes <= 62):
        raise ValueError(f"lsh_bucket_table: planes must be in [1, 62], got {planes}")
    if tables < 1:
        raise ValueError(f"lsh_bucket_table: tables must be >= 1, got {tables}")
    if impl == "np":
        return _lsh_bucket_table_np(
            df, dim, planes, tables, id_col, vec_col, keep_cols
        )
    spark = df.sparkSession
    rows = [
        (t, h, hyperplane(t * 1000 + h, dim))
        for t in range(tables)
        for h in range(planes)
    ]
    pdf = spark.createDataFrame(rows, "table int, plane int, __w array<double>")
    proj = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("__w"), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bit = F.when(proj > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
    scored = df.select(id_col, vec_col, *keep_cols).crossJoin(
        F.broadcast(pdf)
    ).select(
        id_col, vec_col, *keep_cols, "table",
        bit.alias("__bit"), F.col("plane"),
    )
    return (
        scored.groupBy(id_col, "table")
        .agg(
            F.sum(F.expr("shiftleft(__bit, plane)")).alias("bucket"),
            F.first(vec_col).alias(vec_col),
            *[F.first(c).alias(c) for c in keep_cols],
        )
    )


def _lsh_bucket_table_np(
    df: DataFrame,
    dim: int,
    planes: int,
    tables: int,
    id_col: str,
    vec_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The zero-shuffle kernel behind :func:`lsh_bucket_table`
    (impl="np"): hyperplanes as one in-closure numpy matrix, every
    table's bucket computed per Arrow batch, each input row emitting
    its ``tables`` output rows in place. Equality contract with the
    agg shape: the projection is the same correctly-rounded float64
    dot product — GEMM reorders the additions, which can only flip a
    sign on a projection within float ulps of zero; the A/B tool
    verifies exact (id, table, bucket) equality on every corpus it
    measures, and the oracle-gated LSH lanes re-verify at both driver
    SFs."""
    import numpy as np
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    src = df.select(id_col, vec_col, *keep_cols)
    W = np.array(
        [
            hyperplane(t * 1000 + h, dim)
            for t in range(tables)
            for h in range(planes)
        ],
        dtype=np.float64,
    ).T  # dim x (tables*planes)
    shifts = 1 << np.arange(planes, dtype=np.int64)
    schema = StructType(
        list(src.schema.fields)
        + [
            StructField("table", IntegerType(), False),
            StructField("bucket", LongType(), False),
        ]
    )
    nt, npl = tables, planes

    def gen(batches):
        import numpy as np
        import pandas as pd  # noqa: F401 — Arrow batch type

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(pdf[vec_col].to_list()).astype(np.float64)
            bits = (X @ W > 0).astype(np.int64).reshape(n, nt, npl)
            buckets = (bits * shifts[None, None, :]).sum(axis=2)
            rep = pdf.loc[pdf.index.repeat(nt)].reset_index(drop=True)
            rep["table"] = np.tile(np.arange(nt, dtype=np.int32), n)
            rep["bucket"] = buckets.reshape(-1)
            yield rep

    return src.mapInPandas(gen, schema=schema)


def ivf_topk(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means partitions the
    corpus into ``n_cells`` Voronoi cells; each anchor probes its
    ``n_probe`` nearest centroids and exact-reranks only those cells'
    vectors — candidate cost ~ N·n_probe/n_cells instead of N per anchor.

    Scale shape (100 TB): the centroid table is tiny and broadcast; cell
    assignment is one ML transform over the corpus (writeable as a
    partition column so probes become partition-pruned scans); training
    runs on a sample. Deterministic given ``seed``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = emb.sparkSession
    base = emb.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__fv"),
    )
    model = KMeans(
        k=n_cells, seed=seed, maxIter=10,
        featuresCol="__fv", predictionCol="__cell",
    ).fit(base)
    assigned = model.transform(base).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vb"),
        F.col("__cell").alias("cell"),
    )
    cents = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cdf = spark.createDataFrame(cents, "cell int, __c array<double>")

    a = anchors.select(F.col(id_col).alias("anchor_id"), F.col(vec_col).alias("__va"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("__va"), F.col("__c"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("anchor_id").orderBy(F.asc("__d2"), F.asc("cell"))
    probed = (
        a.crossJoin(F.broadcast(cdf))
        .withColumn("__d2", d2)
        .withColumn("__r", F.row_number().over(wp))
        .filter(F.col("__r") <= n_probe)
        .select("anchor_id", "__va", "cell")
    )
    cand = probed.join(assigned, "cell").filter(
        F.col("anchor_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "anchor_id",
        "neighbor_id",
        cosine_stable("__va", "__vb").alias("cosine"),
    )
    return _rank_topk(scored, k)


def lsh_topk(
    emb: DataFrame,
    anchors: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 12,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing an LSH bucket with
    the anchor in any of ``tables`` hash tables; exact cosine rerank of
    candidates only."""
    right = lsh_bucket_table(emb, dim, planes, tables, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vb"),
        "table",
        "bucket",
    )
    left = lsh_bucket_table(anchors, dim, planes, tables, id_col, vec_col).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("__va"),
        "table",
        "bucket",
    )

    cand = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("anchor_id") != F.col("neighbor_id"))
        .select("anchor_id", "__va", "neighbor_id", "__vb")
        .distinct()
    )
    scored = cand.select(
        "anchor_id",
        "neighbor_id",
        cosine_stable("__va", "__vb").alias("cosine"),
    )
    return _rank_topk(scored, k)


def coreset_facility_location(
    emb: DataFrame,
    k: int = 6,
    pool: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SUBMODULAR CORESET SELECTION — greedy facility location (Lin &
    Bilmes lineage; the data-selection recipe behind representative-
    subset curation): select ``k`` vectors maximizing
    F(S) = Σ_v max_{s in S} sim(v, s), where sim is the integer-snapped
    non-negative cosine. Greedy is (1 - 1/e)-optimal for monotone
    submodular F; every stage here is bit-reproducible (hash-derived
    candidate pool, snapped sims, deterministic tie-breaks), so the
    selection and its marginal gains are oracle-checkable — unlike
    RNG coreset samplers.

    Scale shape (the practical lazy-greedy recipe): candidates are a
    hash-derived ``pool`` (broadcast); per round one corpus pass scores
    Σ_v max(0, s(v,c) − cur(v)) per candidate (corpus x pool,
    map-side aggregated), the 1-row winner broadcasts back, and the
    per-v coverage column updates — cost k · N · pool, never N².
    The coverage frame localCheckpoints per round (same iterative
    discipline as PageRank/CC). Returns (rank, id, gain_n, gain) —
    the selected ids in greedy order with exact integer gains."""
    if k > pool:
        raise ValueError(
            f"coreset_facility_location: k ({k}) cannot exceed the "
            f"candidate pool ({pool}) — rounds past pool exhaustion "
            "would emit empty winners"
        )
    cands = (
        emb.select(
            F.col(id_col).alias("cand"),
            F.col(vec_col).alias("__cv"),
            hash64(
                F.concat(F.lit("fl:"), F.col(id_col).cast("string"))
            ).alias("__h"),
        )
        .orderBy("__h", "cand")
        .limit(pool)
        .drop("__h")
    )
    # the REALIZED pool is min(pool, |corpus|) — on a corpus smaller
    # than k the k-vs-pool guard above passes but later rounds emit
    # empty winners and the winner-join silently shrinks the result
    # below k rows (ADVICE r8); count the tiny candidate frame and
    # fail loudly instead
    realized = cands.count()
    if k > realized:
        raise ValueError(
            f"coreset_facility_location: k ({k}) exceeds the realized "
            f"candidate pool ({realized} vectors in the corpus) — a "
            f"{realized}-row selection would be returned silently"
        )
    # (v, cand, s): snapped non-negative cosine, computed ONCE
    sims = (
        emb.select(F.col(id_col).alias("v"), F.col(vec_col).alias("__vv"))
        .crossJoin(F.broadcast(cands))
        .select(
            "v",
            "cand",
            F.greatest(
                F.floor(
                    cosine_stable("__vv", "__cv")
                    * F.lit(FIT_SCALE)
                    + F.lit(0.5)
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    cur = sims.select("v").distinct().select(
        "v", F.lit(0).cast("long").alias("cur")
    )
    out = None
    for rank in range(1, k + 1):
        scored = sims.join(cur, "v")
        if out is not None:
            scored = scored.join(
                out.select(F.col("id").alias("cand")), "cand", "left_anti"
            )
        gains = scored.groupBy("cand").agg(
            F.sum(
                F.greatest(F.col("s") - F.col("cur"), F.lit(0).cast("long"))
            ).alias("gain_n")
        )
        winner = (
            gains.orderBy(F.desc("gain_n"), F.asc("cand"))
            .limit(1)
            .select(
                F.lit(rank).cast("long").alias("rank"),
                F.col("cand").alias("id"),
                "gain_n",
            )
            .localCheckpoint(eager=True)
        )
        out = winner if out is None else out.unionAll(winner)
        cur = (
            sims.join(
                F.broadcast(winner.select(F.col("id").alias("cand"))), "cand"
            )
            .select("v", F.col("s").alias("__ws"))
            .join(cur, "v")
            .select(
                "v", F.greatest("cur", "__ws").alias("cur")
            )
            .localCheckpoint(eager=True)
        )
    return out.select(
        "rank",
        "id",
        "gain_n",
        (F.col("gain_n").cast("double") / F.lit(FIT_SCALE)).alias("gain"),
    )


def pca_project(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[float]]:
    """PCA dimensionality reduction over an embedding column: project
    each vector onto the top-``k`` principal components; also returns
    the per-component explained-variance ratios.

    Scale shape (100 TB): MLlib's PCA aggregates a d×d Gramian
    DISTRIBUTED (one treeAggregate pass over the rows — cost ∝ n·d²/P
    per executor), then eigendecomposes the tiny d×d matrix on the
    driver; the projection back over the corpus is a broadcast
    matrix-multiply transform. For embedding dims (d ≤ a few thousand)
    this is exactly the right split — nothing quadratic in n anywhere.

    The reference has no linear algebra at all (uts.ts has no vector
    ops); this is a north-star extension for embedding-pipeline work
    (decorrelation before quantization, whitening, cheap dim-reduce
    ahead of ANN indexing)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    v = emb.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__v"),
    )
    model = PCA(k=k, inputCol="__v", outputCol="__p").fit(v)
    out = model.transform(v).select(
        F.col(id_col),
        vector_to_array(F.col("__p")).alias("components"),
    )
    return out, [float(x) for x in model.explainedVariance]


def ivf_topk_det(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_src: DataFrame | None = None,
) -> DataFrame:
    """DETERMINISTIC IVF top-k: centroids are the ``n_cells`` corpus
    vectors with the smallest portable hash (a hash-seeded sample — no
    k-means iterations, no RNG), cell assignment is argmax of the
    integer-stable cosine (tie-break: centroid id), anchors probe their
    ``n_probe`` best cells, candidates rerank exactly. Every stage is
    bit-reproducible in SQL — the oracle-checkable member of the IVF
    family next to the MLlib-k-means :func:`ivf_topk` (better cells,
    engine-private training).

    ``centroid_src`` decouples the quantizer pool from the membership
    corpus: passing the BASE subset reproduces in one plan what
    build-then-append produces on disk (frozen build-time centroids,
    grown membership) — the device the append-drift eval measures
    recall against (VERDICT r7 #4).

    Scale shape is identical to ivf_topk: tiny broadcast centroid table,
    one assignment pass over the corpus (writeable as a partition
    column), probe cost ∝ n_probe/n_cells of the corpus."""
    cents = (
        (centroid_src if centroid_src is not None else emb).select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("__cv"),
            hash64(
                F.concat(F.lit("ivfc:"), F.col(id_col).cast("string"))
            ).alias("__h"),
        )
        .orderBy("__h", "cent_id")
        .limit(n_cells)
        .drop("__h")
    )
    wc = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("cent_id"))
    scored_cells = (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .withColumn("__sim", cosine_stable(vec_col, "__cv"))
        .withColumn("__r", F.row_number().over(wc))
    )
    assigned = scored_cells.filter(F.col("__r") == 1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vb"),
        F.col("cent_id").alias("cell"),
    )
    probes = (
        anchors.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .withColumn("__sim", cosine_stable(vec_col, "__cv"))
        .withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") <= n_probe)
        .select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("__va"),
            F.col("cent_id").alias("cell"),
        )
    )
    cand = probes.join(assigned, "cell").filter(
        F.col("anchor_id") != F.col("neighbor_id")
    )
    out = cand.select(
        "anchor_id",
        "neighbor_id",
        cosine_stable("__va", "__vb").alias("cosine"),
    )
    return _rank_topk(out, k)


def postfilter_topk(ranked: DataFrame, keep: Column, k: int) -> DataFrame:
    """POST-FILTER for filtered ANN: drop oversampled candidates that
    fail the metadata predicate, then re-rank to top-``k`` under the
    shared tie-break. The caller joins whatever metadata ``keep``
    needs onto the ranked frame first. This is the mode that can
    UNDER-FILL (an anchor whose oversampled candidates mostly fail the
    filter returns < k rows) — the structural reason pre-filtering
    (membership = the filtered corpus, quantizer frozen on the full
    one, i.e. ``ivf_topk_det(filtered, centroid_src=full)``) wins
    under selective filters; measured in
    similarity_ann_filtered_recall_eval."""
    return _rank_topk(ranked.filter(keep).drop("rank"), k)


# --------------------------------------------------------------------------
# Probe kernels of the persisted vector indexes (functions/vindex.py
# builds and maintains them; these answer queries over one resolved
# snapshot): the anchors' bucket / cell list becomes a literal filter on
# the index scan, then the candidates are exact-reranked.

def _lsh_index_probe(
    scan: DataFrame,
    anchors: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 8,
    tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where: Column | None = None,
) -> DataFrame:
    """LSH probe over ``scan`` (the snapshot's resolved index rows):
    hash the anchors (tiny), push their (table, bucket) list into the
    scan as a literal filter, then exact-rerank the candidates. The
    anchor bucket list is driver-materialized on purpose: it is bounded
    by anchors x tables rows (the same bounded-broadcast-anchor
    precedent as cosine_topk_blocked), and a literal filter reaches the
    parquet scan's pushed filters, so row-group stats of the
    (table, bucket)-sorted index prune it. Semantics are identical to
    :func:`lsh_topk` at the same (planes, tables) — pinned by
    tests/test_llm_ops.py. ``where`` PRE-FILTERS the index rows on
    metadata columns stored at build time (``meta_cols``): the
    predicate composes with the bucket condition so both push down to
    the parquet scan — candidacy restricted to eligible vectors, never
    the post-filter under-fill."""
    from functools import reduce
    from operator import or_

    left = lsh_bucket_table(anchors, dim, planes, tables, id_col, vec_col).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("__va"),
        "table",
        "bucket",
    )
    pdf = left.select("table", "bucket").distinct().toPandas()
    pairs = sorted((int(t), int(b)) for t, b in pdf.itertuples(index=False))
    # F.lit(False) initializer: an empty anchor set must yield an empty
    # result, not a reduce() TypeError (ADVICE r5). Catalyst's
    # BooleanSimplification folds the leading `false OR` away, so the
    # pushed scan filter is unchanged for non-empty probes.
    cond = reduce(
        or_,
        [
            (F.col("table") == t) & (F.col("bucket") == b)
            for t, b in pairs
        ],
        F.lit(False),
    )
    idx = scan if where is None else scan.filter(where)
    right = idx.filter(cond).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vb"),
        "table",
        "bucket",
    )
    cand = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("anchor_id") != F.col("neighbor_id"))
        .select("anchor_id", "__va", "neighbor_id", "__vb")
        .distinct()
    )
    scored = cand.select(
        "anchor_id",
        "neighbor_id",
        cosine_stable("__va", "__vb").alias("cosine"),
    )
    return _rank_topk(scored, k)


# --------------------------------------------------------------------------
# Product quantization + asymmetric distance (Jegou et al. 2011) — the
# third leg of the ANN triad (LSH buckets, IVF cells, PQ codes). The
# corpus compresses to m_sub small codes per vector; a query scans
# codes with a per-query lookup table (ADC), never raw vectors.

def pq_adc_topk(
    emb: DataFrame,
    anchors: DataFrame,
    dim: int,
    k: int = 10,
    m_sub: int = 8,
    n_cent: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ: per subspace the ``n_cent`` codebook entries
    are the subvectors of the corpus vectors with the smallest portable
    hash (hash-seeded codebook — no k-means RNG, same device as
    ivf_topk_det), assignment is integer-snapped argmin L2 (ties to the
    smaller centroid id), and query scoring is the ADC lookup-table
    join: LUT rows = anchors x m_sub x n_cent, distance = exact BIGINT
    sum of the per-subspace snapped entries (order-independent).

    Scale shape: the corpus is touched twice — once to encode (narrow
    (vec, m, code) rows; at fleet scale the codes table IS the persisted
    index, 8 bytes/vector) and once as the codes scan per query batch;
    the codebook and every LUT are broadcast; nothing quadratic, no
    raw-vector shuffle at query time."""
    # Fail fast on misconfiguration (ADVICE r5): a non-divisible dim
    # would silently drop the trailing dim % m_sub dimensions from both
    # encoding and distance — wrong answers with no error.
    if m_sub <= 0 or dim % m_sub != 0:
        raise ValueError(
            f"pq_adc_topk: dim ({dim}) must be divisible by m_sub "
            f"({m_sub}); trailing dimensions would be silently excluded"
        )
    if n_cent <= 0:
        raise ValueError(f"pq_adc_topk: n_cent must be positive, got {n_cent}")
    d_sub = dim // m_sub
    subs = F.array(*[
        F.slice(F.col(vec_col), m * d_sub + 1, d_sub) for m in range(m_sub)
    ])

    def d2n(a: Column, b: Column) -> Column:
        diffs = F.zip_with(
            a, b,
            lambda x, y: F.floor(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * F.lit(SCALE) + F.lit(0.5)
            ),
        )
        return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, x: acc + x)

    cents = (
        emb.select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("__cv"),
            hash64(
                F.concat(F.lit("pqc:"), F.col(id_col).cast("string"))
            ).alias("__h"),
        )
        .orderBy("__h", "cent_id")
        .limit(n_cent)
    )
    cexp = cents.select(
        "cent_id",
        F.posexplode(F.array(*[
            F.slice(F.col("__cv"), m * d_sub + 1, d_sub) for m in range(m_sub)
        ])).alias("m", "csub"),
    )
    vexp = emb.select(
        F.col(id_col).alias("vid"), F.posexplode(subs).alias("m", "vsub")
    )
    codes = (
        vexp.join(F.broadcast(cexp), "m")
        .select(
            "vid", "m",
            F.struct(
                d2n(F.col("vsub"), F.col("csub")).alias("d"),
                F.col("cent_id").alias("c"),
            ).alias("s"),
        )
        .groupBy("vid", "m")
        .agg(F.min("s").alias("s"))
        .select("vid", "m", F.col("s.c").alias("code"))
    )
    aexp = anchors.select(
        F.col(id_col).alias("anchor_id"), F.posexplode(subs).alias("m", "asub")
    )
    lut = (
        aexp.join(F.broadcast(cexp), "m")
        .select(
            "anchor_id", "m",
            F.col("cent_id").alias("code"),
            d2n(F.col("asub"), F.col("csub")).alias("d2n"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vid") != F.col("anchor_id"))
        .groupBy("anchor_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("d2n").alias("adc_n"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.asc("adc_n"), F.asc("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            "neighbor_id",
            (F.col("adc_n").cast("double") / F.lit(SCALE)).alias("adc_d2"),
            "rank",
        )
    )


def _ivf_centroids(
    emb: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """Hash-seeded deterministic centroids (the ivf_topk_det device)."""
    return (
        emb.select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("__cv"),
            hash64(
                F.concat(F.lit("ivfc:"), F.col(id_col).cast("string"))
            ).alias("__h"),
        )
        .orderBy("__h", "cent_id")
        .limit(n_cells)
        .drop("__h")
    )


def _ivf_assign(
    emb: DataFrame, cents: DataFrame, id_col: str, vec_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, vec, [metadata...], cell): argmax-cosine assignment against
    the centroid table (tie-break: centroid id) — shared by build and
    append. ``keep_cols`` carries metadata columns into the stored
    index rows, the input that lets a probe push a predicate into the
    cell-pruned scan (filtered ANN at the index layer)."""
    wc = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("cent_id"))
    return (
        emb.select(id_col, vec_col, *keep_cols)
        .crossJoin(F.broadcast(cents))
        .withColumn("__sim", cosine_stable(vec_col, "__cv"))
        .withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") == 1)
        .select(id_col, vec_col, *keep_cols, F.col("cent_id").alias("cell"))
    )


FIT_SCALE = 10**9  # snap grid for quantizer-fit stats (order-independent)


def ivf_fit_stat(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector quantizer FIT against a centroid table: the snapped
    top-1 cosine ``floor(max_cell_cosine * 1e9 + 0.5)`` as a long —
    how well the quantizer's best cell represents each vector. The
    snap makes downstream SUMs order-independent, so cohort means are
    hash-exact. Returns (id_col, fit_n).

    This is the DRIFT MONITOR primitive (VERDICT r7 #4): frozen
    centroids never see appended batches, so a batch whose mean fit
    falls materially below the build-time fit is drifted — its vectors
    concentrate into cells the quantizer did not shape, and probe
    recall decays silently. Cost: |emb| x n_cells broadcast scoring +
    one groupBy — batch-shaped when called on a batch."""
    return (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .select(
            id_col,
            F.floor(
                cosine_stable(vec_col, "__cv")
                * F.lit(FIT_SCALE)
                + F.lit(0.5)
            ).cast("long").alias("__fit"),
        )
        .groupBy(id_col)
        .agg(F.max("__fit").alias("fit_n"))
    )


RECLUSTER_MILLI = 820  # re-cluster below 0.82 x reference fit (measured r8)


def _ivf_probe_cells(
    anchors: DataFrame, cents: DataFrame, n_probe: int,
    id_col: str, vec_col: str,
) -> tuple[DataFrame, list[int]]:
    """(anchor_id, __va, cell) rows of each anchor's ``n_probe`` best
    cells against the frozen centroid table, plus their distinct cell
    list — driver-materialized on purpose (bounded by anchors x
    n_probe), so it reaches the index scan as a literal filter."""
    wc = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("cent_id"))
    probes = (
        anchors.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .withColumn("__sim", cosine_stable(vec_col, "__cv"))
        .withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") <= n_probe)
        .select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("__va"),
            F.col("cent_id").alias("cell"),
        )
    )
    pdf = probes.select("cell").distinct().toPandas()
    return probes, sorted(int(c) for (c,) in pdf.itertuples(index=False))


def _ivf_index_probe(
    scan: DataFrame,
    cents: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where: Column | None = None,
) -> DataFrame:
    """IVF probe over ``scan`` (the snapshot's resolved index rows) with
    ``cents`` (the centroid table frozen for that snapshot): each
    anchor's n_probe best cells become a literal ``cell`` filter on the
    scan, and candidates rerank exactly. Identical results to
    ivf_topk_det at the same config with the centroids frozen from the
    build corpus (pinned in tests). ``where`` PRE-FILTERS the index rows
    on metadata columns stored at build time (``meta_cols``): the
    predicate composes with the cell ``isin`` so both push down to the
    parquet scan — filtered ANN at the index layer, with candidacy
    restricted to eligible vectors (plan pinned in tests: PushedFilters
    carries the predicate)."""
    probes, cells = _ivf_probe_cells(anchors, cents, n_probe, id_col, vec_col)
    if where is not None:
        scan = scan.filter(where)
    idx = scan.filter(F.col("cell").isin(cells)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vb"),
        "cell",
    )
    cand = probes.join(idx, "cell").filter(
        F.col("anchor_id") != F.col("neighbor_id")
    )
    out = cand.select(
        "anchor_id",
        "neighbor_id",
        cosine_stable("__va", "__vb").alias("cosine"),
    )
    return _rank_topk(out, k)


# --------------------------------------------------------------------------
# IVF-PQ composed probe (VERDICT r5 #4) — the standard billion-vector
# recipe (Jegou et al. 2011, FAISS IVFPQ): coarse IVF cells prune the
# corpus to n_probe partitions, PQ/ADC scores the survivors from
# compact codes, and an exact re-rank of the top candidates restores
# metric fidelity. Both halves already exist (_ivf_index_probe,
# pq_adc_topk); this composes them without ever scanning the full
# index.

def _pq_d2n(a: Column, b: Column) -> Column:
    """Integer-snapped squared L2 between two float subvectors — the
    shared PQ distance kernel (exact BIGINT, order-independent sum)."""
    diffs = F.zip_with(
        a, b,
        lambda x, y: F.floor(
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
            * F.lit(SCALE) + F.lit(0.5)
        ),
    )
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _pq_codebook_exp(
    emb: DataFrame, dim: int, m_sub: int, n_cent: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(cent_id, m, csub): the hash-seeded deterministic PQ codebook,
    exploded per subspace — tiny (n_cent x m_sub rows), broadcast by
    every consumer."""
    d_sub = dim // m_sub
    cents = (
        emb.select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("__cv"),
            hash64(
                F.concat(F.lit("pqc:"), F.col(id_col).cast("string"))
            ).alias("__h"),
        )
        .orderBy("__h", "cent_id")
        .limit(n_cent)
    )
    return cents.select(
        "cent_id",
        F.posexplode(F.array(*[
            F.slice(F.col("__cv"), m * d_sub + 1, d_sub) for m in range(m_sub)
        ])).alias("m", "csub"),
    )


def ivfpq_distortion_stat(
    emb: DataFrame,
    cexp: DataFrame,
    dim: int,
    m_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector PQ QUANTIZATION DISTORTION against an explicit
    codebook: the sum over subspaces of the snapped squared distance
    to the NEAREST codebook entry — exactly the error the stored code
    array commits to, as an exact long. The codebook-side drift
    monitor (VERDICT r7 #4's second quantizer): cell fit can hold
    while ADC scores rot, because coarse assignment and code
    quantization drift independently. Returns (id_col, dist_n).
    Cost: |emb| x n_cent broadcast scoring per subspace —
    batch-shaped when called on a batch."""
    d_sub = dim // m_sub
    subs = F.array(*[
        F.slice(F.col(vec_col), m * d_sub + 1, d_sub) for m in range(m_sub)
    ])
    return (
        emb.select(
            F.col(id_col).alias("__vid"), F.posexplode(subs).alias("m", "vsub")
        )
        .join(F.broadcast(cexp), "m")
        .select("__vid", "m", _pq_d2n(F.col("vsub"), F.col("csub")).alias("d"))
        .groupBy("__vid", "m")
        .agg(F.min("d").alias("dm"))
        .groupBy("__vid")
        .agg(F.sum("dm").alias("dist_n"))
        .select(F.col("__vid").alias(id_col), "dist_n")
    )


def _ivfpq_codes(
    emb: DataFrame, cexp: DataFrame, dim: int, m_sub: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(__vid, codes): nearest-codebook-entry PQ code array per vector
    against an EXPLICIT codebook — shared by build and append so the
    append lane provably encodes with the frozen table."""
    d_sub = dim // m_sub
    subs = F.array(*[
        F.slice(F.col(vec_col), m * d_sub + 1, d_sub) for m in range(m_sub)
    ])
    return (
        emb.select(F.col(id_col).alias("__vid"), F.posexplode(subs).alias("m", "vsub"))
        .join(F.broadcast(cexp), "m")
        .select(
            "__vid", "m",
            F.struct(
                _pq_d2n(F.col("vsub"), F.col("csub")).alias("d"),
                F.col("cent_id").alias("c"),
            ).alias("s"),
        )
        .groupBy("__vid", "m")
        .agg(F.min("s").alias("s"))
        .groupBy("__vid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", F.col("s.c").alias("c")))),
                lambda x: x["c"],
            ).alias("codes")
        )
    )


def _ivfpq_index_probe(
    scan: DataFrame,
    cents: DataFrame,
    cexp: DataFrame,
    anchors: DataFrame,
    dim: int,
    k: int = 10,
    n_probe: int = 3,
    m_sub: int = 8,
    rerank: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where: Column | None = None,
) -> DataFrame:
    """IVF-PQ with exact re-rank over ``scan`` (the snapshot's resolved
    rows of the COMPOSED index, each carrying its cell and PQ code
    array) with ``cents``/``cexp`` (the coarse centroids and exploded
    PQ codebook frozen for that snapshot):

    1. each anchor ranks the coarse centroids and probes its
       ``n_probe`` best cells — a literal ``cell`` filter on the scan,
       identical pruning to _ivf_index_probe;
    2. survivors are ADC-scored from their STORED code arrays against
       the broadcast per-anchor lookup table (integer-snapped BIGINT
       sums — the pq_adc_topk kernel, bit-reproducible in SQL); no
       encoding happens at probe time;
    3. the ``rerank`` best ADC candidates per anchor get exact cosine
       re-ranked to the final top-k.

    Nothing touches cells outside the probe set (plan-pinned in
    tests/test_plan_properties.py). Config honesty (measured in
    tools/ann_smoke.py): on tightly clustered corpora a small
    ``n_cent`` cannot separate same-cluster candidates — ADC values
    tie and the shortlist degenerates; raise ``n_cent``/``rerank``
    together (256/400 measured recall 0.54 vs 16/40's 0.0 there), or
    prefer the plain exact-rerank IVF probe when probed cells fit the
    compute budget — it is Pareto-better until candidate counts dwarf
    the rerank economics."""
    if dim % m_sub != 0:
        raise ValueError(
            f"ivfpq_index_probe: dim ({dim}) must be divisible by m_sub ({m_sub})"
        )
    # validate (dim, m_sub) against the codebook (ADVICE r7): probing
    # with another dimensionality mis-slices the anchor subvectors
    # (F.slice past array end returns SHORT arrays) and ADC-scores them
    # against the wrong entries with no error — fail loudly instead
    srow = cexp.select(
        F.max("m").alias("mx"), F.size(F.first("csub")).alias("d")
    ).first()
    if (srow["mx"] + 1) != m_sub or srow["d"] * m_sub != dim:
        raise ValueError(
            f"ivfpq_index_probe: index codebook has "
            f"m_sub={srow['mx'] + 1}, d_sub={srow['d']} — probe asked "
            f"dim={dim}, m_sub={m_sub}"
        )
    d_sub = dim // m_sub

    # 1. coarse probes (same device as _ivf_index_probe)
    probes, cells = _ivf_probe_cells(anchors, cents, n_probe, id_col, vec_col)
    if where is not None:
        # metadata pre-filter (meta_cols stored at build): composes
        # with the cell isin so both push down to the parquet scan —
        # ADC scores only eligible vectors, the shortlist never
        # under-fills like post-filtering
        scan = scan.filter(where)
    idx = scan.filter(F.col("cell").isin(cells)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vb"),
        "codes",
        "cell",
    )
    pairs = (
        probes.join(idx, "cell")
        .filter(F.col("anchor_id") != F.col("neighbor_id"))
        .select("anchor_id", "__va", "neighbor_id", "__vb", "codes")
        .distinct()
    )

    # 2. broadcast per-anchor ADC LUTs against the STORED codes
    asubs = F.array(*[
        F.slice(F.col(vec_col), m * d_sub + 1, d_sub) for m in range(m_sub)
    ])
    lut = (
        anchors.select(
            F.col(id_col).alias("anchor_id"), F.posexplode(asubs).alias("m", "asub")
        )
        .join(F.broadcast(cexp), "m")
        .select(
            "anchor_id", "m",
            F.col("cent_id").alias("code"),
            _pq_d2n(F.col("asub"), F.col("csub")).alias("d2n"),
        )
    )
    adc = (
        pairs.select(
            "anchor_id", "neighbor_id", F.posexplode("codes").alias("m", "code")
        )
        .join(F.broadcast(lut), ["anchor_id", "m", "code"])
        .groupBy("anchor_id", "neighbor_id")
        .agg(F.sum("d2n").alias("adc_n"))
    )
    wa = Window.partitionBy("anchor_id").orderBy(
        F.asc("adc_n"), F.asc("neighbor_id")
    )
    short = (
        adc.withColumn("__ar", F.row_number().over(wa))
        .filter(F.col("__ar") <= rerank)
        .select("anchor_id", "neighbor_id")
    )

    # 3. exact re-rank of the shortlist
    scored = (
        short.join(pairs.select("anchor_id", "__va", "neighbor_id", "__vb"),
                   ["anchor_id", "neighbor_id"])
        .select(
            "anchor_id",
            "neighbor_id",
            cosine_stable("__va", "__vb").alias("cosine"),
        )
    )
    return _rank_topk(scored, k)

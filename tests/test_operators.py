"""Unit tests for the extended operators: as-of join edge semantics,
binned range join correctness, top-k determinism, percentile-disc."""

import pytest
from pyspark.sql import functions as F

from uts_spark.operators.joins import asof_join, binned_range_join
from uts_spark.operators.topk import percentile_disc, top_k_per_group


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [(1, "A", 100), (2, "A", 250), (3, "B", 100), (4, "B", 90)],
        "trade_id long, sym string, ts long",
    )
    quotes = spark.createDataFrame(
        [(10, "A", 100, 1.0), (11, "A", 200, 2.0), (12, "B", 95, 3.0)],
        "quote_id long, sym string, ts long, px double",
    )
    return trades, quotes


def test_asof_backward_inclusive(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on="sym", left_time="ts", right_time="ts",
        right_payload=["px"], order_col=None,
    )
    got = {r["trade_id"]: r["px_right"] for r in out.collect()}
    # trade 1 @A t=100: quote @100 matches (inclusive); trade 2 @A t=250 →
    # quote @200; trade 3 @B t=100 → quote @95; trade 4 @B t=90 → none
    assert got == {1: 1.0, 2: 2.0, 3: 3.0, 4: None}


def test_asof_strict_before(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on="sym", left_time="ts", right_time="ts",
        right_payload=["px"], inclusive=False,
    )
    got = {r["trade_id"]: r["px_right"] for r in out.collect()}
    assert got[1] is None  # equal-ts quote no longer visible


def test_asof_equal_ts_tiebreak_latest_right(spark):
    # two right rows at the same key+ts: the one with the larger order id
    # wins deterministically
    left = spark.createDataFrame([(1, "A", 100)], "id long, k string, ts long")
    right = spark.createDataFrame(
        [(7, "A", 100, 10.0), (8, "A", 100, 20.0)],
        "rid long, k string, ts long, v double",
    )
    out = asof_join(
        left, right, on="k", left_time="ts", right_time="ts",
        right_payload=["v"], order_col="rid",
    )
    assert out.first()["v_right"] == 20.0


def test_binned_range_join_matches_naive(spark):
    left = spark.createDataFrame(
        [(i, i * 37 % 400) for i in range(50)], "lid long, lo long"
    ).withColumn("hi", F.col("lo") + 100)
    right = spark.createDataFrame(
        [(j, j * 53 % 500) for j in range(80)], "rid long, ts long"
    )
    fast = binned_range_join(
        left, right,
        left_lo=F.col("lo"), left_hi=F.col("hi"), right_ts=F.col("ts"),
        bin_width=64,
    ).select("lid", "rid")
    naive = left.crossJoin(right).filter(
        (F.col("ts") >= F.col("lo")) & (F.col("ts") <= F.col("hi"))
    ).select("lid", "rid")
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, naive.collect()))


def test_top_k_per_group_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("g", 5.0, 1), ("g", 5.0, 2), ("g", 5.0, 3), ("g", 4.0, 4)],
        "g string, v double, id long",
    )
    out = top_k_per_group(df, ["g"], [F.desc("v"), F.asc("id")], 2)
    assert [r["id"] for r in out.orderBy("rank").collect()] == [1, 2]


def test_percentile_disc_selects_actual_elements(spark):
    df = spark.createDataFrame([(float(i), i) for i in range(1, 11)], "v double, id long")
    out = {r["p"]: r["value"] for r in percentile_disc(df, "v", [0.1, 0.5, 1.0], tie_break="id").collect()}
    # ceil(0.1*10)=1 → 1.0; ceil(0.5*10)=5 → 5.0; ceil(1.0*10)=10 → 10.0
    assert out == {0.1: 1.0, 0.5: 5.0, 1.0: 10.0}


def test_asof_forward_direction(spark):
    left = spark.createDataFrame(
        [(1, 100), (1, 250), (1, 900)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 150, 1.5), (1, 300, 3.0)], "k long, t long, v double"
    )
    out = asof_join(
        left, right, "k", "t", "t", ["v"], direction="forward"
    ).orderBy("t").collect()
    # each left row takes the EARLIEST right row at-or-after it
    assert [(r.t, r.v_right) for r in out] == [(100, 1.5), (250, 3.0), (900, None)]


def test_asof_tolerance_nulls_far_matches(spark):
    left = spark.createDataFrame([(1, 100), (1, 1000)], "k long, t long")
    right = spark.createDataFrame([(1, 90, 9.0)], "k long, t long, v double")
    out = asof_join(
        left, right, "k", "t", "t", ["v"], tolerance=50
    ).orderBy("t").collect()
    # t=100 is 10 away (match); t=1000 is 910 away (beyond tolerance -> NULL)
    assert [(r.t, r.v_right) for r in out] == [(100, 9.0), (1000, None)]


def test_salted_join_matches_plain_join(spark):
    import random

    random.seed(5)
    left = spark.createDataFrame(
        [(1 if random.random() < 0.8 else random.randint(2, 5), i)
         for i in range(500)],
        "k long, payload long",
    )
    right = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(1, 6)], "k long, name string"
    )
    from uts_spark.operators.joins import salted_join

    plain = left.join(right, ["k"], "inner").orderBy("payload")
    salted = salted_join(left, right, ["k"], "inner", salt=8).orderBy("payload")
    assert [tuple(r) for r in plain.collect()] == [tuple(r) for r in salted.collect()]

    lplain = left.join(right.filter(F.col("k") > 3), ["k"], "left")
    lsalted = salted_join(left, right.filter(F.col("k") > 3), ["k"], "left", salt=8)
    assert sorted(tuple(r) for r in lplain.collect()) == sorted(
        tuple(r) for r in lsalted.collect()
    )


def test_interval_coverage_merges_islands(spark):
    from uts_spark.operators.timeseries import interval_coverage

    rows = [
        # key a: [0,10) + [5,15) merge; [20,30) separate
        ("a", 0, 10), ("a", 5, 15), ("a", 20, 30),
        # key b: adjacent [0,10) + [10,20) do NOT merge (strict >)
        ("b", 0, 10), ("b", 10, 20),
        # key c: containment [0,100) swallows [10,20)
        ("c", 0, 100), ("c", 10, 20),
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    out = {r["k"]: r for r in interval_coverage(df, "k", "s", "e").collect()}
    assert (out["a"]["n_islands"], out["a"]["covered_ms"], out["a"]["longest_ms"]) == (2, 25, 15)
    # [10,20) starts exactly at prev end 10 -> NOT > 10 -> same island
    assert (out["b"]["n_islands"], out["b"]["covered_ms"]) == (1, 20)
    assert (out["c"]["n_islands"], out["c"]["covered_ms"], out["c"]["longest_ms"]) == (1, 100, 100)


def test_pagerank_uniform_on_symmetric_cycle(spark):
    from uts_spark.functions.clustering import pagerank_weighted

    edges = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 5), (2, 0, 5)], "src long, dst long, w long"
    )
    # a repeated node row must not change n: [0, 1, 2, 2] is still a
    # 3-node graph
    for ids in ([0, 1, 2], [0, 1, 2, 2]):
        nodes = spark.createDataFrame([(i,) for i in ids], "node long")
        out = pagerank_weighted(nodes, edges, iterations=3).collect()
        # symmetric single-out-edge cycle: mass stays uniform at 1/n
        prs = [r["pr"] for r in out]
        assert len(prs) == 3, prs
        assert all(abs(p - 1 / 3) < 1e-6 for p in prs), prs


def test_pagerank_sink_attracts_mass(spark):
    from uts_spark.functions.clustering import pagerank_weighted

    # 0 and 1 both point at 2; 2 points back at 0 only
    edges = spark.createDataFrame(
        [(0, 2, 1), (1, 2, 1), (2, 0, 1)], "src long, dst long, w long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(3)], "node long")
    out = {r["node"]: r["pr"] for r in pagerank_weighted(nodes, edges, iterations=10).collect()}
    # node 1 has no in-edges: it keeps only the teleport mass 0.15/3,
    # while 0 and 2 trade the rest around the cycle
    assert abs(out[1] - 0.05) < 1e-6, out
    assert out[0] > 4 * out[1] and out[2] > 4 * out[1], out
    # total mass conserved up to fixed-point truncation (no dangling nodes)
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_session_assign_matches_python_model(spark):
    import random

    from uts_spark.registry import QUERIES

    # synthetic check of the rn-subtraction trick on controlled data
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    GAP = 1000
    rng = random.Random(3)
    rows = []
    for u in range(5):
        t = 0
        for i in range(50):
            t += rng.choice([10, 100, 999, 1000, 1001, 5000])
            rows.append((u, t, u * 1000 + i))
    df = spark.createDataFrame(rows, "user_id long, ts_ms long, event_id long")

    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts_ms").over(w)
    is_new = prev.isNull() | (F.col("ts_ms") - prev > GAP)
    rn = F.row_number().over(w)
    out = (
        df.select(
            "*", rn.alias("rn"),
            F.when(is_new, 1).otherwise(0).alias("nw"),
            F.when(is_new, F.col("ts_ms")).alias("st"),
            F.when(is_new, rn).alias("srn"),
        )
        .select(
            "user_id", "ts_ms", "event_id",
            F.sum("nw").over(run).alias("seq"),
            F.last("st", True).over(run).alias("start"),
            (rn - F.last("srn", True).over(run) + 1).alias("idx"),
        )
        .collect()
    )
    got = {(r["user_id"], r["ts_ms"], r["event_id"]): (r["seq"], r["start"], r["idx"]) for r in out}

    by_u = {}
    for u, t, e in rows:
        by_u.setdefault(u, []).append((t, e))
    for u, pts in by_u.items():
        seq = 0
        start = None
        idx = 0
        prev_t = None
        for t, e in sorted(pts):
            if prev_t is None or t - prev_t > GAP:
                seq += 1
                start = t
                idx = 1
            else:
                idx += 1
            prev_t = t
            assert got[(u, t, e)] == (seq, start, idx), (u, t, e)


def test_insert_rows_is_lazy_and_rebases(spark):
    # VERDICT r2 #5: the write path must not run a driver action per
    # insert batch — the ingest_id high-watermark rides the plan.
    from uts_spark import TSDB

    tsdb = TSDB(spark)
    df = spark.createDataFrame([(0, 100, 1.0)], "ingest_id long, time long, v double")
    s = tsdb.series("lazy_ins", df=df)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    s.insert_rows([{"v": 2.0}, {"v": 3.0}], time=200)
    s.insert_rows([{"v": 4.0}], time=300)
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before  # plan-only: no Spark job before terminal action
    rows = {(r["ingest_id"], r["v"]) for r in s.df.collect()}
    assert rows == {(0, 1.0), (1, 2.0), (2, 3.0), (3, 4.0)}


def test_tsdb_destroy_clears_registry(spark):
    # S5 (uts.ts:549-554): destroy() empties the registry; a re-created
    # series is a fresh empty one, not the old object or its data.
    from uts_spark import TSDB

    tsdb = TSDB(spark)
    s = tsdb.series("doomed")
    s.insert_rows([{"v": 1.0}], time=100) if "v" in s.df.columns else \
        s.insert_rows([{}], time=100)
    assert tsdb.series("doomed") is s  # get-or-create returns the same
    tsdb.destroy()
    s2 = tsdb.series("doomed")
    assert s2 is not s
    assert s2.df.count() == 0


def test_observe_pipeline_metrics(spark):
    # Pipeline observability: Observation metrics ride the job itself
    # (no second pass over the data) — the idiomatic way to audit
    # row counts / sums at 100 TB instead of extra .count() actions.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("audit")
    df = (
        spark.range(1000)
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum("id").alias("id_sum"),
        )
        .filter(F.col("id") % 2 == 0)
    )
    assert df.count() == 500
    got = obs.get
    assert got["rows_in"] == 1000 and got["id_sum"] == 499500


def test_ranked_cumsum_matches_single_partition_reference(spark):
    # the distributed exact rank/prefix machinery (round 4) must equal
    # the single-partition window it replaces: rank, ntile closed form,
    # inclusive decimal cumsum, exclusive prefix max, desc orders —
    # across bucket counts including the degenerate single bucket
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from uts_spark.operators.distributed_rank import (
        ntile_from_rank,
        ranked_cumsum,
    )

    rows = [(i, float((i * 37) % 101), (i * 13) % 7) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double, w long")

    w = Window.orderBy("v", "id")
    ref = df.select(
        "id",
        F.row_number().over(w).cast("long").alias("r"),
        F.ntile(7).over(w).cast("long").alias("t"),
        F.sum(F.col("w").cast("decimal(38,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cs"),
        F.max("w").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("pm"),
    )
    for n_buckets in (1, 5, 16):
        got = ranked_cumsum(
            df,
            F.col("v"),
            [F.asc("v"), F.asc("id")],
            values={"w": F.col("w").cast("decimal(38,6)")},
            max_values={"w": F.col("w")},
            n_buckets=n_buckets,
            sample_mod=2,
        ).select(
            "id",
            F.col("__rank").alias("r2"),
            ntile_from_rank(F.col("__rank"), F.col("__n"), 7).alias("t2"),
            F.col("cum_w").alias("cs2"),
            F.col("premax_w").alias("pm2"),
        )
        j = ref.join(got, "id")
        bad = j.filter(
            (F.col("r") != F.col("r2"))
            | (F.col("t") != F.col("t2"))
            | (F.col("cs") != F.col("cs2"))
            | (F.col("pm").isNull() != F.col("pm2").isNull())
            | (F.coalesce(F.col("pm"), F.lit(-1)) != F.coalesce(F.col("pm2"), F.lit(-1)))
        )
        assert bad.count() == 0, f"n_buckets={n_buckets}"

    # descending order + column-collision guard
    ref_d = df.select(
        "id",
        F.row_number().over(Window.orderBy(F.desc("v"), F.asc("id")))
        .cast("long").alias("r"),
    )
    got_d = ranked_cumsum(
        df, -F.col("v"), [F.desc("v"), F.asc("id")], n_buckets=8, sample_mod=2
    ).select("id", F.col("__rank").alias("r2"))
    assert ref_d.join(got_d, "id").filter(F.col("r") != F.col("r2")).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        ranked_cumsum(
            df.withColumnRenamed("w", "__rank"), F.col("v"), [F.asc("v")]
        )


def test_ntile_closed_form_matches_sql_definition():
    # pure-arithmetic property sweep (no Spark): the closed form in
    # ntile_from_rank must equal SQL NTILE's definition — first n%k
    # tiles hold n//k+1 rows — for every (n, k) in a dense range
    def sql_ntile(rank, n, k):
        q, rem = divmod(n, k)
        big = (q + 1) * rem
        if rank <= big:
            return (rank + q) // (q + 1)
        return rem + (rank - big + q - 1) // q

    def closed_form(rank, n, k):
        # mirror of ntile_from_rank's Column arithmetic in ints
        import math

        q = int(math.floor(n / k))
        rem = n - q * k
        cut = (q + 1) * rem
        if rank <= cut:
            return int(math.floor((rank + q) / (q + 1)))
        return rem + int(math.floor((rank - cut + q - 1) / q))

    for n in list(range(1, 60)) + [97, 128, 1000, 4096]:
        for k in (1, 2, 3, 4, 7, 10, 32, 100):
            sizes = {}
            for r in range(1, n + 1):
                t = closed_form(r, n, k)
                assert t == sql_ntile(r, n, k), (n, k, r)
                sizes[t] = sizes.get(t, 0) + 1
            # NTILE invariants: tiles 1..min(n,k), sizes differ by <= 1,
            # first tiles get the larger share
            assert sorted(sizes) == list(range(1, min(n, k) + 1)), (n, k)
            ordered = [sizes[t] for t in sorted(sizes)]
            assert max(ordered) - min(ordered) <= 1
            assert ordered == sorted(ordered, reverse=True)


def test_ranked_cumsum_constant_key_degenerates_correctly(spark):
    # every row shares one bucket-key value -> all rows land in ONE
    # bucket (order consistency demands it); balance is gone but the
    # ranks must stay exact — the documented worst case
    from pyspark.sql import functions as F

    from uts_spark.operators.distributed_rank import ranked_cumsum

    df = spark.createDataFrame([(i, 7.0) for i in range(100)], "id long, v double")
    got = ranked_cumsum(
        df, F.col("v"), [F.asc("v"), F.asc("id")], n_buckets=8, sample_mod=1
    ).select("id", F.col("__rank").alias("rank")).collect()
    assert sorted((r.id, r.rank) for r in got) == [(i, i + 1) for i in range(100)]


def test_ancestor_pairs_closure_and_depth_guard(spark):
    from pyspark.sql import functions as F

    from uts_spark.functions.clustering import ancestor_pairs

    # chain 0 <- 1 <- 2 <- 3 plus a star 0 <- 4,5
    edges = spark.createDataFrame(
        [(0, None), (1, 0), (2, 1), (3, 2), (4, 0), (5, 0)],
        "node long, parent long",
    )
    got = {
        (r.node, r.anc)
        for r in ancestor_pairs(edges, "node", "parent", doublings=3).collect()
    }
    assert got == {
        (1, 0), (2, 1), (2, 0), (3, 2), (3, 1), (3, 0), (4, 0), (5, 0),
    }

    # a chain deeper than 2^doublings must refuse loudly, not truncate
    deep = spark.createDataFrame(
        [(i, i - 1 if i else None) for i in range(10)], "node long, parent long"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="deeper"):
        ancestor_pairs(deep, "node", "parent", doublings=2)


def test_grouped_discrete_median_paths_agree(spark):
    """The size-adaptive grouped_discrete_median (optimization r12) must
    return IDENTICAL rows from its small-input window shape and its
    at-scale bucketed shape — including odd/even group sizes, duplicate
    values, negative values, and a single-row group."""
    import random

    from pyspark.sql import functions as F

    from uts_spark.operators.distributed_rank import (
        GROUPED_MEDIAN_SMALL_BYTES,
        grouped_discrete_median,
    )

    rng = random.Random(7)
    rows = [("solo", 42.0)]
    for g, n in (("a", 101), ("b", 100), ("c", 7)):
        for _ in range(n):
            rows.append((g, float(rng.randrange(-50, 50))))
    df = spark.createDataFrame(rows, "g string, v double")

    def run():
        got = grouped_discrete_median(df, ["g"], "v", out="m").collect()
        return sorted((r.g, r.m) for r in got)

    small = run()  # default gate: tiny frame -> window shape
    spark.conf.set(GROUPED_MEDIAN_SMALL_BYTES, "0")
    try:
        large = run()  # forced bucketed shape
    finally:
        spark.conf.unset(GROUPED_MEDIAN_SMALL_BYTES)
    assert small == large

    # pin against the definition: value at rank ceil(n/2), ascending
    byg = {}
    for g, v in rows:
        byg.setdefault(g, []).append(v)
    want = sorted(
        (g, sorted(vs)[max((len(vs) + 1) // 2, 1) - 1])
        for g, vs in byg.items()
    )
    assert small == want

"""Oracle-gated streaming replay (SURVEY §7 Phase 3 closure).

tests/test_streaming.py proves the streaming operators on hand-built
micro-batches; these queries close the loop against the DRIVER's oracle:
the events table is replayed through a real Structured Streaming job
(file source → watermarked agg → memory sink), and the captured result is
returned as an ordinary DataFrame — so the DuckDB hash-compare that gates
every batch operator gates the streaming path too.

Replay mechanics:
- the events rows are written to a scratch dir as several parquet files;
  ``maxFilesPerTrigger=1`` forces one micro-batch per file, so state
  really does merge across batches (not one big batch in disguise);
- ``stream_uts_interval_replay`` runs the EXACT now-anchored grouper
  (streaming/ops.uts_interval_agg_stream) in complete output mode — its
  result must equal the batch grouper bit-for-bit;
- ``stream_tumbling_agg_replay`` runs the append-mode watermark path
  (streaming/ops.tumbling_agg_stream): after the real data, two SENTINEL
  rows far past the data advance the watermark so every real window
  finalizes (emission uses the PREVIOUS batch's watermark, hence two).
  Sentinel windows are filtered from the output; the oracle is the plain
  epoch-aligned aggregation of the whole table.

Scale: the replay itself is test machinery (scratch files, memory sink);
the streamed PLAN is the production shape — keyed watermark state, one
shuffle on the window key, partial aggregation map-side.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, functions as F

from uts_spark.operators.aggregates import Metric
from uts_spark.sources.tables import parquet_cached_schema as _read_pq
from uts_spark.registry import (
    DAY, DSUM, FDIV, HOUR, MS, NOW_MS, ORACLES, query, table,
)
from uts_spark.streaming.ops import (
    tumbling_agg_stream,
    uts_interval_agg_stream,
    uts_interval_agg_stream_append,
)

_METRICS = {
    "mean_value": Metric("mean", "value", params={"stable": True}),
    "n": Metric("count"),
}


def _replay(
    spark, src_df: DataFrame, build, feeds: int = 1, extra_feeds=(),
    ordered: bool = False,
):
    """Write ``src_df`` as 4 parquet files, stream them one file per
    micro-batch through ``build(stream_df) -> (out_df, mode)``, then feed
    each DataFrame in ``extra_feeds`` as its own micro-batch. Returns the
    captured memory-sink table. ``ordered=True`` writes the source as ONE
    file preserving the caller's sort (for operators whose fold is
    order-sensitive — each extra feed then arrives as its own strictly
    later micro-batch)."""
    scratch = tempfile.mkdtemp(prefix="uts_replay_")
    src = os.path.join(scratch, "src")
    chk = os.path.join(scratch, "chk")
    name = f"replay_{uuid.uuid4().hex[:12]}"
    try:
        if ordered:
            src_df.coalesce(1).write.parquet(src)
        else:
            src_df.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(src_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out, mode = build(stream)
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
            for i, extra in enumerate(extra_feeds):
                # stage outside the watched dir, then move one finished
                # file in — the source must never see a partial write
                stage = os.path.join(scratch, f"stage_{i}")
                extra.coalesce(1).write.parquet(stage)
                part = next(
                    f for f in os.listdir(stage) if f.endswith(".parquet")
                )
                shutil.move(
                    os.path.join(stage, part), os.path.join(src, f"feed_{i}.parquet")
                )
                q.processAllAvailable()
        finally:
            q.stop()
        # materialize before the scratch dir disappears
        rows = spark.table(name)
        rows.count()
        return rows
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _ordered_chunker(ev, order_cols, select_cols, n_chunks=4):
    """Split ``ev`` into ``n_chunks`` contiguous chunks of the global
    (order_cols) sort — the shared scaffold of every order-sensitive
    replay: chunk(i) is written as one sorted file, so micro-batch i
    delivers rows in exactly the fold order the oracle's window uses.

    REPLAY-HARNESS SCAFFOLDING ONLY (VERDICT r4 wrong-#3): the eager
    ``count()`` and the unpartitioned ``Window.orderBy`` below are
    acceptable here BECAUSE this prepares a bounded TEST INPUT for the
    streaming oracles — it is not a registered operator and must never
    be copied into one. A production feed is already arrival-ordered;
    an operator needing a global sort goes through
    operators/distributed_rank.ranked_cumsum instead."""
    from pyspark.sql.window import Window

    n = ev.count()
    ranked = ev.withColumn(
        "__rk", F.row_number().over(Window.orderBy(*order_cols))
    ).withColumn(
        "__chunk",
        F.least(
            ((F.col("__rk") - 1) * n_chunks / n).cast("int"),
            F.lit(n_chunks - 1),
        ),
    )

    def chunk(i):
        return (
            ranked.filter(F.col("__chunk") == i)
            .select(*select_cols)
            .coalesce(1)
            .sortWithinPartitions(*order_cols)
        )

    return chunk


@query(
    "stream_uts_interval_replay",
    f"""
    WITH pts AS (
      SELECT {MS} AS t, value FROM events WHERE {MS} <= {NOW_MS}
    )
    SELECT {NOW_MS} - (({NOW_MS} - t)//{DAY} + 1) * {DAY} AS start,
           CAST({DAY} AS BIGINT) AS width,
           COALESCE({DSUM('value')}/COUNT(value), 0.0) AS mean_value,
           COUNT(*) AS n
    FROM pts GROUP BY 1
    """,
)
def stream_uts_interval_replay(spark, sf_dir):
    """The reference's now-anchored IntervalGrouper run as a STREAM
    (complete mode, state merged across micro-batches) — result must be
    bit-identical to the batch grouper and the DuckDB oracle."""
    ev = table(spark, sf_dir, "events").select("ingest_id", "ts_ms", "value")

    def build(stream):
        out = uts_interval_agg_stream(
            stream, _METRICS, interval_ms=DAY, now_ms=NOW_MS, time_col="ts_ms"
        )
        return out, "complete"

    got = _replay(spark, ev, build)
    return got.select(
        "start", F.col("width").cast("long").alias("width"), "mean_value", "n"
    )


@query(
    "stream_uts_interval_append_replay",
    f"""
    WITH pts AS (
      SELECT {MS} AS t, value FROM events WHERE {MS} <= {NOW_MS}
    )
    SELECT {NOW_MS} - (({NOW_MS} - t)//{DAY} + 1) * {DAY} AS start,
           CAST({DAY} AS BIGINT) AS width,
           {DSUM('value')}/COUNT(value) AS mean_value,
           COUNT(*) AS n
    FROM pts GROUP BY 1
    """,
)
def stream_uts_interval_append_replay(spark, sf_dir):
    """The exact now-anchored uts grouper in APPEND mode, oracle-gated:
    event-time timeouts on per-bin keyed state emit each bin exactly once
    when the watermark passes its absolute end
    (streaming/ops.uts_interval_agg_stream_append) — closing the
    'complete/update-mode only' limitation of the derived-key grouper.
    Two far-future sentinel rows advance the watermark past every real
    bin end so all bins finalize; sentinels are > now and thus excluded
    from the bins themselves, exactly like the batch grouper drops
    rows after ``now``."""
    ev = table(spark, sf_dir, "events").select("ts", "value")
    max_ms = ev.agg(F.max(F.unix_millis("ts"))).first()[0]
    sentinels = [
        spark.createDataFrame([(s,)], "ms long").select(
            F.timestamp_millis(F.col("ms")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
        for s in (max_ms + 100 * DAY, max_ms + 101 * DAY)
    ]

    def build(stream):
        out = uts_interval_agg_stream_append(
            stream, interval_ms=DAY, now_ms=NOW_MS, time_col="ts",
            watermark="60 days",
        )
        return out, "append"

    got = _replay(spark, ev, build, extra_feeds=sentinels)
    return got.select(
        "start", F.col("width").cast("long").alias("width"), "mean_value", "n"
    )


@query(
    "stream_tumbling_agg_replay",
    f"""
    WITH pts AS (SELECT {MS} AS t, value FROM events)
    SELECT ({FDIV("t", DAY)}) * {DAY} AS start,
           CAST({DAY} AS BIGINT) AS width,
           COALESCE({DSUM('value')}/COUNT(value), 0.0) AS mean_value,
           COUNT(*) AS n
    FROM pts GROUP BY 1
    """,
)
def stream_tumbling_agg_replay(spark, sf_dir):
    """Append-mode watermark finalization, oracle-checked end-to-end:
    every real epoch-aligned day window must EMIT (not sit in state) and
    match the batch aggregation of the whole table."""
    ev = table(spark, sf_dir, "events").select("ts", "value")
    max_ms = ev.agg(F.max(F.unix_millis("ts"))).first()[0]
    # the 4 replay files are NOT time-ordered, so the watermark delay must
    # exceed the whole data span or later files' rows arrive "late" and
    # are dropped; sentinels then sit past max + delay so the watermark
    # still clears every real window (emission uses the PREVIOUS batch's
    # watermark — hence two sentinels)
    sentinels = [
        spark.createDataFrame(
            [(s,)], "ms long"
        ).select(
            F.timestamp_millis(F.col("ms")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
        for s in (max_ms + 100 * DAY, max_ms + 101 * DAY)
    ]

    def build(stream):
        out = tumbling_agg_stream(
            stream, _METRICS, interval_ms=DAY, time_col="ts",
            watermark="60 days",
        )
        return out, "append"

    got = _replay(spark, ev, build, extra_feeds=sentinels)
    return got.filter(F.col("start") <= F.lit(max_ms)).select(
        "start", F.col("width").cast("long").alias("width"), "mean_value", "n"
    )


@query(
    "stream_interval_join_replay",
    f"""
    WITH s AS (
      SELECT event_id, user_id, {MS} AS t FROM events WHERE event_type = 'signup'
    ),
    c AS (
      SELECT event_id, user_id, {MS} AS t FROM events WHERE event_type = 'click'
    )
    SELECT s.event_id AS signup_id, c.event_id AS click_id
    FROM s JOIN c ON c.user_id = s.user_id
                 AND c.t >= s.t AND c.t <= s.t + {DAY}
    """,
)
def stream_interval_join_replay(spark, sf_dir):
    """STREAM-STREAM inner interval join replayed through micro-batches
    and hash-checked against the batch oracle: every (signup, click
    within 1 day) pair must surface even when the two sides of a pair
    arrive in different micro-batches (symmetric-hash join state). The
    watermark exceeds the replay's disorder, so nothing is dropped as
    late; the time-bound condition is what lets Spark evict state at
    steady state (streaming/ops.interval_join_stream)."""
    from uts_spark.streaming.ops import interval_join_stream

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "click")
    ).select("event_id", "user_id", "event_type", "ts")

    def build(stream):
        s = stream.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("k"),
            F.col("ts").alias("s_ts"),
        )
        c = stream.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("k"),
            F.col("ts").alias("c_ts"),
        )
        out = interval_join_stream(
            s, c, key="k", left_ts="s_ts", right_ts="c_ts",
            lo_ms=0, hi_ms=DAY, watermark="60 days",
        )
        return out.select("signup_id", "click_id"), "append"

    return _replay(spark, ev, build)


@query(
    "stream_outer_join_replay",
    f"""
    WITH s AS (
      SELECT event_id, user_id, {MS} AS t FROM events WHERE event_type = 'signup'
    ),
    c AS (
      SELECT event_id, user_id, {MS} AS t FROM events WHERE event_type = 'click'
    )
    SELECT s.event_id AS signup_id, c.event_id AS click_id
    FROM s LEFT JOIN c ON c.user_id = s.user_id
                      AND c.t >= s.t AND c.t <= s.t + {DAY}
    """,
)
def stream_outer_join_replay(spark, sf_dir):
    """LEFT-OUTER stream-stream interval join replayed through
    micro-batches: signups with no click within a day must emit
    NULL-padded — which Spark only licenses once the MIN of both
    streams' watermarks passes the signup's join window. Sentinel rows
    on BOTH sides (user_id −1, filtered from the output) advance the
    watermark, and one extra batch triggers the deferred outer
    emission. Hash-checked against the batch LEFT JOIN oracle."""
    from uts_spark.streaming.ops import interval_join_stream

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "click")
    ).select("event_id", "user_id", "event_type", "ts")
    max_ms = ev.agg(F.max(F.unix_millis("ts"))).first()[0]

    def sentinel(ms):
        return spark.createDataFrame(
            [(-1, -1, "signup", ms), (-2, -1, "click", ms)],
            "event_id long, user_id long, event_type string, ms long",
        ).select(
            "event_id", "user_id", "event_type",
            F.timestamp_millis(F.col("ms")).alias("ts"),
        )

    def build(stream):
        s = stream.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("k"),
            F.col("ts").alias("s_ts"),
        )
        c = stream.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("k"),
            F.col("ts").alias("c_ts"),
        )
        out = interval_join_stream(
            s, c, key="k", left_ts="s_ts", right_ts="c_ts",
            lo_ms=0, hi_ms=DAY, watermark="60 days", how="left_outer",
        )
        return out.select("signup_id", "k", "click_id"), "append"

    got = _replay(
        spark, ev, build,
        extra_feeds=[sentinel(max_ms + 100 * DAY), sentinel(max_ms + 101 * DAY)],
    )
    return got.filter(F.col("k") >= 0).select("signup_id", "click_id")


@query(
    "stream_session_replay",
    f"""
    WITH e AS (SELECT user_id, {MS} AS t, value FROM events),
    m AS (
      SELECT user_id, t, value,
             CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                    OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                       >= 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM e),
    s AS (
      SELECT user_id, t, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id,
           MIN(t)          AS session_start,
           MAX(t)          AS session_end,
           COUNT(*)        AS n_events,
           {DSUM('value')} AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_replay(spark, sf_dir):
    """STREAMING sessionization oracle-gated end-to-end: the native
    session_window aggregation (30-min gap) replayed through real
    micro-batches in APPEND mode — a session may open in one batch,
    absorb events from later batches (the replay files are deliberately
    time-shuffled), and only emits once the watermark passes its close.
    Sentinel rows (user −1, filtered) push the watermark past every
    real session; the result must hash-match the batch gaps-and-islands
    oracle exactly — the strongest possible statement that streaming
    and batch sessionization agree."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "ts_ms", "value")
    max_ms = ev.agg(F.max("ts_ms")).first()[0]

    def sentinel(ms):
        return spark.createDataFrame([(-1, ms)], "user_id long, ms long").select(
            "user_id",
            F.timestamp_millis(F.col("ms")).alias("ts"),
            F.col("ms").alias("ts_ms"),
            F.lit(0.0).alias("value"),
        )

    def build(stream):
        out = (
            stream.withWatermark("ts", "60 days")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("__w"), "user_id"
            )
            .agg(
                F.min("ts_ms").alias("session_start"),
                F.max("ts_ms").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(38,6)"))
                .cast("double")
                .alias("sum_value"),
            )
        )
        return (
            out.select(
                "user_id", "session_start", "session_end", "n_events",
                "sum_value",
            ),
            "append",
        )

    got = _replay(
        spark, ev, build,
        extra_feeds=[sentinel(max_ms + 100 * DAY), sentinel(max_ms + 101 * DAY)],
    )
    return got.filter(F.col("user_id") >= 0)


@query(
    "stream_dedup_replay",
    f"""
    SELECT event_id, event_type, value FROM events
    """,
)
def stream_dedup_replay(spark, sf_dir):
    """Exact streaming dedup across micro-batches: the events table is
    fed TWICE (every row duplicated, copies scattered across different
    micro-batches by the repartition), and streaming dropDuplicates on
    the key must emit each event exactly once — both the within-batch
    and the cross-batch duplicate paths are exercised. Output
    hash-matches the plain distinct oracle. The bounded-state
    production variant (dropDuplicatesWithinWatermark) is covered in
    tests/test_streaming.py; full-state dropDuplicates keeps the replay
    deterministic regardless of file arrival order."""
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    doubled = ev.union(ev)

    def build(stream):
        return stream.dropDuplicates(["event_id"]), "append"

    return _replay(spark, doubled, build)


@query(
    "stream_derivative_replay",
    f"""
    WITH pts AS (
      SELECT event_id AS o, {MS} AS t, value AS v
      FROM events WHERE event_type = 'purchase'
    ),
    d AS (
      SELECT t,
             v - lag(v) OVER w AS delta,
             first_value(t) OVER w AS tfirst
      FROM pts WINDOW w AS (ORDER BY t, o)
    ),
    bounds AS (SELECT min(t) AS tfirst, max(t) AS tlast FROM pts),
    contrib AS (
      SELECT LEAST(tfirst + ((t - tfirst + {6*HOUR} - 1)//{6*HOUR}) * {6*HOUR},
                   (SELECT tlast FROM bounds)) AS e,
             {DSUM('delta')} AS change
      FROM d WHERE delta IS NOT NULL GROUP BY 1
    ),
    spine AS (
      SELECT unnest(generate_series(tfirst + {6*HOUR}, tlast - 1, {6*HOUR})) AS e
      FROM bounds WHERE tfirst IS NOT NULL
      UNION
      SELECT tlast FROM bounds WHERE tlast IS NOT NULL
    )
    SELECT e AS time, COALESCE(change, 0.0) AS d_value
    FROM spine LEFT JOIN contrib USING (e)
    """,
)
def stream_derivative_replay(spark, sf_dir):
    """STREAMING derivative oracle-gated: the stateful
    applyInPandasWithState fold (streaming/ops.derivative_stateful_stream)
    replayed over four strictly-ordered micro-batches — state (open
    interval, accumulated change, previous value, last point time)
    carries across batches, gaps zero-fill, every CLOSED interval
    hash-matches the batch closed form, and a final FLUSH-MARKER
    micro-batch (NULL value) drains the open interval at ``tlast`` — so
    the streaming output now equals the FULL batch closed form
    (uts_derivative's oracle shape, uts.ts:500-506 final flush
    included), deltas summed through decimal on both sides.

    Points are chunked by global (time, id) rank so arrival order
    equals the fold order the oracle's window uses — the one streaming
    operator whose semantics are order-SENSITIVE, hence the ordered
    replay variant."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.lit("purchase").alias("series"), "ts_ms", "value", "event_id"
        )
    )
    chunk = _ordered_chunker(
        ev, ("ts_ms", "event_id"), ("series", "ts_ms", "value", "event_id")
    )

    from uts_spark.streaming.ops import derivative_stateful_stream

    def build(stream):
        out = derivative_stateful_stream(
            stream, interval_ms=6 * HOUR, key_col="series",
            time_col="ts_ms", value_col="value",
        )
        return out.select("time", F.col("change").alias("d_value")), "append"

    # end-of-stream flush: one NULL-value marker per key, fed as the
    # final micro-batch — drains the open interval at tlast
    flush = spark.createDataFrame(
        [("purchase", (1 << 62), None, (1 << 62))],
        "series string, ts_ms long, value double, event_id long",
    )
    got = _replay(
        spark, chunk(0), build,
        extra_feeds=[chunk(1), chunk(2), chunk(3), flush],
        ordered=True,
    )
    return got


_COV_W = 30 * 60 * 1000  # 30-minute activity window per event


@query(
    "stream_interval_coverage_replay",
    f"""
    WITH iv AS (
      SELECT CAST(user_id AS VARCHAR) AS key, {MS} AS s, {MS} + {_COV_W} AS e
      FROM events
    ),
    fl AS (
      SELECT key, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY key ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) IS NULL
                    OR s > MAX(e) OVER (PARTITION BY key ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS nw
      FROM iv
    ),
    isl AS (
      SELECT key, s, e,
             SUM(nw) OVER (PARTITION BY key ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM fl
    ),
    m AS (
      SELECT key, island, MIN(s) AS island_start, MAX(e) AS island_end
      FROM isl GROUP BY key, island
    ),
    mx AS (SELECT key, MAX(island) AS mi FROM m GROUP BY key)
    SELECT m.key, island_start, island_end,
           island_end - island_start AS dur_ms
    FROM m JOIN mx ON mx.key = m.key
    WHERE m.island < mx.mi
    """,
)
def stream_interval_coverage_replay(spark, sf_dir):
    """STREAMING gaps-and-islands coverage oracle-gated: each event
    opens a 30-minute activity window; the stateful operator
    (streaming/ops.interval_coverage_stream) merges overlapping windows
    across four ordered micro-batches — an island can open in one batch,
    extend through the next, and close in a third — and every CLOSED
    island must hash-match the batch islands computation minus each
    key's final (never-closed) island. Integer epoch-ms arithmetic
    end-to-end, so the match is exact, not approximate."""
    from uts_spark.streaming.ops import interval_coverage_stream

    ev = table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"),
        F.col("ts_ms").alias("s"),
        (F.col("ts_ms") + F.lit(_COV_W)).alias("e"),
        "event_id",
    )
    chunk = _ordered_chunker(
        ev, ("s", "event_id"), ("key", "s", "e", "event_id")
    )

    def build(stream):
        return interval_coverage_stream(stream), "append"

    return _replay(
        spark, chunk(0), build,
        extra_feeds=[chunk(1), chunk(2), chunk(3)],
        ordered=True,
    )


_SESS_GAP = 30 * 60 * 1000
_SESS_CAP = 4 * 3_600_000


from uts_spark.operators.timeseries import duck_capped_sessions  # noqa: E402


@query(
    "stream_capped_sessions_replay",
    duck_capped_sessions(
        f"SELECT CAST(user_id AS VARCHAR) AS key, {MS} AS ms, event_id "
        "FROM events",
        "key",
        "ms",
        _SESS_GAP,
        _SESS_CAP,
        "event_id",
        out_key="key",
    ),
)
def stream_capped_sessions_replay(spark, sf_dir):
    """STREAMING capped-duration sessionization oracle-gated end to
    end: the per-key three-long state machine
    (streaming/ops.capped_session_stream) replayed over four ordered
    micro-batches — sessions split on the 30-min gap OR the 4-h cap,
    with state carrying across batches — and EVERY event's assignment
    hash-matches the batch recursive-CTE oracle exactly (per-event
    emission means no open-item divergence at all, unlike windowed
    streaming aggregates). This is the operator the known-limitations
    list said needed transformWithState: applyInPandasWithState
    delivers it in this container."""
    from uts_spark.streaming.ops import capped_session_stream

    ev = table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"),
        "ts_ms",
        F.col("event_id").alias("order_id"),
    )
    chunk = _ordered_chunker(
        ev, ("ts_ms", "order_id"), ("key", "ts_ms", "order_id")
    )

    def build(stream):
        return capped_session_stream(stream, _SESS_GAP, _SESS_CAP), "append"

    return _replay(
        spark, chunk(0), build,
        extra_feeds=[chunk(1), chunk(2), chunk(3)],
        ordered=True,
    )


from uts_spark.operators.timeseries import duck_ewma  # noqa: E402

_EWMA_A = 0.25  # dyadic


@query(
    "stream_ewma_replay",
    duck_ewma(
        f"SELECT CAST(user_id AS VARCHAR) AS key, {MS} AS ms, value, event_id "
        "FROM events",
        "key",
        "ms",
        "value",
        _EWMA_A,
        "event_id",
    ),
)
def stream_ewma_replay(spark, sf_dir):
    """STREAMING EWMA oracle-gated: one double of per-key state
    (streaming/ops.ewma_stream) replayed over four ordered
    micro-batches; every emitted smoothed value must hash-match the
    batch fold and its recursive-CTE oracle bit-for-bit (identical
    multiply-add order, per-event emission, so no open-item
    divergence). Completes the sequential-smoother family's streaming
    story alongside the derivative, coverage, and capped-session
    replays."""
    from uts_spark.streaming.ops import ewma_stream

    ev = table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"),
        "ts_ms",
        "value",
        F.col("event_id").alias("order_id"),
    )
    chunk = _ordered_chunker(
        ev, ("ts_ms", "order_id"), ("key", "ts_ms", "value", "order_id")
    )

    def build(stream):
        return ewma_stream(stream, _EWMA_A), "append"

    return _replay(
        spark, chunk(0), build,
        extra_feeds=[chunk(1), chunk(2), chunk(3)],
        ordered=True,
    )


@query(
    "stream_counter_rate_replay",
    f"""
    WITH e AS (
      SELECT CAST(user_id AS VARCHAR) AS key, {MS} AS ts_ms, value, event_id
      FROM events WHERE event_type = 'click'
    ),
    w AS (
      SELECT *,
             lag(value) OVER (PARTITION BY key ORDER BY ts_ms, event_id) AS pv,
             lag(ts_ms) OVER (PARTITION BY key ORDER BY ts_ms, event_id) AS pt
      FROM e
    )
    SELECT key, ts_ms, value,
           (CASE WHEN value >= pv THEN value - pv ELSE value END)
             / ((ts_ms - pt) / 1000.0) AS rate_per_s
    FROM w WHERE pv IS NOT NULL
    """,
)
def stream_counter_rate_replay(spark, sf_dir):
    """STREAMING reset-aware counter rate oracle-gated: per-key
    (prev time, prev value) state across four ordered micro-batches,
    per-event emission (no finalization divergence), identical
    delta/((t−pt)/1000) arithmetic — hash-matches the batch lag-window
    formulation exactly."""
    from uts_spark.streaming.ops import counter_rate_stream

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").cast("string").alias("key"),
            "ts_ms",
            "value",
            F.col("event_id").alias("order_id"),
        )
    )
    chunk = _ordered_chunker(
        ev, ("ts_ms", "order_id"), ("key", "ts_ms", "value", "order_id")
    )

    def build(stream):
        return counter_rate_stream(stream), "append"

    return _replay(
        spark, chunk(0), build,
        extra_feeds=[chunk(1), chunk(2), chunk(3)],
        ordered=True,
    )


from uts_spark.operators.timeseries import duck_clamped_balance  # noqa: E402


@query(
    "stream_clamped_balance_replay",
    duck_clamped_balance(
        f"SELECT CAST(user_id AS VARCHAR) AS key, {MS} AS ms, "
        "value - 55.0 AS d, event_id FROM events WHERE value IS NOT NULL",
        "key",
        "ms",
        "d",
        "event_id",
        out_key="key",
    ),
)
def stream_clamped_balance_replay(spark, sf_dir):
    """STREAMING floor-clamped balance oracle-gated: one double of
    per-key state across four ordered micro-batches, per-event
    emission; every balance hash-matches the batch fold's
    recursive-CTE oracle — the live-inventory member of the
    sequential-exact replay family (derivative, coverage, capped
    sessions, EWMA, counter rate)."""
    from uts_spark.streaming.ops import clamped_balance_stream

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("user_id").cast("string").alias("key"),
            "ts_ms",
            (F.col("value") - 55.0).alias("delta"),
            F.col("event_id").alias("order_id"),
        )
    )
    chunk = _ordered_chunker(
        ev, ("ts_ms", "order_id"), ("key", "ts_ms", "delta", "order_id")
    )

    def build(stream):
        return clamped_balance_stream(stream), "append"

    return _replay(
        spark, chunk(0), build,
        extra_feeds=[chunk(1), chunk(2), chunk(3)],
        ordered=True,
    )


_ZW = 6 * HOUR


@query(
    "stream_zscore_replay",
    f"""
    WITH pts AS (
      SELECT event_type AS k, event_id AS o, {MS} AS t,
             ROUND(value * 100) AS v
      FROM events
    ),
    st AS (
      SELECT k, {FDIV("t", _ZW)} AS w, COUNT(*) AS n,
             SUM(v) AS s1, SUM(v * v) AS s2
      FROM pts GROUP BY k, {FDIV("t", _ZW)}
    )
    SELECT p.k AS series, p.t AS ts_ms, p.v AS value,
           (p.v - b.s1 / b.n)
             / sqrt((b.s2 - b.s1 * b.s1 / b.n) / b.n) AS z
    FROM pts p
    JOIN st b ON b.k = p.k AND b.w = {FDIV("p.t", _ZW)} - 1
    WHERE b.n >= 5 AND (b.s2 - b.s1 * b.s1 / b.n) / b.n > 0
      AND abs((p.v - b.s1 / b.n)
              / sqrt((b.s2 - b.s1 * b.s1 / b.n) / b.n)) > 2
    """,
)
def stream_zscore_replay(spark, sf_dir):
    """STREAMING anomaly detection oracle-gated: zscore_stream's
    previous-window baseline (per-key (n, Σv, Σv²) state pair, O(1)
    however fast the stream) replayed over four strictly time-ordered
    micro-batches. Values are centi-snapped to INTEGER-VALUED doubles
    before streaming, so the state's float accumulations are exact in
    any arrival order and every emitted z hash-matches the batch SQL —
    an approximate-looking operator made bit-deterministic by input
    snapping. The baseline join is on window index w-1 LITERALLY (an
    empty previous window scores nothing), exactly the stream's
    cold-start/gap semantics."""
    from uts_spark.streaming.ops import zscore_stream

    ev = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("series"),
        "ts_ms",
        F.round(F.col("value") * 100).alias("value"),
        "event_id",
    )
    chunk = _ordered_chunker(
        ev, ("ts_ms", "event_id"), ("series", "ts_ms", "value", "event_id")
    )

    def build(stream):
        out = zscore_stream(
            stream, window_ms=_ZW, key_col="series", time_col="ts_ms",
            min_points=5, threshold=2.0,
        )
        return out, "append"

    return _replay(
        spark, chunk(0), build,
        extra_feeds=[chunk(1), chunk(2), chunk(3)],
        ordered=True,
    )


@query(
    "stream_simhash_neardup_replay",
    """
    WITH t AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM t
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM h GROUP BY doc_id
    ),
    sk AS (SELECT doc_id AS id, {acc} AS simhash FROM votes),
    sl AS (
      SELECT id, simhash, b.band,
             (simhash >> (b.band * 12)) & 4095 AS slice
      FROM sk, (SELECT unnest(range(0, 4)) AS band) b
    ),
    m AS (
      SELECT b.id AS doc_id,
             MIN(bit_count(xor(a.simhash, b.simhash))) AS best_hamming
      FROM sl a
      JOIN sl b ON a.band = b.band AND a.slice = b.slice AND a.id < b.id
      GROUP BY b.id
    )
    SELECT doc_id, CAST(best_hamming AS BIGINT) AS best_hamming,
           best_hamming <= 6 AS is_neardup
    FROM m
    """.format(
        votes=", ".join(
            f"SUM(((h >> {j}) & 1) * 2 - 1) AS v{j}" for j in range(48)
        ),
        acc=" + ".join(
            f"((CASE WHEN v{j} > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)"
            f" END) << {j})"
            for j in range(48)
        ),
    ),
)
def stream_simhash_neardup_replay(spark, sf_dir):
    """STREAMING near-dup prefilter oracle-gated: per-bucket SimHash
    state (streaming/ops.simhash_neardup_stream) replayed over four
    doc_id-ordered micro-batches — each document's minimum hamming
    against EARLIER band-bucket-mates, minimized across bands after
    capture, must hash-match the batch banded-LSH self-join restricted
    to a.id < b.id. The sketches are computed as stateless Column
    expressions upstream (the production shape: only the bucket match is
    stateful); 'earlier' is arrival order = doc_id order, exactly the
    oracle's inequality."""
    from uts_spark.functions.dedup import simhash
    from uts_spark.streaming.ops import simhash_neardup_stream

    docs = table(spark, sf_dir, "documents")
    sk = simhash(docs, "text", "doc_id").select(
        F.col("id").alias("doc_id"), "simhash"
    )
    chunk = _ordered_chunker(sk, ("doc_id",), ("doc_id", "simhash"))

    def build(stream):
        out = simhash_neardup_stream(stream, bands=4, bits=48)
        return out, "append"

    got = _replay(
        spark, chunk(0), build,
        extra_feeds=[chunk(1), chunk(2), chunk(3)],
        ordered=True,
    )
    return (
        got.groupBy("doc_id")
        .agg(F.min("hamming").alias("best_hamming"))
        .select(
            "doc_id", "best_hamming",
            (F.col("best_hamming") <= 6).alias("is_neardup"),
        )
    )


# ===========================================================================
# Streaming multimodal: real PNG decode over micro-batched blobs
# ===========================================================================

@query(
    "stream_png_decode_replay",
    """
    WITH d AS (
      SELECT doc_id,
             8 + (doc_id * 7) % 25 AS w,
             8 + (doc_id * 11) % 25 AS h,
             (doc_id % 5) + 1 AS a,
             (doc_id % 7) + 1 AS b,
             doc_id % 256 AS c0
      FROM documents
    ),
    px AS (
      SELECT d.doc_id, d.w, d.h,
             SUM((x.x * d.a + y.y * d.b + d.c0) % 256)      AS sum_r,
             SUM((x.x * d.a + y.y * d.b + d.c0 + 37) % 256) AS sum_g,
             SUM((x.x * d.a + y.y * d.b + d.c0 + 74) % 256) AS sum_b
      FROM d, UNNEST(range(0, d.w)) AS x(x), UNNEST(range(0, d.h)) AS y(y)
      GROUP BY d.doc_id, d.w, d.h
    )
    SELECT doc_id, w AS width, h AS height, CAST(3 AS BIGINT) AS channels,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum_r AS BIGINT) AS sum_r,
           CAST(sum_g AS BIGINT) AS sum_g,
           CAST(sum_b AS BIGINT) AS sum_b
    FROM px
    """,
)
def stream_png_decode_replay(spark, sf_dir):
    """STREAMING multimodal decode: the document corpus's real PNG blobs
    arrive as 4 parquet micro-batches and each batch is inflated +
    unfiltered in-stream (stateless Arrow ``mapInPandas`` on the
    streaming DataFrame — the ingest-QC shape: blobs land, stats flow,
    bytes never leave the executor or the batch). Append mode, no state,
    no watermark — decode is embarrassingly per-row, so the streaming
    plan is the batch plan fed incrementally; the oracle is the same
    arithmetic recomputation the batch `multimodal_png_decode` uses.

    Also the regression proving mapInPandas composes with Structured
    Streaming sources in this engine (schemas, Arrow batching, binary
    columns through the file source's parquet round-trip)."""
    from uts_spark.functions.multimodal import attach_synth_png, png_decode_stats

    docs = table(spark, sf_dir, "documents")
    blobs = attach_synth_png(docs)

    def build(stream):
        return png_decode_stats(stream).select(
            "doc_id", "width", "height", "channels", "n_pixels",
            "sum_r", "sum_g", "sum_b",
        ), "append"

    return _replay(spark, blobs, build)


@query(
    "stream_jpeg_decode_replay",
    """
    WITH d AS (
      SELECT doc_id,
             2 + (doc_id * 7) % 4 AS bw,
             2 + (doc_id * 11) % 4 AS bh,
             (doc_id % 5) + 1 AS a,
             (doc_id % 7) + 1 AS b,
             doc_id % 96 AS c
      FROM documents
    ),
    blk AS (
      SELECT d.doc_id, d.bw, d.bh,
             128 + 2 * (((bx.bx * d.a + by.by * d.b + d.c) % 96) - 48) AS v
      FROM d, UNNEST(range(0, d.bw)) AS bx(bx), UNNEST(range(0, d.bh)) AS by(by)
    )
    SELECT doc_id, bw * 8 AS width, bh * 8 AS height,
           CAST(bw * bh * 64 AS BIGINT) AS n_pixels,
           CAST(SUM(64 * v) AS BIGINT) AS sum_px,
           CAST(SUM(64 * v * v) AS BIGINT) AS sum_sq,
           CAST(MIN(v) AS BIGINT) AS min_px,
           CAST(MAX(v) AS BIGINT) AS max_px
    FROM blk GROUP BY doc_id, bw, bh
    """,
)
def stream_jpeg_decode_replay(spark, sf_dir):
    """STREAMING JPEG decode: real baseline-JPEG blobs arrive as 4
    parquet micro-batches; each batch runs the FULL entropy-decode +
    IDCT pipeline in-stream (stateless Arrow ``mapInPandas``), emitting
    per-image pixel stats that hash-match the batch lane's arithmetic
    oracle. The streaming twin of `multimodal_jpeg_decode`, same
    contract as the PNG replay: blobs never leave the executor or the
    micro-batch, append mode, no state."""
    from uts_spark.functions.multimodal import attach_synth_jpeg, jpeg_decode_stats

    docs = table(spark, sf_dir, "documents")
    blobs = attach_synth_jpeg(docs)

    def build(stream):
        return jpeg_decode_stats(stream).select(
            "doc_id", "width", "height", "n_pixels",
            "sum_px", "sum_sq", "min_px", "max_px",
        ), "append"

    return _replay(spark, blobs, build)


@query(
    "stream_hopping_agg_replay",
    f"""
    WITH pts AS (SELECT {MS} AS t, value FROM events),
    fan AS (
      SELECT (({FDIV("t", DAY)}) - o.o) * {DAY} AS start, value
      FROM pts, (SELECT unnest(range(0, 2)) AS o) o
    )
    SELECT start, CAST({2 * DAY} AS BIGINT) AS width,
           COALESCE({DSUM('value')}/COUNT(value), 0.0) AS mean_value,
           COUNT(*) AS n
    FROM fan GROUP BY start
    """,
)
def stream_hopping_agg_replay(spark, sf_dir):
    """HOPPING (sliding) windows on a stream, oracle-gated: 2-day
    windows every 1 day — each event fans out into exactly two
    overlapping windows INSIDE the streaming hash aggregation (Spark's
    window expression, no self-join), append mode finalizing each
    window as the watermark clears its end. The oracle replays the
    fan-out arithmetically (each point joins windows starting at its
    day and the day before). Completes the streaming window-shape set:
    tumbling (stream_tumbling_agg_replay), session
    (stream_session_replay), exact now-anchored uts bins
    (stream_uts_interval_*), and now hopping."""
    ev = table(spark, sf_dir, "events").select("ts", "value")
    max_ms = ev.agg(F.max(F.unix_millis("ts"))).first()[0]
    sentinels = [
        spark.createDataFrame(
            [(s,)], "ms long"
        ).select(
            F.timestamp_millis(F.col("ms")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
        for s in (max_ms + 100 * DAY, max_ms + 101 * DAY)
    ]

    def build(stream):
        out = tumbling_agg_stream(
            stream, _METRICS, interval_ms=2 * DAY, time_col="ts",
            watermark="60 days", slide_ms=DAY,
        )
        return out, "append"

    got = _replay(spark, ev, build, extra_feeds=sentinels)
    return got.filter(F.col("start") <= F.lit(max_ms)).select(
        "start", F.col("width").cast("long").alias("width"), "mean_value", "n"
    )


# --- Watermark-lateness matrix (VERDICT r5 #8) -------------------------------
#
# Every replay above feeds in-order chunks under a 60-day watermark, so
# nothing is ever LATE — the one watermark behavior left unproven. This
# replay runs a TIGHT 2-day watermark and delivers controlled late rows:
#
#   feed 0  all events except two withheld rows, as ONE file (one
#           micro-batch: the watermark is 0 while it processes, then
#           advances to max_ts - 2d for every later batch);
#   feed 1  L1, a withheld LAST-DAY event  -> late but INSIDE the
#           watermark: its day window / session is still open, so it
#           must be merged;
#   feed 2  L2, a withheld FIRST-DAY event -> late BEYOND the
#           watermark: window end <= watermark, silently dropped by
#           the aggregation families;
#   feeds 3-4  far-future sentinels finalizing all state.
#
# Three operator families run the same feed script, each asserting its
# own contract (verified empirically before registration):
#   tumbling    L1 counted, L2 dropped;
#   session     L1 merged into its still-open session, L2 dropped;
#   dedup       dropDuplicatesWithinWatermark applies the SAME
#               event-time late filter (measured on this Spark build —
#               a unique row fed beyond the watermark is dropped, not
#               emitted), a duplicate re-fed INSIDE the watermark is
#               suppressed by live state (D_in fed twice, appears
#               once), and a duplicate re-fed beyond it is dropped by
#               the late filter before state is even consulted (D_out).
#
# The oracle recomputes each family over exactly the row multiset the
# stream semantics admit (everything except L2; for dedup also minus
# the suppressed/dropped duplicate copies) — hash-exact, so the
# inclusion/drop verdicts are pinned by value, not by eyeball.

_LATE_WM_DAYS = 2
_LATE_GAP_MS = 1_800_000

_LATE_ORACLE = f"""
WITH e AS (SELECT event_id, user_id, {MS} AS ms, value FROM events),
b AS (SELECT MAX(ms) AS maxms, MIN(ms) AS minms FROM e),
sel AS (
  SELECT
    (SELECT MIN(event_id) FROM e, b
      WHERE ms < ({FDIV('minms', DAY)}) * {DAY} + {DAY}) AS l2
),
t AS (
  SELECT 'tumbling' AS family, ({FDIV('ms', DAY)}) * {DAY} AS k1,
         CAST(0 AS BIGINT) AS k2, COUNT(*) AS n, {DSUM('value')} AS sum_v
  FROM e, sel WHERE event_id != sel.l2 GROUP BY 2
),
se AS (SELECT user_id, ms, value FROM e, sel WHERE event_id != sel.l2),
sm AS (
  SELECT user_id, ms, value,
         CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
                OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
                   >= {_LATE_GAP_MS}
              THEN 1 ELSE 0 END AS new_s
  FROM se),
ss AS (
  SELECT user_id, ms, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM sm),
sg AS (
  SELECT 'session' AS family, user_id AS k1, MIN(ms) AS k2,
         COUNT(*) AS n, {DSUM('value')} AS sum_v
  FROM ss GROUP BY user_id, sid
),
dd AS (
  SELECT 'dedup' AS family, CAST(0 AS BIGINT) AS k1, CAST(0 AS BIGINT) AS k2,
         COUNT(*) AS n, {DSUM('value')} AS sum_v
  FROM e, sel WHERE e.event_id != sel.l2
)
SELECT * FROM t UNION ALL SELECT * FROM sg UNION ALL SELECT * FROM dd
"""


@query("stream_late_data_replay", _LATE_ORACLE)
def stream_late_data_replay(spark, sf_dir):
    """Watermark-lateness matrix (module comment above): tumbling,
    session and dedup replayed under a 2-day watermark with one late
    row inside it, one beyond it, and dedup re-fed duplicates on both
    sides of its state-expiry horizon — all verdicts hash-pinned by the
    recomputing oracle."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "ts_ms", "value"
    )
    b = ev.agg(
        F.max("ts_ms").alias("maxms"), F.min("ts_ms").alias("minms")
    ).first()
    maxms, minms = b["maxms"], b["minms"]
    assert maxms - minms > 4 * DAY, "lateness matrix needs a multi-day span"
    last_day = maxms // DAY * DAY
    first_end = minms // DAY * DAY + DAY
    l1 = ev.filter(F.col("ts_ms") >= last_day).agg(
        F.max("event_id")
    ).first()[0]
    l2 = ev.filter(F.col("ts_ms") < first_end).agg(
        F.min("event_id")
    ).first()[0]
    d_in = ev.filter(
        (F.col("ts_ms") >= last_day) & (F.col("event_id") != l1)
    ).agg(F.min("event_id")).first()[0]
    d_out = ev.filter(
        (F.col("ts_ms") < first_end) & (F.col("event_id") != l2)
    ).agg(F.min("event_id")).first()[0]

    main = ev.filter(~F.col("event_id").isin([l1, l2]))
    row = lambda eid: ev.filter(F.col("event_id") == eid)  # noqa: E731

    def sentinel(ms):
        return spark.createDataFrame(
            [(-1, -1, ms, 0.0)], "event_id long, user_id long, ms long, value double"
        ).select(
            "event_id", "user_id",
            F.timestamp_millis(F.col("ms")).alias("ts"),
            F.col("ms").alias("ts_ms"), "value",
        )

    sents = [sentinel(maxms + 100 * DAY), sentinel(maxms + 101 * DAY)]
    wm = f"{_LATE_WM_DAYS} days"

    def build_tumbling(stream):
        out = (
            stream.withWatermark("ts", wm)
            .groupBy(F.window("ts", "1 day").alias("__w"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(38,6)"))
                .cast("double")
                .alias("sum_v"),
            )
        )
        return (
            out.select(
                F.unix_millis(F.col("__w.start")).alias("k1"), "n", "sum_v"
            ),
            "append",
        )

    def build_session(stream):
        out = (
            stream.withWatermark("ts", wm)
            .groupBy(
                F.session_window("ts", "30 minutes").alias("__w"), "user_id"
            )
            .agg(
                F.min("ts_ms").alias("k2"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(38,6)"))
                .cast("double")
                .alias("sum_v"),
            )
        )
        return out.select("user_id", "k2", "n", "sum_v"), "append"

    def build_dedup(stream):
        return (
            stream.withWatermark("ts", wm)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "value"),
            "append",
        )

    tum = _replay(
        spark, main, build_tumbling,
        extra_feeds=[row(l1), row(l2)] + sents, ordered=True,
    ).filter(F.col("k1") <= F.lit(maxms)).select(
        F.lit("tumbling").alias("family"),
        "k1", F.lit(0).cast("long").alias("k2"), "n", "sum_v",
    )
    ses = _replay(
        spark, main, build_session,
        extra_feeds=[row(l1), row(l2)] + sents, ordered=True,
    ).filter(F.col("user_id") >= 0).select(
        F.lit("session").alias("family"),
        F.col("user_id").alias("k1"), "k2", "n", "sum_v",
    )
    ded_rows = _replay(
        spark, main, build_dedup,
        extra_feeds=[row(l1).unionByName(row(d_in)),
                     row(l2).unionByName(row(d_out))] + sents,
        ordered=True,
    ).filter(F.col("event_id") >= 0)  # sentinel keys are unique too
    ded = ded_rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_v"),
    ).select(
        F.lit("dedup").alias("family"),
        F.lit(0).cast("long").alias("k1"),
        F.lit(0).cast("long").alias("k2"),
        "n", "sum_v",
    )
    return tum.unionByName(ses).unionByName(ded)


def _register_stream_bpe():
    # the oracle is text_bpe_apply_pretrained's, verbatim: a stateless
    # per-doc transform streamed in micro-batches is semantics-preserving
    # (same precedent as the persisted-index probes reusing recompute
    # oracles). Imported as the module constant, not via registry.ORACLES:
    # queries/__init__ may load this module before sketch_ops registers.
    from uts_spark.queries.sketch_ops import _BPE_PRE_ORACLE

    @query("stream_bpe_tokens_replay", _BPE_PRE_ORACLE)
    def stream_bpe_tokens_replay(spark, sf_dir):
        """STREAMING tokenization under the 1024-merge pretrained BPE
        table: documents arrive as 4 parquet micro-batches and each
        batch tokenizes in-stream (stateless Arrow mapInPandas — the
        ingest-side shape of a training-data pipeline, where token
        counts and budget accounting flow with the crawl instead of in
        a nightly batch). Within each Arrow batch the distinct-word
        memoization still applies (tokenize each word once per batch);
        across batches the transform is embarrassingly per-doc, so
        append mode needs no state and no watermark, and the output
        hash-matches the batch lane's oracle exactly."""
        import re

        from uts_spark.functions.bpe_pretrained import (
            pretrained_merges,
            pretrained_vocab_ids,
        )

        ranks = {p: r for r, p in enumerate(pretrained_merges())}
        ids = pretrained_vocab_ids()
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")

        def tok_batches(batches):
            import pandas as pd

            from uts_spark.functions.bpe_pretrained import (
                bpe_apply_lowest_rank,
            )

            memo = {}

            def word_stats(w):
                if w not in memo:
                    toks = bpe_apply_lowest_rank(w, ranks)
                    memo[w] = (len(toks), sum(ids[t] for t in toks))
                return memo[w]

            for pdf in batches:
                out = []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    # NULL text: skip (ADVICE r6 — str(None) would
                    # tokenize the word "none"; the batch lane and the
                    # oracle both drop it via regexp_extract_all(NULL))
                    if text is None or text != text:
                        continue
                    words = re.findall(r"[a-z]+", str(text).lower())
                    n_tokens = 0
                    checksum = 0
                    for pos, w in enumerate(words, start=1):
                        n_tok, idsum = word_stats(w)
                        n_tokens += n_tok
                        checksum += pos * idsum
                    out.append((int(doc_id), len(words), n_tokens, checksum))
                yield pd.DataFrame(
                    out,
                    columns=["doc_id", "n_words", "n_tokens", "tok_checksum"],
                )

        def build(stream):
            return stream.mapInPandas(
                tok_batches,
                "doc_id long, n_words long, n_tokens long, tok_checksum long",
            ), "append"

        return _replay(spark, docs, build)

    return stream_bpe_tokens_replay


stream_bpe_tokens_replay = _register_stream_bpe()


def _register_stream_bpe_bytes():
    # oracle = the batch byte lane's SQL imported DIRECTLY (same module
    # load-order caveat as _BPE_PRE_ORACLE: registry.ORACLES is not yet
    # populated across query modules at import time)
    from uts_spark.queries.sketch_ops import _BPE_BYTES_ORACLE, _MIXED_SQL

    @query("stream_bpe_bytes_replay", _BPE_BYTES_ORACLE)
    def stream_bpe_bytes_replay(spark, sf_dir):
        """Streaming BYTE-level tokenization: the round-7 production
        tokenizer (GPT-2-style pre-tokenization + 512 byte merges) as
        docs arrive, per micro-batch, hash-matching the batch lane's
        oracle exactly. The mixed-text derivation runs as JVM
        expressions ON THE STREAM (same _MIXED_SQL as batch); the
        Python kernel pre-tokenizes with functions/bpe_pretrained
        .pretokenize — a handwritten scanner mirroring the \\p{{L}}
        regex, because stdlib re has no Unicode category classes
        (parity pinned vs RE2 and vs the Spark regex in
        tests/test_corpus_ops.py) — and applies the byte merges per
        DISTINCT pre-token per batch (memoized). Embarrassingly
        per-doc: append mode, no state, no watermark."""
        from uts_spark.functions.bpe_pretrained import (
            pretrained_byte_merges,
            pretrained_byte_vocab_ids,
        )

        ranks = {p: r for r, p in enumerate(pretrained_byte_merges())}
        ids = pretrained_byte_vocab_ids()
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")

        def tok_batches(batches):
            import pandas as pd

            from uts_spark.functions.bpe_pretrained import (
                bpe_apply_bytes,
                pretokenize,
            )

            memo = {}

            def pt_stats(pt):
                if pt not in memo:
                    toks = bpe_apply_bytes(pt, ranks)
                    memo[pt] = (len(toks), sum(ids[t] for t in toks))
                return memo[pt]

            for pdf in batches:
                out = []
                for doc_id, mt in zip(pdf["doc_id"], pdf["mt"]):
                    # NULL text: the batch lane and oracle drop it
                    if mt is None or mt != mt:
                        continue
                    pts = pretokenize(mt)
                    n_tokens = 0
                    checksum = 0
                    for pos, pt in enumerate(pts, start=1):
                        n_tok, idsum = pt_stats(pt)
                        n_tokens += n_tok
                        checksum += pos * idsum
                    out.append((
                        int(doc_id), len(pts), n_tokens,
                        len(mt.encode("utf-8")), checksum,
                    ))
                yield pd.DataFrame(
                    out,
                    columns=[
                        "doc_id", "n_pretokens", "n_tokens",
                        "n_bytes", "tok_checksum",
                    ],
                )

        def build(stream):
            mixed = stream.selectExpr(
                "doc_id", f"{_MIXED_SQL.format(styp='STRING')} AS mt"
            )
            return mixed.mapInPandas(
                tok_batches,
                "doc_id long, n_pretokens long, n_tokens long, "
                "n_bytes long, tok_checksum long",
            ), "append"

        return _replay(spark, docs, build)

    return stream_bpe_bytes_replay


stream_bpe_bytes_replay = _register_stream_bpe_bytes()


def _register_stream_quality_model():
    # oracle = the batch model-score query's SQL, imported directly
    from uts_spark.queries.llm_ops import _QM_W
    from uts_spark.registry import ORACLES

    @query("stream_quality_model_replay", ORACLES["text_quality_model_score"])
    def stream_quality_model_replay(spark, sf_dir):
        """Model-gate filtering AS DOCS ARRIVE: the frozen logistic
        quality classifier applied per micro-batch. The entire model is
        map-only JVM Column expressions (integer-snapped features +
        exact-integer logit — text_quality_model_score), so the batch
        feature builder runs UNCHANGED on the stream: zero Python, zero
        state, zero watermark, and the output hash-matches the batch
        oracle verbatim. This is the crawl-side shape: score and gate
        documents inside the ingest stream, and only the survivors ever
        reach the (expensive) dedup/tokenize stages downstream."""
        from uts_spark.queries.llm_ops import _quality_model_features

        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        w = _QM_W

        def build(stream):
            feats = _quality_model_features(stream)
            logit = (
                F.lit(w["w0"])
                + F.lit(w["x_len"]) * F.col("x_len")
                + F.lit(w["x_stop"]) * F.col("x_stop")
                + F.lit(w["x_mwl"]) * F.col("x_mwl")
                + F.lit(w["x_ttr"]) * F.col("x_ttr")
                + F.lit(w["x_rep"]) * F.col("x_rep")
            ).cast("long")
            out = feats.select(
                "doc_id", "x_len", "x_stop", "x_mwl", "x_ttr", "x_rep",
                logit.alias("quality_logit"),
                (logit >= 0).alias("model_pass"),
            )
            return out, "append"

        return _replay(spark, docs, build)

    return stream_quality_model_replay


stream_quality_model_replay = _register_stream_quality_model()


def _register_stream_dedup_ingest():
    # the post-ingest index covers exactly what the batch APPEND lane's
    # does, so its oracle is reused verbatim (llm_ops loads first, so
    # registry.ORACLES already holds it at this module's import time)
    from uts_spark.registry import ORACLES

    @query(
        "stream_dedup_index_ingest_replay",
        ORACLES["dedup_minhash_index_append_probe"],
    )
    def stream_dedup_index_ingest_replay(spark, sf_dir):
        """The dedup service's INGEST LOOP as Structured Streaming:
        batch-1 docs arrive as 4 micro-batches, and foreachBatch folds
        each one into the snapshot band index via
        functions/vindex.minhash_vindex_append(batch_id=bid) —
        batch-sized sketching per tick, one delta dir and an O(1)
        manifest commit whose batch key makes the tick exactly-once
        (a batch replayed after a mid-epoch crash finds its key
        committed and skips; checkpoint-restart pin in
        tests/test_streaming.py). After the stream drains, a
        manifest-only SEAL advances the fingerprint and batch-2 probes
        the updated index. The final index row multiset is independent
        of the micro-batch boundaries (each append sketches only its
        rows), so the probe hash-matches the BATCH append lane's oracle
        exactly. A run killed mid-stream leaves the ingest fingerprint,
        so the next invocation rebuilds instead of serving a
        half-folded index; a finished run skips straight to the
        probe."""
        from uts_spark.functions.vindex import (
            minhash_vindex_append,
            minhash_vindex_build,
            minhash_vindex_probe,
            vindex_seal,
        )
        from uts_spark.queries.llm_ops import (
            _MIDX_BANDS,
            _MIDX_K,
            _MIDX_MOD,
            _MIDX_N,
            _MIDX_REM2,
            _MIDX_THR,
            _frame_fingerprint,
            _midx_batches,
            _vidx_chain,
            minhash_index_path,
        )

        docs, base, b1, b2 = _midx_batches(spark, sf_dir)
        old = docs.filter(F.col("doc_id") % _MIDX_MOD != _MIDX_REM2)
        fp0, fp1 = _frame_fingerprint(base), _frame_fingerprint(old)
        cfg = dict(n=_MIDX_N, k=_MIDX_K, bands=_MIDX_BANDS)
        path = minhash_index_path(sf_dir, fp0, **cfg) + "_stream"

        def ingest(fp):
            fp_ing = fp0 + ":ingesting"
            scratch = tempfile.mkdtemp(prefix="uts_ingest_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                b1.select("doc_id", "text").repartition(4).write.parquet(src)
                stream = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                q = (
                    stream.writeStream.foreachBatch(
                        lambda bdf, bid: minhash_vindex_append(
                            bdf, "text", "doc_id", path,
                            fingerprint=fp_ing, batch_id=bid, **cfg,
                        )
                    )
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            vindex_seal(path, fp)

        _vidx_chain(path, [
            (fp0, lambda f: minhash_vindex_build(
                base, "text", "doc_id", path, fingerprint=f, **cfg
            )),
            (fp1, ingest),
        ])
        return minhash_vindex_probe(
            spark, path, b2, old, "text", "doc_id",
            threshold=_MIDX_THR, **cfg,
        )

    return stream_dedup_index_ingest_replay


stream_dedup_index_ingest_replay = _register_stream_dedup_ingest()


def _register_stream_langid_route():
    # oracle = the batch unicode router's SQL (unicode_ops loads after
    # this module, so resolve it lazily inside a local import)
    from uts_spark.queries.unicode_ops import _duck_ulang_case

    @query("stream_langid_route_replay", _duck_ulang_case())
    def stream_langid_route_replay(spark, sf_dir):
        """Language ROUTING as docs arrive: the script-gated unicode
        cascade (text_lang_id_unicode) applied per micro-batch — the
        crawl-front shape where each document is tagged with its route
        before any language-specific stage (tokenizer choice, lexicon
        packs, per-language shards) sees it. The whole cascade is
        map-only JVM Column expressions (regex class counts + unicode
        token lexicon argmax), so the batch plan runs UNCHANGED on the
        stream: zero Python, zero state, zero watermark; the replay
        hash-matches the batch oracle verbatim."""
        from uts_spark.functions.text import ulang_id
        from uts_spark.queries.unicode_ops import _ucorpus

        docs = table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang"
        )

        def build(stream):
            c = _ucorpus(stream)
            out = c.select(
                "doc_id",
                F.col("ulabel").alias("label_lang"),
                ulang_id("utext").alias("pred_lang"),
            )
            return out, "append"

        return _replay(spark, docs, build)

    return stream_langid_route_replay


stream_langid_route_replay = _register_stream_langid_route()




def _drift_recluster_oracle() -> str:
    """Oracle of the CLOSED drift-control loop lanes (VERDICT r8 #3):
    round 8 shipped the fit monitor and the recluster verb as separate
    lanes — a real service needs the loop wired into the ingest
    itself (_stream_ann_drift)."""
    from uts_spark.functions.hashing import duck_hash64
    from uts_spark.queries.llm_ops import (
        _DRIFT_ANCHOR_PRED,
        _DRIFT_ID0,
        _IVF_APP_MOD,
        _IVF_APP_REM,
        _duck_cosine,
    )

    # DERIVED CLUSTERED corpus (fixture honesty, measured in SCALE.md
    # round 9: the synthetic embeddings table is diffuse — its corpus
    # fit sits AT the random-direction level (~0.19), so no exact
    # shift/rotation of a batch can push fit below 0.82x reference at
    # both gate SFs; a quantizer-fit monitor is only meaningful over
    # data with cluster structure, which is also the regime real
    # embedding corpora live in). Construction, exact at every SF:
    # vector = 8.0 at its cluster's component + dyadic 1/16-grid
    # jitter everywhere, ids from the embeddings table. Base clusters
    # live on components 0..7; the rem-7 batch re-keys above
    # _DRIFT_ID0 and splits by vec_id % 20 (% 10 parity is degenerate
    # — every rem-7 id is odd): the % 20 == 7 half joins the BASE
    # clusters (micro-batch 1 — fit ratio ~1.0, must NOT flag), the
    # % 20 == 17 half clusters on components 56..63, orthogonal to
    # every frozen centroid (micro-batch 2 — fit ratio ~0.07, must
    # flag at the measured 0.82).
    def _dvec_sql(id_expr: str, center: str) -> str:
        return (
            f"list_transform(range(0, 64), j -> "
            f"CAST((({id_expr}) * 31 + j * 7) % 16 - 8 AS DOUBLE) / 16.0"
            f" + CASE WHEN j = ({center}) THEN 8.0 ELSE 0.0 END)"
        )

    corpus_sql = f"""
      SELECT vec_id, {_dvec_sql('vec_id', 'vec_id % 8')} AS embedding
      FROM embeddings WHERE vec_id % {_IVF_APP_MOD} != {_IVF_APP_REM}
      UNION ALL
      SELECT vec_id + {_DRIFT_ID0},
             {_dvec_sql(
                 f'vec_id + {_DRIFT_ID0}',
                 f'CASE WHEN vec_id % 20 = 17 THEN'
                 f' 56 + (vec_id + {_DRIFT_ID0}) % 8'
                 f' ELSE (vec_id + {_DRIFT_ID0}) % 8 END',
             )}
      FROM embeddings WHERE vec_id % {_IVF_APP_MOD} = {_IVF_APP_REM}
    """
    # final index == FRESH rebuild over the full corpus (the recluster
    # fired on the last batch): the det-IVF probe with centroids from
    # the FULL corpus is the exact recompute
    oracle = f"""
    WITH corpus AS ({corpus_sql}),
    hc AS (
      SELECT vec_id, embedding,
             {duck_hash64("concat('ivfc:', vec_id)")} AS h
      FROM corpus
    ),
    cents AS (
      SELECT vec_id AS cent_id, embedding AS cv
      FROM hc ORDER BY h, vec_id LIMIT 8
    ),
    sim AS MATERIALIZED (
      SELECT c0.vec_id, c.cent_id,
             {_duck_cosine('c0.embedding', 'c.cv')} AS s
      FROM corpus c0, cents c
    ),
    assigned AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cent_id) AS r
        FROM sim) WHERE r = 1
    ),
    probes AS (
      SELECT vec_id AS anchor_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cent_id) AS r
        FROM sim WHERE {_DRIFT_ANCHOR_PRED}) WHERE r <= 3
    ),
    cand AS (
      SELECT DISTINCT p.anchor_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a ON a.cell = p.cell
      WHERE a.vec_id != p.anchor_id
    ),
    scored AS (
      SELECT c.anchor_id, c.neighbor_id,
             {_duck_cosine('ea.embedding', 'eb.embedding')} AS cosine
      FROM cand c
      JOIN corpus ea ON ea.vec_id = c.anchor_id
      JOIN corpus eb ON eb.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT anchor_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """

    return oracle


# Measured skew-loop fixture constants (SCALE.md round 9b) — shared by
# the two direct-verb lanes and the facade-routed lane below, so every
# route answers the SAME derived corpus and the oracle is reused
# verbatim.
_SKEW_BOILER = (
    "breaking news subscribe to our newsletter terms of service "
    "apply all rights reserved"
)
_SKEW_CAP = 16
_SKEW_CLONE_OFF, _SKEW_BOIL_OFF = 10_000_000, 20_000_000
_SKEW_CLONE_MOD = 22  # clone-probe sources: doc_id % 22 == 0
_SKEW_BOIL_REM, _SKEW_NORM_REM, _SKEW_PROBE_REM = 7, 3, 5


def _skew_fixture(spark, sf_dir):
    """(base, b1, boiler, old, new) frames of the measured skew-loop
    fixture: organic base + one organic batch + one boilerplate flood,
    probed by clones and re-keyed flood copies."""
    from uts_spark.queries.llm_ops import _MIDX_MOD

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(
        ~F.col("doc_id").__mod__(_MIDX_MOD).isin(
            _SKEW_NORM_REM, _SKEW_BOIL_REM, _SKEW_PROBE_REM
        )
    )
    b1 = docs.filter(F.col("doc_id") % _MIDX_MOD == _SKEW_NORM_REM)
    boiler = docs.filter(
        F.col("doc_id") % _MIDX_MOD == _SKEW_BOIL_REM
    ).select("doc_id", F.lit(_SKEW_BOILER).alias("text"))
    old = base.unionByName(b1).unionByName(boiler)
    new = (
        docs.filter(F.col("doc_id") % _MIDX_MOD == _SKEW_PROBE_REM)
        .unionByName(
            docs.filter(F.col("doc_id") % _SKEW_CLONE_MOD == 0).select(
                (F.col("doc_id") + F.lit(_SKEW_CLONE_OFF)).alias("doc_id"),
                "text",
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % _MIDX_MOD == _SKEW_PROBE_REM).select(
                (F.col("doc_id") + F.lit(_SKEW_BOIL_OFF)).alias("doc_id"),
                F.lit(_SKEW_BOILER).alias("text"),
            )
        )
    )
    return base, b1, boiler, old, new


def _register_stream_dedup_skew_cap():
    """The dedup ingest's drift control loop CLOSED (round-10 candidate
    #3 — the MinHash sibling of the ANN drift lane above): the band
    index has no quantizer, but it has the analogous failure mode — a
    boilerplate/template FLOOD collapses into mega-buckets and every
    future probe's candidate set grows with them. The monitor is the
    batch's bucket-collision rate vs the build-time organic rate; the
    corrective verb quarantines buckets above a size cap (the standard
    production LSH-dedup mitigation). Thresholds are MEASURED, not
    guessed (SCALE.md round 9b): healthy batches sit at 0.63-0.94x the
    reference rate across all three SFs, floods at 475-5892x; organic
    buckets top out at 2-3 rows, flood buckets start at 45 — SKEW 8x
    and CAP 16 split both gaps by an order of magnitude."""
    from uts_spark.functions.dedup import MINHASH_P as P, _family_constants
    from uts_spark.functions.text import duck_tokens, duck_word_ngrams
    from uts_spark.queries.llm_ops import (
        _MIDX_BANDS,
        _MIDX_K,
        _MIDX_MOD,
        _MIDX_N,
        _MIDX_THR,
    )

    BOILER = _SKEW_BOILER
    CAP = _SKEW_CAP
    CLONE_OFF, BOIL_OFF = _SKEW_CLONE_OFF, _SKEW_BOIL_OFF
    CLONE_MOD = _SKEW_CLONE_MOD
    BOIL_REM, NORM_REM, PROBE_REM = (
        _SKEW_BOIL_REM, _SKEW_NORM_REM, _SKEW_PROBE_REM
    )

    k, bands, n = _MIDX_K, _MIDX_BANDS, _MIDX_N
    rpb = k // bands
    consts = _family_constants(k)
    grams = duck_word_ngrams(duck_tokens("text"), n)
    mins = ", ".join(
        f"MIN(({a} * h{'A' if i % 2 == 0 else 'B'} + {b}) % {P}) AS h{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_sel = " UNION ALL ".join(
        f"SELECT id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"h{i}" for i in range(b * rpb, (b + 1) * rpb))
        + ")) AS bucket FROM sig"
        for b in range(bands)
    )
    eq = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    new_pred = f"(a.id >= {CLONE_OFF} OR a.id % {_MIDX_MOD} = {PROBE_REM})"
    old_pred = (
        f"(b.id < {CLONE_OFF} AND b.id % {_MIDX_MOD} != {PROBE_REM})"
    )
    # the cap rule in SQL: bucket sizes over INDEX membership only (the
    # state at cap time = base + normal batch + flood batch), candidates
    # admitted only through buckets at or under the cap — exactly what
    # the quarantined physical index serves
    oracle = f"""
    WITH corpus AS (
      SELECT doc_id AS id, text FROM documents
      WHERE doc_id % {_MIDX_MOD} != {BOIL_REM}
      UNION ALL
      SELECT doc_id AS id, '{BOILER}' AS text FROM documents
      WHERE doc_id % {_MIDX_MOD} = {BOIL_REM}
      UNION ALL
      SELECT doc_id + {CLONE_OFF} AS id, text FROM documents
      WHERE doc_id % {CLONE_MOD} = 0
      UNION ALL
      SELECT doc_id + {BOIL_OFF} AS id, '{BOILER}' AS text FROM documents
      WHERE doc_id % {_MIDX_MOD} = {PROBE_REM}
    ),
    g AS (
      SELECT id, unnest(list_distinct({grams})) AS gr FROM corpus
    ),
    inv AS (
      SELECT id,
             CAST(('0x' || substr(md5(gr), 1, 15)) AS BIGINT) AS hfull,
             CAST(('0x' || substr(md5(gr), 1, 15)) AS BIGINT) % {P} AS hA,
             CAST(('0x' || substr(md5(gr), 17, 15)) AS BIGINT) % {P} AS hB
      FROM g
    ),
    sizes AS (SELECT id, COUNT(*) AS ns FROM inv GROUP BY id),
    sig AS (SELECT id, {mins} FROM inv GROUP BY id),
    bk AS ({band_sel}),
    bsz AS (
      SELECT band, bucket, COUNT(*) AS c FROM bk
      WHERE id < {CLONE_OFF} AND id % {_MIDX_MOD} != {PROBE_REM}
      GROUP BY band, bucket
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_new, b.id AS id_old
      FROM bk a
      JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
      JOIN bsz z ON z.band = a.band AND z.bucket = a.bucket
      WHERE {new_pred} AND {old_pred} AND z.c <= {CAP}
    ),
    shared AS (
      SELECT c.id_new, c.id_old, COUNT(*) AS sh
      FROM cand c
      JOIN inv x ON x.id = c.id_new
      JOIN inv y ON y.id = c.id_old AND y.hfull = x.hfull
      GROUP BY c.id_new, c.id_old
    )
    SELECT c.id_new, c.id_old,
           ({eq}) / {float(k)!r} AS est_jaccard,
           CAST(COALESCE(s.sh, 0) AS DOUBLE)
             / (za.ns + zb.ns - COALESCE(s.sh, 0)) AS jaccard
    FROM cand c
    JOIN sig sa ON sa.id = c.id_new
    JOIN sig sb ON sb.id = c.id_old
    JOIN sizes za ON za.id = c.id_new
    JOIN sizes zb ON zb.id = c.id_old
    LEFT JOIN shared s ON s.id_new = c.id_new AND s.id_old = c.id_old
    WHERE CAST(COALESCE(s.sh, 0) AS DOUBLE)
            / (za.ns + zb.ns - COALESCE(s.sh, 0)) >= {_MIDX_THR!r}
    """

    def _ensure_capped_chain(spark, sf_dir, suffix: str) -> str:
        """Idempotent build -> normal tick -> flood tick (flag + cap)
        -> seal chain on the snapshot band index at its own path
        (``suffix``). Lanes that read one chain share it through
        _vidx_chain's per-path lock, so the threaded plan sweep never
        runs two writers on one path; lanes on different paths never
        touch each other's state."""
        from uts_spark.functions.vindex import (
            minhash_vindex_build,
            minhash_vindex_ingest_tick,
            vindex_seal,
        )
        from uts_spark.queries.llm_ops import (
            _frame_fingerprint,
            _vidx_chain,
            minhash_index_path,
        )

        base, b1, boiler, old, _new = _skew_fixture(spark, sf_dir)
        fp0, fp1 = _frame_fingerprint(base), _frame_fingerprint(old)
        cfg = dict(n=_MIDX_N, k=_MIDX_K, bands=_MIDX_BANDS)
        path = minhash_index_path(sf_dir, fp0, **cfg) + suffix

        def ingest(fp):
            fp_ing = fp0 + ":ingesting"
            scratch = tempfile.mkdtemp(prefix="uts_skew_ingest_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                # deterministic tick order (same device as the ANN
                # drift lane): the organic batch's file exists before
                # the stream starts, the flood batch lands only after
                # epoch 0 drains — the flag decision depends on the
                # index state at measurement time
                b1.coalesce(1).write.parquet(src)
                stream = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                run_id = uuid.uuid4().hex[:8]
                q = (
                    stream.writeStream.foreachBatch(
                        lambda bdf, bid: minhash_vindex_ingest_tick(
                            spark, bdf, "text", "doc_id", path, bid,
                            fingerprint=fp_ing, stream_id=run_id,
                            cap=CAP, **cfg,
                        )
                    )
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                    boiler.coalesce(1).write.mode("append").parquet(src)
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            vindex_seal(path, fp)

        _vidx_chain(path, [
            (fp0, lambda f: minhash_vindex_build(
                base, "text", "doc_id", path, fingerprint=f, **cfg
            )),
            (fp1, ingest),
        ])
        return path

    def _skew_cap_replay(suffix: str):
        def stream_dedup_skew_cap_replay(spark, sf_dir):
            """The dedup service's ingest loop with the SKEW CONTROL
            LOOP closed, monitor state entirely on manifests: each
            micro-batch runs functions/vindex.minhash_vindex_ingest_tick
            — measure the batch's bucket-collision integers against
            the live index (committed WITH the tick's data),
            exactly-once append (stream-id keyed, so a tick replayed
            after its own cap rewrite skips), and QUARANTINE buckets
            above the cap when the measured 8x flag fires. Micro-batch
            1 (an organic crawl slice) measures 0.63-0.94x the build
            reference and must NOT flag; micro-batch 2 (the same-size
            slice with its text replaced by one boilerplate template)
            measures 475-5892x and trips the flag — the cap verb moves
            the flood's band rows (45-454 per bucket vs organic max
            2-3) to a quarantine dir that rides the manifest, as one
            CAS rewrite. A manifest-only SEAL marks completion. The
            probe batch then carries three proofs at once: organic
            docs (normal candidacy), verbatim CLONES of indexed docs
            (guaranteed jaccard-1.0 matches — the positive control at
            every SF), and boilerplate clones (ZERO candidates — their
            only collision buckets are quarantined; the negative
            control). Oracle = the full recompute with the SAME
            bucket-size cap rule in SQL: the quarantine is physical,
            the cap policy is the semantics. Tick sequencing is two
            processAllAvailable barriers (the flag decision depends on
            the index state at measurement time)."""
            from uts_spark.functions.vindex import minhash_vindex_probe

            path = _ensure_capped_chain(spark, sf_dir, suffix)
            _base, _b1, _boiler, old, new = _skew_fixture(spark, sf_dir)
            return minhash_vindex_probe(
                spark, path, new, old, "text", "doc_id",
                threshold=_MIDX_THR,
                n=_MIDX_N, k=_MIDX_K, bands=_MIDX_BANDS,
            )

        return stream_dedup_skew_cap_replay

    stream_dedup_ingest_skew_cap_replay = query(
        "stream_dedup_ingest_skew_cap_replay", oracle
    )(_skew_cap_replay("_skew"))

    # quarantine REVIEW (round-10 candidate #3): a capped hot bucket IS
    # one duplicate cluster — surface the quarantine as clusters with a
    # canonical representative, not opaque parquet. Oracle = the same
    # corpus/cap CTEs, plus the 1-hop min-id representative.
    review_oracle = f"""
    WITH corpus AS (
      SELECT doc_id AS id, text FROM documents
      WHERE doc_id % {_MIDX_MOD} != {BOIL_REM}
      UNION ALL
      SELECT doc_id AS id, '{BOILER}' AS text FROM documents
      WHERE doc_id % {_MIDX_MOD} = {BOIL_REM}
    ),
    g AS (
      SELECT id, unnest(list_distinct({grams})) AS gr FROM corpus
    ),
    inv AS (
      SELECT id,
             CAST(('0x' || substr(md5(gr), 1, 15)) AS BIGINT) % {P} AS hA,
             CAST(('0x' || substr(md5(gr), 17, 15)) AS BIGINT) % {P} AS hB
      FROM g
    ),
    sig AS (SELECT id, {mins} FROM inv GROUP BY id),
    bk AS ({band_sel}),
    mem AS (
      SELECT id, band, bucket FROM bk
      WHERE id % {_MIDX_MOD} != {PROBE_REM}
    ),
    bsz AS (
      SELECT band, bucket, COUNT(*) AS c FROM mem GROUP BY band, bucket
    ),
    q AS (
      SELECT mem.id, mem.band, mem.bucket
      FROM mem JOIN bsz USING (band, bucket) WHERE bsz.c > {CAP}
    ),
    rep AS (
      SELECT a.id AS doc_id, MIN(b.id) AS rep_id
      FROM q a JOIN q b ON a.band = b.band AND a.bucket = b.bucket
      GROUP BY a.id
    ),
    cnt AS (SELECT id, COUNT(*) AS n_hot_rows FROM q GROUP BY id)
    SELECT r.doc_id, r.rep_id, CAST(c.n_hot_rows AS BIGINT) AS n_hot_rows
    FROM rep r JOIN cnt c ON c.id = r.doc_id
    """

    @query("dedup_quarantine_review", review_oracle)
    def dedup_quarantine_review(spark, sf_dir):
        """REVIEW the skew loop's quarantine as duplicate CLUSTERS: a
        capped hot bucket is one near-dup cluster by construction, so
        the auditable artifact is (doc, cluster representative, how
        many of its band rows were quarantined) — the shape a human or
        a downstream keep-one-per-cluster pass consumes, instead of
        opaque parquet in the quarantine dir. The representative is the
        1-hop min id over shared hot buckets (for a template flood,
        1-hop IS the whole cluster — every member shares every
        bucket). n_hot_rows = bands for a full-flood member: all 8 of
        its band rows were capped. Oracle recomputes quarantine
        membership from the cap rule (bucket size > cap over the
        index membership at cap time) — so a cap verb that moved the
        wrong rows, or a review that read the wrong census, is an
        exact mismatch. Runs on the SAME chain as the replay lane
        (shared idempotent state machine); the quarantine dir is the
        one the cap commit recorded on the manifest."""
        from uts_spark.functions.vindex import _current_manifest

        path = _ensure_capped_chain(spark, sf_dir, "_skew")
        q = _read_pq(
            spark, _current_manifest(path)["quarantine_dir"]
        ).select("id", "band", "bucket")
        pairs = q.alias("a").join(q.alias("b"), ["band", "bucket"]).select(
            F.col("a.id").alias("doc_id"), F.col("b.id").alias("nb")
        )
        rep = pairs.groupBy("doc_id").agg(F.min("nb").alias("rep_id"))
        cnt = q.groupBy("id").agg(F.count(F.lit(1)).alias("n_hot_rows"))
        return rep.join(cnt, rep["doc_id"] == cnt["id"]).select(
            "doc_id", "rep_id", "n_hot_rows"
        )

    stream_dedup_vindex_skew_cap_replay = query(
        "stream_dedup_vindex_skew_cap_replay", oracle
    )(_skew_cap_replay("_snapskew"))

    return (
        stream_dedup_ingest_skew_cap_replay,
        dedup_quarantine_review,
        stream_dedup_vindex_skew_cap_replay,
    )


(
    stream_dedup_ingest_skew_cap_replay,
    dedup_quarantine_review,
    stream_dedup_vindex_skew_cap_replay,
) = _register_stream_dedup_skew_cap()




def _stream_ann_ingest(suffix: str):
    """The streamed vector ingest lane body over its own index path
    (``suffix``): two lanes register it, and the registry-wide plan
    sweep builds lanes concurrently, so they must never share a path.
    The post-ingest index covers exactly what the batch append lane's
    does (centroids frozen from base, membership = full corpus), so
    both reuse that lane's oracle verbatim."""

    def stream_ann_ingest_replay(spark, sf_dir):
        """The vector ingest loop on the SNAPSHOT-COMMITTED index — no
        pending marker, no staged/sweep kernel, no O_EXCL anywhere:
        each micro-batch folds in via ivf_vindex_append(batch_id=bid),
        whose exactly-once guarantee is STRUCTURAL — the manifest
        PUT-if-absent is the atomic commit point and the batch key
        e{epoch}b{bid} rides on the committed manifest, so a replayed
        batch either finds its key committed (skip — crash was
        post-commit) or recommits (the torn attempt's delta dir is
        unreferenced garbage). After the stream drains, a MANIFEST-ONLY
        seal commit advances the fingerprint — a run crashed
        mid-stream leaves the ingest fingerprint and the next
        invocation rebuilds instead of serving a half-folded index.
        Probe at the final snapshot with the frozen sidecar centroids;
        oracle = the batch append lane's recompute, because final
        index rows are independent of micro-batch boundaries. Scale:
        every tick is batch-sized + an O(1) commit; object-storage-safe
        end to end (VERDICT r8 #4's 100 TB motivation)."""
        from uts_spark.functions.vindex import (
            ivf_vindex_append,
            ivf_vindex_build,
            ivf_vindex_probe,
            vindex_config,
            vindex_seal,
        )
        from uts_spark.queries.llm_ops import (
            _IVF_APP_MOD,
            _IVF_APP_REM,
            _emb_frame_fingerprints,
            ivf_index_path,
        )

        e = table(spark, sf_dir, "embeddings")
        keep = F.col("vec_id") % _IVF_APP_MOD != _IVF_APP_REM
        base = e.filter(keep)
        batch = e.filter(F.col("vec_id") % _IVF_APP_MOD == _IVF_APP_REM)
        fp0, fp1 = _emb_frame_fingerprints(e, keep)
        fp_ing = fp0 + ":ingesting"
        path = ivf_index_path(sf_dir, fp0, n_cells=8) + suffix

        m = vindex_config(path)
        state = m["fingerprint"] if m else None
        if state not in (fp0, fp1):
            if os.path.exists(path):
                shutil.rmtree(path)
            ivf_vindex_build(base, path, fingerprint=fp0, n_cells=8)
            state = fp0
        if state == fp0:
            scratch = tempfile.mkdtemp(prefix="uts_vidx_ingest_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                batch.select("vec_id", "embedding").repartition(
                    4
                ).write.parquet(src)
                stream = (
                    # array<float> — the embeddings table's element
                    # type; a double schema here writes DOUBLE deltas
                    # into a FLOAT index and poisons the merged scan
                    spark.readStream.schema(
                        "vec_id long, embedding array<float>"
                    )
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                # per-run stream id: replays WITHIN this run dedup by
                # s{id}b{bid} even across a rewrite; a fresh run gets
                # a fresh id (no aliasing) and a torn run's state is
                # rebuilt by the fingerprint check anyway
                run_id = uuid.uuid4().hex[:8]
                q = (
                    stream.writeStream.foreachBatch(
                        lambda bdf, bid: ivf_vindex_append(
                            bdf, path, fingerprint=fp_ing, batch_id=bid,
                            stream_id=run_id,
                        )
                    )
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            vindex_seal(path, fp1)

        anchors = e.filter(F.col("vec_id") < 5)
        return ivf_vindex_probe(spark, path, anchors, k=10, n_probe=3)

    return stream_ann_ingest_replay


stream_ann_index_ingest_replay = query(
    "stream_ann_index_ingest_replay",
    ORACLES["similarity_ann_ivf_append_probe"],
)(_stream_ann_ingest("_ingest"))
stream_ann_vindex_ingest_replay = query(
    "stream_ann_vindex_ingest_replay",
    ORACLES["similarity_ann_ivf_append_probe"],
)(_stream_ann_ingest("_snapstream"))


def _stream_ann_drift(suffix: str):
    """The streamed drift-loop lane body over its own index path
    (``suffix``; two lanes register it — see _stream_ann_ingest)."""

    def stream_ann_drift_recluster_replay(spark, sf_dir):
        """The CLOSED drift loop on the SNAPSHOT index — the entire
        monitor state lives ON the manifests (no sidecar files, no
        pending marker): the build manifest
        carries ``fit_ref`` (exact corpus-fit ints against the frozen
        sidecar centroids), every ingest tick commits its batch's fit
        ints ATOMICALLY WITH its data (one manifest = data + stat +
        exactly-once batch key), and the flagged tick's recluster is
        an ordinary rewrite commit that resets ``fit_ref`` — history
        intact, pre-recluster pins still resolve their own quantizer.
        The corpus is a DERIVED clustered one (see the oracle's
        comment — the fixture embeddings are diffuse, so their fit
        floor IS the random level and no exact transform can trip the
        flag at both gate SFs; clustered data is also the regime the
        monitor exists for): micro-batch 1 joins the base clusters
        (fit ratio ~1.0, no flag); micro-batch 2 clusters on
        orthogonal components (~0.07, flags at the measured 0.82), so
        the final index equals a FRESH build over the full drifted
        corpus — the oracle recomputes exactly that probe. Tick
        sequencing is two processAllAvailable barriers (write batch-1
        file, drain, write batch-2, drain): the flag decision depends
        on WHICH centroids are frozen at measurement time, so the
        replay pins a deterministic order instead of racing file
        discovery. A crashed run leaves the ingest fingerprint (never
        fp1 — the SEAL is the last commit) and the next invocation
        rebuilds."""
        from uts_spark.functions.vindex import (
            ivf_vindex_build,
            ivf_vindex_ingest_tick,
            ivf_vindex_probe,
            vindex_config,
            vindex_seal,
        )
        from uts_spark.queries.llm_ops import (
            _DRIFT_ANCHOR_IDS,
            _DRIFT_ID0,
            _IVF_APP_MOD,
            _IVF_APP_REM,
            _emb_frame_fingerprint,
            ivf_index_path,
        )

        def dvec(id_col, center_col):
            return F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    ((id_col * 31 + j * 7) % 16 - 8).cast("double")
                    / F.lit(16.0)
                )
                + F.when(j == center_col, F.lit(8.0)).otherwise(F.lit(0.0)),
            )

        e = table(spark, sf_dir, "embeddings")
        base = e.filter(
            F.col("vec_id") % _IVF_APP_MOD != _IVF_APP_REM
        ).select(
            "vec_id",
            dvec(F.col("vec_id"), F.col("vec_id") % 8).alias("embedding"),
        )
        moved = e.filter(F.col("vec_id") % _IVF_APP_MOD == _IVF_APP_REM)
        rid = (F.col("vec_id") + F.lit(_DRIFT_ID0))
        b1 = moved.filter(F.col("vec_id") % 20 == 7).select(
            rid.alias("vec_id"),
            dvec(rid, rid % 8).alias("embedding"),
        )
        b2 = moved.filter(F.col("vec_id") % 20 == 17).select(
            rid.alias("vec_id"),
            dvec(rid, F.lit(56) + rid % 8).alias("embedding"),
        )
        corpus = base.unionAll(b1).unionAll(b2)

        fp0 = _emb_frame_fingerprint(base)
        fp1 = _emb_frame_fingerprint(corpus)
        fp_ing = fp0 + ":ingesting"
        path = ivf_index_path(sf_dir, fp0, n_cells=8) + suffix

        m = vindex_config(path)
        state = m["fingerprint"] if m else None
        if state not in (fp0, fp1):
            if os.path.exists(path):
                shutil.rmtree(path)
            # freeze the quantizer from the 8 PURE cluster centers (an
            # 8-row frame — _ivf_centroids takes all of it), so the
            # manifest's fit_ref is the clustered regime's ~0.92, not
            # a hash-sample's cluster-coverage lottery
            centers = spark.range(8).select(
                (F.col("id") + F.lit(9000)).alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda j: F.when(
                        j == F.col("id").cast("int"), F.lit(8.0)
                    ).otherwise(F.lit(0.0)),
                ).alias("embedding"),
            )
            ivf_vindex_build(
                base, path, fingerprint=fp0, n_cells=8,
                centroid_src=centers,
            )
            state = fp0
        if state == fp0:
            scratch = tempfile.mkdtemp(prefix="uts_vdrift_ingest_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                schema = "vec_id long, embedding array<double>"
                b1.coalesce(1).write.parquet(src)
                stream = (
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                # stream-id-keyed exactly-once: a tick replayed after
                # its own recluster must SKIP (epoch keys would
                # re-append the already-folded batch — the seam the
                # snapshot protocol closes; see _batch_key)
                run_id = uuid.uuid4().hex[:8]
                q = (
                    stream.writeStream.foreachBatch(
                        lambda bdf, bid: ivf_vindex_ingest_tick(
                            spark, bdf, path, bid, fingerprint=fp_ing,
                            stream_id=run_id,
                        )
                    )
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                    b2.coalesce(1).write.mode("append").parquet(src)
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            vindex_seal(path, fp1)

        anchors = corpus.filter(
            (F.col("vec_id") < 3)
            | F.col("vec_id").isin(list(_DRIFT_ANCHOR_IDS))
        )
        return ivf_vindex_probe(spark, path, anchors, k=10, n_probe=3)

    return stream_ann_drift_recluster_replay


_DRIFT_ORACLE = _drift_recluster_oracle()
stream_ann_ingest_drift_recluster_replay = query(
    "stream_ann_ingest_drift_recluster_replay", _DRIFT_ORACLE
)(_stream_ann_drift("_drift"))
stream_ann_vindex_drift_recluster_replay = query(
    "stream_ann_vindex_drift_recluster_replay", _DRIFT_ORACLE
)(_stream_ann_drift("_snapdrift"))


def _register_stream_cdc_apply():
    # the applied downstream equals upstream v2 — the batch apply
    # lane's completeness oracle, reused verbatim
    from uts_spark.registry import ORACLES

    @query(
        "stream_cdc_apply_replay",
        ORACLES["cdc_incremental_apply_converges"],
    )
    def stream_cdc_apply_replay(spark, sf_dir):
        """A STREAMING CDC CONSUMER with a committed cursor — the
        incremental-materialization loop every 100 TB lakehouse
        downstream runs: each micro-batch carries one upstream version
        id; the consumer reads ``table_changes(ver-1 -> ver)``, applies
        it to its own versioned copy (left-anti the removed keys, union
        the added rows), and commits the result WITH the cursor on the
        same manifest — apply and progress are one atomic commit, the
        exactly-once shape. A replayed batch (or a whole re-run of the
        lane) finds its version at-or-under the committed cursor and
        SKIPS — re-delivery is structurally idempotent, no dedup state
        outside the table itself. After the stream drains, the
        downstream must equal upstream v2 exactly (the batch apply
        lane's closed-form oracle — a doubled apply, missed change
        type, or cursor race is a hash mismatch). Scale: per tick the
        consumer does feed-sized work + one commit; the upstream feed
        is manifest-pruned for append-only ranges and key-join-bounded
        across rewrites."""
        from uts_spark.queries.analytics import _cdc_vt_ensure
        from uts_spark.queries.llm_ops import _warehouse_dir
        from uts_spark.sources.versioned import (
            list_versions,
            read_version,
            table_changes,
            write_snapshot,
        )

        src_path = _cdc_vt_ensure(spark, sf_dir, rewrite=True)
        tag = os.path.basename(sf_dir.rstrip("/")) or "default"
        dst = os.path.join(_warehouse_dir(), f"cdc_vt_{tag}_dstream")
        fp = "cdc_vt_rw_v1:dstream"

        ms = list_versions(dst)
        if not ms or ms[0].get("src_fp") != fp:
            if os.path.exists(dst):
                shutil.rmtree(dst)
            write_snapshot(
                read_version(spark, src_path, 0),
                dst,
                meta={"src_fp": fp, "cursor": 0},
            )

        def cursor() -> int:
            return max(m.get("cursor", 0) for m in list_versions(dst))

        if cursor() < 2:
            scratch = tempfile.mkdtemp(prefix="uts_cdc_apply_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                os.makedirs(src)
                # one file per upstream version id -> one micro-batch
                # per version (maxFilesPerTrigger=1)
                for ver in (1, 2):
                    spark.createDataFrame(
                        [(ver,)], "ver long"
                    ).coalesce(1).write.mode("append").parquet(src)

                def apply_batch(bdf, bid):
                    # tiny by construction: one version id per batch.
                    # ORDER-INDEPENDENT apply (ADVICE r9): the file
                    # source breaks modification-time ties by arbitrary
                    # part-file name, so version 2's batch can fire
                    # before version 1's — advance the cursor version
                    # by version up to the delivered id instead of
                    # applying the delivered diff directly, and a
                    # late-arriving earlier version replays as a skip.
                    for row in sorted(bdf.collect()):
                        target = int(row["ver"])
                        while cursor() < target:
                            ver = cursor() + 1
                            ch = table_changes(
                                spark, src_path, ver - 1, ver, key="doc_id"
                            )
                            removed = ch.filter(
                                F.col("_change_type").isin(
                                    "delete", "update_preimage"
                                )
                            ).select("doc_id")
                            added = ch.filter(
                                F.col("_change_type").isin(
                                    "insert", "update_postimage"
                                )
                            ).drop("_change_type")
                            cur = read_version(spark, dst)
                            new = cur.join(
                                removed, "doc_id", "left_anti"
                            ).unionByName(added)
                            write_snapshot(
                                new, dst, operation="cdc_apply",
                                meta={"src_fp": fp, "cursor": ver},
                            )

                q = (
                    spark.readStream.schema("ver long")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                    .writeStream.foreachBatch(apply_batch)
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)

        return read_version(spark, dst)

    return stream_cdc_apply_replay


stream_cdc_apply_replay = _register_stream_cdc_apply()


def _register_stream_cdc_apply_columns():
    # the converged downstream = upstream v2 with the consumer's LOCAL
    # lang normalization preserved — closed form over documents
    @query(
        "stream_cdc_apply_columns_replay",
        """
        SELECT doc_id, substr(text, 1, 40) AS val, upper(lang) AS lang,
               n_chars
        FROM documents WHERE doc_id % 10 NOT IN (2, 4, 7)
        UNION ALL
        SELECT doc_id, 'U:' || substr(text, 1, 40), upper(lang), n_chars
        FROM documents WHERE doc_id % 10 = 2
        UNION ALL
        SELECT doc_id, substr(text, 1, 40), upper(lang), n_chars
        FROM documents WHERE doc_id % 10 = 7
        """,
    )
    def stream_cdc_apply_columns_replay(spark, sf_dir):
        """COLUMN-LEVEL CDF through the streaming consumer (VERDICT r9
        missing #5 / ROADMAP r10 #4): the cursor loop requests
        ``with_changed_columns=True`` and applies update images
        COLUMN-WISE — each updated row takes the post value ONLY for
        the columns its ``_changed_columns`` names and keeps the
        consumer's LOCAL value elsewhere. The lane makes that path
        load-bearing, not decorative: the downstream copy normalizes
        ``lang`` to uppercase (a local derived convention upstream
        never sees), and the upstream updates move only ``val`` — a
        whole-row apply would clobber the local normalization with
        upstream's lowercase lang and hash-mismatch; the column apply
        preserves it. The loop also asserts the moved-column sets on
        update images are exactly ['val'] (a feed that claimed more or
        fewer moved columns fails loudly). Cursor semantics identical
        to stream_cdc_apply_replay: apply+cursor one atomic commit,
        order-independent version-by-version advance, replays skip.
        Scale: per tick the consumer does feed-sized work; for a
        100-column table the column apply reads the SAME feed but
        writes only moved cells' columns into the merge projection —
        the join stays key-bounded."""
        from uts_spark.queries.llm_ops import _warehouse_dir
        from uts_spark.sources.versioned import (
            delete_rows,
            list_versions,
            merge_upsert,
            read_version,
            table_changes,
            write_snapshot,
        )

        docs = table(spark, sf_dir, "documents")
        val = F.substring(F.col("text"), 1, 40).alias("val")
        wide = docs.select("doc_id", val, "lang", "n_chars")
        base = wide.filter(F.col("doc_id") % 10 != 7)
        tag = os.path.basename(sf_dir.rstrip("/")) or "default"
        fp = "cdc_vt_wide_v1"

        # upstream: v0 base -> v1 merge (updates move ONLY val;
        # inserts are whole rows) -> v2 delete
        src_path = os.path.join(_warehouse_dir(), f"cdc_vt_{tag}_wide")
        ms = list_versions(src_path)
        if not (len(ms) == 3 and ms[0].get("fingerprint") == fp):
            if os.path.exists(src_path):
                shutil.rmtree(src_path)
            write_snapshot(base, src_path, meta={"fingerprint": fp})
            updates = docs.filter(F.col("doc_id") % 10 == 2).select(
                "doc_id",
                F.concat(F.lit("U:"), F.substring("text", 1, 40)).alias("val"),
                "lang", "n_chars",
            )
            inserts = wide.filter(F.col("doc_id") % 10 == 7)
            merge_upsert(spark, src_path, updates.unionByName(inserts), "doc_id")
            delete_rows(
                spark, src_path,
                docs.filter(F.col("doc_id") % 10 == 4).select("doc_id"),
                "doc_id",
            )

        dst = os.path.join(_warehouse_dir(), f"cdc_vt_{tag}_wide_dstream")
        dfp = fp + ":dstream"
        dms = list_versions(dst)
        if not dms or dms[0].get("src_fp") != dfp:
            if os.path.exists(dst):
                shutil.rmtree(dst)
            write_snapshot(
                read_version(spark, src_path, 0).withColumn(
                    "lang", F.upper("lang")
                ),
                dst,
                meta={"src_fp": dfp, "cursor": 0},
            )

        def cursor() -> int:
            return max(m.get("cursor", 0) for m in list_versions(dst))

        val_cols = ["val", "lang", "n_chars"]

        if cursor() < 2:
            scratch = tempfile.mkdtemp(prefix="uts_cdc_cols_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                os.makedirs(src)
                for ver in (1, 2):
                    spark.createDataFrame(
                        [(ver,)], "ver long"
                    ).coalesce(1).write.mode("append").parquet(src)

                def apply_batch(bdf, bid):
                    for row in sorted(bdf.collect()):
                        target = int(row["ver"])
                        while cursor() < target:
                            ver = cursor() + 1
                            ch = table_changes(
                                spark, src_path, ver - 1, ver,
                                key="doc_id", with_changed_columns=True,
                            )
                            ct = F.col("_change_type")
                            moved = sorted(
                                tuple(r["_changed_columns"])
                                for r in ch.filter(
                                    ct == "update_postimage"
                                ).select("_changed_columns")
                                .distinct().collect()
                            )
                            if moved and moved != [("val",)]:
                                raise AssertionError(
                                    "update images must move exactly "
                                    f"['val'], got {moved}"
                                )
                            removed = ch.filter(
                                ct.isin("delete", "update_preimage")
                            ).select("doc_id")
                            inserts = ch.filter(ct == "insert").select(
                                "doc_id", "val",
                                F.upper("lang").alias("lang"), "n_chars",
                            )
                            posts = ch.filter(
                                ct == "update_postimage"
                            ).alias("p")
                            cur = read_version(spark, dst)
                            kept = cur.join(removed, "doc_id", "left_anti")
                            local_pre = cur.join(
                                posts.select("doc_id"), "doc_id",
                                "left_semi",
                            ).alias("l")
                            merged = local_pre.join(posts, "doc_id").select(
                                "doc_id",
                                *[
                                    F.when(
                                        F.array_contains(
                                            F.col("p._changed_columns"),
                                            F.lit(c),
                                        ),
                                        F.col(f"p.{c}"),
                                    )
                                    .otherwise(F.col(f"l.{c}"))
                                    .alias(c)
                                    for c in val_cols
                                ],
                            )
                            write_snapshot(
                                kept.unionByName(merged).unionByName(
                                    inserts
                                ),
                                dst, operation="cdc_apply_cols",
                                meta={"src_fp": dfp, "cursor": ver},
                            )

                q = (
                    spark.readStream.schema("ver long")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                    .writeStream.foreachBatch(apply_batch)
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)

        return read_version(spark, dst)

    return stream_cdc_apply_columns_replay


stream_cdc_apply_columns_replay = _register_stream_cdc_apply_columns()


def _register_stream_cdc_apply_mor():
    # converged downstream = (v0 ∪ v1 append) minus the MOR takedown
    @query(
        "stream_cdc_apply_mor_replay",
        """
        SELECT doc_id, substr(text, 1, 24) AS val
        FROM documents
        WHERE doc_id % 10 <= 6 AND doc_id % 100 NOT IN (11, 23)
        """,
    )
    def stream_cdc_apply_mor_replay(spark, sf_dir):
        """The streaming CDC consumer CONVERGING ACROSS A MERGE-ON-READ
        DELETE (round 10 — where real CDC pipelines silently rot: a
        takedown that rewrites nothing looks like 'no change' to a
        dir-diff consumer). Upstream history: v0 write -> v1 append ->
        v2 ``delete_rows_mor`` (same dir list as v1, one new deletion
        vector). The feed for v1->v2 takes table_changes' MOR fast
        path — delete images from a PRUNED scan of the rows the new
        vector hides, no full-outer join — and the consumer's generic
        apply loop (left-anti removed keys, union added rows, cursor
        committed with the apply) needs no MOR-specific code: the
        protocol difference is entirely the feed's problem. Replays
        skip at the committed cursor as in stream_cdc_apply_replay.
        Converged downstream must hash-equal the closed form — a
        consumer that missed the vector's deletes (the dir-diff trap)
        keeps the %100 IN (11,23) rows and mismatches. Scale: the
        takedown tick costs the masked-row scan (stats-pruned), never
        the table."""
        from uts_spark.queries.llm_ops import _warehouse_dir
        from uts_spark.sources.versioned import (
            append_snapshot,
            delete_rows_mor,
            list_versions,
            read_version,
            table_changes,
            write_snapshot,
        )

        docs = table(spark, sf_dir, "documents")
        val = F.substring(F.col("text"), 1, 24).alias("val")
        tag = os.path.basename(sf_dir.rstrip("/")) or "default"
        src_path = os.path.join(_warehouse_dir(), f"cdcmor_vt_{tag}")
        fp = "cdcmor_vt_v1"

        ms = list_versions(src_path)
        ok = (
            len(ms) == 3
            and ms[0].get("fingerprint") == fp
            and ms[-1]["operation"] == "delete_mor"
        )
        if not ok:
            if os.path.exists(src_path):
                shutil.rmtree(src_path)
            write_snapshot(
                docs.filter(F.col("doc_id") % 10 <= 5)
                .select("doc_id", val),
                src_path, stats_col="doc_id",
                meta={"fingerprint": fp},
            )
            append_snapshot(
                docs.filter(F.col("doc_id") % 10 == 6)
                .select("doc_id", val),
                src_path,
            )
            delete_rows_mor(
                spark, src_path,
                docs.filter((F.col("doc_id") % 100).isin(11, 23))
                .select("doc_id"),
                "doc_id",
            )

        dst = os.path.join(_warehouse_dir(), f"cdcmor_vt_{tag}_dstream")
        dfp = f"{fp}:dstream"
        ms = list_versions(dst)
        if not ms or ms[0].get("src_fp") != dfp:
            if os.path.exists(dst):
                shutil.rmtree(dst)
            write_snapshot(
                read_version(spark, src_path, 0),
                dst,
                meta={"src_fp": dfp, "cursor": 0},
            )

        def cursor() -> int:
            return max(m.get("cursor", 0) for m in list_versions(dst))

        if cursor() < 2:
            scratch = tempfile.mkdtemp(prefix="uts_cdc_mor_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                os.makedirs(src)
                for ver in (1, 2):
                    spark.createDataFrame(
                        [(ver,)], "ver long"
                    ).coalesce(1).write.mode("append").parquet(src)

                def apply_batch(bdf, bid):
                    for row in sorted(bdf.collect()):
                        target = int(row["ver"])
                        while cursor() < target:
                            ver = cursor() + 1
                            ch = table_changes(
                                spark, src_path, ver - 1, ver,
                                key="doc_id",
                            )
                            removed = ch.filter(
                                F.col("_change_type").isin(
                                    "delete", "update_preimage"
                                )
                            ).select("doc_id")
                            added = ch.filter(
                                F.col("_change_type").isin(
                                    "insert", "update_postimage"
                                )
                            ).drop("_change_type")
                            cur = read_version(spark, dst)
                            new = cur.join(
                                removed, "doc_id", "left_anti"
                            ).unionByName(added)
                            write_snapshot(
                                new, dst, operation="cdc_apply",
                                meta={"src_fp": dfp, "cursor": ver},
                            )

                q = (
                    spark.readStream.schema("ver long")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                    .writeStream.foreachBatch(apply_batch)
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)

        return read_version(spark, dst)

    return stream_cdc_apply_mor_replay


stream_cdc_apply_mor_replay = _register_stream_cdc_apply_mor()


def _register_stream_cdc_apply_pdv():
    # converged downstream = (v0 ∪ v1 append) minus the rows the
    # POSITIONAL takedown's value predicate matched
    @query(
        "stream_cdc_apply_pdv_replay",
        """
        SELECT doc_id, substr(text, 1, 24) AS val
        FROM documents
        WHERE doc_id % 10 <= 6 AND substr(text, 1, 1) != 'm'
        """,
    )
    def stream_cdc_apply_pdv_replay(spark, sf_dir):
        """The streaming CDC consumer converging across a POSITIONAL
        delete (refreshed r11 #2 — the consumer-side composition the
        pdv lane doesn't cover): the upstream takedown is KEYLESS at
        the source (``delete_rows_positional`` masks rows by physical
        address from a value predicate — no identity column consulted)
        but the replica's files have different addresses, so the
        consumer applies the feed BY KEY like any other rewrite tick.
        The v1->v2 feed takes table_changes' positional fast path —
        delete images from a semi-join of the FROM-visible scan on the
        vector's (file, row_index) pairs, pruned to the dirs whose
        files the vector names, no full-outer join — and the generic
        apply loop (anti-join removed keys, union added rows, cursor
        committed atomically with the apply) needs no positional-
        specific code. Replays skip at the committed cursor. Converged
        downstream must hash-equal the closed form: a consumer whose
        feed missed the positional vector (the dir-diff trap — the dir
        list never changed) keeps every predicate-matching row and
        mismatches."""
        from uts_spark.queries.llm_ops import _warehouse_dir
        from uts_spark.sources.versioned import (
            append_snapshot,
            delete_rows_positional,
            list_versions,
            read_version,
            table_changes,
            write_snapshot,
        )

        docs = table(spark, sf_dir, "documents")
        val = F.substring(F.col("text"), 1, 24).alias("val")
        tag = os.path.basename(sf_dir.rstrip("/")) or "default"
        src_path = os.path.join(_warehouse_dir(), f"cdcpdv_vt_{tag}")
        fp = "cdcpdv_vt_v1"

        ms = list_versions(src_path)
        ok = (
            len(ms) == 3
            and ms[0].get("fingerprint") == fp
            and ms[-1]["operation"] == "delete_positional"
        )
        if not ok:
            if os.path.exists(src_path):
                shutil.rmtree(src_path)
            write_snapshot(
                docs.filter(F.col("doc_id") % 10 <= 5)
                .select("doc_id", val),
                src_path,
                meta={"fingerprint": fp},
            )
            append_snapshot(
                docs.filter(F.col("doc_id") % 10 == 6)
                .select("doc_id", val),
                src_path,
            )
            delete_rows_positional(
                spark, src_path,
                F.substring(F.col("val"), 1, 1) == "m",
            )

        dst = os.path.join(_warehouse_dir(), f"cdcpdv_vt_{tag}_dstream")
        dfp = f"{fp}:dstream"
        ms = list_versions(dst)
        if not ms or ms[0].get("src_fp") != dfp:
            if os.path.exists(dst):
                shutil.rmtree(dst)
            write_snapshot(
                read_version(spark, src_path, 0),
                dst,
                meta={"src_fp": dfp, "cursor": 0},
            )

        def cursor() -> int:
            return max(m.get("cursor", 0) for m in list_versions(dst))

        if cursor() < 2:
            scratch = tempfile.mkdtemp(prefix="uts_cdc_pdv_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                os.makedirs(src)
                for ver in (1, 2):
                    spark.createDataFrame(
                        [(ver,)], "ver long"
                    ).coalesce(1).write.mode("append").parquet(src)

                def apply_batch(bdf, bid):
                    for row in sorted(bdf.collect()):
                        target = int(row["ver"])
                        while cursor() < target:
                            ver = cursor() + 1
                            ch = table_changes(
                                spark, src_path, ver - 1, ver,
                                key="doc_id",
                            )
                            removed = ch.filter(
                                F.col("_change_type").isin(
                                    "delete", "update_preimage"
                                )
                            ).select("doc_id")
                            added = ch.filter(
                                F.col("_change_type").isin(
                                    "insert", "update_postimage"
                                )
                            ).drop("_change_type")
                            cur = read_version(spark, dst)
                            new = cur.join(
                                removed, "doc_id", "left_anti"
                            ).unionByName(added)
                            write_snapshot(
                                new, dst, operation="cdc_apply",
                                meta={"src_fp": dfp, "cursor": ver},
                            )

                q = (
                    spark.readStream.schema("ver long")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                    .writeStream.foreachBatch(apply_batch)
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)

        return read_version(spark, dst)

    return stream_cdc_apply_pdv_replay


stream_cdc_apply_pdv_replay = _register_stream_cdc_apply_pdv()


# --- SERVICE TICKS THROUGH THE PROTOCOL FACADE (VERDICT r9 #2) --------------
#
# index_service_tick was parity-pinned by pytest only; these four lanes
# drive one streamed ingest per family THROUGH the facade
# (index_build -> index_service_tick per micro-batch -> index_probe,
# family and config resolved from the index's own manifest at every
# tick) and reuse the family lanes' oracles VERBATIM — the facade owns
# protocol choice and dispatch, never semantics, so a facade-routed
# ingest must hash-match the family-verb lane it wraps.


def _register_facade_tick_lanes():
    from uts_spark.registry import ORACLES

    @query(
        "facade_tick_minhash_skew_replay",
        ORACLES["stream_dedup_ingest_skew_cap_replay"],
    )
    def facade_tick_minhash_skew_replay(spark, sf_dir):
        """The dedup skew loop driven entirely through the facade:
        build via index_build, each micro-batch via index_service_tick
        (which reads family=minhash off the manifest and runs the
        bucket-collision monitor + hot-bucket quarantine at the
        measured 8x/16 thresholds), probe via index_probe. Same
        derived flood corpus and oracle as
        stream_dedup_ingest_skew_cap_replay and its vindex twin — the
        facade route and the direct verbs, one contract."""
        from uts_spark.functions.index_protocol import (
            index_build,
            index_probe,
            index_service_tick,
        )
        from uts_spark.functions.vindex import vindex_config, vindex_seal
        from uts_spark.queries.llm_ops import (
            _MIDX_BANDS,
            _MIDX_K,
            _MIDX_N,
            _MIDX_THR,
            _frame_fingerprint,
            minhash_index_path,
        )

        base, b1, boiler, old, new = _skew_fixture(spark, sf_dir)
        fp0, fp1 = _frame_fingerprint(base), _frame_fingerprint(old)
        fp_ing = fp0 + ":ingesting"
        cfg = dict(n=_MIDX_N, k=_MIDX_K, bands=_MIDX_BANDS)
        path = minhash_index_path(sf_dir, fp0, **cfg) + "_facskew"

        m = vindex_config(path)
        state = m["fingerprint"] if m else None
        if state not in (fp0, fp1):
            if os.path.exists(path):
                shutil.rmtree(path)
            index_build(
                base, "minhash", path, fingerprint=fp0,
                text_col="text", id_col="doc_id", **cfg,
            )
            state = fp0
        if state == fp0:
            scratch = tempfile.mkdtemp(prefix="uts_facskew_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                b1.coalesce(1).write.parquet(src)
                stream = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                run_id = uuid.uuid4().hex[:8]
                q = (
                    stream.writeStream.foreachBatch(
                        lambda bdf, bid: index_service_tick(
                            spark, bdf, path, bid, fingerprint=fp_ing,
                            stream_id=run_id,
                            text_col="text", id_col="doc_id",
                        )
                    )
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                    boiler.coalesce(1).write.mode("append").parquet(src)
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            vindex_seal(path, fp1)

        return index_probe(
            spark, path, (new, old, "text", "doc_id"),
            threshold=_MIDX_THR,
        )

    @query(
        "facade_tick_ivf_drift_replay",
        ORACLES["stream_ann_ingest_drift_recluster_replay"],
    )
    def facade_tick_ivf_drift_replay(spark, sf_dir):
        """The IVF drift loop through the facade: index_service_tick
        reads family=ivf off the manifest, measures each batch's
        quantizer fit on the committed manifest, and fires the
        recluster at the measured 0.82 flag. Same derived clustered
        corpus and oracle as stream_ann_ingest_drift_recluster_replay
        and its vindex twin."""
        from uts_spark.functions.index_protocol import (
            index_build,
            index_probe,
            index_service_tick,
        )
        from uts_spark.functions.vindex import vindex_config, vindex_seal
        from uts_spark.queries.llm_ops import (
            _DRIFT_ANCHOR_IDS,
            _DRIFT_ID0,
            _IVF_APP_MOD,
            _IVF_APP_REM,
            _emb_frame_fingerprint,
            ivf_index_path,
        )

        def dvec(id_col, center_col):
            return F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    ((id_col * 31 + j * 7) % 16 - 8).cast("double")
                    / F.lit(16.0)
                )
                + F.when(j == center_col, F.lit(8.0)).otherwise(F.lit(0.0)),
            )

        e = table(spark, sf_dir, "embeddings")
        base = e.filter(
            F.col("vec_id") % _IVF_APP_MOD != _IVF_APP_REM
        ).select(
            "vec_id",
            dvec(F.col("vec_id"), F.col("vec_id") % 8).alias("embedding"),
        )
        moved = e.filter(F.col("vec_id") % _IVF_APP_MOD == _IVF_APP_REM)
        rid = (F.col("vec_id") + F.lit(_DRIFT_ID0))
        b1 = moved.filter(F.col("vec_id") % 20 == 7).select(
            rid.alias("vec_id"),
            dvec(rid, rid % 8).alias("embedding"),
        )
        b2 = moved.filter(F.col("vec_id") % 20 == 17).select(
            rid.alias("vec_id"),
            dvec(rid, F.lit(56) + rid % 8).alias("embedding"),
        )
        corpus = base.unionAll(b1).unionAll(b2)

        fp0 = _emb_frame_fingerprint(base)
        fp1 = _emb_frame_fingerprint(corpus)
        fp_ing = fp0 + ":ingesting"
        path = ivf_index_path(sf_dir, fp0, n_cells=8) + "_facdrift"

        m = vindex_config(path)
        state = m["fingerprint"] if m else None
        if state not in (fp0, fp1):
            if os.path.exists(path):
                shutil.rmtree(path)
            centers = spark.range(8).select(
                (F.col("id") + F.lit(9000)).alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda j: F.when(
                        j == F.col("id").cast("int"), F.lit(8.0)
                    ).otherwise(F.lit(0.0)),
                ).alias("embedding"),
            )
            index_build(
                base, "ivf", path, fingerprint=fp0, n_cells=8,
                centroid_src=centers,
            )
            state = fp0
        if state == fp0:
            scratch = tempfile.mkdtemp(prefix="uts_facdrift_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                b1.coalesce(1).write.parquet(src)
                stream = (
                    spark.readStream.schema(
                        "vec_id long, embedding array<double>"
                    )
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                run_id = uuid.uuid4().hex[:8]
                q = (
                    stream.writeStream.foreachBatch(
                        lambda bdf, bid: index_service_tick(
                            spark, bdf, path, bid, fingerprint=fp_ing,
                            stream_id=run_id,
                        )
                    )
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                    b2.coalesce(1).write.mode("append").parquet(src)
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            vindex_seal(path, fp1)

        anchors = corpus.filter(
            (F.col("vec_id") < 3)
            | F.col("vec_id").isin(list(_DRIFT_ANCHOR_IDS))
        )
        return index_probe(spark, path, anchors, k=10, n_probe=3)

    @query(
        "facade_tick_lsh_ingest_replay",
        ORACLES["similarity_ann_lsh_append_probe"],
    )
    def facade_tick_lsh_ingest_replay(spark, sf_dir):
        """The LSH ingest through the facade: index_service_tick reads
        family=lsh off the manifest and routes to the idempotent
        append (hyperplanes are seed-derived — no quantizer to drift,
        no monitor to run; the tick's dict says so honestly). After
        the stream drains the index covers the full corpus, so the
        batch append lane's recompute oracle is reused verbatim."""
        from uts_spark.functions.index_protocol import (
            index_build,
            index_probe,
            index_service_tick,
        )
        from uts_spark.functions.vindex import vindex_config, vindex_seal
        from uts_spark.queries.llm_ops import (
            _ANN_IDX_PLANES,
            _ANN_IDX_TABLES,
            _IVF_APP_MOD,
            _IVF_APP_REM,
            EMB_DIM,
            _emb_frame_fingerprints,
            ann_index_path,
        )

        e = table(spark, sf_dir, "embeddings")
        keep = F.col("vec_id") % _IVF_APP_MOD != _IVF_APP_REM
        base = e.filter(keep)
        batch = e.filter(F.col("vec_id") % _IVF_APP_MOD == _IVF_APP_REM)
        fp0, fp1 = _emb_frame_fingerprints(e, keep)
        fp_ing = fp0 + ":ingesting"
        path = ann_index_path(sf_dir, fp0) + "_factick"

        m = vindex_config(path)
        state = m["fingerprint"] if m else None
        if state not in (fp0, fp1):
            if os.path.exists(path):
                shutil.rmtree(path)
            index_build(
                base, "lsh", path, fingerprint=fp0, dim=EMB_DIM,
                planes=_ANN_IDX_PLANES, tables=_ANN_IDX_TABLES,
            )
            state = fp0
        if state == fp0:
            scratch = tempfile.mkdtemp(prefix="uts_faclsh_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                batch.select("vec_id", "embedding").repartition(
                    4
                ).write.parquet(src)
                stream = (
                    spark.readStream.schema(
                        "vec_id long, embedding array<float>"
                    )
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                run_id = uuid.uuid4().hex[:8]
                q = (
                    stream.writeStream.foreachBatch(
                        lambda bdf, bid: index_service_tick(
                            spark, bdf, path, bid, fingerprint=fp_ing,
                            stream_id=run_id,
                        )
                    )
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            vindex_seal(path, fp1)

        anchors = e.filter(F.col("vec_id") < 5)
        return index_probe(spark, path, anchors, k=10)

    @query(
        "facade_tick_ivfpq_ingest_replay",
        ORACLES["similarity_ann_ivfpq_append_probe"],
    )
    def facade_tick_ivfpq_ingest_replay(spark, sf_dir):
        """The IVF-PQ ingest through the facade: index_service_tick
        reads family=ivfpq off the manifest and runs the CODEBOOK-side
        distortion monitor per tick (batch ADC distortion ints
        committed WITH the data, flag at the measured 1.3x). The
        organic rem-7 batch sits at ~1.0x, so the monitor runs and
        honestly does NOT fire — the final index equals
        build-then-append, and the batch append lane's composed
        recompute oracle is reused verbatim."""
        from uts_spark.functions.index_protocol import (
            index_build,
            index_probe,
            index_service_tick,
        )
        from uts_spark.functions.vindex import vindex_config, vindex_seal
        from uts_spark.queries.llm_ops import (
            _IVF_APP_MOD,
            _IVF_APP_REM,
            _PQ_C,
            _PQ_M,
            EMB_DIM,
            _emb_frame_fingerprints,
            _warehouse_dir,
        )

        e = table(spark, sf_dir, "embeddings")
        keep = F.col("vec_id") % _IVF_APP_MOD != _IVF_APP_REM
        base = e.filter(keep)
        batch = e.filter(F.col("vec_id") % _IVF_APP_MOD == _IVF_APP_REM)
        fp0, fp1 = _emb_frame_fingerprints(e, keep)
        fp_ing = fp0 + ":ingesting"
        tag = os.path.basename(sf_dir.rstrip("/")) or "default"
        path = os.path.join(
            _warehouse_dir(),
            f"ann_ivfpq_index_{tag}_{fp0}_c8m{_PQ_M}k{_PQ_C}_factick",
        )

        m = vindex_config(path)
        state = m["fingerprint"] if m else None
        if state not in (fp0, fp1):
            if os.path.exists(path):
                shutil.rmtree(path)
            index_build(
                base, "ivfpq", path, fingerprint=fp0, dim=EMB_DIM,
                n_cells=8, m_sub=_PQ_M, n_cent=_PQ_C,
            )
            state = fp0
        if state == fp0:
            scratch = tempfile.mkdtemp(prefix="uts_facpq_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                batch.select("vec_id", "embedding").repartition(
                    2
                ).write.parquet(src)
                stream = (
                    spark.readStream.schema(
                        "vec_id long, embedding array<float>"
                    )
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                run_id = uuid.uuid4().hex[:8]
                q = (
                    stream.writeStream.foreachBatch(
                        lambda bdf, bid: index_service_tick(
                            spark, bdf, path, bid, fingerprint=fp_ing,
                            stream_id=run_id,
                        )
                    )
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            vindex_seal(path, fp1)

        anchors = e.filter(F.col("vec_id") < 5)
        return index_probe(
            spark, path, anchors, k=10, n_probe=3, rerank=40
        )

    return (
        facade_tick_minhash_skew_replay,
        facade_tick_ivf_drift_replay,
        facade_tick_lsh_ingest_replay,
        facade_tick_ivfpq_ingest_replay,
    )


(
    facade_tick_minhash_skew_replay,
    facade_tick_ivf_drift_replay,
    facade_tick_lsh_ingest_replay,
    facade_tick_ivfpq_ingest_replay,
) = _register_facade_tick_lanes()


# --- STREAMING WAP: exactly-once staged ingest -> audit -> publish ----------


def _register_stream_wap():
    @query(
        "stream_wap_branch_ingest_replay",
        """
        SELECT doc_id, substr(text, 1, 40) AS val FROM documents
        """,
    )
    def stream_wap_branch_ingest_replay(spark, sf_dir):
        """STREAMING WAP (round 10): a continuous job stages its
        output on a BRANCH — main is untouched while the stream runs —
        and publish is one commute-merge commit after the audit. Each
        micro-batch stages via ``write_to_branch(batch_id=bid,
        stream_id=run)``: the exactly-once key rides on the committed
        branch record, so a replayed batch (restart, double-fire)
        finds its key and returns BEFORE any data write. This lane
        replays batch 0 explicitly after the stream drains — a
        double-fold would duplicate rem-7 rows and hash-mismatch the
        oracle — then audits the staged feed (branch_changes row
        count must equal the staged slice: the write-audit gate) and
        publishes. Oracle = the full corpus closed form; the replica
        of this pattern at 100 TB is the Iceberg WAP loop with a
        streaming writer: main readers never see a half-ingested
        stream, the audit reads ONLY the staged dirs (manifest diff,
        no join), and publish is an O(1) manifest commit."""
        from uts_spark.queries.llm_ops import _warehouse_dir
        from uts_spark.sources.versioned import (
            branch_changes,
            create_branch,
            list_versions,
            merge_branch,
            read_version,
            write_snapshot,
            write_to_branch,
        )

        docs = table(spark, sf_dir, "documents")
        val = F.substring(F.col("text"), 1, 40).alias("val")
        base = docs.filter(F.col("doc_id") % 10 != 7).select("doc_id", val)
        staged = docs.filter(F.col("doc_id") % 10 == 7).select("doc_id", val)
        tag = os.path.basename(sf_dir.rstrip("/")) or "default"
        path = os.path.join(_warehouse_dir(), f"wap_stream_{tag}")
        fp = "wap_stream_v1"

        ms = list_versions(path)
        done = (
            len(ms) == 2
            and ms[0].get("fingerprint") == fp
            and ms[-1]["operation"] == "merge_branch:stage"
        )
        if not done:
            if os.path.exists(path):
                shutil.rmtree(path)
            write_snapshot(base, path, meta={"fingerprint": fp})
            create_branch(path, "stage")
            run_id = uuid.uuid4().hex[:8]
            scratch = tempfile.mkdtemp(prefix="uts_wap_stream_")
            try:
                src = os.path.join(scratch, "src")
                chk = os.path.join(scratch, "chk")
                staged.repartition(4).write.parquet(src)
                stream = (
                    spark.readStream.schema("doc_id long, val string")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                q = (
                    stream.writeStream.foreachBatch(
                        lambda bdf, bid: write_to_branch(
                            bdf, path, "stage",
                            batch_id=bid, stream_id=run_id,
                        )
                    )
                    .option("checkpointLocation", chk)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            # REPLAY batch 0 (the restart case): the key on the
            # committed branch record makes this a seq no-op — the df
            # argument is never read on the skip path
            write_to_branch(
                staged.limit(1), path, "stage", batch_id=0,
                stream_id=run_id,
            )
            # WRITE-AUDIT gate: the staged feed (manifest diff of the
            # branch head vs its fork base — no join, no main read)
            # must hold exactly the staged slice before publish
            n_staged = branch_changes(spark, path, "stage").count()
            if n_staged != staged.count():
                raise RuntimeError(
                    f"WAP audit failed: staged {n_staged} rows"
                )
            merge_branch(spark, path, "stage")
        return read_version(spark, path)

    return stream_wap_branch_ingest_replay


stream_wap_branch_ingest_replay = _register_stream_wap()


def _register_stream_view_maintain():
    @query(
        "stream_view_maintain_replay",
        """
        WITH s AS (
          SELECT o_custkey % 6 AS grp, o_orderkey % 100 AS val
          FROM orders WHERE o_custkey % 30 != 11
        )
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(val) AS BIGINT) AS sum_val,
               CAST(MIN(val) AS BIGINT) AS min_val
        FROM s GROUP BY grp
        """,
    )
    def stream_view_maintain_replay(spark, sf_dir):
        """STREAMING MATERIALIZED VIEW (round 11 — the IVM surface
        driven by a real Structured Streaming job): each micro-batch
        lands source churn AND advances the aggregate view in the
        same ``foreachBatch``, every leg idempotent by its own
        mechanism — the append by its ``batch_id`` manifest key
        (``s{id}b{n}`` — a replayed batch returns the committed
        version before writing), the MOR takedown by masking (already
        -hidden victims commit nothing), the view tick by its cursor
        (feed already consumed = version no-op). Batch 1 appends;
        batch 2 erases a custkey stripe merge-on-read, which
        REGRESSES per-group minima — the hybrid-IVM recompute runs
        inside the streaming tick. After the stream drains, the WHOLE
        topology replays from a FRESH checkpoint (both trigger files
        re-delivered): zero new versions anywhere is asserted, the
        exactly-once claim made structural rather than
        checkpoint-trusted. Two drain barriers pin batch order (the
        takedown must follow the append — same sequencing discipline
        as the drift-recluster replay). The oracle recomputes the
        final aggregate from scratch. Scale: per tick = delta write +
        feed-sized view merge; the regressed-group recompute is the
        one scoped source scan min/max maintenance ever pays."""
        from uts_spark.queries.llm_ops import _warehouse_dir
        from uts_spark.sources.versioned import (
            advance_view,
            current_version,
            delete_rows_mor,
            list_versions,
            maintain_agg_view,
            read_version,
            write_snapshot,
        )
        from uts_spark.sources.versioned import append_snapshot

        orders = table(spark, sf_dir, "orders")
        src = orders.select(
            F.col("o_orderkey").alias("id"),
            (F.col("o_custkey") % 6).alias("grp"),
            (F.col("o_orderkey") % 100).alias("val"),
            "o_custkey",
        )
        tag = os.path.basename(sf_dir.rstrip("/")) or "default"
        ps = os.path.join(_warehouse_dir(), f"svm_src_{tag}")
        pv = os.path.join(_warehouse_dir(), f"svm_view_{tag}")
        shutil.rmtree(ps, ignore_errors=True)
        shutil.rmtree(pv, ignore_errors=True)

        write_snapshot(
            src.filter(F.col("id") % 4 == 0).select("id", "grp", "val"),
            ps, meta={"svm_custkeys": True},
        )
        maintain_agg_view(
            spark, ps, pv, ("grp",), ("val",), min_cols=("val",)
        )

        def apply_batch(batch, _epoch):
            for r in batch.select("ver").distinct().collect():
                ver = int(r.ver)
                if ver == 1:
                    append_snapshot(
                        src.filter(F.col("id") % 4 != 0)
                        .select("id", "grp", "val"),
                        ps, batch_id=1, stream_id="svm",
                    )
                else:
                    victims = src.filter(
                        F.col("o_custkey") % 30 == 11
                    ).select("id").distinct()
                    delete_rows_mor(spark, ps, victims, "id")
                advance_view(spark, pv)

        def run_stream(scratch):
            sdir = os.path.join(scratch, "src")
            os.makedirs(sdir, exist_ok=True)
            chk = os.path.join(scratch, "chk")
            q = (
                spark.readStream.schema("ver long")
                .option("maxFilesPerTrigger", 1)
                .parquet(sdir)
                .writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", chk)
                .start()
            )
            try:
                for ver in (1, 2):
                    spark.createDataFrame([(ver,)], "ver long").write.mode(
                        "append"
                    ).parquet(sdir)
                    q.processAllAvailable()  # order barrier
            finally:
                q.stop()

        scratch = tempfile.mkdtemp(prefix="uts_svm_")
        try:
            run_stream(scratch)
            state = (current_version(ps), current_version(pv))
            # FULL REPLAY from a fresh checkpoint: every leg no-ops
            shutil.rmtree(os.path.join(scratch, "chk"), ignore_errors=True)
            run_stream(scratch)
            assert (
                current_version(ps), current_version(pv)
            ) == state, "replay committed new versions"
            vm = list_versions(pv)[-1]
            assert int(vm["view_cursor"]) == current_version(ps)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        return read_version(spark, pv).select(
            "grp", "n_rows", "sum_val", "min_val"
        )

    return stream_view_maintain_replay


stream_view_maintain_replay = _register_stream_view_maintain()

#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints a
COMPACT final JSON line: {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ...}.

Each query executes fully via the noop sink (no driver-side collect — the
measured cost is the distributed plan, not result transfer).

Variance-robust protocol (round 11 — VERDICT r10 #1, the lead item: the
r10 artifact's median-of-3 on a host with 14x per-pass spread could not
certify round-over-round movement; its own fixed-work calibration probe
drifted 3.36x between rounds):

  - one cold pass (pays one-time JVM codegen, parquet footer first-touch),
    then FIVE interleaved warm passes per lane (was 3);
  - per-lane statistics are computed on the RETAINED WINDOW = the 5
    fastest samples. Co-tenant contention is strictly ADDITIVE one-sided
    noise — a sample can only be slower than the true plan cost, never
    faster — so the fastest samples are the closest observations of the
    uncontended time and the median of that window is the robust
    location estimate;
  - RE-RUN TRIGGER: any lane whose retained-window spread (max/min)
    exceeds 1.3x gets up to 6 additional solo passes, each appended to
    its sample list (the window re-selects the fastest 5), until the
    window stabilizes or the budget is spent. A lane still over the
    trigger after that is reported with its honest spread — never
    silently smoothed;
  - per-lane min, IQR (quartiles of the retained window), spread, and
    the full raw sample list all ship in the detail artifact, so the
    judge can re-derive any statistic.

Quiet-host gate (hardened r11): wait up to $SPARK_GRAFT_BENCH_QUIET_WAIT
(default 900 s, was 600) for 1-min loadavg < 1.0 before starting; record
loadavg before EVERY warm pass; `contended` is true if the run STARTED
loaded, `contended_passes` counts mid-run spikes. The artifact never
blocks forever — a perpetually-loaded host produces a flagged artifact
the driver can discount, not a missing one.

Artifact-format lessons (rounds 5-6): the driver's parser reads the LAST
stdout line through a bounded tail buffer (~2 KB — BENCH_r06's tail
starts mid-line), so the final line must stay small.  The final line
carries ONLY the compact summary (metric/value/queries-median/totals/
loadavg/calibration + the round-11 spread aggregates, ~1.6 KB at 45
queries); the full detail (per-query min/IQR/spread/cold, raw samples)
goes to an EARLIER stdout line and to the sidecar file BENCH_DETAIL.json
next to this script.

Host-drift calibration (round 6 lesson): two fixed-work calibration
constants are recorded so cross-round totals self-normalize:
  - calib_cpu_sec: min-of-3 single-core pure-Python busy loop (fixed
    iteration count) — tracks raw CPU speed / co-tenancy.
  - calib_spark_sec: min-of-3 fixed Spark job (sum over a 200M-row
    range, 32 partitions, whole-stage codegen, no I/O) — tracks the
    JVM+scheduler side at the bench's own parallelism.
Normalize round-over-round as total_r{N} * (calib_r{ref}/calib_r{N}).

Round 12 (VERDICT r11 #7): the summary line additionally carries
``value_calib_norm`` = value * (_CALIB_SPARK_REF / calib_spark_sec),
i.e. the total pre-normalized to the round-11 driver artifact's
calibration window (BENCH_r11.json: calib_spark_sec 0.3607), so
round-over-round totals are window-proof without the reader having to
fish both calibrations out of two artifacts (round 11's raw 1.48x
total was almost exactly its 1.477x calibration-window ratio).
Addition-only: every pre-existing key is unchanged.

Codegen attribution: the detail artifact carries, per lane, the
whole-stage classes compiled and their compile ms in the cold pass
(``codegen_cold``) and summed over every warm sample (``codegen_warm``),
read from Spark's CodegenMetrics count and CodeGenerator's compile
timer. ``codegen_warm_classes`` above 0 means the codegen cache
(``uts_spark.session.CODEGEN_CACHE_ENTRIES``) no longer holds the lane
set and warm samples pay Janino compiles. The summary line is unchanged.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WARM_PASSES = 5
RETAIN = 5           # stats run on the fastest-RETAIN window per lane
SPREAD_TRIGGER = 1.3  # retained-window max/min that triggers re-runs
JITTER_FLOOR = 0.1   # absolute max-min (sec) below which spread is noise:
# a 0.2s lane at 1.4x spread is 80ms of scheduler jitter, not signal —
# re-running it buys nothing (the sf0.01 smoke burned 112 extra passes
# on sub-second lanes before this floor)
MAX_EXTRA = 6        # per-lane solo re-runs after the base passes
_CALIB_LOOP_N = 2_000_000
_CALIB_SPARK_ROWS = 200_000_000
# Reference window for value_calib_norm: the round-11 driver artifact's
# fixed-Spark-work calibration (BENCH_r11.json calib_spark_sec). A
# FIXED constant, never re-measured: value_calib_norm of any two rounds
# divides out each round's own window, so the ratio of two rounds'
# normalized totals is window-free.
_CALIB_SPARK_REF = 0.3607


def _calib_cpu() -> float:
    """Fixed single-core busy loop; min of 3 runs (seconds)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(_CALIB_LOOP_N):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    assert acc >= 0
    return round(best, 4)


def _calib_spark(spark) -> float:
    """Fixed in-memory Spark job (codegen sum over range); min of 3."""
    job = lambda: spark.range(0, _CALIB_SPARK_ROWS, 1, 32).selectExpr(
        "sum(id * 2) as s"
    ).collect()
    job()  # warm codegen
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        job()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _codegen(spark) -> tuple[int, int]:
    """(classes compiled, compile ns) so far in this JVM: Spark's
    CodegenMetrics compilation count and CodeGenerator's compile timer."""
    jvm = spark._jvm
    return (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime(),
    )


def _window(samples: list[float]) -> list[float]:
    """The retained window: the RETAIN fastest samples (contention is
    one-sided additive noise — the fast tail is the signal)."""
    return sorted(samples)[:RETAIN]


def _spread(win: list[float]) -> float:
    lo = min(win)
    return (max(win) / lo) if lo > 0 else float("inf")


def _unstable(win: list[float]) -> bool:
    """Wide in RELATIVE terms and by more than scheduler jitter."""
    return (
        _spread(win) > SPREAD_TRIGGER
        and (max(win) - min(win)) > JITTER_FLOOR
    )


def _iqr(win: list[float]) -> float:
    if len(win) < 4:
        return round(max(win) - min(win), 3)
    q = statistics.quantiles(win, n=4)
    return round(q[2] - q[0], 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from uts_spark.session import get_spark
    from uts_spark.registry import QUERIES, HEADLINE

    # Quiet-host gate (VERDICT r7 #8, hardened r11): the single-core CPU
    # calibration constant cannot correct multi-core contention, so wait
    # (bounded) for the 1-min load to drop below 1.0; if it never does,
    # stamp `contended: true` so the driver can discount the artifact
    # instead of silently adjudicating inflated numbers.
    wait_budget = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", "900"))
    waited = 0.0
    while os.getloadavg()[0] > 1.0 and waited < wait_budget:
        time.sleep(15)
        waited += 15
    load_start = os.getloadavg()
    contended = load_start[0] > 1.0
    calib_cpu = _calib_cpu()
    spark = get_spark("uts-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    calib_spark = _calib_spark(spark)

    # per lane and phase: classes compiled and their compile ms
    codegen: dict[str, dict[str, dict]] = {"cold": {}, "warm": {}}

    def run(name: str, phase: str = "warm") -> float:
        n0, ns0 = _codegen(spark)
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.time() - t0
        n1, ns1 = _codegen(spark)
        acc = codegen[phase].setdefault(name, {"classes": 0, "compile_ms": 0.0})
        acc["classes"] += n1 - n0
        acc["compile_ms"] = round(acc["compile_ms"] + (ns1 - ns0) / 1e6, 1)
        return wall

    # pass 1 (cold): pays JVM codegen + parquet footer first-touch
    cold: dict[str, float] = {}
    for name in HEADLINE:
        cold[name] = round(run(name, "cold"), 3)

    # warm passes (interleaved so one lane's co-tenant spike doesn't
    # poison a whole pass of a single lane)
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    pass_loads: list[float] = []
    for _ in range(WARM_PASSES):
        pass_loads.append(round(os.getloadavg()[0], 2))
        for name in HEADLINE:
            samples[name].append(run(name))

    # re-run trigger: lanes whose retained window is still wide get
    # solo passes until it stabilizes or the budget is spent
    extra_runs: dict[str, int] = {}
    for name in HEADLINE:
        n_extra = 0
        while _unstable(_window(samples[name])) and n_extra < MAX_EXTRA:
            samples[name].append(run(name))
            n_extra += 1
        if n_extra:
            extra_runs[name] = n_extra

    wins = {n: _window(s) for n, s in samples.items()}
    med = {n: round(statistics.median(w), 2) for n, w in wins.items()}
    mins = {n: round(min(w), 3) for n, w in wins.items()}
    spreads = {n: round(_spread(w), 2) for n, w in wins.items()}
    iqrs = {n: _iqr(w) for n, w in wins.items()}
    over = sorted(n for n, w in wins.items() if _unstable(w))
    load_end = os.getloadavg()
    contended_passes = sum(1 for x in pass_loads if x > 1.0)

    detail = {
        "queries_median": {
            n: round(statistics.median(w), 3) for n, w in wins.items()
        },
        "queries_min": mins,
        "queries_iqr": iqrs,
        "queries_spread": spreads,
        "queries_cold": cold,
        "samples": {n: [round(x, 3) for x in s] for n, s in samples.items()},
        "extra_runs": extra_runs,
        "codegen_cold": codegen["cold"],
        "codegen_warm": codegen["warm"],
        "codegen_warm_classes": sum(
            c["classes"] for c in codegen["warm"].values()
        ),
        "lanes_over_trigger": over,
        "retain": RETAIN,
        "spread_trigger": SPREAD_TRIGGER,
        "calib_cpu_sec": calib_cpu,
        "calib_spark_sec": calib_spark,
        "sf": sf,
        "warm_passes": WARM_PASSES,
        "pass_loadavg": pass_loads,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
    }
    summary = {
        "metric": "headline_queries_total",
        "value": round(sum(statistics.median(w) for w in wins.values()), 3),
        "value_calib_norm": round(
            sum(statistics.median(w) for w in wins.values())
            * _CALIB_SPARK_REF
            / calib_spark,
            3,
        ),
        "unit": "sec",
        "queries": med,
        "min_total_sec": round(sum(mins.values()), 3),
        "cold_total_sec": round(sum(cold.values()), 3),
        "iqr_total_sec": round(sum(iqrs.values()), 3),
        "max_lane_spread": max(spreads.values()),
        "lanes_over_trigger": len(over),
        "extra_runs_total": sum(extra_runs.values()),
        "sf": sf,
        "warm_passes": WARM_PASSES,
        "calib_cpu_sec": calib_cpu,
        "calib_spark_sec": calib_spark,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "contended": contended,
        "contended_passes": contended_passes,
        "quiet_waited_sec": round(waited, 1),
    }

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)

    # Detail first (earlier stdout line + sidecar), compact summary LAST:
    # the driver's artifact parser reads the last stdout line through a
    # ~2 KB tail buffer (BENCH_r06 parsed:null — the old single fat line
    # overran it), and py4j/log4j shutdown chatter must not follow the
    # summary, so Spark is stopped in between.
    print("BENCH_DETAIL " + json.dumps(detail), flush=True)
    spark.stop()
    print(json.dumps(summary, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()

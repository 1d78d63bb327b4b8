#!/usr/bin/env python3
"""Benchmark of the uts_spark engine: two closed-loop workloads.

Run from the repository root:

    python3 perfbench/run.py --workload tsq --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --smoke

One run generates (or reuses) the seed's inputs under
``perfbench/.cache``, then starts a fresh worker process with a private
warehouse, temp dir and Spark local dir under ``perfbench/.work``, on
``local[4]`` with 4 shuffle partitions and a 3 GB driver heap.  The worker
does the set-up (session start, registry import, cold pass), runs warm
passes for ``--seconds``, then checks every lane's rows from the last warm
pass against its DuckDB oracle.  This process samples the worker tree's
summed RSS from /proc, writes the artifact to ``perfbench/out/`` and
prints, as its last line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--smoke`` runs every workload, untraced and traced, for one pass on
tiny generated inputs (sf0.001) and exits non-zero unless all of them
verify.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import traced  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "3g"
WORKER_TIMEOUT_S = 165
RSS_PERIOD_S = 0.05
CPU_LOOP_N = 2_000_000
_PAGE = os.sysconf("SC_PAGE_SIZE")
# the end-to-end metrics on the last line; op_p50_s, op_p90_s, peak_rss_mb
# and fail_ratio are on the summary line only.  The median op sits between
# two lanes of a workload's six, so it is set by one sample of each: over
# ten seeds its IQR on pipeline was a third of its median, wider than any
# bound.  A run has 12-24 warm ops, so the p90 is the second or third
# slowest op, one sample of one heavy lane: over two ten-seed sets of
# pipeline its IQR was 14% and 28% of its median.  The JVM grows its heap
# lazily, so peak RSS moves by a quarter between runs of the same code.
# Failures are the result's "failed" count.
END_TO_END = ("setup_s", "pass_s")


def cpu_probe() -> float:
    """Fixed single-core busy loop, min of 3 (seconds); host context only."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(CPU_LOOP_N):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def _session_of(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[3])
    except (OSError, IndexError, ValueError):
        return None


def _session_pids(sid: int) -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit() and _session_of(p) == sid]


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak of the summed RSS of every process in the worker's session."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid, self.peak, self.samples = sid, 0, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            total = sum(_rss_bytes(p) for p in _session_pids(self.sid))
            self.peak = max(self.peak, total)
            self.samples += 1
            self._stop_evt.wait(RSS_PERIOD_S)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _reap(sid: int) -> None:
    """Stop every process left in the worker's session and wait for it."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while _session_pids(sid) and time.time() < deadline:
            time.sleep(0.05)


def _quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def run_once(root: str, workload: str, seed: int, seconds: int, trace: int,
             sf: float | None = None) -> dict:
    w = WORKLOADS[workload]
    cpu_s = cpu_probe()
    data, manifest = gen.cached(os.path.join(HERE, ".cache"), seed, sf or w["sf"], w["copies"])
    input_bytes = sum(t["bytes"] for t in manifest.values())
    run_dir = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}-{time.time_ns()}")
    for sub in ("warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    cfg = {
        "root": root, "workload": workload, "lanes": w["lanes"], "pass_s": w["pass_s"], "data": data,
        "seconds": seconds, "trace": trace, "run_dir": run_dir,
        "result": os.path.join(run_dir, "result.json"), "input_bytes": input_bytes,
    }
    cfg_path = os.path.join(run_dir, "cfg.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "UTS_SPARK_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    log = os.path.join(run_dir, "worker.log")
    try:
        with open(log, "w") as lf:
            t_launch = time.time()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = RssSampler(proc.pid)
            sampler.start()
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                sampler.stop()
                _reap(proc.pid)
                if proc.poll() is None:
                    proc.wait()
        if rc != 0 or not os.path.exists(cfg["result"]):
            with open(log) as fh:
                tail = fh.read()[-3000:]
            why = "timed out" if rc is None else f"exit code {rc}"
            raise RuntimeError(f"worker failed ({why}):\n{tail}")
        with open(cfg["result"]) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res.update(
        workload=workload, seed=seed, seconds=seconds, trace=trace, data=data,
        inputs=manifest, setup_s=res["ready_t"] - t_launch,
        peak_rss_mb=sampler.peak / 2**20, rss_samples=sampler.samples,
        host={"nproc": os.cpu_count(), "cpu_loop_s": cpu_s,
              "tiny_job_s": res["tiny_job_s"],
              "pass_loadavg": [p["loadavg"] for p in res["warm"]]},
    )
    return res


def report(res: dict) -> dict:
    ops = {o["op"]: o for o in res["ops"]}
    warm_ops = [ops[k] for p in res["warm"] for k in p["ops"]]
    walls = [o["wall_s"] for o in warm_ops if o["ok"]]
    tried = res["ops"]
    raised = sum(not o["ok"] for o in tried)
    bad = sorted(n for n, v in res["verify"].items() if v != "ok")
    attempted = len(tried) + len(res["verify"])
    failed = raised + len(bad)
    # the mean, not the median: the JVM is still warming, so pass walls
    # fall over a run and the median of a few passes jumps with the step
    # at which a JIT compile lands
    passes = [p["wall_s"] for p in res["warm"]]
    e2e = {
        "setup_s": (res["setup_s"], "s", 1),
        "pass_s": (statistics.fmean(passes), "s", len(passes)),
        "op_p50_s": (statistics.median(walls) if walls else float("nan"), "s", len(walls)),
        "op_p90_s": (_quantile(walls, 0.9) if walls else float("nan"), "s", len(walls)),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", res["rss_samples"]),
        "fail_ratio": (failed / attempted, "ratio", attempted),
    }
    if res["trace"]:
        units = dict(traced.per_layer_names())
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layer_trace"]["metrics"].items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    summary = {
        "workload": res["workload"], "seed": res["seed"], "trace": res["trace"],
        "end_to_end": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()},
        "failed_lanes": bad,
        "raised": [f'{o["lane"]}: {o["error"]}' for o in tried if not o["ok"]][:5],
        "host": res["host"],
    }
    return {
        "summary": summary,
        "result": {"correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics},
    }


def _write_artifact(res: dict, rep: dict) -> str:
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f'{res["workload"]}-seed{res["seed"]}-trace{res["trace"]}.json')
    with open(path, "w") as fh:
        json.dump({**rep, "run": res}, fh, indent=1, default=str)
    return path


def _check_root(root: str) -> None:
    for need in ("uts_spark/registry.py", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"perfbench: run from the repository root ({need} not found in {root})")


def smoke(root: str) -> int:
    ok = True
    for name in WORKLOADS:
        for trace in (0, 1):
            res = run_once(root, name, 1, 1, trace, sf=0.001)
            rep = report(res)
            _write_artifact(res, rep)
            print(json.dumps(rep["summary"]), flush=True)
            ok &= rep["result"]["correct"]
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # a terminated benchmark still stops its worker tree (run_once's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    _check_root(root)
    if args.smoke:
        return smoke(root)
    if not args.workload:
        ap.error("--workload is required")
    res = run_once(root, args.workload, args.seed, args.seconds, args.trace)
    rep = report(res)
    path = _write_artifact(res, rep)
    print(json.dumps({**rep["summary"], "artifact": os.path.relpath(path, root)}), flush=True)
    print(json.dumps(rep["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""One benchmark run in a fresh process (started by ``run.py``).

Order: session start, registry import and the cold pass (all three are
set-up), the warm passes that fill the run's seconds, then the check of
each lane's rows against its DuckDB oracle, then the tiny-jobs host
probe.  Writes a JSON result for the parent.

The checked rows come from the last warm pass: right after each op's
timed noop action, its DataFrame is collected, untimed.  Lanes that build
an index or a change feed do so in the cold pass only and every later
pass reads that stored state, so the rows come from the code path the
warm passes time.

In a traced run the span wrappers are installed before the registry is
imported, every op's build and exec phases get their own Spark job group,
the event log is on, and warm passes alternate traced and untraced so the
span overhead shows as the difference of their pass times.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

TINY_JOBS = 10
_CTE = re.compile(r"(\bWITH\s+|,\s*)(\w+)\s+AS\s+\(", re.IGNORECASE)


def materialized(sql: str) -> str:
    """The oracle with every CTE materialized: DuckDB otherwise inlines a
    CTE into each reference and re-runs it (the minhash-LSH oracle reads
    its signature CTE eleven times: 20 s vs 2 s on the 4x corpus).  The
    oracles use no volatile function, so the rows are the same."""
    return _CTE.sub(r"\1\2 AS MATERIALIZED (", sql)


def _now_ms() -> float:
    return time.time() * 1e3


def _scan(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                s = os.stat(p)
            except OSError:
                continue
            out[p] = (s.st_size, s.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    new = [p for p, sig in after.items() if before.get(p) != sig]
    return sum(after[p][0] for p in new), len(new)


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.lanes = cfg["lanes"]
        self.data = cfg["data"]
        self.traced = bool(cfg["trace"])
        self.rec = None
        self.ops: list[dict] = []
        self.phases: list[tuple] = []
        self.spark = None
        self.queries = None
        self.rows: dict[str, tuple[list, list]] = {}

    # -- set-up ------------------------------------------------------------
    def start(self) -> dict:
        run_dir = self.cfg["run_dir"]
        conf = {
            "spark.sql.warehouse.dir": os.path.join(run_dir, "sql-warehouse"),
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if self.traced:
            log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            })
            from spans import Recorder

            self.rec = Recorder()
        t0 = time.perf_counter()
        from uts_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master="local[4]", shuffle_partitions=4, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        if self.traced:
            from spans import install

            install(self.rec)
        from uts_spark.registry import QUERIES

        if self.traced:
            install(self.rec)
        self.queries = QUERIES
        t2 = time.perf_counter()
        missing = [n for n in self.lanes if n not in QUERIES]
        if missing:
            raise SystemExit(f"lanes not registered: {missing}")
        self.start_info = {"session_s": t1 - t0, "import_s": t2 - t1}
        return self.start_info

    # -- one op --------------------------------------------------------------
    def op(self, lane: str, pass_no: int, traced: bool, warehouse: str | None,
           check: bool) -> dict:
        """Build the lane's plan, then run it into the noop sink; with
        ``check``, then collect its rows for verification (untimed)."""
        k = len(self.ops)
        rec = self.rec if traced else None
        sc = self.spark.sparkContext
        before = _scan(warehouse) if warehouse else None
        row = {"op": k, "lane": lane, "pass": pass_no, "traced": traced, "ok": True}
        if rec:
            rec.op, rec.enabled = k, True
            sc.setJobGroup(f"perfbench:{k}:{lane}:build", lane)
        a, a_ms = time.perf_counter(), _now_ms()
        b = b_ms = df = None
        try:
            frame = rec.begin("queries.build", lane) if rec else None
            try:
                df = self.queries[lane](self.spark, self.data)
            finally:
                if rec:
                    rec.end(frame)
            b, b_ms = time.perf_counter(), _now_ms()
            if rec:
                sc.setJobGroup(f"perfbench:{k}:{lane}:exec", lane)
            df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # a failing op is counted, the run goes on
            row.update(ok=False, error=f"{type(ex).__name__}: {str(ex)[:300]}")
        c, c_ms = time.perf_counter(), _now_ms()
        if b is None:
            b, b_ms = c, c_ms
        if rec:
            rec.enabled, rec.op = False, None
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.phases += [(k, "build", a_ms, b_ms), (k, "exec", b_ms, c_ms)]
        row.update(build_s=b - a, exec_s=c - b, wall_s=c - a)
        if before is not None:
            row["wh_bytes"], row["wh_files"] = _written(before, _scan(warehouse))
        row["check_s"] = 0.0
        if check and row["ok"]:
            try:
                self.rows[lane] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as ex:  # the lane is reported as unverified
                row["check_error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            row["check_s"] = time.perf_counter() - c
        self.ops.append(row)
        return row

    def one_pass(self, pass_no: int, traced: bool, check: bool = False) -> dict:
        wh = os.environ["UTS_SPARK_WAREHOUSE"] if traced else None
        load = os.getloadavg()[0]
        t0 = time.perf_counter()
        rows = [self.op(lane, pass_no, traced, wh, check) for lane in self.lanes]
        return {
            "pass": pass_no, "traced": traced, "loadavg": load,
            "wall_s": time.perf_counter() - t0 - sum(r["check_s"] for r in rows),
            "ops": [r["op"] for r in rows],
        }

    # -- verification --------------------------------------------------------
    def verify(self) -> dict[str, str]:
        """Each lane's last-warm-pass rows against its DuckDB oracle on the
        same inputs, with the canonical compare of ``tools/oracle_check.py``."""
        import duckdb

        from tools.oracle_check import canon_rows
        from uts_spark.registry import ORACLES
        from uts_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            path = os.path.join(self.data, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for lane in self.lanes:
            if lane not in self.rows:
                out[lane] = "error: the checked op or its collect raised"
                continue
            scols, srows = self.rows[lane]
            try:
                try:
                    res = con.execute(materialized(ORACLES[lane]))
                except duckdb.Error:
                    res = con.execute(ORACLES[lane])
                ocols, orows = [d[0] for d in res.description], res.fetchall()
            except duckdb.Error as ex:
                out[lane] = f"oracle error: {str(ex)[:200]}"
                continue
            if sorted(scols) != sorted(ocols):
                out[lane] = f"columns differ: {sorted(scols)} vs {sorted(ocols)}"
            elif len(srows) != len(orows):
                out[lane] = f"row count: spark={len(srows)} oracle={len(orows)}"
            elif canon_rows(scols, srows)[1] != canon_rows(ocols, orows)[1]:
                out[lane] = "values differ"
            else:
                out[lane] = "ok"
        con.close()
        return out

    def tiny_jobs_probe(self) -> float:
        """Median wall of a one-stage, four-task no-op job (scheduler-bound)."""
        job = self.spark.range(0, 4, 1, 4).write.format("noop").mode("overwrite")
        walls = []
        for _ in range(TINY_JOBS):
            t0 = time.perf_counter()
            job.save()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["root"])
    run = Run(cfg)
    res: dict = {"start": run.start()}
    res["cold"] = cold = run.one_pass(0, run.traced)
    res["ready_t"] = time.time()
    n = max(2 if run.traced else 1, round(cfg["seconds"] / cfg["pass_s"]))
    warm = [run.one_pass(i + 1, run.traced and i % 2 == 0, check=i == n - 1) for i in range(n)]
    res["warm"] = warm
    t1 = time.perf_counter()
    res["verify"] = run.verify()
    t2 = time.perf_counter()
    res["tiny_job_s"] = run.tiny_jobs_probe()
    res["verify_s"], res["probe_s"] = t2 - t1, time.perf_counter() - t2
    run.spark.stop()
    res["ops"] = run.ops
    if run.traced:
        from traced import summarize

        res["layer_trace"] = summarize(run, cold, warm)
    with open(cfg["result"], "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main(sys.argv[1])

"""Per-op and per-layer figures of a traced run.

Every traced op's wall splits two ways, both exact by construction:

- by phase: ``build_s`` (the lane builder call) + ``exec_s`` (the noop
  action);
- by layer: the self times of the layer spans inside the builder call
  (``queries.build`` self time is the builder's own code) + the exec
  phase's Spark job time + the exec phase's driver gap.

``residual_s`` is the op wall minus that layer sum; spans that the program
opens on its own threads can make it negative.  Layer metrics are medians
over the traced warm passes of per-pass totals; ``setup.*`` is the cold
pass.  Index build and tick are reported for the cold pass only: a tick
is idempotent per index version, so the lanes build and tick there and
every later pass reads the index.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

import eventlog

LAYERS = (
    "queries.build", "sources.tables.load", "sources.versioned.write",
    "sources.versioned.read", "plans.query", "operators.build",
    "index.build", "index.tick", "index.probe", "index.maintain",
    "clustering.cc", "functions.build",
)
SETUP_ONLY = ("index.build", "index.tick")
_UNITS = (  # metric-name suffix -> unit, first match wins
    ("_s", "s"), ("_share", "ratio"), ("_per_input_byte", "ratio"),
    ("bytes", "B"), ("bytes_written", "B"),
)


def _unit(name: str) -> str:
    return next((u for suffix, u in _UNITS if name.endswith(suffix)), "count")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    names = ["session.start_s", "registry.import_s"]
    names += [f"{layer}_s" for layer in LAYERS if layer not in SETUP_ONLY]
    names += ["queries.build_self_s", "sources.versioned.calls"]
    names += [f"setup.{layer}_s" for layer in LAYERS]
    names += [
        "sources.warehouse.bytes_written", "sources.warehouse.files_written",
        "sources.warehouse.bytes_per_input_byte",
        "ops.build_s", "ops.exec_s", "ops.build_share",
        "exec.jobs", "exec.build_phase_jobs", "exec.build_phase_job_share",
        "exec.job_busy_s", "exec.driver_gap_s",
    ]
    names += [f"exec.{k}" for k in eventlog.EXEC_KEYS if k not in ("jobs", "job_busy_s")]
    names += ["exec.shuffle_bytes_per_input_byte", "setup.exec.jobs",
              "setup.exec.job_busy_s", "setup.exec.driver_gap_s",
              "trace.traced_pass_s", "trace.untraced_pass_s", "trace.overhead_share"]
    return [(n, _unit(n)) for n in names]


def _op_rows(run, exec_by_phase: dict) -> list[dict]:
    by_op = defaultdict(dict)
    for (op, layer), (outer, self_s, calls) in run.rec.by_op.items():
        if op is not None:
            by_op[op][layer] = (outer, self_s, calls)
    rows = []
    for op in run.ops:
        if not op["traced"]:
            continue
        k = op["op"]
        b = exec_by_phase.get((k, "build"), {})
        e = exec_by_phase.get((k, "exec"), {})
        layers = by_op.get(k, {})
        exec_gap = op["exec_s"] - e.get("job_busy_s", 0.0)
        self_sum = sum(v[1] for v in layers.values())
        rows.append({
            **op,
            "build_jobs": int(b.get("jobs", 0)),
            "exec_jobs": int(e.get("jobs", 0)),
            "build_busy_s": b.get("job_busy_s", 0.0),
            "exec_busy_s": e.get("job_busy_s", 0.0),
            "gap_s": op["wall_s"] - b.get("job_busy_s", 0.0) - e.get("job_busy_s", 0.0),
            "exec_gap_s": exec_gap,
            "layer_self_s": {n: v[1] for n, v in layers.items()},
            "layer_s": {n: v[0] for n, v in layers.items()},
            "layer_calls": {n: v[2] for n, v in layers.items()},
            "residual_s": op["wall_s"] - self_sum - e.get("job_busy_s", 0.0) - exec_gap,
            "exec": {"build": b, "exec": e},
        })
    return rows


def _pass_figures(rows: list[dict], input_bytes: int) -> dict[str, float]:
    f: dict[str, float] = defaultdict(float)
    for r in rows:
        for layer in LAYERS:
            f[f"{layer}_s"] += r["layer_s"].get(layer, 0.0)
        f["queries.build_self_s"] += r["layer_self_s"].get("queries.build", 0.0)
        f["sources.versioned.calls"] += sum(
            r["layer_calls"].get(n, 0) for n in ("sources.versioned.read", "sources.versioned.write")
        )
        f["sources.warehouse.bytes_written"] += r.get("wh_bytes", 0)
        f["sources.warehouse.files_written"] += r.get("wh_files", 0)
        f["ops.build_s"] += r["build_s"]
        f["ops.exec_s"] += r["exec_s"]
        f["exec.build_phase_jobs"] += r["build_jobs"]
        f["exec.driver_gap_s"] += r["gap_s"]
        for phase in ("build", "exec"):
            for k, v in r["exec"][phase].items():
                f[f"exec.{k}"] += v
    f["sources.warehouse.bytes_per_input_byte"] = (
        f["sources.warehouse.bytes_written"] / input_bytes if input_bytes else 0.0
    )
    wall = f["ops.build_s"] + f["ops.exec_s"]
    f["ops.build_share"] = f["ops.build_s"] / wall if wall else 0.0
    f["exec.build_phase_job_share"] = (
        f["exec.build_phase_jobs"] / f["exec.jobs"] if f["exec.jobs"] else 0.0
    )
    shuffle = f["exec.shuffle_read_bytes"] + f["exec.shuffle_write_bytes"]
    f["exec.shuffle_bytes_per_input_byte"] = (
        shuffle / f["exec.input_bytes"] if f["exec.input_bytes"] else 0.0
    )
    return f


def summarize(run, cold: dict, warm: list[dict]) -> dict:
    log_dir = os.path.join(run.cfg["run_dir"], "eventlog")
    exec_by_phase = eventlog.attribute(log_dir, run.phases)
    rows = _op_rows(run, exec_by_phase)
    input_bytes = run.cfg["input_bytes"]
    per_pass = {
        p["pass"]: _pass_figures([r for r in rows if r["pass"] == p["pass"]], input_bytes)
        for p in [cold, *warm] if p["traced"]
    }
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    metrics: dict[str, float] = {
        "session.start_s": run.start_info["session_s"],
        "registry.import_s": run.start_info["import_s"],
    }
    for name, _ in per_layer_names():
        if name in metrics or name.startswith(("setup.", "trace.")):
            continue
        metrics[name] = statistics.median(per_pass[p["pass"]].get(name, 0.0) for p in traced)
    setup = per_pass[cold["pass"]]
    for layer in LAYERS:
        metrics[f"setup.{layer}_s"] = setup.get(f"{layer}_s", 0.0)
    for k in ("jobs", "job_busy_s", "driver_gap_s"):
        metrics[f"setup.exec.{k}"] = setup.get(f"exec.{k}", 0.0)
    t = statistics.median(p["wall_s"] for p in traced)
    u = statistics.median(p["wall_s"] for p in plain) if plain else t
    metrics.update({
        "trace.traced_pass_s": t, "trace.untraced_pass_s": u,
        "trace.overhead_share": t / u - 1.0,
    })
    return {
        "metrics": metrics,
        "ops": rows,
        "spans": run.rec.raw,
        "spans_dropped": run.rec.dropped,
        "wrapped_functions": len(run.rec.originals),
    }

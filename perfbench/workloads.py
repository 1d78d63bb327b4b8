"""The benchmark's workloads: which lanes one pass runs, on which inputs.

A lane is a registered ``uts_spark.registry.QUERIES`` entry; one op
builds its plan (``QUERIES[lane](spark, data_dir)``) and runs it into the
noop sink.  Each workload is a single closed-loop client running its ops
back to back on ``local[4]`` with 4 shuffle partitions.

The lane lists and sizes are what fits the time a full measurement may
take (4 + 22 runs per workload within an hour on a 4-core host): a run
pays about 10 s for session start and registry import, then a cold pass,
before the warm passes it measures.  One run of the same code varies by
10-15% between two single-pass runs, so each run measures at least two
passes.  Each workload keeps one lane per layer it
stresses; heavier lanes of the same layer (for example
``facade_tick_minhash_skew_replay``, whose cold pass alone is 14 s) are
left out.

``pass_s`` is the nominal wall of one warm pass on that host.  A run
measures ``round(seconds / pass_s)`` warm passes (at least one), so the
number of samples does not flip with small changes in speed.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "tsq": {
        "why": "read-only time-series and TPC-H queries (where, group, aggregate): "
               "plans, operators and JVM codegen execution; plan build is small",
        "sf": 0.01,
        "copies": 1,
        "pass_s": 3.5,
        "lanes": [
            "uts_global_agg",
            "uts_interval_mean_fill",
            "uts_derivative",
            "tpch_q1_pricing",
            "tpch_q3_topk",
            "ts_mad_anomaly",
        ],
    },
    "pipeline": {
        "why": "LLM-pipeline batch jobs on a 4x corpus beside versioned writes, feed "
               "reads and index probes: functions, clustering, Python workers, "
               "sources and index layers; driver-bound plan build",
        "sf": 0.01,
        "copies": 4,
        "pass_s": 7.7,
        "lanes": [
            "dedup_minhash_lsh",
            "dedup_cluster_cc",
            "multimodal_png_decode",
            "versioned_wap_branch_publish",
            "cdc_table_changes_appendonly",
            "similarity_ann_ivf_append_probe",
        ],
    },
}

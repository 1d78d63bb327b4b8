#!/usr/bin/env python3
"""ANN probe A/B at synthetic scale: snapshot IVF index (exact rerank
of all probed-cell members) vs snapshot IVF-PQ index (ADC shortlist ->
exact rerank) vs brute force, on a CLUSTERED corpus (64 hash-derived
centers + noise — real embeddings cluster, and cluster structure is
what IVF exploits; the driver testdata's diffuse vectors undersell
every ANN family).

Measures wall seconds and recall@10 vs brute force for 5 anchors.
Run: python3 tools/ann_smoke.py [n_vectors]
Prints one JSON line (recorded in SCALE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
N_CELLS = 8
N_PROBE = 3
K = 10


def _synth_emb(spark, n: int):
    from pyspark.sql import functions as F

    center = F.pmod(F.xxhash64("id"), F.lit(64))

    def comp(j: int):
        c = (F.pmod(F.xxhash64(center, F.lit(j)), F.lit(1000)) / 500.0) - 1.0
        nz = (F.pmod(F.xxhash64("id", F.lit(j)), F.lit(1000)) / 500.0) - 1.0
        return c + 0.15 * nz

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(j) for j in range(DIM)]).alias("embedding"),
    )


def main() -> None:
    from pyspark.sql import functions as F

    from uts_spark.functions.similarity import cosine_topk_blocked
    from uts_spark.functions.vindex import (
        ivf_vindex_build,
        ivf_vindex_probe,
        ivfpq_vindex_build,
        ivfpq_vindex_probe,
    )
    from uts_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("ann-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    emb = _synth_emb(spark, n).cache()
    emb.count()
    anchors = emb.filter(F.col("vec_id") < 5).cache()
    anchors.count()

    timings: dict[str, float] = {}
    results: dict[str, dict[int, set]] = {}

    def run(name, thunk):
        t = time.time()
        rows = thunk().collect()
        timings[name] = round(time.time() - t, 2)
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r.anchor_id, set()).add(r.neighbor_id)
        results[name] = got

    run("brute_force", lambda: cosine_topk_blocked(emb, anchors, k=K))

    scratch = tempfile.mkdtemp(prefix="ann_ab_")
    path = os.path.join(scratch, "ivf")
    try:
        t = time.time()
        ivf_vindex_build(emb, path, n_cells=N_CELLS)
        timings["ivf_index_build_once"] = round(time.time() - t, 2)

        run("ivf_probe_exact_rerank", lambda: ivf_vindex_probe(
            spark, path, anchors, k=K, n_probe=N_PROBE))

        pq_names = []
        for n_cent, rerank in ((16, 40), (256, 400)):
            pq_path = os.path.join(scratch, f"ivfpq_{n_cent}")
            t = time.time()
            ivfpq_vindex_build(
                emb, pq_path, dim=DIM, n_cells=N_CELLS,
                m_sub=8, n_cent=n_cent)
            timings[f"ivfpq_index_build_c{n_cent}_once"] = round(
                time.time() - t, 2)
            name = f"ivfpq_probe_c{n_cent}_r{rerank}"
            pq_names.append(name)
            run(name, lambda p=pq_path, r=rerank: ivfpq_vindex_probe(
                spark, p, anchors, k=K, n_probe=N_PROBE, rerank=r))

        truth = results["brute_force"]
        recalls = {
            name: round(sum(
                len(truth[a] & results[name].get(a, set())) / K
                for a in truth
            ) / len(truth), 3)
            for name in ["ivf_probe_exact_rerank"] + pq_names
        }
        print(json.dumps({
            "vectors": n,
            "dim": DIM,
            "timings": timings,
            "recall_at_10": recalls,
            "loadavg": os.getloadavg()[0],
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

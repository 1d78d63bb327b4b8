#!/usr/bin/env python3
"""Index-family MOR economics (round 10 cont., ROADMAP r11 #4).

tools/dv_smoke.py measured the TABLE's deletion-vector curves and set
maybe_materialize_dvs' knobs; the index families inherited those knobs
unmeasured. This smoke runs the same question against each snapshot
INDEX family: for K scattered takedown batches over the same built
index,

- **CoW lane**: K x ``{family}_vindex_delete`` — each batch pays its
  pruned copy-on-write rewrite now (bytes = du growth of the index
  tree; immutable dirs, so growth == writes);
- **MOR lane**: K x ``vindex_delete_mor`` (key-frame + manifest per
  batch), probing at 0 / K/2 / K outstanding vectors (the probe TAX —
  the scoped broadcast anti-join inside read_version), then ONE
  ``vindex_materialize_dvs`` folding all K.

Families differ structurally: minhash/LSH store SMALL rows (band /
bucket entries) so a CoW rewrite is cheap per byte but touches many
partitions; IVF stores the raw vectors and IVF-PQ vectors + code
arrays, so deferred folding saves the most bytes there. The measured
table drives per-family ``vindex_maybe_materialize`` defaults the same
way the chain curves drive ``vindex_maybe_compact``'s.

Run: python3 tools/vindex_dv_smoke.py [n_vec] [n_docs] [k_batches]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F  # noqa: E402

from uts_spark.session import get_spark  # noqa: E402

DIM = 64
N_ANCHORS = 5


def vecs(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("id"), j), 2001) - 1000
            ).cast("float") / F.lit(1000.0),
        ).alias("embedding"),
    )


def docs(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda j: F.substring(
                    F.md5(F.concat(
                        F.col("id").cast("string"), F.lit("-"),
                        j.cast("string"),
                    )),
                    1,
                    6,
                ),
            ),
        ).alias("text"),
    )


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def batch_ids(spark, n_rows: int, k: int, i: int, col: str):
    """Scattered takedown batch i of k: ids hashing to residue i of
    8k buckets — uniform over the keyspace (the hard pruning case)."""
    return spark.range(0, n_rows).select(
        F.col("id").alias(col)
    ).filter(F.pmod(F.xxhash64(col), F.lit(8 * k)) == i)


def run_family(spark, work: str, family: str, n_vec: int, n_docs: int,
               k: int) -> dict:
    from uts_spark.functions import vindex as vx

    is_doc = family == "minhash"
    n_rows = n_docs if is_doc else n_vec
    idc = "id" if is_doc else "vec_id"
    anchors = vecs(spark, 0, N_ANCHORS)
    probe_docs = docs(spark, n_docs, 500)
    old = docs(spark, 0, n_docs)

    def build(p):
        if family == "minhash":
            vx.minhash_vindex_build(old, "text", "doc_id", p, "f0")
        elif family == "lsh":
            vx.lsh_vindex_build(vecs(spark, 0, n_vec), p, DIM, "f0")
        elif family == "ivf":
            vx.ivf_vindex_build(vecs(spark, 0, n_vec), p, "f0")
        else:
            vx.ivfpq_vindex_build(vecs(spark, 0, n_vec), p, DIM, "f0")

    def cow_delete(p, i):
        vx.vindex_delete(spark, batch_ids(spark, n_rows, k, i, idc), p)

    def probe(p):
        if family == "minhash":
            return vx.minhash_vindex_probe(
                spark, p, probe_docs, old, "text", "doc_id"
            ).count()
        if family == "lsh":
            return vx.lsh_vindex_probe(spark, p, anchors, k=10).count()
        if family == "ivf":
            return vx.ivf_vindex_probe(
                spark, p, anchors, k=10, n_probe=3
            ).count()
        return vx.ivfpq_vindex_probe(
            spark, p, anchors, k=10, n_probe=3
        ).count()

    out: dict = {"family": family, "n_rows": n_rows, "k": k}

    # --- CoW lane -----------------------------------------------------
    p_cow = os.path.join(work, f"{family}_cow")
    build(p_cow)
    base_bytes = du(p_cow)
    t0 = time.time()
    for i in range(k):
        cow_delete(p_cow, i)
    out["cow_wall"] = round(time.time() - t0, 2)
    out["cow_mb_written"] = round((du(p_cow) - base_bytes) / 1e6, 2)

    # --- MOR lane -----------------------------------------------------
    p_mor = os.path.join(work, f"{family}_mor")
    build(p_mor)
    base_bytes = du(p_mor)
    probe(p_mor)  # warm
    t0 = time.time()
    probe(p_mor)
    out["probe_0dv"] = round(time.time() - t0, 2)
    walls = []
    for i in range(k):
        t0 = time.time()
        vx.vindex_delete_mor(
            spark, batch_ids(spark, n_rows, k, i, idc), p_mor
        )
        walls.append(time.time() - t0)
        if i + 1 == k // 2:
            t0 = time.time()
            probe(p_mor)
            out[f"probe_{k // 2}dv"] = round(time.time() - t0, 2)
    out["mor_wall"] = round(sum(walls), 2)
    out["mor_mb_written"] = round((du(p_mor) - base_bytes) / 1e6, 2)
    t0 = time.time()
    probe(p_mor)
    out[f"probe_{k}dv"] = round(time.time() - t0, 2)
    pre_mat = du(p_mor)
    t0 = time.time()
    vx.vindex_materialize_dvs(spark, p_mor)
    out["materialize_wall"] = round(time.time() - t0, 2)
    out["materialize_mb"] = round((du(p_mor) - pre_mat) / 1e6, 2)
    t0 = time.time()
    probe(p_mor)
    out["probe_post_mat"] = round(time.time() - t0, 2)
    out["mor_total_mb"] = round(
        out["mor_mb_written"] + out["materialize_mb"], 2
    )
    return out


def main() -> None:
    n_vec = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = get_spark(
        "vindex-dv-smoke", master="local[8]", shuffle_partitions=16
    )
    work = tempfile.mkdtemp(prefix="vindex_dv_")
    try:
        for family in ("minhash", "lsh", "ivf", "ivfpq"):
            print(f"[{family}]", flush=True)
            res = run_family(spark, work, family, n_vec, n_docs, k)
            print(json.dumps(res), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

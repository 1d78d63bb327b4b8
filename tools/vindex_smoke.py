#!/usr/bin/env python3
"""Service-tick economics of the SNAPSHOT-COMMITTED IVF index at 1M
vectors (dim 64, JVM-side synthetic — no files, no Python in the data
path):

- build wall
- append tick (10k batch): fast-append of one delta dir
- exactly-once REPLAY of the same batch id (must be ~0: the skip
  happens before the data job)
- erasure: a RANGED id slice (one delta dir's span — the id-ordered
  appends case) vs a SCATTERED slice (every dir's range admits ids) —
  the manifest dir-stats pruning claim, measured
- probe wall at the current snapshot

Run: python3 tools/vindex_smoke.py [rows] [batch]
Prints one JSON line {"rows": N, "timings": {...}, "pruned": {...}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def chain_main() -> None:
    """--chain [family] [rows]: probe wall vs append-chain LENGTH (the
    OPTIMIZE trigger's measurement — vindex.vindex_maybe_compact's
    per-family max_dirs defaults come from these curves): build N,
    append tiny batches one dir at a time, probe (warm, 2nd of 2) at
    several chain lengths, then compact and probe the single-dir wall.

    family in {ivf, lsh, minhash} — the three probe SHAPES: IVF scans
    cell-filtered dirs, LSH scans (table, bucket) row groups, minhash
    scans (band, grp) + re-sketches candidates. Each family's knee is
    its own (ROADMAP round-10 #5: the IVF curve must not be inherited
    unmeasured)."""
    argv = [a for a in sys.argv[2:]]
    family = argv[0] if argv and not argv[0].isdigit() else "ivf"
    nums = [a for a in argv if a.isdigit()]
    rows = int(nums[0]) if nums else (100_000 if family == "minhash" else 200_000)
    from pyspark.sql import functions as F

    from uts_spark.session import get_spark

    spark = get_spark("vindex-chain-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    import uts_spark.registry  # noqa: F401

    def vecs(lo: int, n: int):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    F.pmod(F.xxhash64(F.col("id"), j), 2001) - 1000
                ).cast("float") / F.lit(1000.0),
            ).alias("embedding"),
        )

    def docs(lo: int, n: int):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(29)),
                    lambda j: F.substring(
                        F.md5(
                            F.concat(
                                F.col("id").cast("string"),
                                F.lit("-"),
                                j.cast("string"),
                            )
                        ),
                        1,
                        6,
                    ),
                ),
            ).alias("text"),
        )

    from uts_spark.functions.vindex import (
        ivf_vindex_append,
        ivf_vindex_build,
        ivf_vindex_probe,
        lsh_vindex_append,
        lsh_vindex_build,
        lsh_vindex_probe,
        minhash_vindex_append,
        minhash_vindex_build,
        minhash_vindex_probe,
        vindex_compact,
    )

    work = tempfile.mkdtemp(prefix="uts_vindex_chain_")
    path = os.path.join(work, "snap")
    anchors = vecs(0, 5)
    corpus = docs(0, rows)
    probe_new = docs(10_000_000, 100)
    walls: dict[str, float] = {}

    if family == "ivf":
        build = lambda: ivf_vindex_build(  # noqa: E731
            vecs(0, rows), path, fingerprint="f0", n_cells=8
        )
        append = lambda lo: ivf_vindex_append(  # noqa: E731
            vecs(lo, 1000), path, fingerprint="fi", batch_id=lo
        )
        probe = lambda: ivf_vindex_probe(  # noqa: E731
            spark, path, anchors, k=10, n_probe=3
        )
    elif family == "lsh":
        build = lambda: lsh_vindex_build(  # noqa: E731
            vecs(0, rows), path, 64, fingerprint="f0"
        )
        append = lambda lo: lsh_vindex_append(  # noqa: E731
            vecs(lo, 1000), path, 64, fingerprint="fi", batch_id=lo
        )
        probe = lambda: lsh_vindex_probe(spark, path, anchors, k=10)  # noqa: E731
    elif family == "minhash":
        build = lambda: minhash_vindex_build(  # noqa: E731
            corpus, "text", "doc_id", path, fingerprint="f0"
        )
        append = lambda lo: minhash_vindex_append(  # noqa: E731
            docs(lo, 1000), "text", "doc_id", path,
            fingerprint="fi", batch_id=lo,
        )
        probe = lambda: minhash_vindex_probe(  # noqa: E731
            spark, path, probe_new, corpus, "text", "doc_id"
        )
    else:
        raise SystemExit(f"unknown chain family {family!r}")

    def probe_wall(tag):
        probe().count()
        t0 = time.time()
        probe().count()
        walls[tag] = round(time.time() - t0, 2)
        print(f"  probe@{tag}: {walls[tag]}s", flush=True)

    try:
        build()
        probe_wall("dirs=1")
        nxt = rows
        for target in (8, 16, 32, 64):
            while True:
                from uts_spark.sources.versioned import (
                    _manifest_dirs,
                    list_versions,
                )

                ndirs = len(_manifest_dirs(list_versions(path)[-1]))
                if ndirs >= target:
                    break
                append(nxt)
                nxt += 1000
            probe_wall(f"dirs={target}")
        vindex_compact(spark, path, fingerprint="fc")
        probe_wall("compacted")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"family": family, "rows": rows, "probe_walls": walls}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--chain":
        chain_main()
        return
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    from pyspark.sql import functions as F

    from uts_spark.session import get_spark

    spark = get_spark("vindex-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    import uts_spark.registry  # noqa: F401  (import-order trap)

    def vecs(lo: int, n: int):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    F.pmod(F.xxhash64(F.col("id"), j), 2001) - 1000
                ).cast("float") / F.lit(1000.0),
            ).alias("embedding"),
        )

    base = vecs(0, rows)
    b_app = vecs(rows, batch)

    timings: dict[str, float] = {}
    pruned: dict[str, int] = {}

    def t(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 2)
        print(f"  {name}: {timings[name]}s", flush=True)
        return out

    work = tempfile.mkdtemp(prefix="uts_vindex_smoke_")
    snap = os.path.join(work, "snap")
    try:
        from uts_spark.functions.vindex import (
            ivf_vindex_append,
            ivf_vindex_build,
            ivf_vindex_probe,
            vindex_delete,
        )
        from uts_spark.sources.versioned import list_versions

        t("build_snapshot", lambda: ivf_vindex_build(
            base, snap, fingerprint="f0", n_cells=8))

        t("append_snapshot_10k", lambda: ivf_vindex_append(
            b_app, snap, fingerprint="f1", batch_id=0))

        t("append_snapshot_replay_skip", lambda: ivf_vindex_append(
            b_app, snap, fingerprint="f1", batch_id=0))

        # RANGED erasure: ids entirely inside the appended delta's span
        ranged = spark.range(rows, rows + batch // 2).select(
            F.col("id").alias("vec_id")
        )
        t("delete_snapshot_ranged", lambda: vindex_delete(
            spark, ranged, snap, fingerprint="f2"))
        pruned["ranged_pruned_dirs"] = list_versions(snap)[-1]["pruned_dirs"]

        # SCATTERED erasure: every dir's range admits at least one id
        scattered = spark.range(0, rows + batch, rows // 7).select(
            F.col("id").alias("vec_id")
        )
        t("delete_snapshot_scattered", lambda: vindex_delete(
            spark, scattered, snap, fingerprint="f3"))
        pruned["scattered_pruned_dirs"] = (
            list_versions(snap)[-1]["pruned_dirs"]
        )

        anchors = base.filter(F.col("vec_id") < 5)
        t("probe_snapshot", lambda: ivf_vindex_probe(
            spark, snap, anchors, k=10, n_probe=3).count())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"rows": rows, "batch": batch,
                      "timings": timings, "pruned": pruned}))


if __name__ == "__main__":
    main()

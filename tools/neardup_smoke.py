#!/usr/bin/env python3
"""Near-dup pipeline (MinHash -> LSH banding -> exact-Jaccard verify ->
connected components) scale smoke at 1-5M synthetic docs — empirical
validation of the candidate-bound story (VERDICT r3 #5): LSH candidate
volume must stay ∝ true near-dup pairs (bucket collisions), never n².

Corpus is generated JVM-SIDE (spark.range + xxhash64-derived words, no
Python in the data path, no files): 40-word docs; 10% of the 5-doc
families are near-dup clusters whose members share 37 of 40 words
(3-gram-shingle Jaccard ≈ 0.62 per pair — above the 0.5 verify
threshold), the other 90% of docs draw doc-unique vocabularies. Ground
truth: each dup family contributes C(5,2)=10 verified pairs and 4
dropped docs.

Run: python3 tools/neardup_smoke.py [docs]
Prints one JSON line with candidate counts, candidates-per-doc, verified
pairs, CC drop counts and per-stage timings (recorded in SCALE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILY = 5          # docs per family
DUP_FAMILY_MOD = 10  # 1 in 10 families is a near-dup cluster
WORDS = 40
VAR_POS = (13, 26, 39)  # member-specific word slots inside dup families
VOCAB = 50_000


def _synth_docs(spark, n_docs):
    """The shared planted-family corpus (module docstring)."""
    from pyspark.sql import functions as F

    fam = F.expr(f"id div {FAMILY}")
    member = F.pmod(F.col("id"), F.lit(FAMILY))
    is_dup = F.pmod(fam, F.lit(DUP_FAMILY_MOD)) == 0

    def word(j: int):
        if j in VAR_POS:
            dup_key = F.xxhash64(fam, F.lit(j), member)
        else:
            dup_key = F.xxhash64(fam, F.lit(j))
        uniq_key = F.xxhash64(F.col("id"), F.lit(j + 1_000_000))
        key = F.when(is_dup, dup_key).otherwise(uniq_key)
        return F.concat(F.lit("w"), F.pmod(key, F.lit(VOCAB)).cast("string"))

    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(j) for j in range(WORDS)]).alias("text"),
    )


def index_probe_ab() -> None:
    """Round 6: persisted-MinHash-index probe vs full recompute on the
    same new-batch dedup question (new x old pairs, jaccard >= 0.5).
    The probe must (a) return the identical pair set and (b) cost a
    BATCH-shaped wall, while the one-time index build amortizes across
    every future batch. Run:
    python3 tools/neardup_smoke.py --index-probe [docs]"""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        _band_bucket_rows,
        doc_shingle_arrays_portable,
        minhash_index_probe,
        minhash_index_write,
        minhash_signatures_portable,
        pair_jaccard,
    )
    from uts_spark.session import get_spark

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    mod = int(sys.argv[3]) if len(sys.argv) > 3 else 11
    spark = get_spark("minhash-index-ab")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_docs(spark, n_docs)
    new = docs.filter(F.col("doc_id") % mod == 3)
    old = docs.filter(F.col("doc_id") % mod != 3)
    n_new = new.count()

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    scratch = tempfile.mkdtemp(prefix="mh_idx_")
    path = os.path.join(scratch, "idx")
    try:
        timed("index_build_once", lambda: minhash_index_write(
            old, "text", "doc_id", path))
        probe = minhash_index_probe(
            spark, path, new, old, "text", "doc_id").cache()
        n_probe = timed("probe_batch", probe.count)

        # recompute baseline: BOTH sides sketched fresh, same portable
        # machinery, same new x old candidate quadrant
        def recompute():
            arrays = doc_shingle_arrays_portable(
                docs, "text", "doc_id", 3).cache()
            sig = minhash_signatures_portable(arrays, 32)
            bk = _band_bucket_rows(sig, 32, 8)
            a = bk.filter(F.col("id") % mod == 3).select(
                F.col("id").alias("id_a"), "band", "bucket")
            b = bk.filter(F.col("id") % mod != 3).select(
                F.col("id").alias("id_b"), "band", "bucket")
            cand = (a.join(b, ["band", "bucket"])
                    .select("id_a", "id_b").distinct())
            return (pair_jaccard(cand, arrays)
                    .filter(F.col("jaccard") >= 0.5)
                    .select(F.col("id_a").alias("id_new"),
                            F.col("id_b").alias("id_old")).cache())

        re = recompute()
        n_re = timed("recompute_full", re.count)
        got = {(r.id_new, r.id_old)
               for r in probe.select("id_new", "id_old").collect()}
        want = {(r.id_new, r.id_old) for r in re.collect()}
        print(json.dumps({
            "docs": n_docs,
            "batch_mod": mod,
            "new_batch": n_new,
            "probe_pairs": n_probe,
            "recompute_pairs": n_re,
            "pairs_agree": got == want,
            "timings": timings,
            "loadavg": os.getloadavg()[0],
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def index_append_ab() -> None:
    """Round 7: index APPEND cost vs full rebuild when a new batch must
    be folded into the service's index. Append = sketch the batch +
    partition-aligned parquet append (batch-shaped); rebuild = sketch
    the whole grown corpus again (corpus-shaped). Run:
    python3 tools/neardup_smoke.py --index-append [docs]"""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        minhash_index_append,
        minhash_index_write,
    )
    from uts_spark.session import get_spark

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    mod = int(sys.argv[3]) if len(sys.argv) > 3 else 100  # 1% batch
    spark = get_spark("minhash-append-ab")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_docs(spark, n_docs)
    batch = docs.filter(F.col("doc_id") % mod == 3)
    base = docs.filter(F.col("doc_id") % mod != 3)
    n_batch = batch.count()

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    scratch = tempfile.mkdtemp(prefix="mh_app_")
    p_app, p_re = os.path.join(scratch, "a"), os.path.join(scratch, "r")
    try:
        timed("base_build_once", lambda: minhash_index_write(
            base, "text", "doc_id", p_app))
        timed("append_batch", lambda: minhash_index_append(
            batch, "text", "doc_id", p_app))
        timed("rebuild_full", lambda: minhash_index_write(
            docs, "text", "doc_id", p_re))
        # the appended index holds exactly the rebuilt index's rows
        a = spark.read.parquet(p_app)
        r = spark.read.parquet(p_re)
        same = (
            a.count() == r.count()
            and a.exceptAll(r).isEmpty()
        )
        print(json.dumps({
            "docs": n_docs,
            "batch_rows": n_batch,
            "rows_agree": same,
            "timings": timings,
            "loadavg": os.getloadavg()[0],
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def index_compact_ab() -> None:
    """Round 7: probe cost and file count after many appends, before
    and after compaction. Run:
    python3 tools/neardup_smoke.py --index-compact [docs]"""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        minhash_index_append,
        minhash_index_probe,
        minhash_index_write,
    )
    from uts_spark.session import get_spark
    from uts_spark.sources.sinks import compact_partitioned

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark("minhash-compact-ab")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_docs(spark, n_docs)
    probe_b = docs.filter(F.col("doc_id") % 10 == 9)
    old = docs.filter(F.col("doc_id") % 10 != 9)

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    scratch = tempfile.mkdtemp(prefix="mh_cmp_")
    path = os.path.join(scratch, "idx")
    try:
        minhash_index_write(
            old.filter(F.col("doc_id") % 6 == 0), "text", "doc_id", path)
        for rem in (1, 2, 3, 4, 5):
            minhash_index_append(
                old.filter(F.col("doc_id") % 6 == rem), "text", "doc_id",
                path)
        n1 = timed("probe_after_5_appends", lambda: minhash_index_probe(
            spark, path, probe_b, old, "text", "doc_id").count())
        before, after = timed(
            "compact", lambda: compact_partitioned(
                spark, path, ["band", "grp"]))
        n2 = timed("probe_after_compact", lambda: minhash_index_probe(
            spark, path, probe_b, old, "text", "doc_id").count())
        print(json.dumps({
            "docs": n_docs,
            "files_before": before,
            "files_after": after,
            "pairs_agree": n1 == n2,
            "timings": timings,
            "loadavg": os.getloadavg()[0],
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def index_delete_ab() -> None:
    """Round 7: erasure cost vs full rebuild-without-the-deleted. Run:
    python3 tools/neardup_smoke.py --index-delete [docs]"""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        minhash_index_delete,
        minhash_index_write,
    )
    from uts_spark.session import get_spark

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    mod = int(sys.argv[3]) if len(sys.argv) > 3 else 1000  # 0.1% erasure
    spark = get_spark("minhash-delete-ab")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_docs(spark, n_docs)
    erase = docs.filter(F.col("doc_id") % mod == 3)
    keep_docs = docs.filter(F.col("doc_id") % mod != 3)
    n_erase = erase.count()

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    scratch = tempfile.mkdtemp(prefix="mh_del_")
    p_del, p_re = os.path.join(scratch, "d"), os.path.join(scratch, "r")
    try:
        timed("full_build_once", lambda: minhash_index_write(
            docs, "text", "doc_id", p_del))
        removed = timed("delete_batch", lambda: minhash_index_delete(
            spark, erase, "text", "doc_id", p_del))
        timed("rebuild_without", lambda: minhash_index_write(
            keep_docs, "text", "doc_id", p_re))
        a, r = spark.read.parquet(p_del), spark.read.parquet(p_re)
        same = a.count() == r.count() and a.exceptAll(r).isEmpty()
        import resource

        print(json.dumps({
            "docs": n_docs,
            "erased_docs": n_erase,
            "rows_removed": removed,
            "rows_agree": same,
            "timings": timings,
            "loadavg": os.getloadavg()[0],
            # VERDICT r7 #2: the erased-id list must never materialize
            # on the driver — peak Python-driver RSS is reported so a
            # takedown-sized batch (run with mod=10 → 10% of the corpus)
            # shows flat memory vs the user-sized default
            "driver_maxrss_mb": round(
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            ),
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def index_append_idem_ab() -> None:
    """Round 8: the exactly-once streaming append's overhead vs the
    plain append — same sketch + clustered write, plus a staging dir
    and a per-file rename publish. The tax should be near-zero (renames
    move no data) and the resulting row multisets identical. Run:
    python3 tools/neardup_smoke.py --index-append-idem [docs]"""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        minhash_index_append,
        minhash_index_append_idempotent,
        minhash_index_write,
    )
    from uts_spark.session import get_spark

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    mod = int(sys.argv[3]) if len(sys.argv) > 3 else 100  # 1% batch
    spark = get_spark("minhash-append-idem-ab")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_docs(spark, n_docs)
    batch = docs.filter(F.col("doc_id") % mod == 3)
    base = docs.filter(F.col("doc_id") % mod != 3)
    n_batch = batch.count()

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    scratch = tempfile.mkdtemp(prefix="mh_idem_")
    p_plain, p_idem = os.path.join(scratch, "p"), os.path.join(scratch, "i")
    try:
        timed("base_build_plain", lambda: minhash_index_write(
            base, "text", "doc_id", p_plain))
        timed("base_build_idem", lambda: minhash_index_write(
            base, "text", "doc_id", p_idem))
        timed("append_plain", lambda: minhash_index_append(
            batch, "text", "doc_id", p_plain))
        timed("append_idempotent", lambda: minhash_index_append_idempotent(
            batch, "text", "doc_id", p_idem, batch_id=0))
        # replaying the SAME batch id converges (no duplication)
        timed("append_idempotent_replay",
              lambda: minhash_index_append_idempotent(
                  batch, "text", "doc_id", p_idem, batch_id=0))
        a = spark.read.parquet(p_plain)
        b = spark.read.parquet(p_idem)
        same = a.count() == b.count() and a.exceptAll(b).isEmpty()
        print(json.dumps({
            "docs": n_docs,
            "batch_rows": n_batch,
            "rows_agree_after_replay": same,
            "timings": timings,
            "loadavg": os.getloadavg()[0],
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def version_probe_ab() -> None:
    """Round 8: version-pinned probe cost vs the unpinned probe — the
    pin swaps directory discovery for an explicit file list from the
    history sidecar (same partition pruning, plan-pinned), so the
    overhead should be driver-side file-list assembly only. Run:
    python3 tools/neardup_smoke.py --version-probe [docs]"""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        minhash_index_append_idempotent,
        minhash_index_probe,
        minhash_index_write,
    )
    from uts_spark.session import get_spark

    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark("minhash-version-probe-ab")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _synth_docs(spark, n_docs)
    base = docs.filter(F.col("doc_id") % 100 > 4)
    b1 = docs.filter(F.col("doc_id") % 100 <= 2)   # appended tick
    probe_batch = docs.filter(F.col("doc_id") % 100 == 4)

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    scratch = tempfile.mkdtemp(prefix="mh_vp_")
    path = os.path.join(scratch, "idx")
    try:
        timed("base_build_once", lambda: minhash_index_write(
            base, "text", "doc_id", path, fingerprint="fp0"))
        timed("append_tick", lambda: minhash_index_append_idempotent(
            b1, "text", "doc_id", path, batch_id=0))

        def run_probe(**kw):
            return minhash_index_probe(
                spark, path, probe_batch, docs, "text", "doc_id",
                threshold=0.5, **kw,
            ).count()

        n_plain = timed("probe_unpinned", run_probe)
        n_v1 = timed("probe_pinned_v1", lambda: run_probe(version=1))
        n_v0 = timed("probe_pinned_v0", lambda: run_probe(version=0))
        print(json.dumps({
            "docs": n_docs,
            "pairs_unpinned": n_plain,
            "pairs_v1": n_v1,
            "pairs_v0": n_v0,
            "v1_equals_unpinned": n_v1 == n_plain,
            "timings": timings,
            "loadavg": os.getloadavg()[0],
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--version-probe":
        version_probe_ab()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--index-append-idem":
        index_append_idem_ab()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--index-delete":
        index_delete_ab()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--index-compact":
        index_compact_ab()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--index-probe":
        index_probe_ab()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--index-append":
        index_append_ab()
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from pyspark.sql import functions as F

    from uts_spark.functions.clustering import cluster_assignment
    from uts_spark.functions.dedup import (
        doc_shingle_arrays,
        minhash_band_candidates,
        minhash_signatures,
        pair_jaccard,
    )
    from uts_spark.session import get_spark

    spark = get_spark("neardup-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    fam = F.expr(f"id div {FAMILY}")
    member = F.pmod(F.col("id"), F.lit(FAMILY))
    is_dup = F.pmod(fam, F.lit(DUP_FAMILY_MOD)) == 0

    def word(j: int):
        if j in VAR_POS:
            dup_key = F.xxhash64(fam, F.lit(j), member)
        else:
            dup_key = F.xxhash64(fam, F.lit(j))
        uniq_key = F.xxhash64(F.col("id"), F.lit(j + 1_000_000))
        key = F.when(is_dup, dup_key).otherwise(uniq_key)
        return F.concat(F.lit("w"), F.pmod(key, F.lit(VOCAB)).cast("string"))

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(j) for j in range(WORDS)]).alias("text"),
    )

    timings: dict[str, float] = {}

    def timed(name, thunk):
        t = time.time()
        out = thunk()
        timings[name] = round(time.time() - t, 2)
        return out

    arrays = doc_shingle_arrays(docs, "text", "doc_id", n=3).cache()
    sig = minhash_signatures(docs, "text", "doc_id", n=3, k=32, arrays=arrays)
    cand = minhash_band_candidates(sig, k=32, bands=8).cache()
    n_cand = timed("signatures_banding_candidates", cand.count)

    verified = pair_jaccard(cand, arrays).filter(F.col("jaccard") >= 0.5)
    verified = verified.select("id_a", "id_b").cache()
    n_ver = timed("exact_jaccard_verify", verified.count)

    labeled = cluster_assignment(docs.select("doc_id"), verified, "doc_id")
    n_drop = timed(
        "connected_components_verdict",
        labeled.filter(~F.col("keep")).count,
    )

    n_dup_fams = len(range(0, n_docs // FAMILY, DUP_FAMILY_MOD))
    expect_pairs = n_dup_fams * (FAMILY * (FAMILY - 1) // 2)
    expect_drop = n_dup_fams * (FAMILY - 1)
    print(json.dumps({
        "docs": n_docs,
        "candidates": n_cand,
        "cand_per_doc": round(n_cand / n_docs, 4),
        "verified_pairs": n_ver,
        "expected_pairs": expect_pairs,
        "dropped": n_drop,
        "expected_dropped": expect_drop,
        "timings": timings,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

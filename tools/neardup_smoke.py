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
    """The planted-family corpus (module docstring)."""
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


def main() -> None:
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

    docs = _synth_docs(spark, n_docs)

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

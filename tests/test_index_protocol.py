"""Facade parity: uts_spark.functions.index_protocol must route every
verb to the same kernels the per-family lanes use. Facade probes equal
independent references (lsh_topk, ivf_topk_det with the build-time
centroids, a fresh frozen-quantizer build, the minhash recompute band
join), and a directory without a snapshot manifest chain is refused by
name."""

import os
import re
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uts_spark.functions.index_protocol import (
    index_append,
    index_build,
    index_probe,
)
from uts_spark.functions.vindex import vindex_compact, vindex_delete

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _dim(emb):
    return len(emb.select("embedding").first()["embedding"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_facade_lsh_probe_parity_across_protocols(spark, emb, tmp_path):
    """The facade's LSH probe equals the recompute lsh_topk at the same
    (planes, tables) config over the indexed corpus."""
    from uts_spark.functions.similarity import lsh_topk

    dim = _dim(emb)
    anchors = emb.orderBy("vec_id").limit(3)
    path = str(tmp_path / "lsh")
    index_build(emb, "lsh", path, dim=dim)
    got = _rows(index_probe(spark, path, anchors, k=5))
    want = _rows(lsh_topk(emb, anchors, dim, k=5, planes=8, tables=2))
    assert got == want
    assert len(got) > 0


def test_facade_ivf_full_lifecycle_parity(spark, emb, tmp_path):
    """build -> append -> delete -> compact -> probe through the facade
    equals the recompute ivf_topk_det over the survivors with the
    centroids frozen from the build corpus."""
    from uts_spark.functions.similarity import ivf_topk_det

    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)
    dele_ids = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    anchors = emb.orderBy("vec_id").limit(3)
    path = str(tmp_path / "ivf")
    index_build(base, "ivf", path)
    index_append(batch, path)
    vindex_delete(spark, dele_ids, path)
    vindex_compact(spark, path)
    got = _rows(index_probe(spark, path, anchors, k=5))
    want = _rows(ivf_topk_det(
        emb.filter(F.col("vec_id") % 10 != 0), anchors,
        k=5, n_cells=8, n_probe=3, centroid_src=base,
    ))
    assert got == want
    assert len(got) > 0


def test_facade_minhash_probe_parity(spark, docs, tmp_path):
    """The facade's minhash probe equals the recompute band join on the
    same new x old quadrant at the same config (persistence is
    physical, never semantic — the reference never touches an index)."""
    from uts_spark.functions.dedup import (
        _band_bucket_rows,
        doc_shingle_arrays_portable,
        minhash_signatures_portable,
        pair_jaccard,
    )

    d = docs.select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    probe_new = d.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "mh")
    index_build(corpus, "minhash", path, text_col="text", id_col="doc_id")
    got = {
        (r.id_new, r.id_old, r.jaccard)
        for r in index_probe(
            spark, path, (probe_new, corpus, "text", "doc_id"), threshold=0.3
        ).collect()
    }

    arrays = doc_shingle_arrays_portable(d, "text", "doc_id", 3).cache()
    bk = _band_bucket_rows(minhash_signatures_portable(arrays, 32), 32, 8)
    a = bk.filter(F.col("id") % 3 == 0).select(
        F.col("id").alias("id_a"), "band", "bucket"
    )
    b = bk.filter(F.col("id") % 3 != 0).select(
        F.col("id").alias("id_b"), "band", "bucket"
    )
    cand = a.join(b, ["band", "bucket"]).select("id_a", "id_b").distinct()
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in pair_jaccard(cand, arrays)
        .filter(F.col("jaccard") >= 0.3)
        .collect()
    }
    arrays.unpersist()
    assert got == want
    assert len(got) > 0


def test_facade_ivfpq_build_append_probe_parity(spark, emb, tmp_path):
    """build -> append -> probe through the facade equals a fresh
    snapshot build over the final corpus with both quantizers frozen
    from the build corpus."""
    from uts_spark.functions.vindex import ivfpq_vindex_build, ivfpq_vindex_probe

    dim = _dim(emb)
    base = emb.filter(F.col("vec_id") % 5 != 4)
    batch = emb.filter(F.col("vec_id") % 5 == 4)
    anchors = emb.orderBy("vec_id").limit(3)
    path = str(tmp_path / "pq")
    index_build(base, "ivfpq", path, dim=dim)
    index_append(batch, path)
    got = _rows(index_probe(spark, path, anchors, k=5))
    ref = str(tmp_path / "pq_ref")
    ivfpq_vindex_build(emb, ref, dim, centroid_src=base)
    want = _rows(ivfpq_vindex_probe(spark, ref, anchors, k=5))
    assert got == want
    assert len(got) > 0


def test_facade_family_resolution_from_manifest(spark, emb, tmp_path):
    """The facade records family+config at build, so append/probe never
    re-state config (a silent mismatch is the classic index-corruption
    mode the manifests exist to prevent)."""
    from uts_spark.sources.versioned import list_versions

    dim = _dim(emb)
    path = str(tmp_path / "lsh_m")
    index_build(emb, "lsh", path, dim=dim, planes=4, tables=2)
    m = list_versions(path)[-1]
    assert m["family"] == "lsh" and m["planes"] == 4
    # probe resolves planes=4 from the manifest — no kwargs needed
    out = index_probe(spark, path, emb.orderBy("vec_id").limit(2), k=3)
    assert out.count() > 0


def test_facade_rejects_unknown_family_and_protocol(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="unknown index family"):
        index_build(emb, "kdtree", str(tmp_path / "x"))
    # one commit protocol: a directory committed by any other (here the
    # retired marker layout) is refused by name, never guessed at
    p_marker = _marker_layout_dir(spark, tmp_path)
    with pytest.raises(ValueError, match=re.escape(p_marker)):
        index_append(emb, p_marker)


def test_facade_service_tick_parity_ivf(spark, emb, tmp_path):
    """index_service_tick routes to the family's control loop: the
    facade tick on one index must commit the same rows and the same
    monitor ints as the direct vindex tick on a twin."""
    from uts_spark.functions.index_protocol import index_service_tick
    from uts_spark.functions.vindex import (
        ivf_vindex_build,
        ivf_vindex_ingest_tick,
        ivf_vindex_probe,
    )

    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)
    anchors = emb.orderBy("vec_id").limit(3)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    ivf_vindex_build(base, pa, fingerprint="f0")
    ivf_vindex_build(base, pb, fingerprint="f0")

    direct = ivf_vindex_ingest_tick(
        spark, batch, pa, batch_id=0, fingerprint="f1"
    )
    via = index_service_tick(spark, batch, pb, batch_id=0, fingerprint="f1")
    assert via["family"] == "ivf" and via["protocol"] == "snapshot"
    for k in ("fit_sum", "fit_n", "flagged", "reclustered"):
        assert via[k] == direct[k], k
    ra = sorted(map(tuple, ivf_vindex_probe(spark, pa, anchors, k=5).collect()))
    rb = sorted(map(tuple, ivf_vindex_probe(spark, pb, anchors, k=5).collect()))
    assert ra == rb
    # replay through the facade: exactly-once (the tick reports it
    # and the committed stats come back identical)
    again = index_service_tick(spark, batch, pb, batch_id=0, fingerprint="f1")
    assert again["replayed"] is True
    assert again["fit_sum"] == via["fit_sum"]


def test_facade_service_tick_lsh_and_marker_refusal(spark, emb, tmp_path):
    import pytest as _pytest

    from uts_spark.functions.index_protocol import (
        index_build,
        index_service_tick,
    )

    dim = len(emb.select("embedding").first()["embedding"])
    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)

    p_snap = str(tmp_path / "lsh_snap")
    index_build(base, "lsh", p_snap, dim=dim)
    out = index_service_tick(spark, batch, p_snap, batch_id=0)
    assert out["monitor"] == "none" and out["family"] == "lsh"
    assert out["protocol"] == "snapshot"

    # a marker-layout directory is not an index: refused, path named
    p_marker = _marker_layout_dir(spark, tmp_path)
    with _pytest.raises(ValueError, match=re.escape(p_marker)):
        index_service_tick(
            spark, batch, p_marker, batch_id=0,
            text_col="text", id_col="doc_id",
        )


def test_facade_erase_everywhere(spark, emb, docs, tmp_path):
    """One facade call erases a takedown batch from two index families
    AND a stats-pruned data table, and the self-audit reports zero
    leaks everywhere."""
    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.functions.vindex import (
        ivf_vindex_build,
        lsh_vindex_build,
    )
    from uts_spark.sources.versioned import write_snapshot

    dim = len(emb.select("embedding").first()["embedding"])
    dele = emb.filter(F.col("vec_id") % 10 == 4).select("vec_id")

    p_ivf = str(tmp_path / "ivf")
    p_lsh = str(tmp_path / "lsh")
    p_tbl = str(tmp_path / "tbl")
    ivf_vindex_build(emb, p_ivf, fingerprint="f0")
    lsh_vindex_build(emb, p_lsh, dim, fingerprint="f0")
    write_snapshot(
        emb.select("vec_id", "embedding"), p_tbl, stats_col="vec_id"
    )

    n_total = emb.count()
    n_del = dele.count()
    acct = erase_everywhere(
        spark, dele, [p_ivf, p_lsh], [(p_tbl, "vec_id")],
        fingerprint="gdpr",
    )
    assert len(acct) == 3
    assert all(a["leaked"] == 0 for a in acct), acct
    by_target = {a["target"]: a for a in acct}
    assert by_target[p_tbl]["rows_after"] == n_total - n_del
    # ivf stores one row per vector; lsh one per (vector, table)
    assert by_target[p_ivf]["rows_after"] == n_total - n_del
    assert by_target[p_lsh]["rows_after"] % (n_total - n_del) == 0


def test_facade_erase_everywhere_mixed_protocols_custom_id(
    spark, emb, docs, tmp_path
):
    """VERDICT r9 #1: one facade call reaches IVF and LSH indexes built
    with a CUSTOM id column (the audit resolves it from each manifest,
    never a hardcoded 'vec_id'), and a minhash index takes the same
    bare ids — and the self-audit is PRUNED: the entries probe only the
    rewritten dirs and fold rows_after from manifest arithmetic."""
    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.functions.vindex import ivf_vindex_build, lsh_vindex_build
    from uts_spark.sources.versioned import read_version

    dim = _dim(emb)
    emb_c = emb.withColumnRenamed("vec_id", "item_id")
    dele_ids = emb_c.filter(F.col("item_id") % 7 == 3).select("item_id")

    p_ivf = str(tmp_path / "ivf_custom")
    ivf_vindex_build(emb_c, p_ivf, id_col="item_id", fingerprint="f0")
    p_lsh = str(tmp_path / "lsh_custom")
    lsh_vindex_build(emb_c, p_lsh, dim, id_col="item_id", fingerprint="f0")

    n = emb_c.count()
    n_del = dele_ids.count()
    acct = erase_everywhere(spark, dele_ids, [p_ivf, p_lsh], fingerprint="gdpr")
    by_target = {a["target"]: a for a in acct}
    assert all(a["leaked"] == 0 for a in acct), acct
    snap = by_target[p_ivf]
    assert snap["protocol"] == "snapshot"
    assert snap["rows_after"] == n - n_del
    assert snap["rows_removed"] == n_del
    # pruned audit: the only auditable dir is the rewrite's kept delta
    assert snap["audited_dirs"] <= 1
    lsh = by_target[p_lsh]
    assert lsh["protocol"] == "snapshot" and lsh["family"] == "lsh"
    assert lsh["rows_removed"] == 2 * n_del  # one row per (vector, table)

    # MINHASH: the same bare-id shape, one row per (doc, band) removed
    p_mh = str(tmp_path / "mh")
    index_build(docs, "minhash", p_mh, text_col="text", id_col="doc_id")
    d_ids = docs.filter(F.col("doc_id") % 11 == 2).select("doc_id")
    want = read_version(spark, p_mh).join(
        d_ids.toDF("id"), "id", "left_semi"
    ).count()
    acct2 = erase_everywhere(spark, d_ids, [p_mh], fingerprint="gdpr2")
    mh = acct2[0]
    assert mh["leaked"] == 0 and mh["family"] == "minhash"
    assert mh["rows_removed"] == want > 0


def test_erase_everywhere_table_mode_mor(spark, tmp_path):
    """table_mode='mor': the facade's table erasure commits a deletion
    vector in O(keys) and audits by re-reading the erased ids through
    the pruned point-lookup (leaked must be 0, row accounting exact);
    the cow default is unchanged; bad modes refuse."""
    import pytest

    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.sources.versioned import (
        list_versions,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_mor_facade")
    df = spark.range(0, 500).selectExpr("id AS k", "CAST(id*2 AS LONG) AS v")
    write_snapshot(df, path, stats_col="k", bloom_col="k")
    ids = spark.range(100, 130).selectExpr("id AS k")

    with pytest.raises(ValueError, match="cow | mor"):
        erase_everywhere(spark, ids, [], [(path, "k")], table_mode="zap")

    acct = erase_everywhere(spark, ids, [], [(path, "k")], table_mode="mor")
    a = acct[0]
    assert a["leaked"] == 0 and a["rows_removed"] == 30
    assert a["rows_after"] == 470
    pm = list_versions(path)[-1]
    assert pm["operation"] == "delete_mor" and len(pm["dv"]) == 1
    assert read_version(spark, path).count() == 470
    # a second, disjoint batch through the default cow path composes
    # (materializes the vector first, then rewrites)
    acct2 = erase_everywhere(
        spark, spark.range(200, 210).selectExpr("id AS k"), [], [(path, "k")]
    )
    assert acct2[0]["leaked"] == 0 and acct2[0]["rows_removed"] == 10
    assert not list_versions(path)[-1].get("dv")
    assert read_version(spark, path).count() == 460


def test_erase_everywhere_index_mode_mor(spark, emb, tmp_path):
    """index_mode='mor': snapshot-index targets erase via deletion
    vectors (unchanged dir list, O(ids) commit) with the pruned masked
    re-read as the self-audit; accounting exact, leaked 0."""
    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.functions.vindex import ivf_vindex_build
    from uts_spark.sources.versioned import list_versions

    path = str(tmp_path / "ivf_mor_facade")
    ivf_vindex_build(emb, path, fingerprint="f0", n_cells=8)
    pre_rows = list_versions(path)[-1]["n_rows"]
    ids = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    n_ids = ids.count()

    acct = erase_everywhere(spark, ids, [path], [], index_mode="mor")
    a = acct[0]
    assert a["leaked"] == 0 and a["rows_removed"] == n_ids
    assert a["rows_after"] == pre_rows - n_ids
    pm = list_versions(path)[-1]
    assert pm["operation"] == "delete_mor" and len(pm["dv"]) == 1
    assert pm["family"] == "ivf" and "centroids_dir" in pm


def test_stale_marker_directory_is_refused(spark, tmp_path):
    """A MinHash directory in the retired marker layout — (band, grp)
    partitioned parquet plus _INDEX_MANIFEST.json, no snapshot manifest
    chain — is not an index: the facade probe, the facade erasure and
    the catalog probe each raise ValueError naming the path, and the
    erasure refuses before touching any target."""
    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.functions.vindex import lsh_vindex_build
    from uts_spark.sources.catalog import index_probe_by_name, register_entry
    from uts_spark.sources.versioned import list_versions

    path = _marker_layout_dir(spark, tmp_path)
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    probe = (docs, docs, "text", "doc_id")
    with pytest.raises(ValueError, match=re.escape(path)):
        index_probe(spark, path, probe)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p_lsh = str(tmp_path / "lsh")
    lsh_vindex_build(emb, p_lsh, _dim(emb), fingerprint="f0")
    ids = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match=re.escape(path)):
        erase_everywhere(spark, ids, [p_lsh, path])
    assert len(list_versions(p_lsh)) == 1  # nothing was erased

    cat = str(tmp_path / "cat")
    register_entry(cat, "dedup", path, kind="index")
    with pytest.raises(ValueError, match=re.escape(path)):
        index_probe_by_name(spark, cat, "dedup", probe)


def _marker_layout_dir(spark, tmp_path) -> str:
    """A directory in the retired marker MinHash layout: (id, band,
    bucket) rows partitioned by (band, grp), its _INDEX_MANIFEST.json,
    and no _versions/ chain."""
    import json

    path = str(tmp_path / "mh_marker")
    spark.createDataFrame(
        [(1, 0, "b0", 3), (2, 1, "b1", 5)],
        "id long, band int, bucket string, grp long",
    ).write.partitionBy("band", "grp").parquet(path)
    with open(os.path.join(path, "_INDEX_MANIFEST.json"), "w") as fh:
        json.dump(
            {"fingerprint": "", "n": 3, "k": 32, "bands": 8, "n_grps": 16},
            fh,
        )
    return path

"""Facade parity: uts_spark.functions.index_protocol must route every
verb to the same kernels the per-family lanes use. Vector-family facade
probes equal independent references (lsh_topk, ivf_topk_det with the
build-time centroids, a fresh frozen-quantizer build), and the SAME
inputs through either minhash protocol produce IDENTICAL probe results
— protocol choice is never a semantics change."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uts_spark.functions.index_protocol import (
    DEFAULT_PROTOCOL,
    index_append,
    index_build,
    index_compact,
    index_delete,
    index_probe,
)

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


def test_default_protocol_is_snapshot():
    # the measured default (SCALE.md round 9c): snapshot won or tied
    # every maintenance lane and is the only protocol safe on object
    # storage / under concurrent writers
    assert DEFAULT_PROTOCOL == "snapshot"


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
    index_delete(spark, dele_ids, path)
    index_compact(spark, path)
    got = _rows(index_probe(spark, path, anchors, k=5))
    want = _rows(ivf_topk_det(
        emb.filter(F.col("vec_id") % 10 != 0), anchors,
        k=5, n_cells=8, n_probe=3, centroid_src=base,
    ))
    assert got == want
    assert len(got) > 0


def test_facade_minhash_probe_parity(spark, docs, tmp_path):
    corpus = docs.select("doc_id", "text").filter(F.col("doc_id") % 3 != 0).limit(300)
    probe_new = docs.select("doc_id", "text").filter(F.col("doc_id") % 3 == 0).limit(50)
    outs = {}
    for proto in ("marker", "snapshot"):
        path = str(tmp_path / f"mh_{proto}")
        index_build(
            corpus, "minhash", path, protocol=proto,
            text_col="text", id_col="doc_id",
        )
        outs[proto] = _rows(
            index_probe(
                spark, path, (probe_new, corpus, "text", "doc_id"),
                protocol=proto,
            )
        )
    assert outs["marker"] == outs["snapshot"]


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
    with pytest.raises(ValueError, match="unknown index protocol"):
        index_build(emb, "ivf", str(tmp_path / "y"), protocol="paxos")


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

    # the vector families have no marker protocol: refused at build,
    # naming the snapshot default
    for family in ("lsh", "ivf", "ivfpq"):
        with _pytest.raises(ValueError, match="no marker protocol.*'snapshot'"):
            index_build(
                base, family, str(tmp_path / f"{family}_marker"),
                protocol="marker", dim=dim,
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
    """VERDICT r9 #1: one facade call reaches BOTH protocols — snapshot
    IVF and LSH indexes built with a CUSTOM id column (the audit
    resolves it from each manifest, never a hardcoded 'vec_id') and a
    marker minhash (dispatched through its delete verb with the deleted
    rows' content) — and the self-audit is PRUNED: the snapshot
    entries probe only the rewritten dirs and fold rows_after from
    manifest arithmetic."""
    from uts_spark.functions.index_protocol import erase_everywhere
    from uts_spark.functions.vindex import ivf_vindex_build, lsh_vindex_build

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

    # marker MINHASH route: text-content relocation, same facade call
    p_mh = str(tmp_path / "mh_marker")
    index_build(
        docs, "minhash", p_mh, protocol="marker",
        text_col="text", id_col="doc_id",
    )
    d_ids = docs.filter(F.col("doc_id") % 11 == 2).select("doc_id")
    d_rows = docs.filter(F.col("doc_id") % 11 == 2)
    acct2 = erase_everywhere(
        spark, d_ids, [p_mh], fingerprint="gdpr2", deleted_rows=d_rows,
    )
    assert acct2[0]["leaked"] == 0 and acct2[0]["rows_removed"] > 0

    # bare ids against a marker index refuse loudly (content needed)
    with pytest.raises(ValueError, match="deleted_rows"):
        erase_everywhere(spark, d_ids, [p_mh], fingerprint="x")


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

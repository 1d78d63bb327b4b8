"""The index FACADE: one verb surface over the maintained index families
(MinHash bands, LSH, IVF, IVF-PQ), all committed by one protocol — the
CAS-manifest snapshot family in functions/vindex.py: Iceberg-style
fast-appends, copy-on-write rewrites, optimistic concurrency,
quantizers as manifest sidecars. It is the protocol that works on
object storage, which has no O_EXCL and no rename.

The pending-marker / rename-swap protocol (O_EXCL markers, os.replace
publishes, a JSONL version-history sidecar) that served the first
service rounds is retired, MinHash last. The choice was measured
(SCALE.md round 9c): the full matched service suite (build -> append
x3 -> warm probe -> scattered delete -> compact -> probe) for all four
families on both protocols at 200k vectors / 100k docs gave snapshot
the maintenance verbs at a 1.69x geomean — erasure 1.7-4.2x (bare-id
dir-stats-pruned copy-on-write vs re-sketch + partition rewrite),
appends 1.1-3.4x — with probes at parity (1.15x geomean, inside
warm-probe noise; same scan kernels). A path without a snapshot
manifest chain (such as a directory left by the marker protocol) is
not an index: every verb raises ``ValueError`` naming the path.

The facade is deliberately THIN: it owns family dispatch for the verbs
whose row construction differs per family — build, append, probe and
the service tick — never semantics; each route calls the same
functions the per-family lanes register, so facade results are
hash-identical to the family lanes' oracles (pinned in
tests/test_index_protocol.py). Erase and compact need no dispatch:
``vindex.vindex_delete`` / ``vindex.vindex_compact`` (and the
merge-on-read ``vindex_delete_mor``) read family, layout and config
off the manifest themselves, and :func:`erase_everywhere` fans them
out over many indexes and tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_FAMILIES = ("minhash", "lsh", "ivf", "ivfpq")


def index_build(
    df: DataFrame,
    family: str,
    path: str,
    fingerprint: str = "",
    **config,
) -> int:
    """Build version 0 of a ``family`` index at ``path``.

    minhash config: text_col, id_col (required), n/k/bands/n_grps.
    lsh config: dim (required), planes/tables, id_col/vec_col.
    ivf config: n_cells, id_col/vec_col, centroid_src.
    ivfpq config: dim (required), n_cells/m_sub/n_cent, id_col/vec_col.

    Returns the committed snapshot version."""
    from uts_spark.functions import vindex as vx

    if family not in _FAMILIES:
        raise ValueError(f"unknown index family {family!r} (expected one of {_FAMILIES})")
    if family == "minhash":
        return vx.minhash_vindex_build(
            df, config.pop("text_col"), config.pop("id_col"), path,
            fingerprint=fingerprint, **config,
        )
    if family == "lsh":
        return vx.lsh_vindex_build(
            df, path, config.pop("dim"), fingerprint=fingerprint, **config
        )
    if family == "ivf":
        return vx.ivf_vindex_build(df, path, fingerprint=fingerprint, **config)
    return vx.ivfpq_vindex_build(
        df, path, config.pop("dim"), fingerprint=fingerprint, **config
    )


def index_append(
    batch: DataFrame,
    path: str,
    fingerprint: str = "",
    batch_id: int | None = None,
    stream_id: str | None = None,
    **config,
) -> int:
    """Fold a batch into an existing index. Family is read from the
    index's own manifest — an append cannot disagree with the index it
    extends. ``batch_id``/``stream_id`` opt into exactly-once commits."""
    from uts_spark.functions import vindex as vx

    family, cfg = _family_config(path)
    if family == "minhash":
        return vx.minhash_vindex_append(
            batch, config.pop("text_col"), config.pop("id_col"), path,
            fingerprint=fingerprint,
            n=cfg["n"], k=cfg["k"], bands=cfg["bands"], n_grps=cfg["n_grps"],
            batch_id=batch_id, stream_id=stream_id,
        )
    if family == "lsh":
        return vx.lsh_vindex_append(
            batch, path, cfg["dim"], fingerprint=fingerprint,
            planes=cfg["planes"], tables=cfg["tables"],
            batch_id=batch_id, stream_id=stream_id, **config,
        )
    if family == "ivf":
        return vx.ivf_vindex_append(
            batch, path, fingerprint=fingerprint,
            batch_id=batch_id, stream_id=stream_id, **config,
        )
    return vx.ivfpq_vindex_append(
        batch, path, fingerprint=fingerprint,
        batch_id=batch_id, stream_id=stream_id, **config,
    )


def index_probe(
    spark,
    path: str,
    probe_input,
    version: int | None = None,
    **kwargs,
) -> DataFrame:
    """Probe an index. ``probe_input`` is the anchor frame (vector
    families) or the (new_docs, old_docs, text_col, id_col) tuple
    (minhash). ``version`` pins a snapshot (time travel)."""
    from uts_spark.functions import vindex as vx

    family, cfg = _family_config(path)
    if family == "minhash":
        new_docs, old_docs, text_col, id_col = probe_input
        return vx.minhash_vindex_probe(
            spark, path, new_docs, old_docs, text_col, id_col,
            n=cfg["n"], k=cfg["k"], bands=cfg["bands"], n_grps=cfg["n_grps"],
            version=version, **kwargs,
        )
    if family == "lsh":
        return vx.lsh_vindex_probe(spark, path, probe_input, version=version, **kwargs)
    if family == "ivf":
        return vx.ivf_vindex_probe(spark, path, probe_input, version=version, **kwargs)
    return vx.ivfpq_vindex_probe(spark, path, probe_input, version=version, **kwargs)


def index_service_tick(
    spark,
    batch: DataFrame,
    path: str,
    batch_id: int,
    fingerprint: str = "",
    stream_id: str | None = None,
    **config,
) -> dict:
    """One SERVICE TICK through the facade: fold a micro-batch into the
    index exactly-once AND run the family's control loop — the verb a
    streaming foreachBatch actually wants, family-agnostic (the CRUD
    facade above covers the verbs; this covers the loops):

    - ivf    -> drift tick (per-batch quantizer fit committed with the
                data; recluster fired at the measured 0.82 flag);
    - ivfpq  -> distortion tick (codebook-side monitor at the measured
                1.3x flag; recluster re-encodes);
    - minhash-> skew tick (bucket-collision ints vs the organic
                reference; hot-bucket quarantine at the measured 8x
                flag);
    - lsh    -> idempotent append (hyperplanes are seed-derived and
                corpus-independent — there is no quantizer to drift
                and no monitor to run; the returned dict says so
                rather than inventing a loop).

    Family and config resolve from the index's own manifest. Returns
    the family tick's stats dict (plus ``family``/``protocol`` keys).
    Thresholds stay overridable through ``config`` (recluster_milli /
    distortion_milli / cap / skew_milli)."""
    from uts_spark.functions import vindex as vx

    family, cfg = _family_config(path)
    if family == "ivf":
        out = vx.ivf_vindex_ingest_tick(
            spark, batch, path, batch_id, fingerprint=fingerprint,
            stream_id=stream_id, **config,
        )
    elif family == "ivfpq":
        out = vx.ivfpq_vindex_ingest_tick(
            spark, batch, path, batch_id, fingerprint=fingerprint,
            stream_id=stream_id, **config,
        )
    elif family == "minhash":
        out = vx.minhash_vindex_ingest_tick(
            spark, batch, config.pop("text_col"), config.pop("id_col"),
            path, batch_id, fingerprint=fingerprint,
            stream_id=stream_id,
            n=cfg["n"], k=cfg["k"], bands=cfg["bands"],
            n_grps=cfg["n_grps"], **config,
        )
    else:
        ver = vx.lsh_vindex_append(
            batch, path, cfg["dim"], fingerprint=fingerprint,
            planes=cfg["planes"], tables=cfg["tables"],
            batch_id=batch_id, stream_id=stream_id, **config,
        )
        out = {"version": ver, "monitor": "none"}
    return {**out, "family": family, "protocol": "snapshot"}


def _family_config(path: str) -> tuple[str, dict]:
    """Resolve (family, config) from the index's own manifest so the
    caller never re-states what the index already knows. Raises
    ``ValueError`` naming the path when it has no snapshot manifest
    chain (vindex._current_manifest) or an unknown family."""
    from uts_spark.functions.vindex import _current_manifest

    pm = _current_manifest(path)
    fam = pm.get("family")
    if fam not in _FAMILIES:
        raise ValueError(f"snapshot index at {path}: unknown family {fam!r}")
    return fam, pm


def erase_everywhere(
    spark,
    deleted_ids,
    index_paths: list[str],
    table_specs: list[tuple[str, str]] | None = None,
    fingerprint: str = "",
    table_mode: str = "cow",
    index_mode: str = "cow",
) -> list[dict]:
    """FACADE-LEVEL GDPR: one call erases a takedown batch from every
    index (:func:`vindex.vindex_delete`, the pruned copy-on-write
    kernel, which reads each index's family off its manifest) AND
    every versioned data table
    (``table_specs`` = (path, key_col) pairs; dir-stats-pruned when the
    table opted in at write time). Every index path must carry a
    snapshot manifest chain; one that does not raises ``ValueError``
    naming it before anything is erased. Then the call AUDITS itself
    at the erasure's own pruned shape (VERDICT r9 #1 — the first audit
    full-scanned every target): survivors can only live in the dirs
    the delete REWROTE (untouched dirs were excluded by the manifest's
    min/max stats, carried dirs by reference are unchanged bytes) — so
    the audit left-semi probes ONLY the rewritten dirs, and
    ``rows_after`` folds from the committed manifest's ``n_rows``, no
    scan.

    Returns one accounting dict per target: {target, kind, protocol,
    family|key, version, rows_after, rows_removed, leaked,
    audited_dirs}. ``leaked`` must be 0 everywhere; a compliance pass
    that doesn't verify its own writes is a report, not an erasure.
    Cost: sum of touched dirs across all targets — never the sum of
    index or table sizes; the audit has the same bound.

    ``table_mode="mor"`` (round 10) routes table targets through
    MERGE-ON-READ deletion vectors instead of the copy-on-write
    rewrite: the takedown commits in O(keys) — the latency a
    compliance SLA actually measures — and the rewrite defers to
    maybe_materialize_dvs / the catalog maintenance tick. The audit
    changes shape with it: there are no rewritten dirs to probe, so it
    re-reads the erased ids through :func:`versioned.read_rows_for_ids`
    at the committed version (the pruned point-lookup applies the new
    vector — a vector that failed to mask shows up as leaked > 0);
    cost = the admitting dirs, same bound as the erase's own count
    scan. ``index_mode="mor"`` does the same for indexes
    (vindex_delete_mor — probes mask through read_version; audit =
    vindex_read_rows_for_ids at the committed version)."""
    from uts_spark.functions.vindex import (
        _current_manifest,
        _layout_of,
        vindex_delete,
        vindex_delete_mor,
    )
    from uts_spark.sources.versioned import (
        delete_rows,
        delete_rows_mor,
        list_versions,
        read_rows_for_ids,
        _manifest_dirs,
    )

    for nm, md in (("table_mode", table_mode), ("index_mode", index_mode)):
        if md not in ("cow", "mor"):
            raise ValueError(f"{nm} {md!r} not supported (cow | mor)")
    erase = vindex_delete_mor if index_mode == "mor" else vindex_delete
    # every index resolves (manifest chain, known family) before any
    # erasure commits
    parents = [(path, _current_manifest(path)) for path in index_paths]
    id_cols = [_layout_of(pm)[2] for _, pm in parents]
    out: list[dict] = []
    for (path, pm), idc in zip(parents, id_cols):
        parent_dirs = set(_manifest_dirs(pm))
        ver = erase(spark, deleted_ids, path, fingerprint=fingerprint)
        m2 = {m["version"]: m for m in list_versions(path)}[ver]
        idf = (
            deleted_ids.toDF(idc)
            if len(deleted_ids.columns) == 1
            else deleted_ids.select(idc)
        )
        if index_mode == "mor":
            from uts_spark.functions.vindex import (
                _stats_admitting,
                vindex_read_rows_for_ids,
            )

            # pruned masked re-read of the erased ids: any surviving
            # row is a real leak
            leaked = vindex_read_rows_for_ids(
                spark, path, idf, version=ver
            ).count()
            audited = len(_stats_admitting(spark, m2, idf, idc))
        else:
            rewritten = [
                d for d in _manifest_dirs(m2) if d not in parent_dirs
            ]
            leaked = (
                spark.read.parquet(*rewritten)
                .join(idf, idc, "left_semi")
                .count()
                if rewritten
                else 0
            )
            audited = len(rewritten)
        out.append({
            "target": path, "kind": "index", "protocol": "snapshot",
            "family": pm["family"], "version": ver,
            "rows_after": m2["n_rows"],
            "rows_removed": pm["n_rows"] - m2["n_rows"],
            "leaked": leaked, "audited_dirs": audited,
        })
    for path, key in table_specs or []:
        idf = (
            deleted_ids.toDF(key)
            if len(deleted_ids.columns) == 1
            else deleted_ids.select(key)
        )
        pvs = {m["version"]: m for m in list_versions(path)}
        pm = pvs[max(pvs)]
        parent_dirs = set(_manifest_dirs(pm))
        if table_mode == "mor":
            ver = delete_rows_mor(spark, path, idf, key)
            m2 = {m["version"]: m for m in list_versions(path)}[ver]
            # audit: re-read the erased ids THROUGH the new vector —
            # pruned to admitting dirs, masked by every outstanding
            # vector; any surviving row is a real leak
            leaked = read_rows_for_ids(
                spark, path, idf, key, version=ver
            ).count()
            from uts_spark.sources.versioned import _admitting_dirs

            admit = _admitting_dirs(spark, m2, idf, key)
            audited = (
                len(_manifest_dirs(m2)) if admit is None else sum(admit)
            )
            out.append({
                "target": path, "kind": "table", "protocol": "snapshot",
                "key": key, "version": ver,
                "rows_after": m2["n_rows"],
                "rows_removed": pm["n_rows"] - m2["n_rows"],
                "leaked": leaked, "audited_dirs": audited,
            })
            continue
        ver = delete_rows(spark, path, idf, key)
        m2 = {m["version"]: m for m in list_versions(path)}[ver]
        rewritten = [d for d in _manifest_dirs(m2) if d not in parent_dirs]
        if rewritten:
            scan = spark.read
            if m2.get("evolved") and m2.get("schema"):
                scan = scan.option("mergeSchema", "true")
            leaked = (
                scan.parquet(*rewritten).join(idf, key, "left_semi").count()
            )
        else:
            leaked = 0
        out.append({
            "target": path, "kind": "table", "protocol": "snapshot",
            "key": key, "version": ver,
            "rows_after": m2["n_rows"],
            "rows_removed": pm["n_rows"] - m2["n_rows"],
            "leaked": leaked, "audited_dirs": len(rewritten),
        })
    return out

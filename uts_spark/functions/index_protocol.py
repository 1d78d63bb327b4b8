"""The index-protocol FACADE: one verb surface over the maintained
index families (MinHash bands, LSH, IVF, IVF-PQ) and their commit
protocols:

- ``"snapshot"`` — the CAS-manifest family (functions/vindex.py):
  Iceberg-style fast-appends, copy-on-write rewrites, optimistic
  concurrency, quantizers as manifest sidecars. The object-storage-safe
  protocol (round 9) and the only one the vector families (LSH, IVF,
  IVF-PQ) have.
- ``"marker"`` — MinHash only: the pending-marker / rename-swap family
  (dedup.minhash_index_*): single-writer O_EXCL markers, os.replace
  publishes, a JSONL version history sidecar. POSIX-local-FS
  primitives; the original service protocol (rounds 6-8). Asking for
  it with a vector family raises ``ValueError``.

``DEFAULT_PROTOCOL`` is **measured, not guessed** (SCALE.md round 9c):
the full matched service suite (build -> append x3 -> warm probe ->
scattered delete -> compact -> probe) for all four families on both
protocols at 200k vectors / 100k docs gave snapshot the maintenance
verbs at a 1.69x geomean — erasure 1.7-4.2x (bare-id dir-stats-pruned
copy-on-write vs re-sketch + partition rewrite), appends 1.1-3.4x
(delta-dir + manifest commit vs partition-grid append), LSH across the
board 1.5-3.6x — with probes at parity (1.15x geomean, inside
warm-probe noise; same scan kernels). The one structural marker win,
the IVF-PQ build (0.70x), was the snapshot build paying for its drift
monitor (the ``dist_ref`` distortion ints), feature cost, not protocol
overhead. Beyond the walls, only the snapshot protocol is safe under
concurrent writers and on object storage, so the vector families'
marker verbs were retired after that A/B.

The facade is deliberately THIN: it owns protocol choice and family
dispatch, never semantics — each route calls the same functions the
per-family lanes register, so facade results are hash-identical to the
family lanes' oracles (pinned in tests/test_index_protocol.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Measured default — see module docstring and SCALE.md round 9c.
DEFAULT_PROTOCOL = "snapshot"

_FAMILIES = ("minhash", "lsh", "ivf", "ivfpq")


def _check(family: str, protocol: str | None) -> str:
    if family not in _FAMILIES:
        raise ValueError(f"unknown index family {family!r} (expected one of {_FAMILIES})")
    proto = protocol or DEFAULT_PROTOCOL
    if proto not in ("marker", "snapshot"):
        raise ValueError(f"unknown index protocol {proto!r} (expected 'marker' or 'snapshot')")
    if proto == "marker" and family != "minhash":
        raise ValueError(
            f"the {family} index has no marker protocol (only minhash "
            f"does); use the default protocol={DEFAULT_PROTOCOL!r}"
        )
    return proto


def index_build(
    df: DataFrame,
    family: str,
    path: str,
    protocol: str | None = None,
    fingerprint: str = "",
    **config,
) -> int | None:
    """Build version 0 of a ``family`` index at ``path``.

    minhash config: text_col, id_col (required), n/k/bands/n_grps.
    lsh config: dim (required), planes/tables, id_col/vec_col.
    ivf config: n_cells, id_col/vec_col, centroid_src.
    ivfpq config: dim (required), n_cells/m_sub/n_cent, id_col/vec_col.

    Returns the committed snapshot version (snapshot protocol) or None
    (the minhash marker protocol writes version 0 into its history
    sidecar)."""
    proto = _check(family, protocol)
    if proto == "snapshot":
        from uts_spark.functions import vindex as vx

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
    from uts_spark.functions import dedup as dd

    # stamp family + full config so every later facade verb resolves
    # them from the index itself, as the snapshot route does from its
    # CAS manifest
    cfg = {
        k: config.get(k, v)
        for k, v in (("n", 3), ("k", 32), ("bands", 8), ("n_grps", 16))
    }
    dd.minhash_index_write(
        df, config.pop("text_col"), config.pop("id_col"), path,
        fingerprint=fingerprint or None, **config,
    )
    dd.index_manifest_write(path, fingerprint, family=family, **cfg)
    return None


def index_append(
    batch: DataFrame,
    path: str,
    protocol: str | None = None,
    fingerprint: str = "",
    batch_id: int | None = None,
    stream_id: str | None = None,
    **config,
) -> int | None:
    """Fold a batch into an existing index. Family is read from the
    index's own manifest — an append cannot disagree with the index it
    extends. ``batch_id``/``stream_id`` opt into exactly-once commits
    (snapshot protocol; the minhash marker protocol's idempotent
    variant keys on (epoch, batch_id) via its history sidecar)."""
    family, cfg = _family_config(path, protocol)
    proto = _check(family, protocol)
    if proto == "snapshot":
        from uts_spark.functions import vindex as vx

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
    from uts_spark.functions import dedup as dd

    if batch_id is not None:
        dd.minhash_index_append_idempotent(
            batch, config.pop("text_col"), config.pop("id_col"), path,
            batch_id=batch_id,
            n=cfg["n"], k=cfg["k"], bands=cfg["bands"], n_grps=cfg["n_grps"],
        )
    else:
        dd.minhash_index_append(
            batch, config.pop("text_col"), config.pop("id_col"), path,
            n=cfg["n"], k=cfg["k"], bands=cfg["bands"], n_grps=cfg["n_grps"],
        )
    return None


def index_delete(
    spark,
    deleted: DataFrame,
    path: str,
    protocol: str | None = None,
    fingerprint: str = "",
    **config,
) -> int:
    """Erase ids from an index (the GDPR verb). The snapshot route
    takes BARE ids (manifest dir-stats prune the rewrite); the minhash
    marker route needs the deleted rows' CONTENT (text) to re-derive
    their partitions — pass the full rows and text_col/id_col. Returns
    rows removed (marker) or the committed version (snapshot)."""
    family, cfg = _family_config(path, protocol)
    proto = _check(family, protocol)
    if proto == "snapshot":
        from uts_spark.functions import vindex as vx

        return vx.vindex_delete_auto(spark, deleted, path, fingerprint=fingerprint)
    from uts_spark.functions import dedup as dd

    return dd.minhash_index_delete(
        spark, deleted, config.pop("text_col"), config.pop("id_col"), path,
        n=cfg["n"], k=cfg["k"], bands=cfg["bands"], n_grps=cfg["n_grps"],
    )


def index_probe(
    spark,
    path: str,
    probe_input,
    protocol: str | None = None,
    version: int | None = None,
    **kwargs,
) -> DataFrame:
    """Probe an index. ``probe_input`` is the anchor frame (vector
    families) or the (new_docs, old_docs, text_col, id_col) tuple
    (minhash). ``version`` pins a snapshot (both protocols support
    time travel; the minhash marker protocol resolves it via its
    history sidecar)."""
    family, cfg = _family_config(path, protocol)
    proto = _check(family, protocol)
    if proto == "snapshot":
        from uts_spark.functions import vindex as vx

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
    from uts_spark.functions import dedup as dd

    new_docs, old_docs, text_col, id_col = probe_input
    return dd.minhash_index_probe(
        spark, path, new_docs, old_docs, text_col, id_col,
        n=cfg["n"], k=cfg["k"], bands=cfg["bands"], n_grps=cfg["n_grps"],
        version=version, **kwargs,
    )


def index_compact(
    spark, path: str, protocol: str | None = None, fingerprint: str = ""
):
    """Compact an index (snapshot: CAS rewrite commit; minhash marker:
    rename-swap with a RESET census line in the history sidecar)."""
    family, cfg = _family_config(path, protocol)
    proto = _check(family, protocol)
    if proto == "snapshot":
        from uts_spark.functions import vindex as vx

        return vx.vindex_compact_auto(spark, path, fingerprint=fingerprint)
    from uts_spark.sources.sinks import compact_partitioned

    return compact_partitioned(spark, path, ["band", "grp"])


def index_service_tick(
    spark,
    batch: DataFrame,
    path: str,
    batch_id: int,
    protocol: str | None = None,
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
    family, cfg = _family_config(path, protocol)
    proto = _check(family, protocol)
    if proto == "snapshot":
        from uts_spark.functions import vindex as vx

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
    else:
        from uts_spark.functions import dedup as dd

        out = dd.minhash_ingest_tick(
            spark, batch, config.pop("text_col"), config.pop("id_col"),
            path, batch_id,
            n=cfg["n"], k=cfg["k"], bands=cfg["bands"],
            n_grps=cfg["n_grps"], **config,
        )
    return {**out, "family": family, "protocol": proto}


def _family_config(path: str, protocol: str | None) -> tuple[str, dict]:
    """Resolve (family, config) from the index's own manifest so the
    caller never re-states what the index already knows. The snapshot
    manifest records ``family`` explicitly; a marker manifest is a
    minhash one (its ``family`` stamp, or the n/k/bands config keys an
    unstamped one carries)."""
    proto = protocol or DEFAULT_PROTOCOL
    if proto == "snapshot":
        from uts_spark.functions.vindex import _current_manifest

        pm = _current_manifest(path)
        fam = pm.get("family")
        if fam not in _FAMILIES:
            raise ValueError(f"snapshot index at {path}: unknown family {fam!r}")
        return fam, pm
    from uts_spark.functions.dedup import index_manifest_read

    cfg = index_manifest_read(path) or {}
    if cfg.get("family") in _FAMILIES:
        return cfg["family"], cfg
    if "bands" in cfg and "n" in cfg:
        return "minhash", cfg
    raise ValueError(
        f"marker index at {path}: no minhash config in its manifest "
        f"(keys {sorted(cfg)}) — the marker protocol is minhash-only"
    )


def _detect_index_protocol(path: str) -> str:
    """Which commit protocol owns the index at ``path``: a committed
    snapshot manifest chain wins; otherwise a marker-family manifest;
    otherwise this is not an index we know how to address."""
    from uts_spark.sources.versioned import list_versions

    if list_versions(path):
        return "snapshot"
    from uts_spark.functions.dedup import index_manifest_read

    if index_manifest_read(path) is not None:
        return "marker"
    raise ValueError(
        f"index at {path}: neither a snapshot manifest chain nor a "
        "marker manifest found - not an index this facade can erase"
    )


def _marker_locate(spark, cfg, deleted_rows, text_col, id_col):
    """Located (id, band, grp) rows of the deleted docs in a MARKER
    minhash index: re-derive ONLY their partitions with the same
    kernels the delete verb uses — the audit then scans just those
    partitions, never the index."""
    from pyspark.sql import functions as F

    from uts_spark.functions.dedup import (
        _band_bucket_rows,
        doc_shingle_arrays_portable,
        minhash_signatures_portable,
    )

    k = cfg.get("k", 32)
    arrays = doc_shingle_arrays_portable(
        deleted_rows, text_col, id_col, cfg.get("n", 3)
    )
    sig = minhash_signatures_portable(arrays, k)
    return _band_bucket_rows(sig, k, cfg.get("bands", 8)).select(
        "id",
        "band",
        F.pmod(
            F.xxhash64("bucket"), F.lit(cfg.get("n_grps", 16))
        ).alias("grp"),
    )


def _touched_partition_filter(located, part_cols):
    """(flat partition-pruning Column over the touched partitions,
    touched count) — the same combined-key In-list shape as
    sinks.delete_from_partitioned (an OR-chain of conjunctions
    StackOverflows the expression converter at a few hundred keys)."""
    from pyspark.sql import functions as F

    touched = sorted(
        tuple(int(r[c]) if not isinstance(r[c], str) else r[c] for c in part_cols)
        for r in located.select(*part_cols).distinct().collect()
    )
    if not touched:
        return None, 0
    if len(part_cols) == 1:
        return F.col(part_cols[0]).isin([key[0] for key in touched]), len(touched)
    combined = F.concat_ws("/", *[F.col(c).cast("string") for c in part_cols])
    return (
        combined.isin(["/".join(str(v) for v in key) for key in touched]),
        len(touched),
    )


def erase_everywhere(
    spark,
    deleted_ids,
    index_paths: list[str],
    table_specs: list[tuple[str, str]] | None = None,
    fingerprint: str = "",
    deleted_rows=None,
    text_col: str = "text",
    table_mode: str = "cow",
    index_mode: str = "cow",
) -> list[dict]:
    """FACADE-LEVEL GDPR: one call erases a takedown batch from every
    index — SNAPSHOT indexes (family dispatched off each manifest, all
    four routes through the pruned copy-on-write kernel) and MARKER
    minhash indexes (protocol detected per path; dispatched through the
    minhash delete verb, which needs the deleted rows' CONTENT — pass
    ``deleted_rows`` carrying id + text columns, or the call refuses
    loudly) — AND every versioned data table (``table_specs``
    = (path, key_col) pairs; dir-stats-pruned when the table opted in
    at write time). Then it AUDITS itself at the erasure's own pruned
    shape (VERDICT r9 #1 — the first audit full-scanned every target):

    - snapshot indexes / tables: survivors can only live in the dirs
      the delete REWROTE (untouched dirs were excluded by the
      manifest's min/max stats, carried dirs by reference are
      unchanged bytes) — so the audit left-semi probes ONLY the
      rewritten dirs, and ``rows_after`` folds from the committed
      manifest's ``n_rows``, no scan;
    - marker minhash indexes: the deleted rows re-locate to their
      (band, grp) partitions (same kernels as the delete verb) and the
      audit scans only the touched partitions behind a flat partition
      filter.

    Returns one accounting dict per target: {target, kind, protocol,
    family|key, version, rows_after, rows_removed, leaked,
    audited_dirs}. ``leaked`` must be 0 everywhere; a compliance pass
    that doesn't verify its own writes is a report, not an erasure.
    ``rows_after``/``version`` are None on marker targets (no manifest
    row census; the history sidecar records a RESET instead). Cost:
    sum of touched dirs/partitions across all targets — never the sum
    of index or table sizes; the audit now has the same bound.

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
    scan. ``index_mode="mor"`` does the same for SNAPSHOT indexes
    (vindex_delete_mor — probes mask through read_version; audit =
    vindex_read_rows_for_ids at the committed version); marker
    minhash indexes have no vector machinery and always erase
    copy-on-write regardless."""
    from uts_spark.functions.vindex import (
        _current_manifest,
        vindex_delete_auto,
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
    out: list[dict] = []
    for path in index_paths:
        proto = _detect_index_protocol(path)
        if proto == "snapshot":
            pm = _current_manifest(path)
            fam = pm.get("family")
            idc = pm.get("id_col") or ("id" if fam == "minhash" else "vec_id")
            parent_dirs = set(_manifest_dirs(pm))
            ver = vindex_delete_auto(
                spark, deleted_ids, path, fingerprint=fingerprint,
                mode=index_mode,
            )
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

                # pruned masked re-read of the erased ids: any
                # surviving row is a real leak
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
                "family": fam, "version": ver,
                "rows_after": m2["n_rows"],
                "rows_removed": pm["n_rows"] - m2["n_rows"],
                "leaked": leaked, "audited_dirs": audited,
            })
            continue
        fam, cfg = _family_config(path, "marker")
        if deleted_rows is None:
            raise ValueError(
                f"marker index at {path}: the marker delete verb "
                "re-derives partitions from the deleted rows' content - "
                "pass deleted_rows= (id + text columns); bare ids only "
                "suffice for snapshot indexes and tables"
            )
        idc = deleted_ids.columns[0]
        removed = index_delete(
            spark, deleted_rows, path, protocol="marker",
            fingerprint=fingerprint, text_col=text_col, id_col=idc,
        )
        located = _marker_locate(spark, cfg, deleted_rows, text_col, idc)
        cond, n_touched = _touched_partition_filter(located, ["band", "grp"])
        if cond is None:
            leaked = 0
        else:
            leaked = (
                spark.read.parquet(path)
                .filter(cond)
                .join(located.select("id").distinct(), "id", "left_semi")
                .count()
            )
        out.append({
            "target": path, "kind": "index", "protocol": "marker",
            "family": fam, "version": None, "rows_after": None,
            "rows_removed": removed, "leaked": leaked,
            "audited_dirs": n_touched,
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

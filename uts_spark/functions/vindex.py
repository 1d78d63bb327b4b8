"""Snapshot-committed index maintenance (VERDICT r8 #4, completed for
ALL FOUR index families in round 9): full index CRUD routed through the
versioned table's ATOMIC MANIFEST COMMIT (sources/versioned.py). It is
the only index protocol: the rename-swap + O_EXCL pending-marker
protocol that came before it is retired (SCALE.md round 9c measured
snapshot ahead on maintenance and at parity on probes).

Why this exists: the marker protocol was POSIX-local-FS only — object
storage has no rename and no O_EXCL, so at 100 TB none of those
primitives exist. The versioned table's commit point is a single
PUT-if-absent of the next version's manifest (os.link locally, a
conditional PUT on object storage), which gives:

- **snapshot isolation for readers** for free: a reader resolves a
  manifest once and reads only that manifest's immutable directories —
  no torn ticks, no version-pinned file-census sidecar needed;
- **multi-writer safety by OPTIMISTIC CONCURRENCY**: two concurrent
  ticks race the same next-version manifest; exactly one lands, the
  loser retries in the table's one commit loop
  (:func:`~uts_spark.sources.versioned._cas_commit`; every verb here is
  an ``attempt`` closure) — an APPEND retries with its already-written
  delta files (file adds commute; the data job never reruns), a
  REWRITE (delete / compact / recluster) recomputes against the new
  current. No lock is ever held.

Every commit that builds no rows is FAMILY-GENERIC, driven by the
current manifest through one family table (``_FAMILY_LAYOUT``:
repartition columns, sort, id column) and one carry rule
(``_carry_meta``: the state keys the next manifest keeps):
:func:`vindex_delete`, :func:`vindex_compact`,
:func:`vindex_delete_mor`, :func:`vindex_materialize_dvs` and
:func:`vindex_seal` take no family config at all. Build, append,
probe, recluster and the ingest ticks stay per family, because their
row construction differs. The four families and what each adds:

- **MinHash bands** (the round-9 template): band rows, no frozen state;
- **LSH buckets**: (table, bucket) rows from SEED-DERIVED hyperplanes —
  corpus-independent, so like MinHash there is no quantizer to freeze;
- **IVF cells**: the frozen coarse-centroid table becomes a MANIFEST
  SIDECAR — an immutable parquet dir under ``path/quant/`` whose path
  rides on every manifest (``centroids_dir``). Time travel therefore
  pins the QUANTIZER too: a version written before a recluster reads
  its own centroids — a recluster never restarts history, so a stale
  pin cannot silently resolve to the new build (ADVICE r8);
- **IVF-PQ cells+codes**: two sidecars (``centroids_dir`` +
  ``codebook_dir``); codes in the data rows are only comparable against
  the codebook of their version's manifest, which is exactly what the
  pinned probe loads.

Append-vs-recluster concurrency (the new hazard the quantizer pointer
introduces): an append encodes its batch against the CURRENT manifest's
frozen quantizer; if its CAS commit loses to a racer's RECLUSTER, the
already-written delta is encoded against a dead quantizer and must NOT
be committed — ``_append_commit``'s re-encode hook compares the
quantizer pointer and RE-ENCODES when it moved (pointer-equal
conflicts retry manifest-only, the cheap path). Pinned by
tests/test_llm_ops.py::test_ivf_vindex_append_reencodes_after_recluster.

Cost shapes (the 100 TB contract):

- build: one corpus-sized sketch/assign + write;
- append: batch-sized delta dir + an O(1) manifest commit (the Iceberg
  fast-append) — the table is NEVER rewritten;
- delete: PRUNED copy-on-write — per-dir (min_id, max_id) manifest
  stats decide which dirs the erasure can touch; untouched dirs carry
  into the new manifest BY REFERENCE (the Iceberg file-stats erasure
  shape at this format's dir-sized file unit);
- compact / recluster: rewrite the union into one clustered dir — the
  operation is BY NATURE table-sized (recluster additionally writes a
  fresh quantizer sidecar);
- probe: manifest-resolved read fed to the family's candidate/verify
  kernel (similarity._lsh_index_probe / _ivf_index_probe /
  _ivfpq_index_probe, dedup._minhash_index_probe).
  Pruning note: snapshot dirs are not directory-partitioned; rows are
  cluster-SORTED on write instead, so parquet row-group min/max stats
  prune the selective probe scan — the same file-stats pruning a
  manifest-based format uses at scale.

Reference parity: none (uts.ts has no persistence); north-star
surface, LLM-pipeline brief.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, functions as F

from uts_spark.sources.tables import parquet_cached_schema as _read_pq

from uts_spark.functions.dedup import (
    _band_bucket_rows,
    _minhash_index_probe,
    doc_shingle_arrays_portable,
    minhash_signatures_portable,
)
from uts_spark.sources.versioned import (
    _cas_commit,
    _manifest_dirs,
    _write_delta_dir,
    commit_version,
    list_versions,
    read_version,
)

# --------------------------------------------------------------------------
# The family table, the one statement of each family's row layout:
# family -> (repartition columns, base sort, position of ``meta_cols``
# in a ``meta_sort`` layout, default id column).

_FAMILY_LAYOUT = {
    "minhash": (("band", "grp"), ("band", "grp", "bucket"), 2, "id"),
    "lsh": (("table", "bucket"), ("table", "bucket"), 2, "vec_id"),
    "ivf": (("cell",), ("cell", "vec_id"), 1, "vec_id"),
    "ivfpq": (("cell",), ("cell", "vec_id"), 1, "vec_id"),
}

# The index STATE every commit carries into the next manifest: schema
# and config, sidecar pointers (quantizers and the skew quarantine —
# vacuum keeps exactly the ``aux_dirs`` some kept manifest lists), and
# the drift/skew monitors' references. Everything else on a manifest
# is a record of ONE commit (batch_key, dir_stats, dv, pruned_dirs,
# materialized_dvs, hot_buckets, coll_sum/coll_rown, fit_sum/fit_n,
# dist_sum/dist_n) and never carries; the verbs that keep dir_stats or
# dv pass them on explicitly.
_STATE_KEYS = (
    "family", "id_col", "meta_cols", "meta_sort",
    "n", "k", "bands", "n_grps",  # minhash
    "dim", "planes", "tables",  # lsh (dim: also ivfpq)
    "n_cells", "m_sub", "n_cent",  # ivf / ivfpq
    "centroids_dir", "codebook_dir", "quarantine_dir", "aux_dirs",
    "fit_ref", "coll_ref", "dist_ref",
)


def _layout_of(pm: dict) -> tuple[tuple[str, ...], tuple[str, ...], str]:
    """(repartition columns, delta-dir sort, id column) of the index
    whose manifest is ``pm``."""
    sort = _sort_of(pm)
    repart, _, _, default_id = _FAMILY_LAYOUT[pm["family"]]
    return repart, sort, pm.get("id_col", default_id)


def _sort_of(pm: dict) -> tuple[str, ...]:
    """The delta-dir sort key, resolved from the manifest so every
    rewrite preserves the layout the build chose. ``meta_sort``
    (opt-in at build) puts ``meta_cols`` into the family's sort at its
    stated position and closes it with the id column — e.g. (band, grp,
    meta..., bucket, id) for MinHash, (cell, meta..., id) for IVF — so
    a filtered probe's metadata predicate prunes ROW GROUPS via parquet
    min/max stats (measured per family in tools/meta_sort_smoke.py).
    The family's primary pruning key stays ahead of the metadata, so
    its row-group ranges stay tight. Multi-column ordering is the
    DECLARATION order by contract (SCALE.md r12 #3: the first meta
    column is the only reliable pruner, and which column dominates the
    filter workload is not inferable at build time, so declare
    ``meta_cols`` in expected-filter order)."""
    fam = pm.get("family")
    if fam not in _FAMILY_LAYOUT:
        raise ValueError(
            f"snapshot index: unknown family {fam!r} — cannot route"
        )
    _, sort, at, default_id = _FAMILY_LAYOUT[fam]
    if not (pm.get("meta_sort") and pm.get("meta_cols")):
        return sort
    return (
        *sort[:at], *pm["meta_cols"],
        *(c for c in sort[at:] if c != default_id),
        pm.get("id_col", default_id),
    )


def _carry_meta(pm: dict, fingerprint: str) -> dict:
    """The next manifest's metadata: the parent's state keys
    (``_STATE_KEYS``) verbatim, with the fingerprint advanced. The one
    carry rule of every commit after the build."""
    meta = {k: pm[k] for k in _STATE_KEYS if k in pm}
    meta["fingerprint"] = fingerprint
    return meta


def _build_meta(
    family: str, fingerprint: str, id_col: str,
    meta_cols: tuple[str, ...] = (), meta_sort: bool = False, **config,
) -> dict:
    """Version 0's metadata: family, fingerprint, the PHYSICAL id
    column of the index rows (audits resolve it from the manifest
    instead of guessing — ADVICE r9), the family config, and the
    optional metadata columns and their layout choice."""
    if meta_sort and not meta_cols:
        raise ValueError(
            f"{family}_vindex_build: meta_sort=True needs meta_cols — "
            "there is nothing to cluster by"
        )
    return {
        "family": family, "fingerprint": fingerprint, "id_col": id_col,
        **config,
        **({"meta_cols": list(meta_cols)} if meta_cols else {}),
        **({"meta_sort": True} if meta_sort else {}),
    }


# --------------------------------------------------------------------------
# Shared snapshot-index kernels: the commit shapes (append / pruned
# delete / rewrite / seal) every family's verbs run through; the
# families add only row construction and quantizer handling.


def _count_and_stats(spark, ddir: str, id_col: str = "id") -> tuple[int, list[int]]:
    """(row count, [min_id, max_id]) of a delta dir — parquet footers
    first (no Spark job at all; optimization r11 — integer id columns
    have exact footer min/max), read-back scan fallback for exotic id
    types. Empty dir -> the [0, -1] sentinel range that admits no id."""
    from uts_spark.sources.versioned import _dir_footer_meta

    meta = _dir_footer_meta(ddir, id_col)
    if meta is not None and meta[2]:
        n = meta[0]
        return n, (
            [int(meta[1][0]), int(meta[1][1])] if n else [0, -1]
        )
    row = _read_pq(spark, ddir).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
    ).first()
    n = int(row["n"] or 0)
    return n, ([int(row["lo"]), int(row["hi"])] if n else [0, -1])


def _batch_key(
    manifests, batch_id: int, stream_id: str | None = None
) -> str:
    """The EXACTLY-ONCE commit key for a streamed micro-batch append.

    Two namespacings, for two different hazards:

    - ``stream_id`` given (the streaming-sink path): key =
      ``s{stream_id}b{batch_id}`` — epoch-INDEPENDENT, so a batch
      replayed after its own tick's recluster/delete still finds its
      key and skips (a rewrite between commit and checkpoint must not
      make the replay double-fold the batch). Aliasing is prevented
      by stream identity, not table state: a fresh stream gets a
      fresh id, so its bid 0 can never match a prior stream's commit.
      This is the Iceberg streaming-sink shape (query id + epoch id
      on the snapshot).
    - no ``stream_id`` (manual/driver appends): key =
      ``e{epoch}b{batch_id}`` where the epoch is the last non-append
      version (ADVICE r8); a reused batch_id after a rewrite cannot alias,
      but a replay ACROSS a rewrite re-appends (callers replaying
      through rewrites must pass a stream_id).

    ``manifests`` is the chain (any iterable of manifests)."""
    if stream_id is not None:
        return f"s{stream_id}b{batch_id}"
    epoch = max(
        (m["version"] for m in manifests
         if m.get("operation") != "append"),
        default=0,
    )
    return f"e{epoch}b{batch_id}"


def _batch_committed(versions: dict, key: str) -> int | None:
    """The version that already committed this batch key, if any —
    the replay-idempotency check. Structural exactly-once: the
    manifest PUT-if-absent is the atomic commit point, so a micro-
    batch replayed after a crash either finds its key committed (skip
    — the crash was post-commit) or not (recommit — the orphaned
    delta dir of the torn attempt is never referenced by any
    manifest)."""
    hits = [v for v, m in versions.items() if m.get("batch_key") == key]
    return max(hits) if hits else None


def _append_commit(
    path: str, fingerprint: str, encode, batch_id: int | None = None,
    stream_id: str | None = None, quantizer=lambda pm: None,
) -> int:
    """Fast-append commit: manifest = parent dirs + the batch's delta
    dir, the parent's state carried (``_carry_meta``) plus this
    commit's own record (the ticks' monitor ints). ``encode(pm)``
    writes the delta against manifest ``pm`` and returns ``(ddir,
    n_new, stats, record)``. File adds commute, so a conflict retries
    the manifest only and the data job never reruns — unless
    ``quantizer(pm)``, the frozen quantizer pointer the rows are coded
    against, MOVED (a racer's recluster landed): a delta encoded
    against a dead quantizer must not land, so the retry re-encodes
    against the new one (module docstring). ``batch_id`` makes the
    commit EXACTLY-ONCE per (epoch, batch_id): a replayed micro-batch
    whose key already sits on a committed manifest returns that
    version before any encode runs (the Iceberg streaming-sink
    idempotent-commit shape)."""
    enc: dict = {}

    def attempt(pm):
        if not pm:
            raise ValueError(f"snapshot index at {path}: no committed versions")
        q = quantizer(pm)
        if "out" not in enc or enc["q"] != q:
            enc["q"], enc["out"] = q, encode(pm)
        ddir, n_new, stats, record = enc["out"]
        meta = {**_carry_meta(pm, fingerprint), **record}
        meta["dir_stats"] = {**pm.get("dir_stats", {}), ddir: stats}
        if pm.get("dv"):
            # outstanding deletion vectors carry unchanged: the new
            # dir is outside every vector's scope (vindex_delete_mor)
            meta["dv"] = pm["dv"]
        return (
            _manifest_dirs(pm) + [ddir], "append",
            pm.get("n_rows", 0) + n_new, meta,
        )

    return _cas_commit(
        path, attempt,
        batch_key=None if batch_id is None
        else lambda chain: _batch_key(chain, batch_id, stream_id),
    )


def vindex_delete(
    spark, deleted_ids: DataFrame, path: str, fingerprint: str = ""
) -> int:
    """Erase ids from a snapshot index of any family (the GDPR verb) as
    a PRUNED copy-on-write snapshot. Family, id column, layout and
    config all come from the current manifest, so the caller passes
    BARE ids — no embeddings or sketch config needed, which is exactly
    the shape a takedown request arrives in, and an erasure cannot
    target the wrong family. The manifest's per-dir (min_id, max_id)
    stats decide which dirs the erasure can possibly touch — one tiny
    agg over the DELETED frame (never the table) marks each dir
    touched iff some deleted id falls inside its range; untouched
    dirs carry into the new manifest BY REFERENCE, only the touched
    dirs rewrite through the left-anti join (family repartition and
    sort preserved, so bucket/cell pruning still holds). Cost ∝
    touched data, the deleted-id frame stays distributed, and a
    service whose appends arrive in id-ordered batches (the common
    case) erases at batch-directory granularity. Quantizer and
    quarantine sidecars carry forward untouched — they hold no
    per-vector state; IVF-PQ's code arrays ARE compressed embeddings,
    but they ride in the data rows and leave with them. On a CAS
    conflict the whole decision recomputes against the new current.
    Earlier versions REMAIN READABLE until vacuum — erase-then-vacuum
    is the complete GDPR sequence."""
    from uts_spark.sources.versioned import _dir_footer_meta

    def attempt(pm):
        if not pm:
            raise ValueError(f"snapshot index at {path}: nothing to delete")
        if pm.get("dv"):
            # outstanding merge-on-read vectors: the touched-dir scan
            # below reads raw dirs, so fold the vectors first (itself
            # pruned) and erase against a vector-free manifest
            vindex_materialize_dvs(spark, path)
            return vindex_delete(spark, deleted_ids, path, fingerprint)
        repart, sort, idc = _layout_of(pm)
        idf = (
            deleted_ids.toDF(idc)
            if len(deleted_ids.columns) == 1
            else deleted_ids
        ).select(idc)
        dirs = _manifest_dirs(pm)
        stats = pm.get("dir_stats", {})
        touched = _stats_admitting(spark, pm, idf, idc)
        untouched = [d for d in dirs if d not in set(touched)]
        if not touched:
            return pm["version"]  # nothing to erase — current stands

        kept = (
            _read_pq(spark, *touched)
            .join(idf, idc, "left_anti")
            .repartition(*[F.col(c) for c in repart])
        )
        ddir = _write_delta_dir(kept, path, sort)
        n_kept, kept_stats = _count_and_stats(spark, ddir, idc)
        # exact rows: parent total - touched rows + kept rows; footer
        # counts of the (already-committed, immutable) touched dirs —
        # no Spark job for a number their footers hold
        metas = [_dir_footer_meta(d) for d in touched]
        if all(m is not None for m in metas):
            n_touched = sum(m[0] for m in metas)
        else:
            n_touched = _read_pq(spark, *touched).count()
        meta = _carry_meta(pm, fingerprint)
        meta["dir_stats"] = {
            **{d: stats[d] for d in untouched if d in stats},
            ddir: kept_stats,
        }
        meta["pruned_dirs"] = len(untouched)
        return (
            untouched + [ddir], "delete",
            pm["n_rows"] - n_touched + n_kept, meta,
        )

    return _cas_commit(path, attempt)


def _rewrite_with_retry(
    spark, path: str, make_rows, operation: str, meta_fn, amend_fn=None,
) -> int:
    """Shared rewrite commit (compact / recluster / cap): compute
    the new row set AGAINST the current version, write it to a fresh
    delta dir in the manifest's layout, CAS-commit; on conflict,
    RECOMPUTE against the new current (a rewrite does not commute with
    whatever landed in between).
    ``meta_fn(parent_manifest, current_rows)`` may itself write fresh
    quantizer sidecars — recluster does — so it runs inside the retry
    loop, after ``make_rows``'s source is resolved. ``amend_fn(meta,
    ddir)`` runs after the delta write, for metadata derived from the
    WRITTEN rows (the drift loop's refreshed fit reference)."""

    def attempt(pm):
        if not pm:
            raise ValueError(f"snapshot index at {path}: nothing to rewrite")
        _, sort, idc = _layout_of(pm)
        cur = read_version(spark, path, pm["version"])  # masked:
        # outstanding deletion vectors apply here, so every rewrite
        # (compact / recluster) MATERIALIZES them — the committed meta
        # stays vector-free by construction (_carry_meta never copies dv)
        meta = meta_fn(pm, cur)
        rows = make_rows(cur, meta)
        ddir = _write_delta_dir(rows, path, sort)
        n_rows, rw_stats = _count_and_stats(spark, ddir, idc)
        meta["dir_stats"] = {ddir: rw_stats}
        if amend_fn is not None:
            amend_fn(meta, ddir)
        return [ddir], operation, n_rows, meta

    return _cas_commit(path, attempt)


def vindex_compact(spark, path: str, fingerprint: str = "") -> int:
    """Compaction of a snapshot index of any family (the OPTIMIZE verb
    behind :func:`vindex_maybe_compact`): rewrite the (possibly
    many-dir append chain's) union into ONE clustered dir in the
    manifest's layout and CAS-commit it, state and sidecar pointers
    carried forward — after which vacuum can drop the superseded
    chain. Outstanding deletion vectors are folded on the way (the
    rewrite reads masked). Time travel to PRE-compaction versions
    keeps working until vacuum."""
    repart, _, _ = _layout_of(_current_manifest(path))
    return _rewrite_with_retry(
        spark, path, lambda cur, meta: _cluster(cur, *repart), "compact",
        lambda pm, cur: _carry_meta(pm, fingerprint),
    )


def vindex_seal(path: str, fingerprint: str) -> int:
    """MANIFEST-ONLY commit: advance the index fingerprint without
    touching any data, as an O(1) CAS commit. A streamed ingest
    seals its TARGET fingerprint only after every micro-batch
    committed, so a run that crashed mid-stream leaves an
    intermediate fingerprint and the next invocation detects the torn
    state instead of serving a half-folded index. (A seal is a
    non-append commit, so it also opens a new exactly-once epoch —
    a fresh stream restarting at batch 0 after a sealed generation
    can never alias the prior generation's commits.)"""

    def attempt(pm):
        if not pm:
            raise ValueError(f"snapshot index at {path}: nothing to seal")
        meta = _carry_meta(pm, fingerprint)
        meta["dir_stats"] = pm.get("dir_stats", {})
        if pm.get("dv"):
            meta["dv"] = pm["dv"]  # a seal folds nothing
        return _manifest_dirs(pm), "seal", pm["n_rows"], meta

    return _cas_commit(path, attempt)


def _cluster(df: DataFrame, *cols: str) -> DataFrame:
    """Corpus-sized clustered shuffle for build/compact/recluster/
    delete-rewrite paths: partition count follows
    spark.sql.shuffle.partitions. (A hardcoded repartition(4, ...)
    serialized the 1M-row snapshot build through 4 sort+write tasks —
    measured 61.7s vs 22.6s for the since-retired marker build;
    tools/vindex_smoke.py.)
    Batch-sized APPEND deltas keep their explicit small count so each
    tick lands a handful of files."""
    return df.repartition(*[F.col(c) for c in cols])


def _write_quant_dir(df: DataFrame, path: str) -> str:
    """Freeze a quantizer table (coarse centroids / PQ codebook) as an
    IMMUTABLE sidecar dir under ``path/quant/`` and return its path —
    the manifest records the pointer, so every version resolves the
    exact quantizer its rows were encoded against (time travel pins
    the quantizer, not just the data). Never rewritten; vacuum removes
    it when no kept manifest references it (``aux_dirs``)."""
    qdir = os.path.join(path, "quant", f"q-{uuid.uuid4().hex[:12]}")
    df.write.mode("errorifexists").parquet(qdir)
    return qdir


def _check_family_config(path: str, family: str, **config) -> None:
    versions = list_versions(path)
    if not versions:
        return
    m = versions[-1]
    if m.get("family", family) != family:
        raise ValueError(
            f"snapshot index at {path}: family mismatch — index is "
            f"{m.get('family')}, caller asked {family}"
        )
    for key, val in config.items():
        if key in m and m[key] != val:
            raise ValueError(
                f"snapshot {family} index at {path}: config mismatch — "
                f"index has {key}={m[key]}, caller asked {key}={val}"
            )


def _current_manifest(path: str) -> dict:
    versions = list_versions(path)
    if not versions:
        raise ValueError(f"snapshot index at {path}: no committed versions")
    return versions[-1]


def _manifest_at(path: str, version: int | None) -> dict:
    versions = {m["version"]: m for m in list_versions(path)}
    if not versions:
        raise ValueError(f"snapshot index at {path}: no committed versions")
    if version is None:
        version = max(versions)
    if version not in versions:
        raise ValueError(
            f"snapshot index at {path}: version {version} not found "
            f"(have {sorted(versions)})"
        )
    return versions[version]


# --------------------------------------------------------------------------
# MinHash band family (round-9 template; VERDICT r8 #4)


def _rows(df: DataFrame, text_col: str, id_col: str, n, k, bands, n_grps,
          meta_cols=()):
    sig = minhash_signatures_portable(
        doc_shingle_arrays_portable(df, text_col, id_col, n), k
    )
    rows = (
        _band_bucket_rows(sig, k, bands)
        .select("id", "band", "bucket")
        .withColumn("grp", F.pmod(F.xxhash64("bucket"), F.lit(n_grps)))
    )
    if meta_cols:
        # the shingle kernel normalizes the id column to "id" and drops
        # everything else — join the metadata back by id (build-sized
        # once, batch-sized on appends): the filtered-dedup input, so
        # probes can restrict candidacy (e.g. same-language corpora)
        # without touching the verify kernel
        rows = rows.join(
            df.select(F.col(id_col).alias("id"), *meta_cols), "id"
        )
    return rows


def vindex_config(path: str) -> dict | None:
    """The index config+fingerprint from the CURRENT manifest (every
    commit carries it forward — the manifest is the single source of
    truth; there is no separate _INDEX_MANIFEST.json here)."""
    versions = list_versions(path)
    if not versions:
        return None
    m = versions[-1]
    return {
        key: m[key]
        for key in ("fingerprint", "n", "k", "bands", "n_grps")
        if key in m
    }


def minhash_vindex_build(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    fingerprint: str = "",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    n_grps: int = 16,
    meta_cols: tuple[str, ...] = (),
    meta_sort: bool = False,
) -> int:
    """Version 0: the full band-row table as one snapshot commit (the
    delta-dir + CAS-commit shape, so even the BUILD is safe against a
    concurrent builder — one wins, the other conflicts cleanly).

    ``meta_cols`` stores document metadata beside the band rows
    (manifest-recorded; probes push a ``where`` into the banded scan
    so candidate generation is restricted to eligible docs — filtered
    dedup, e.g. only same-language collisions). ``meta_sort`` ALSO
    clusters rows by (band, grp, meta_cols..., bucket, id) so the
    pushed predicate prunes row groups, not just rows
    (:func:`_sort_of`)."""
    # id_col "id": the shingle kernel normalizes the caller's id column
    meta = _build_meta(
        "minhash", fingerprint, "id", meta_cols, meta_sort,
        n=n, k=k, bands=bands, n_grps=n_grps,
    )
    rows = _rows(df, text_col, id_col, n, k, bands, n_grps, meta_cols)
    ddir = _write_delta_dir(
        _cluster(rows, "band", "grp"), path, _sort_of(meta)
    )
    spark = df.sparkSession
    n_rows, stats = _count_and_stats(spark, ddir)
    # the skew monitor's ORGANIC reference (coll = sum s*(s-1) over
    # buckets, rown = band rows) commits WITH the build — no sidecar
    # file; every verb carries it, the cap verb's accounting reads the
    # live row count off the manifest's own n_rows
    cref = (
        _read_pq(spark, ddir)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("s"))
        .agg(
            F.sum(F.col("s") * (F.col("s") - F.lit(1))).alias("c"),
        )
        .first()
    )
    meta["coll_ref"] = [int(cref["c"] or 0), n_rows]
    meta["dir_stats"] = {ddir: stats}
    return commit_version(path, [ddir], "build", None, n_rows, meta)


def minhash_vindex_append(
    batch: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    fingerprint: str = "",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    n_grps: int = 16,
    batch_id: int | None = None,
    stream_id: str | None = None,
) -> int:
    """Fast append: sketch ONLY the batch, write its rows to a delta
    dir once, commit manifest = parent dirs + delta (with the delta's
    id-range stats — erasure's pruning input). Batch-sized; a commit
    conflict retries the manifest only — file adds commute, the
    sketch never reruns. ``batch_id`` makes the commit exactly-once
    per (epoch, batch_id) — a replayed micro-batch returns the
    already-committed version WITHOUT re-running the sketch."""
    _check_family_config(
        path, "minhash", n=n, k=k, bands=bands, n_grps=n_grps
    )

    def encode(pm):
        rows = _rows(
            batch, text_col, id_col, n, k, bands, n_grps,
            tuple(pm.get("meta_cols", ())),
        )
        ddir = _write_delta_dir(
            rows.repartition(4, "band", "grp"), path, _sort_of(pm)
        )
        return ddir, *_count_and_stats(batch.sparkSession, ddir), {}

    return _append_commit(path, fingerprint, encode, batch_id, stream_id)


def minhash_vindex_probe(
    spark,
    path: str,
    new_docs: DataFrame,
    old_docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n_grps: int = 16,
    version: int | None = None,
    where=None,
) -> DataFrame:
    """Probe at the current (or a pinned) snapshot: resolve the
    manifest's immutable dir list and run the SHARED candidate/verify
    kernel (dedup._minhash_index_probe). Snapshot isolation
    is structural — concurrent commits cannot change the resolved dir
    list mid-read. ``where`` pre-filters the index rows on metadata
    columns stored at build (``meta_cols``): candidate generation is
    restricted to eligible old docs BEFORE the verify — filtered dedup
    (e.g. same-language collisions only), composed with the banded
    partition pruning in one scan."""
    _check_family_config(
        path, "minhash", n=n, k=k, bands=bands, n_grps=n_grps
    )
    scan = read_version(spark, path, version)
    if where is not None:
        scan = scan.filter(where)
    return _minhash_index_probe(
        scan, new_docs, old_docs, text_col, id_col,
        n=n, k=k, bands=bands, threshold=threshold, n_grps=n_grps,
    )


# --------------------------------------------------------------------------
# LSH bucket family: seed-derived hyperplanes (corpus-independent, no
# quantizer sidecar) — structurally the MinHash shape with (table,
# bucket) rows over embeddings instead of band rows over shingles.

def _lsh_rows(emb, dim, planes, tables, id_col, vec_col, keep_cols=()):
    from uts_spark.functions.similarity import lsh_bucket_table

    return lsh_bucket_table(
        emb, dim, planes, tables, id_col, vec_col, keep_cols=tuple(keep_cols)
    ).select(id_col, vec_col, *keep_cols, "table", "bucket")


def lsh_vindex_build(
    emb: DataFrame,
    path: str,
    dim: int,
    fingerprint: str = "",
    planes: int = 8,
    tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
    meta_sort: bool = False,
) -> int:
    """Version 0 of the snapshot LSH index: one bucket-table pass over
    the corpus, cluster-sorted by (table, bucket) so row-group stats
    prune the probe's collision scan.

    ``meta_cols`` stores metadata columns beside the vectors (carried
    through the bucket pass for free — no extra shuffle); recorded on
    the manifest so appends keep the row schema and probes can push a
    ``where`` into the bucket-pruned scan (filtered ANN). ``meta_sort``
    ALSO clusters rows by (table, bucket, meta_cols..., id) so the
    pushed predicate prunes row groups (:func:`_sort_of`)."""
    meta = _build_meta(
        "lsh", fingerprint, id_col, meta_cols, meta_sort,
        dim=dim, planes=planes, tables=tables,
    )
    rows = _lsh_rows(emb, dim, planes, tables, id_col, vec_col, meta_cols)
    ddir = _write_delta_dir(
        _cluster(rows, "table", "bucket"), path, _sort_of(meta)
    )
    spark = emb.sparkSession
    n_rows, stats = _count_and_stats(spark, ddir, id_col)
    meta["dir_stats"] = {ddir: stats}
    return commit_version(path, [ddir], "build", None, n_rows, meta)


def lsh_vindex_append(
    emb_batch: DataFrame,
    path: str,
    dim: int,
    fingerprint: str = "",
    planes: int = 8,
    tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
    stream_id: str | None = None,
) -> int:
    """Fast append: hyperplanes are seed-derived, so bucketing ONLY the
    batch at the index's (dim, planes, tables) config lands its rows
    exactly where a full rebuild would — no frozen state to consult,
    no re-encode hazard on conflict (contrast the IVF families).
    ``batch_id`` makes the commit exactly-once per (epoch, batch_id)."""
    _check_family_config(path, "lsh", dim=dim, planes=planes, tables=tables)

    def encode(pm):
        # the manifest's meta_cols define the row schema — the caller
        # never restates them (same contract as the IVF append)
        rows = _lsh_rows(
            emb_batch, dim, planes, tables, id_col, vec_col,
            tuple(pm.get("meta_cols", ())),
        )
        ddir = _write_delta_dir(
            rows.repartition(4, "table", "bucket"), path, _sort_of(pm)
        )
        return (
            ddir, *_count_and_stats(emb_batch.sparkSession, ddir, id_col), {}
        )

    return _append_commit(path, fingerprint, encode, batch_id, stream_id)


def lsh_vindex_probe(
    spark,
    path: str,
    anchors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    version: int | None = None,
    where=None,
) -> DataFrame:
    """Probe at the current (or a pinned) snapshot through the shared
    LSH candidate/rerank kernel. The (dim, planes, tables) config is
    read from the MANIFEST, never passed — a probe cannot disagree
    with the index it scans. ``where`` pre-filters on metadata columns
    stored at build (``meta_cols``), pushed into the bucket-pruned
    scan — index-layer filtered ANN."""
    from uts_spark.functions.similarity import _lsh_index_probe

    m = _manifest_at(path, version)
    return _lsh_index_probe(
        read_version(spark, path, version), anchors, dim=m["dim"], k=k,
        planes=m["planes"], tables=m["tables"],
        id_col=id_col, vec_col=vec_col, where=where,
    )


# --------------------------------------------------------------------------
# IVF cell family: the frozen coarse-centroid table is a manifest
# sidecar — every version resolves the exact quantizer its rows were
# assigned against, so time travel pins the quantizer and RECLUSTER is
# just another rewrite commit (no history reset, no swap window).

def _observe_fit(rows: DataFrame):
    """Record the drift monitor's exact integers — (snapped fit sum,
    row count) — on the job that WRITES ``rows``
    (``_ivf_assign(..., keep_sim=True)`` output): a stored row's fit IS
    the winning cosine its assignment just took (same expression, same
    snap grid as similarity.ivf_fit_stat — the two monitors' integers
    are interchangeable), so no job reads the delta back. Apply it
    AFTER the write's shuffle, to the frame handed to the writer: the
    observation then sits in the result stage, whose accumulator
    updates Spark applies once per partition; in a shuffle-map stage a
    re-run task (speculation, fetch failure) would count its rows
    twice. Returns (rows without ``__sim``, a getter to call after the
    write)."""
    from pyspark.sql import Observation

    from uts_spark.functions.similarity import FIT_SCALE

    obs = Observation()
    out = rows.observe(
        obs,
        F.sum(
            F.floor(F.col("__sim") * F.lit(FIT_SCALE) + F.lit(0.5))
            .cast("long")
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).drop("__sim")
    return out, lambda: (int(obs.get["s"] or 0), int(obs.get["n"]))


def _quantizer(family: str, path: str):
    """The append's re-encode hook for an ANN family: the manifest's
    frozen quantizer pointers (a delta is only valid against the
    quantizer it was encoded with), after checking the family."""

    def pointer(pm: dict):
        if pm.get("family") != family:
            raise ValueError(
                f"snapshot index at {path}: family is {pm.get('family')}, "
                f"expected {family}"
            )
        return pm["centroids_dir"], pm.get("codebook_dir")

    return pointer


def ivf_vindex_build(
    emb: DataFrame,
    path: str,
    fingerprint: str = "",
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_src: DataFrame | None = None,
    meta_cols: tuple[str, ...] = (),
    meta_sort: bool = False,
) -> int:
    """Version 0 of the snapshot IVF index: freeze the hash-seeded
    centroids as an immutable quantizer sidecar, assign every corpus
    vector, commit rows + the ``centroids_dir`` pointer in ONE
    manifest — the quantizer and the data it explains are never
    observable apart. The build-time corpus FIT rides on the manifest
    as ``fit_ref`` (exact integers): the drift loop's reference is
    part of the committed state, carried forward by every verb and
    refreshed by recluster — no sidecar file, no way for a restarted
    service to re-baseline on a drifted batch.

    ``meta_cols`` stores metadata columns alongside the vectors (the
    filtered-ANN input: probes push a ``where`` on them into the
    cell-pruned scan); recorded on the manifest so appends keep the
    row schema without the caller restating it. ``meta_sort`` ALSO
    clusters rows by (cell, meta_cols..., id) so the pushed predicate
    prunes row groups, not just rows (:func:`_sort_of`) — the
    layout choice for indexes whose probes are routinely filtered."""
    from uts_spark.functions.similarity import _ivf_assign, _ivf_centroids

    meta = _build_meta(
        "ivf", fingerprint, id_col, meta_cols, meta_sort, n_cells=n_cells
    )
    spark = emb.sparkSession
    cents = _ivf_centroids(centroid_src or emb, n_cells, id_col, vec_col)
    qdir = _write_quant_dir(cents, path)
    rows, fit = _observe_fit(_cluster(_ivf_assign(
        emb, _read_pq(spark, qdir), id_col, vec_col,
        keep_cols=tuple(meta_cols), keep_sim=True,
    ), "cell"))
    ddir = _write_delta_dir(rows, path, _sort_of(meta))
    n_rows, stats = _count_and_stats(spark, ddir, id_col)
    meta.update({
        "centroids_dir": qdir, "aux_dirs": [qdir],
        "fit_ref": list(fit()),
        "dir_stats": {ddir: stats},
    })
    return commit_version(path, [ddir], "build", None, n_rows, meta)


def ivf_vindex_append(
    emb_batch: DataFrame,
    path: str,
    fingerprint: str = "",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
    stream_id: str | None = None,
    record_fit: bool = False,
) -> int:
    """Fast append with the QUANTIZER-POINTER conflict rule: assign the
    batch against the CURRENT manifest's frozen centroids and CAS-commit
    the delta. A pointer-EQUAL conflict (a racing append/delete landed)
    retries the manifest only — file adds commute. A pointer-MOVED
    conflict (a racing RECLUSTER landed) means the delta's cell
    assignments are against a dead quantizer: committing it would mix
    incomparable cells in one version — RE-ENCODE against the new
    quantizer and retry. Batch-sized either way. ``batch_id`` makes
    the commit exactly-once per (epoch, batch_id) — a replayed
    micro-batch returns the committed version without re-assigning.
    ``record_fit`` commits the batch's drift stat (``fit_sum``/
    ``fit_n``, exact ints against the quantizer this delta was encoded
    with) on the same manifest."""
    from uts_spark.functions.similarity import _ivf_assign

    spark = emb_batch.sparkSession

    def encode(pm):
        rows = _ivf_assign(
            emb_batch, _read_pq(spark, pm["centroids_dir"]), id_col,
            vec_col, keep_cols=tuple(pm.get("meta_cols", ())),
            keep_sim=record_fit,
        ).repartition(4, "cell")
        if record_fit:
            rows, fit = _observe_fit(rows)
        ddir = _write_delta_dir(rows, path, _sort_of(pm))
        return (
            ddir, *_count_and_stats(spark, ddir, id_col),
            dict(zip(("fit_sum", "fit_n"), fit())) if record_fit else {},
        )

    return _append_commit(
        path, fingerprint, encode, batch_id, stream_id,
        quantizer=_quantizer("ivf", path),
    )


def ivf_vindex_recluster(
    spark,
    path: str,
    fingerprint: str = "",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """The corrective verb, snapshot-shaped: derive FRESH centroids
    from the current survivor corpus (raw vectors ride in the rows),
    freeze them as a NEW quantizer sidecar, re-assign every row, and
    CAS-commit rows + pointer as one ``recluster`` version. History is
    never reset — a pre-recluster pin reads its own rows AND its own
    centroids (ADVICE r8) — and there is no two-rename swap window
    because readers resolve manifests, not directory names."""
    from uts_spark.functions.similarity import _ivf_assign, _ivf_centroids

    def meta_fn(pm, cur):
        cents = _ivf_centroids(
            cur.select(id_col, vec_col), pm["n_cells"], id_col, vec_col
        )
        qdir = _write_quant_dir(cents, path)
        meta = _carry_meta(pm, fingerprint)
        meta["centroids_dir"] = qdir
        meta["aux_dirs"] = [qdir]
        return meta

    fit: dict = {}

    def make_rows(cur, meta):
        # meta_cols ride in the stored rows — re-assignment must carry
        # them or the rewrite would narrow the filtered-ANN schema
        keep = tuple(meta.get("meta_cols", ()))
        cents = _read_pq(spark, meta["centroids_dir"])
        rows, fit["get"] = _observe_fit(_cluster(_ivf_assign(
            cur.select(id_col, vec_col, *keep), cents, id_col, vec_col,
            keep_cols=keep, keep_sim=True,
        ), "cell"))
        return rows

    def amend_fn(meta, ddir):
        # the drift reference RESETS to the re-clustered corpus fit,
        # recorded by the rewrite job, on the same manifest
        meta["fit_ref"] = list(fit["get"]())

    return _rewrite_with_retry(
        spark, path, make_rows, "recluster", meta_fn, amend_fn=amend_fn
    )


def ivf_vindex_ingest_tick(
    spark,
    emb_batch: DataFrame,
    path: str,
    batch_id: int,
    fingerprint: str = "",
    stream_id: str | None = None,
    recluster_milli: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """One CLOSED-LOOP micro-batch of the SNAPSHOT vector ingest, with
    the whole monitor state living ON the manifests:

    1. APPEND exactly-once with ``record_fit`` — the batch's quantizer
       fit (exact ints against the centroids the delta was encoded
       with) commits atomically WITH the data, on the same manifest;
    2. FLAG by integer cross-multiplication against the manifest's
       carried ``fit_ref`` (written at build, refreshed by recluster —
       a restarted service reads its reference off the current
       manifest, never re-baselines);
    3. ACT when flagged: ivf_vindex_recluster — an ordinary rewrite
       commit (history intact, pinned probes before it still resolve
       their own quantizer) that resets ``fit_ref`` to the
       re-clustered corpus fit.

    A REPLAYED tick (its batch key already committed) skips both the
    data job and the recluster decision: if its flag had fired, the
    recluster is already in the history; if a later writer rewrote
    the index, re-deciding off stale stats would recluster twice.
    The guard is `append version == current version` — when another
    commit landed in between, this tick's flag defers to the NEXT
    tick's fresh measurement. Threshold default = the measured
    similarity.RECLUSTER_MILLI (0.82x, SCALE.md round 8); returns
    {"fit_sum", "fit_n", "flagged", "reclustered", "replayed"}."""
    from uts_spark.functions.similarity import RECLUSTER_MILLI

    if recluster_milli is None:
        recluster_milli = RECLUSTER_MILLI
    before = {m["version"]: m for m in list_versions(path)}
    replay_hit = _batch_committed(
        before, _batch_key(before.values(), batch_id, stream_id)
    )

    v = ivf_vindex_append(
        emb_batch, path, fingerprint=fingerprint, batch_id=batch_id,
        stream_id=stream_id, id_col=id_col, vec_col=vec_col,
        record_fit=True,
    )
    versions = {m["version"]: m for m in list_versions(path)}
    m = versions[v]
    fit_sum = int(m.get("fit_sum", 0))
    fit_n = int(m.get("fit_n", 0))
    ref = m.get("fit_ref")
    flagged = bool(
        ref is not None
        and fit_n > 0
        and int(ref[1]) > 0
        and fit_sum * int(ref[1]) * 1000
        < recluster_milli * int(ref[0]) * fit_n
    )
    replayed = replay_hit is not None
    reclustered = False
    if flagged and not replayed and v == max(versions):
        ivf_vindex_recluster(
            spark, path, fingerprint=fingerprint + ":r",
            id_col=id_col, vec_col=vec_col,
        )
        reclustered = True
    return {
        "fit_sum": fit_sum,
        "fit_n": fit_n,
        "flagged": flagged,
        "reclustered": reclustered,
        "replayed": replayed,
    }


def ivf_vindex_probe(
    spark,
    path: str,
    anchors: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    version: int | None = None,
    where=None,
) -> DataFrame:
    """Probe at the current (or a pinned) snapshot: the manifest
    resolves BOTH the immutable dir list and the quantizer sidecar, so
    a pinned probe ranks cells with the centroids of ITS version —
    correct across any number of reclusters in between. ``where``
    pre-filters on metadata columns stored at build (``meta_cols``),
    pushed into the cell-pruned scan — index-layer filtered ANN."""
    from uts_spark.functions.similarity import _ivf_index_probe

    m = _manifest_at(path, version)
    return _ivf_index_probe(
        read_version(spark, path, version),
        _read_pq(spark, m["centroids_dir"]), anchors, k=k,
        n_probe=n_probe, id_col=id_col, vec_col=vec_col, where=where,
    )


# --------------------------------------------------------------------------
# IVF-PQ family: two frozen quantizers (coarse centroids + PQ codebook)
# as manifest sidecars; stored code arrays are only comparable against
# the codebook of their version — which is exactly what a pinned probe
# resolves.

def _ivfpq_rows(emb, cents, cexp, dim, m_sub, id_col, vec_col,
                keep_cols=()):
    from uts_spark.functions.similarity import _ivf_assign, _ivfpq_codes

    assigned = _ivf_assign(
        emb, cents, id_col, vec_col, keep_cols=tuple(keep_cols)
    )
    codes = _ivfpq_codes(emb, cexp, dim, m_sub, id_col, vec_col)
    return assigned.join(codes, assigned[id_col] == codes["__vid"]).select(
        id_col, vec_col, *keep_cols, "codes", "cell"
    )


def _ivfpq_dist_ints_from_dir(
    spark, ddir: str, bdir: str, dim: int, m_sub: int,
    id_col: str, vec_col: str,
) -> tuple[int, int]:
    """(snapped PQ distortion sum, vector count) of a WRITTEN delta
    dir against its encoding codebook — computed from the STORED
    codes: a row's distortion is the distance to the entries its code
    array already names (the argmin the encoder just took), so one
    broadcast join on (m, code) replaces the |rows| x n_cent scoring
    pass of similarity.ivfpq_distortion_stat; same snap grid, so the
    integers are interchangeable with that stat's."""
    from uts_spark.functions.similarity import _pq_d2n

    d_sub = dim // m_sub
    cexp = _read_pq(spark, bdir).select(
        F.col("m").alias("__m"), F.col("cent_id").alias("__code"), "csub"
    )
    rows = _read_pq(spark, ddir)
    subs = F.array(*[
        F.slice(F.col(vec_col), m * d_sub + 1, d_sub) for m in range(m_sub)
    ])
    exploded = rows.select(
        F.col(id_col).alias("__vid"),
        # arrays_zip names struct fields after its inputs: the
        # expression-built subvector array gets positional "0", the
        # codes column keeps its name
        F.posexplode(F.arrays_zip(subs, F.col("codes"))).alias("__m", "__z"),
    ).select(
        "__vid", "__m",
        F.col("__z")["0"].alias("vsub"),
        F.col("__z")["codes"].alias("__code"),
    )
    row = (
        exploded.join(F.broadcast(cexp), ["__m", "__code"])
        .agg(
            F.sum(_pq_d2n(F.col("vsub"), F.col("csub"))).alias("s"),
            F.count_distinct(F.col("__vid")).alias("n"),
        )
        .first()
    )
    return int(row["s"] or 0), int(row["n"])


DISTORTION_MILLI = 1300  # re-encode above 1.3x ref distortion (measured
# r8 drift ladder: ratios 0.999 / 1.65 / 16.6 — SCALE.md round 8)


def ivfpq_vindex_build(
    emb: DataFrame,
    path: str,
    dim: int,
    fingerprint: str = "",
    n_cells: int = 8,
    m_sub: int = 8,
    n_cent: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_src: DataFrame | None = None,
    meta_cols: tuple[str, ...] = (),
    meta_sort: bool = False,
) -> int:
    """Version 0: freeze BOTH quantizers as sidecars, store every
    vector with its coarse cell and PQ code array, commit rows + both
    pointers in one manifest. ``meta_cols`` stores metadata columns
    beside the codes (manifest-recorded; probes push ``where`` into
    the cell-pruned scan — filtered ANN BEFORE ADC scoring).
    ``meta_sort`` ALSO clusters rows by (cell, meta_cols..., id) so
    the pushed predicate prunes row groups (:func:`_sort_of` — the
    same layout as IVF: both families key on cell)."""
    from uts_spark.functions.similarity import (
        _ivf_centroids,
        _pq_codebook_exp,
    )

    if dim % m_sub != 0:
        raise ValueError(
            f"ivfpq_vindex_build: dim ({dim}) must be divisible by "
            f"m_sub ({m_sub})"
        )
    meta = _build_meta(
        "ivfpq", fingerprint, id_col, meta_cols, meta_sort,
        n_cells=n_cells, dim=dim, m_sub=m_sub, n_cent=n_cent,
    )
    spark = emb.sparkSession
    src = centroid_src if centroid_src is not None else emb
    cdir = _write_quant_dir(
        _ivf_centroids(src, n_cells, id_col, vec_col), path
    )
    bdir = _write_quant_dir(
        _pq_codebook_exp(src, dim, m_sub, n_cent, id_col, vec_col), path
    )
    cents = _read_pq(spark, cdir)
    cexp = _read_pq(spark, bdir)
    rows = _ivfpq_rows(
        emb, cents, cexp, dim, m_sub, id_col, vec_col, meta_cols
    )
    meta.update({
        "centroids_dir": cdir, "codebook_dir": bdir,
        "aux_dirs": [cdir, bdir],
    })
    ddir = _write_delta_dir(_cluster(rows, "cell"), path, _sort_of(meta))
    n_rows, stats = _count_and_stats(spark, ddir, id_col)
    meta.update({
        "dist_ref": list(
            _ivfpq_dist_ints_from_dir(
                spark, ddir, bdir, dim, m_sub, id_col, vec_col
            )
        ),
        "dir_stats": {ddir: stats},
    })
    return commit_version(path, [ddir], "build", None, n_rows, meta)


def ivfpq_vindex_append(
    emb_batch: DataFrame,
    path: str,
    fingerprint: str = "",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
    stream_id: str | None = None,
    record_dist: bool = False,
) -> int:
    """Fast append under the quantizer-pointer conflict rule (see
    ivf_vindex_append) — here BOTH pointers must match: a racer's
    recluster refreshes centroids and codebook together, and a delta
    encoded against either dead quantizer would poison ADC scoring for
    the whole version. Re-encode on pointer movement, manifest-only
    retry otherwise. ``batch_id`` makes the commit exactly-once per
    (epoch, batch_id)."""
    spark = emb_batch.sparkSession

    def encode(pm):
        rows = _ivfpq_rows(
            emb_batch, _read_pq(spark, pm["centroids_dir"]),
            _read_pq(spark, pm["codebook_dir"]), pm["dim"], pm["m_sub"],
            id_col, vec_col, tuple(pm.get("meta_cols", ())),
        )
        ddir = _write_delta_dir(
            rows.repartition(4, "cell"), path, _sort_of(pm)
        )
        record = {}
        if record_dist:
            record["dist_sum"], record["dist_n"] = _ivfpq_dist_ints_from_dir(
                spark, ddir, pm["codebook_dir"], pm["dim"], pm["m_sub"],
                id_col, vec_col,
            )
        return ddir, *_count_and_stats(spark, ddir, id_col), record

    return _append_commit(
        path, fingerprint, encode, batch_id, stream_id,
        quantizer=_quantizer("ivfpq", path),
    )


def ivfpq_vindex_recluster(
    spark,
    path: str,
    fingerprint: str = "",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Re-cluster AND re-encode as one rewrite commit: fresh centroids
    and a fresh codebook from the survivor corpus (both sidecars
    refreshed together — stored codes and the codebook that decodes
    them can never skew), every row re-assigned and re-coded. History
    is never reset; pinned reads before the recluster resolve the old
    sidecars."""
    from uts_spark.functions.similarity import (
        _ivf_centroids,
        _pq_codebook_exp,
    )

    def meta_fn(pm, cur):
        src = cur.select(id_col, vec_col)
        cdir = _write_quant_dir(
            _ivf_centroids(src, pm["n_cells"], id_col, vec_col), path
        )
        bdir = _write_quant_dir(
            _pq_codebook_exp(
                src, pm["dim"], pm["m_sub"], pm["n_cent"], id_col, vec_col
            ),
            path,
        )
        meta = _carry_meta(pm, fingerprint)
        meta["centroids_dir"] = cdir
        meta["codebook_dir"] = bdir
        meta["aux_dirs"] = [cdir, bdir]
        return meta

    def make_rows(cur, meta):
        keep = tuple(meta.get("meta_cols", ()))
        cents = _read_pq(spark, meta["centroids_dir"])
        cexp = _read_pq(spark, meta["codebook_dir"])
        return _ivfpq_rows(
            cur.select(id_col, vec_col, *keep), cents, cexp,
            meta["dim"], meta["m_sub"], id_col, vec_col, keep,
        ).transform(lambda d: _cluster(d, "cell"))

    def amend_fn(meta, ddir):
        # the distortion reference RESETS to the re-encoded corpus
        meta["dist_ref"] = list(
            _ivfpq_dist_ints_from_dir(
                spark, ddir, meta["codebook_dir"], meta["dim"],
                meta["m_sub"], id_col, vec_col,
            )
        )

    return _rewrite_with_retry(
        spark, path, make_rows, "recluster", meta_fn, amend_fn=amend_fn
    )


def ivfpq_vindex_ingest_tick(
    spark,
    emb_batch: DataFrame,
    path: str,
    batch_id: int,
    fingerprint: str = "",
    stream_id: str | None = None,
    distortion_milli: int = DISTORTION_MILLI,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """One CLOSED-LOOP micro-batch of the snapshot IVF-PQ ingest — the
    CODEBOOK-side drift monitor (the louder signal: distortion grows
    with the squared shift while top-1 cosine saturates; measured
    ratios 0.999/1.65/16.6 over the drift ladder vs the cosine fit's
    0.85/0.80/0.64, SCALE.md round 8). Per tick: append exactly-once
    with the batch's PQ distortion ints committed ON the manifest
    (computed from the STORED codes — one broadcast join, no
    rescoring), flag by integer cross-multiplication against the
    carried ``dist_ref`` (build-time corpus distortion, reset by
    recluster), and RE-CLUSTER + RE-ENCODE (both quantizers refreshed
    together) when the measured 1.3x flag fires. Replay semantics
    identical to the IVF tick: stream-id keys survive the rewrite, a
    replayed tick never re-decides off stale stats."""
    before = {m["version"]: m for m in list_versions(path)}
    if not before:
        raise ValueError(f"snapshot index at {path}: no committed versions")
    replay_hit = _batch_committed(
        before, _batch_key(before.values(), batch_id, stream_id)
    )

    v = ivfpq_vindex_append(
        emb_batch, path, fingerprint=fingerprint, batch_id=batch_id,
        stream_id=stream_id, id_col=id_col, vec_col=vec_col,
        record_dist=True,
    )
    versions = {m["version"]: m for m in list_versions(path)}
    m = versions[v]
    dist_sum = int(m.get("dist_sum", 0))
    dist_n = int(m.get("dist_n", 0))
    ref = m.get("dist_ref")
    flagged = bool(
        ref is not None
        and dist_n > 0
        and int(ref[0]) > 0
        and int(ref[1]) > 0
        and dist_sum * int(ref[1]) * 1000
        > distortion_milli * int(ref[0]) * dist_n
    )
    replayed = replay_hit is not None
    reclustered = False
    if flagged and not replayed and v == max(versions):
        ivfpq_vindex_recluster(
            spark, path, fingerprint=fingerprint + ":r",
            id_col=id_col, vec_col=vec_col,
        )
        reclustered = True
    return {
        "dist_sum": dist_sum,
        "dist_n": dist_n,
        "flagged": flagged,
        "reclustered": reclustered,
        "replayed": replayed,
    }


def ivfpq_vindex_probe(
    spark,
    path: str,
    anchors: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    rerank: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    version: int | None = None,
    where=None,
) -> DataFrame:
    """Probe at the current (or a pinned) snapshot: the manifest
    resolves the dir list AND both quantizer sidecars, so stored codes
    always ADC-score against the codebook they were encoded with —
    at every version, across any recluster. ``where`` pre-filters on
    metadata columns stored at build (``meta_cols``), pushed into the
    cell-pruned scan BEFORE ADC scoring — the shortlist is drawn from
    eligible vectors only."""
    from uts_spark.functions.similarity import _ivfpq_index_probe

    m = _manifest_at(path, version)
    return _ivfpq_index_probe(
        read_version(spark, path, version),
        _read_pq(spark, m["centroids_dir"]),
        _read_pq(spark, m["codebook_dir"]),
        anchors, dim=m["dim"], k=k, n_probe=n_probe, m_sub=m["m_sub"],
        rerank=rerank, id_col=id_col, vec_col=vec_col, where=where,
    )


# --- DELETION VECTORS on the snapshot indexes (round 10 cont.) --------------
#
# The index twin of sources/versioned.delete_rows_mor: a takedown
# commits the deleted ids as a scoped sidecar vector instead of
# rewriting any admitting dir. Every family's probe reads its rows
# through versioned.read_version, which applies vectors as scoped
# broadcast anti-joins — so MOR erasure needs NO per-family probe
# code, works on pinned probes (each manifest masks with its own
# vectors), and the quantizer sidecars are untouched (they hold no
# per-vector state... except IVF-PQ's data rows, whose code arrays ARE
# compressed embeddings — those stop being SERVED immediately but
# remain on disk until materialize+vacuum, the same two-step contract
# as every erasure path here; run the CoW verb when bytes must go now).

def _stats_admitting(spark, pm: dict, idf: DataFrame, idc: str,
                     dirs: list[str] | None = None) -> list[str]:
    """The dirs of ``pm`` (or the given subset) whose recorded id-range
    stats admit at least one id of ``idf`` — one tiny agg over the ID
    FRAME, never the index. Stats-less manifests admit everything
    (prune loss only, never a missed row)."""
    dirs = _manifest_dirs(pm) if dirs is None else list(dirs)
    stats = pm.get("dir_stats", {})
    if not dirs or not set(stats) >= set(dirs):
        return dirs
    hit_row = idf.agg(
        *[
            F.max(
                F.col(idc).between(F.lit(stats[d][0]), F.lit(stats[d][1]))
            ).alias(f"h{i}")
            for i, d in enumerate(dirs)
        ]
    ).first()
    return [d for i, d in enumerate(dirs) if bool(hit_row[f"h{i}"])]


def vindex_delete_mor(
    spark, deleted_ids: DataFrame, path: str, fingerprint: str = "",
) -> int:
    """MERGE-ON-READ erasure for any snapshot-index family (module
    comment above): commit the deleted ids as a deletion vector —
    O(keys) write cost, the compliance-SLA latency — and let every
    probe anti-join it until :func:`vindex_materialize_dvs` (or any
    compact/recluster, which read masked) folds it. The exact-row
    accounting costs one id-range-pruned scan of the admitting dirs,
    the same stats the CoW kernel prunes with. Family-agnostic: the
    id column and config carry from the manifest. A CAS conflict
    re-counts under the racer's masks (overlapping concurrent
    takedowns stay exact), like the data-table verb."""
    from uts_spark.sources.versioned import _read_dirs_masked

    memo: dict = {}

    def attempt(pm):
        if not pm:
            raise ValueError(f"snapshot index at {path}: nothing to delete")
        _, _, idc = _layout_of(pm)
        idf = (
            deleted_ids.toDF(idc)
            if len(deleted_ids.columns) == 1
            else deleted_ids.select(idc)
        ).distinct()
        dirs = _manifest_dirs(pm)
        use = _stats_admitting(spark, pm, idf, idc)
        if not use:
            return pm["version"]
        visible = _read_dirs_masked(spark, pm, use)
        n_masked = visible.join(
            F.broadcast(idf), idc, "left_semi"
        ).count()
        if n_masked == 0:
            return pm["version"]
        if "dvdir" not in memo:
            memo["dvdir"] = os.path.join(
                path, "data", f"dv-{uuid.uuid4().hex[:12]}"
            )
            idf.coalesce(1).write.mode("errorifexists").parquet(
                memo["dvdir"]
            )
        meta = _carry_meta(pm, fingerprint)
        meta["dir_stats"] = pm.get("dir_stats", {})
        meta["dv"] = pm.get("dv", []) + [{
            "dir": memo["dvdir"], "key": idc, "scope": dirs,
            "n_masked": n_masked,
        }]
        return dirs, "delete_mor", pm["n_rows"] - n_masked, meta

    return _cas_commit(path, attempt)


def vindex_materialize_dvs(spark, path: str, fingerprint: str = "") -> int:
    """Fold the index's outstanding deletion vectors into the data —
    rewrite ONLY the dirs some vector scopes AND whose id-range stats
    admit at least one of its keys (family repart/sort preserved, so
    bucket/cell pruning still holds on the rewritten dir); everything
    else carries by reference. Vector-free no-op. n_rows unchanged
    (probes saw the masked state all along)."""
    from uts_spark.sources.versioned import _read_dirs_masked

    def attempt(pm):
        if not pm:
            raise ValueError(f"snapshot index at {path}: no versions")
        recs = pm.get("dv", [])
        if not recs:
            return pm["version"]
        repart, sort, idc = _layout_of(pm)
        dirs = _manifest_dirs(pm)
        stats = pm.get("dir_stats", {})
        touched_set: set[str] = set()
        for rec in recs:
            sc = [d for d in rec["scope"] if d in dirs]
            if not sc:
                continue
            kf = _read_pq(spark, rec["dir"])
            touched_set.update(
                _stats_admitting(spark, pm, kf, rec["key"], dirs=sc)
            )
        touched = [d for d in dirs if d in touched_set]
        untouched = [d for d in dirs if d not in touched_set]
        meta = _carry_meta(pm, fingerprint)
        meta["materialized_dvs"] = len(recs)
        meta["pruned_dirs"] = len(untouched)
        new_dirs = list(untouched)
        meta["dir_stats"] = {
            d: stats[d] for d in untouched if d in stats
        }
        if touched:
            kept = _read_dirs_masked(spark, pm, touched).repartition(
                *[F.col(c) for c in repart]
            )
            ddir = _write_delta_dir(kept, path, sort)
            _, kstats = _count_and_stats(spark, ddir, idc)
            new_dirs.append(ddir)
            meta["dir_stats"][ddir] = kstats
        return new_dirs, "materialize_dv", pm["n_rows"], meta

    return _cas_commit(path, attempt)


# Measured per-family vector-count knees (tools/vindex_dv_smoke.py,
# 100k vectors / 50k docs, K=8 scattered takedowns — SCALE.md round 10
# cont.): probe walls are ~FLAT in outstanding-vector count for
# minhash (3.9 -> 3.8s), ivf (2.1 -> 2.2s) and ivfpq (5.2 -> 4.8s) —
# the table's 16 carries over — but the LSH probe is so light (1.1s)
# that the fixed anti-join overhead TRIPLES it by 8 vectors
# (1.13 -> 3.27s), so LSH folds at half the count. The knob that pays
# everywhere is masked FRACTION, same as the table's curves.
_MAX_DVS_DEFAULT = {"lsh": 8}


def vindex_maybe_materialize(
    spark, path: str, fingerprint: str = "",
    max_dvs: int | None = None, max_masked_frac: float = 0.05,
) -> int | None:
    """MATERIALIZE trigger for index deletion vectors (the
    maybe_materialize_dvs analog: vector count bounds manifest growth
    and the probes' fixed anti-join overhead, masked fraction bounds
    their dead probe work); None when under both. ``max_dvs=None``
    resolves the MEASURED per-family default (``_MAX_DVS_DEFAULT``
    above — the LSH probe's relative tax halves its budget; the other
    families inherit the table's 16). The maintenance tick runs this
    before the chain-length compact check, so MOR debt is paid on the
    same schedule as every other background chore."""
    versions = {m["version"]: m for m in list_versions(path)}
    if not versions:
        return None
    pm = versions[max(versions)]
    if max_dvs is None:
        max_dvs = _MAX_DVS_DEFAULT.get(pm.get("family"), 16)
    recs = pm.get("dv", [])
    if not recs:
        return None
    masked = sum(r["n_masked"] for r in recs)
    frac = masked / max(1, pm["n_rows"] + masked)
    if len(recs) <= max_dvs and frac <= max_masked_frac:
        return None
    return vindex_materialize_dvs(spark, path, fingerprint=fingerprint)


def vindex_read_rows_for_ids(
    spark, path: str, ids: DataFrame, version: int | None = None
) -> DataFrame:
    """PRUNED point-lookup on a snapshot index (the table verb's index
    twin, and the MOR audit's read path): scan only the dirs whose
    id-range stats admit >=1 requested id, apply the manifest's
    deletion vectors, semi-join the id frame. The id column resolves
    from the manifest."""
    from uts_spark.sources.versioned import _read_dirs_masked

    pm = _manifest_at(path, version)
    _, _, idc = _layout_of(pm)
    idf = (
        ids.toDF(idc) if len(ids.columns) == 1 else ids.select(idc)
    ).distinct()
    use = _stats_admitting(spark, pm, idf, idc)
    if not use:
        return read_version(spark, path, pm["version"]).limit(0)
    return _read_dirs_masked(spark, pm, use).join(
        F.broadcast(idf), idc, "left_semi"
    )


# Per-family OPTIMIZE-trigger defaults — each from ITS OWN measured
# probe-wall-vs-chain-length curve (tools/vindex_smoke.py --chain
# <family>, SCALE.md rounds 9b/9c), because the three probe shapes age
# differently as the append chain grows:
# - ivf/ivfpq (cell-filtered dir scans): 200k-vector curve 3.8-5.3s flat
#   through 16 dirs, 8.5s at 32, 10.3s at 64, 4.4s after compaction —
#   ~2x by 32, so trigger at the 16-dir knee. (ivfpq probes the same
#   cell-sliced layout; it inherits the measured ivf knee.)
# - lsh (bucket row-group pruning): 200k-vector curve 1.2-1.9s FLAT
#   through 64 dirs (compacted 1.14s) — no measured probe penalty, so
#   the trigger only bounds manifest growth + small-file debt at 64.
# - minhash (band/bucket pruning + candidate re-sketch): 100k-doc curve
#   2.5-3.4s flat through 64 (compacted 2.3s) — same story as lsh.
_MAX_DIRS_DEFAULT = {"ivf": 16, "ivfpq": 16, "lsh": 64, "minhash": 64}


def vindex_maybe_compact(
    spark, path: str, max_dirs: int | None = None, fingerprint: str = ""
) -> int | None:
    """The OPTIMIZE TRIGGER for append chains: compact when the
    CURRENT manifest references more than ``max_dirs`` directories,
    else do nothing (returns None). Every fast-append adds one delta
    dir, and past some chain length the probe pays more in per-dir
    footer/open/planning overhead than the data justifies.

    ``max_dirs=None`` resolves the MEASURED per-family default from
    the manifest (``_MAX_DIRS_DEFAULT`` above — round-10 #5: the IVF
    curve's 16-dir knee must not be inherited unmeasured by families
    whose probes age differently; the LSH/minhash curves came back
    flat through 64, so their chains are allowed to run 4x longer
    before paying a rewrite). Services call this at the END of a
    tick — the compaction is itself a CAS rewrite commit, so a racing
    append simply lands before or after it (before: folded in; after:
    the chain restarts at 2 dirs). Time travel to pre-compaction
    versions keeps working until vacuum, and exactly-once batch keys
    survive (compaction opens a new epoch for epoch-keyed appends,
    which is the documented rewrite rule; stream-id keys are
    unaffected)."""
    pm = _current_manifest(path)
    if max_dirs is None:
        max_dirs = _MAX_DIRS_DEFAULT.get(pm.get("family"), 16)
    if len(_manifest_dirs(pm)) <= max_dirs:
        return None
    return vindex_compact(spark, path, fingerprint=fingerprint)


def minhash_vindex_cap_hot_buckets(
    spark, path: str, cap: int | None = None, fingerprint: str = ""
) -> int:
    """The skew loop's corrective verb, snapshot-shaped: QUARANTINE
    every bucket larger than ``cap`` — quarantined rows are written to
    their own immutable dir, referenced from the manifest as
    ``quarantine_dir`` (an aux dir: auditable, reversible, protected
    from orphan cleanup and vacuumed only with its manifest), and the
    live rows rewrite WITHOUT them as one CAS rewrite commit. Cost is
    table-sized (the compact class — snapshot dirs are id-range
    clustered, not bucket-partitioned, so there is no partition-pruned
    path; cap ticks are rare flood
    responses and the manifest records ``hot_buckets`` for the audit).
    Pre-cap versions stay readable until vacuum. Returns the number of
    rows quarantined (0 without committing when no bucket exceeds the
    cap)."""
    from uts_spark.functions.dedup import HOT_BUCKET_CAP

    if cap is None:
        cap = HOT_BUCKET_CAP
    pm = _current_manifest(path)
    cur0 = read_version(spark, path, pm["version"])
    if (
        cur0.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") > cap)
        .limit(1)
        .count()
        == 0
    ):
        return 0

    state: dict = {}

    def meta_fn(pmm, cur):
        hot = (
            cur.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("s"))
            .filter(F.col("s") > cap)
            .select("band", "bucket")
            .localCheckpoint(eager=True)
        )
        state["hot"] = hot
        qrows = cur.join(F.broadcast(hot), ["band", "bucket"], "left_semi")
        qdir = _write_delta_dir(
            _cluster(qrows, "band", "grp"), path, _sort_of(pmm)
        )
        meta = _carry_meta(pmm, fingerprint)
        meta["hot_buckets"] = hot.count()
        meta["quarantine_dir"] = qdir
        meta["aux_dirs"] = list(pmm.get("aux_dirs", [])) + [qdir]
        return meta

    def make_rows(cur, meta):
        return _cluster(
            cur.join(F.broadcast(state["hot"]), ["band", "bucket"],
                     "left_anti"),
            "band", "grp",
        )

    v = _rewrite_with_retry(spark, path, make_rows, "cap", meta_fn)
    versions = {m["version"]: m for m in list_versions(path)}
    return versions[versions[v]["parent"]]["n_rows"] - versions[v]["n_rows"]


def minhash_vindex_ingest_tick(
    spark,
    batch_docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    batch_id: int,
    fingerprint: str = "",
    stream_id: str | None = None,
    cap: int | None = None,
    skew_milli: int | None = None,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    n_grps: int = 16,
) -> dict:
    """One CLOSED-LOOP micro-batch of the dedup ingest (the MinHash
    sibling of :func:`ivf_vindex_ingest_tick`), with the whole monitor
    on manifests: the build commits the organic collision reference
    (``coll_ref``), each tick's batch-collision ints commit atomically
    WITH its data, the flag cross-multiplies exact integers against
    the carried reference (the live row count is the parent manifest's
    own ``n_rows`` — no counter file to maintain), and the corrective
    hot-bucket quarantine is an ordinary CAS rewrite whose quarantine
    dir rides the manifest. Replay semantics match the IVF tick:
    stream-id keys survive the cap rewrite, and a replayed tick never
    re-decides off stale stats. Thresholds default to the measured
    dedup.SKEW_MILLI / HOT_BUCKET_CAP (SCALE.md round 9b)."""
    from uts_spark.functions.dedup import (
        HOT_BUCKET_CAP,
        SKEW_MILLI,
        minhash_collision_stat_ints,
    )

    if cap is None:
        cap = HOT_BUCKET_CAP
    if skew_milli is None:
        skew_milli = SKEW_MILLI
    _check_family_config(
        path, "minhash", n=n, k=k, bands=bands, n_grps=n_grps
    )

    before = {m["version"]: m for m in list_versions(path)}
    if not before:
        raise ValueError(f"snapshot index at {path}: no committed versions")
    replay_hit = _batch_committed(
        before, _batch_key(before.values(), batch_id, stream_id)
    )
    if replay_hit is not None:
        m = before[replay_hit]
        return {
            "coll_sum": int(m.get("coll_sum", 0)),
            "row_n": int(m.get("coll_rown", 0)),
            "flagged": False, "capped_rows": 0, "replayed": True,
        }

    pm = before[max(before)]
    rows = _rows(
        batch_docs, text_col, id_col, n, k, bands, n_grps,
        tuple(pm.get("meta_cols", ())),
    ).localCheckpoint(eager=True)
    live = read_version(spark, path)
    coll, row_n = minhash_collision_stat_ints(
        rows.select("id", "band", "bucket"), live
    )
    ddir = _write_delta_dir(
        rows.repartition(4, "band", "grp"), path, _sort_of(pm)
    )
    delta = (
        ddir, *_count_and_stats(spark, ddir),
        {"coll_sum": coll, "coll_rown": row_n},
    )
    v = _append_commit(
        path, fingerprint, lambda pm: delta, batch_id, stream_id
    )
    versions = {m["version"]: m for m in list_versions(path)}
    ref = versions[v].get("coll_ref")
    idx_n = pm["n_rows"]  # live band rows the stat was measured against
    flagged = bool(
        ref is not None
        and row_n > 0
        and int(ref[0]) > 0
        and int(ref[1]) > 1
        and coll * int(ref[1]) * (int(ref[1]) - 1) * 1000
        > skew_milli * int(ref[0]) * row_n * (idx_n + row_n - 1)
    )
    capped = 0
    if flagged and v == max(versions):
        capped = minhash_vindex_cap_hot_buckets(
            spark, path, cap=cap, fingerprint=fingerprint + ":cap"
        )
    return {
        "coll_sum": coll, "row_n": row_n, "flagged": flagged,
        "capped_rows": capped, "replayed": False,
    }

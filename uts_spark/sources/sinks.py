"""Write paths (sinks) + non-parquet sources.

The reference is purely in-memory (uts.ts:243 — an array); persistence is
wholly ours. The layout rules ARE the 100 TB design:

- **partitioned parquet**: partition columns become directory keys →
  time/series predicates turn into partition pruning (`PartitionFilters`
  in the scan, verified in tests). Low-cardinality keys only — a
  `series, date` layout gives the reference's retention sweep and
  interval lower bound O(touched-partitions) cost.
- **bucketed tables**: pre-shuffle by join/group key at write time so
  repeated joins/aggregations on that key skip their exchange entirely
  (saveAsTable + bucketBy; needs a metastore catalog).
- **CSV/JSON sources**: schema-explicit readers (never inferSchema on a
  100 TB lake — a schema scan is a full read).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def drop_expired_partitions(
    path: str, partition_col: str, cutoff: str
) -> list[str]:
    """Retention as a PARTITION DROP (the reference's background sweep,
    uts.ts:257-268, done the 100 TB way): on a table partitioned by a
    date-like key, expiring old data is a metadata/directory operation on
    the partitions with ``value < cutoff`` — no scan, no rewrite, cost
    O(dropped partitions) instead of O(rows).

    This local implementation removes ``{partition_col}={value}``
    directories under ``path`` (string comparison — ISO dates sort
    correctly). On a cluster the same operation is
    ``ALTER TABLE … DROP PARTITION`` (metastore) or Delta
    ``DELETE WHERE`` + ``VACUUM``; the read-time retention predicate in
    ``Series.query`` stays as the guard for rows not yet swept.

    Returns the dropped partition values.
    """
    prefix = f"{partition_col}="
    dropped = []
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if not (os.path.isdir(full) and entry.startswith(prefix)):
            continue
        if entry[len(prefix):] < cutoff:
            shutil.rmtree(full)
            dropped.append(entry[len(prefix):])
    return dropped


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
    cluster: bool = False,
) -> None:
    """Partitioned parquet append/overwrite. ``maxRecordsPerFile`` bounds
    file sizes (small-file storms and 10 GB monsters are both scan
    poison).

    ``cluster=True`` repartitions on the partition columns first, so
    each directory receives ONE file per write instead of one per
    (task x directory). Index builds/appends pass it: measured at 1M
    docs, five un-clustered MinHash-index appends left 24,576 files and
    a 40 s probe; the same index at one-file-per-dir probes in 10.5 s
    (SCALE.md round 7). Costs one batch-sized shuffle — the right trade
    for service ticks; bulk one-shot writes keep the parallel layout."""
    if cluster:
        from pyspark.sql import functions as F

        df = df.repartition(*[F.col(c) for c in partition_by])
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def staged_idempotent_append(
    rows: "DataFrame",
    path: str,
    partition_by: list[str],
    batch_id: int,
    epoch: int = 0,
) -> list[str]:
    """EXACTLY-ONCE partitioned append keyed by ``(epoch, batch_id)``
    (the shared kernel behind the streaming ingest lanes): stage the
    rows under ``path/_staging/{tag}`` in overwrite mode (underscore
    dir — invisible to partition discovery; a torn prior staging of
    the same batch is replaced wholesale), SWEEP any
    ``{tag}-*.parquet`` a crashed prior attempt already published
    into the partition grid, then os.replace each staged file into
    its partition dir under the deterministic name
    ``{tag}-{seq}.parquet``. Every crash window replays to the
    identical physical table. Returns the published relpaths (for
    version-history sidecars). Cost: the same clustered write a plain
    append does, plus renames — no data copy.

    ``epoch`` (ADVICE r8) namespaces the tag: epoch 0 keeps the
    original ``b{batch_id}`` names; after a rewriting verb (erasure /
    compaction / re-cluster — each appends a reset to the version
    history) the caller passes ``index_epoch(path)`` so a REUSED
    batch_id (a fresh stream restarting at bid 0) publishes as
    ``e{epoch}b{batch_id}-*`` and the sweep can never delete the
    prior generation's surviving ``b{batch_id}-*`` files out of
    partitions the rewrite left untouched."""
    import glob
    import os
    import shutil

    tag = f"b{batch_id}" if epoch == 0 else f"e{epoch}b{batch_id}"
    staged = os.path.join(path, "_staging", tag)
    write_partitioned(rows, staged, partition_by, cluster=True)

    pat = [f"{c}=*" for c in partition_by]
    for stale in glob.glob(
        os.path.join(path, *pat, f"{tag}-*.parquet")
    ):
        os.remove(stale)

    published: list[str] = []
    seq = 0

    def walk(src_dir: str, rel_parts: list[str], depth: int):
        nonlocal seq
        if depth == len(partition_by):
            tgt = os.path.join(path, *rel_parts)
            os.makedirs(tgt, exist_ok=True)
            for f in sorted(glob.glob(os.path.join(src_dir, "*.parquet"))):
                name = f"{tag}-{seq}.parquet"
                os.replace(f, os.path.join(tgt, name))
                published.append(os.path.join(*rel_parts, name))
                seq += 1
            return
        for d in sorted(
            glob.glob(os.path.join(src_dir, f"{partition_by[depth]}=*"))
        ):
            walk(d, rel_parts + [os.path.basename(d)], depth + 1)

    walk(staged, [], 0)
    shutil.rmtree(staged, ignore_errors=True)
    return published


def compact_partitioned(
    spark, path: str, partition_by: list[str]
) -> tuple[int, int]:
    """Compact a partitioned index/table directory in place: every
    append (dedup/ANN service ticks) adds one file per touched
    partition, and after many ticks the per-partition file count — not
    data size — starts to dominate scan planning. Rewrite shuffles on
    exactly the partition columns (all rows of a directory land in one
    task → one output file per directory), then swaps directories via
    rename. Underscore-prefixed sidecars (frozen quantizer tables,
    _INDEX_MANIFEST.json) are carried over verbatim — compaction is
    physical layout only, never content: probe results are pinned
    identical pre/post in tests/test_llm_ops.py.

    Returns (files_before, files_after). The swap is two renames — the
    brief window between them is acceptable for a single-writer
    service tick; a multi-writer deployment would commit via a
    versioned manifest (sources/versioned.py) instead. Re-entrant
    (ADVICE r7): a run that crashed between its two renames leaves the
    index only at ``path__old`` — that is detected and restored here
    before anything else, and stale ``__old``/``__compact_tmp`` debris
    from any crashed prior run is swept so the swap's own renames can
    never collide with it.

    VERSION HISTORY (VERDICT r8 #1 — the round-8 composition defect):
    compaction rewrites every data file under new Spark ``part-*``
    names, so when a ``_MANIFEST_HISTORY.jsonl`` sidecar rides along,
    carrying it over VERBATIM leaves every recorded version pointing
    at a file census that no longer exists — a version-pinned probe
    then dies with a raw PATH_NOT_FOUND instead of the designed
    "predates the rewrite" error. A RESET line with the
    post-compaction census is therefore appended (exactly what the
    erasure verbs do): pins taken BEFORE the compaction raise the
    descriptive ValueError, pins at/after it read the compacted
    files and stay row-identical to an unpinned probe."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    old = path + "__old"
    tmp = path + "__compact_tmp"
    if not os.path.exists(path) and os.path.exists(old):
        # prior run died between rename(path, old) and rename(tmp, path):
        # __old IS the (uncompacted but complete) index — restore it
        os.rename(old, path)
    if os.path.exists(old):
        # prior run died after its second rename but before the rmtree —
        # __old is a superseded copy; a live one was renamed back above
        shutil.rmtree(old)
    count = lambda p: len(  # noqa: E731
        glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
    )
    before = count(path)
    df = spark.read.parquet(path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    (
        df.repartition(*[F.col(c) for c in partition_by])
        .write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(tmp)
    )
    for entry in os.listdir(path):
        if entry.startswith("_") and entry != "_SUCCESS":
            src, dst = os.path.join(path, entry), os.path.join(tmp, entry)
            if os.path.isdir(src):
                if os.path.exists(dst):
                    shutil.rmtree(dst)
                shutil.copytree(src, dst)
            else:
                shutil.copy2(src, dst)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    from uts_spark.functions.dedup import (
        _HISTORY_NAME,
        _index_data_files,
        index_history_append,
        index_history_versions,
    )

    if os.path.exists(os.path.join(path, _HISTORY_NAME)):
        recs = index_history_versions(path)
        if recs:
            index_history_append(
                path,
                max(r["version"] for r in recs) + 1,
                _index_data_files(
                    path, tuple(f"{c}=*" for c in partition_by)
                ),
                reset=True,
                compaction=True,
            )
    return before, count(path)


def delete_from_partitioned(
    spark: SparkSession,
    path: str,
    located: DataFrame,
    part_cols: list[str],
    id_col: str,
) -> int:
    """ERASE rows from a partitioned index in place — the kernel behind
    the marker MinHash index's GDPR verb. ``located`` carries one row
    per (deleted id, partition key) — the caller derives it by
    re-sketching ONLY the deleted documents, so the work here is
    bounded by the touched partitions, never the index:

    1. collect the DISTINCT touched partition keys (bounded by the
       index's partition COUNT — bands x n_grps — never by the erasure
       batch size) into a static
       partition filter;
    2. rewrite those partitions minus the deleted ids via a LEFT ANTI
       join against the id FRAME (VERDICT r7 #2 / ADVICE r7: the first
       implementation collected every deleted id to the driver and
       embedded them in one isin() literal — fine for user-sized GDPR
       requests, a driver-side bottleneck for a multi-million-id domain
       takedown; the anti join broadcasts when the batch is small and
       shuffles when it is not, and the driver never holds the ids);
    3. dynamic-partition-overwrite the kept rows (untouched directories
       keep their files byte-identical) and rmtree any directory whose
       rows were ALL deleted — dynamic overwrite cannot clear a
       partition it writes zero rows into, so without the sweep those
       rows would silently survive.

    Returns the number of index rows removed; the caller bumps the
    manifest fingerprint afterwards (ideally inside an
    :func:`uts_spark.functions.dedup.index_tick`)."""
    touched = sorted(
        tuple(int(r[c]) for c in part_cols)
        for r in located.select(*part_cols).distinct().collect()
    )
    if not touched:
        return 0
    # ONE flat isin over a combined key, not an OR-chain of per-key
    # conjunctions: a chain of hundreds of (c1=v1 AND c2=v2) terms
    # builds a Column tree deep enough to StackOverflow the expression
    # converter (hit at 512 touched LSH partitions); a combined-key
    # In-list stays a single flat predicate over partition columns
    # only, so partition pruning is unchanged
    if len(part_cols) == 1:
        cond = F.col(part_cols[0]).isin([key[0] for key in touched])
    else:
        combined = F.concat_ws(
            "/", *[F.col(c).cast("string") for c in part_cols]
        )
        cond = combined.isin(
            ["/".join(str(v) for v in key) for key in touched]
        )
    scan = spark.read.parquet(path).filter(cond)
    ids = located.select(F.col(id_col)).distinct()
    # materialize BEFORE overwriting: the rewrite targets the same path
    # it reads from, and a lazy plan would race its own output. Bounded
    # by the touched partitions' rows.
    keep = scan.join(ids, id_col, "left_anti").localCheckpoint(eager=True)
    removed = scan.count() - keep.count()
    (
        keep.repartition(*[F.col(c) for c in part_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(path)
    )
    remaining = {
        tuple(int(r[c]) for c in part_cols)
        for r in keep.select(*part_cols).distinct().collect()
    }
    for key in touched:
        if key not in remaining:
            shutil.rmtree(
                os.path.join(
                    path, *[f"{c}={v}" for c, v in zip(part_cols, key)]
                ),
                ignore_errors=True,
            )
    return removed


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates rows by key at write time, so a
    later equi-join/groupBy on ``bucket_cols`` runs shuffle-free (both
    sides bucketed the same way) — the 'reuse a partitioning across
    stages' play."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def read_csv(
    spark: SparkSession, path: str, schema: str, header: bool = True, **options
) -> DataFrame:
    """Schema-explicit CSV (no inferSchema full-scan)."""
    return spark.read.options(header=header, **options).schema(schema).csv(path)


def read_json(spark: SparkSession, path: str, schema: str, **options) -> DataFrame:
    """Schema-explicit JSON-lines (no sampling inference pass)."""
    return spark.read.options(**options).schema(schema).json(path)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Small-file compaction — the other half of 100 TB table hygiene
    next to retention (streaming sinks and incremental appends leave
    thousands of KB-sized files; every query then pays per-file open +
    footer + task-schedule cost). Rewrites the directory into
    ``ceil(total_bytes / target_file_bytes)`` files via a data-free
    ``coalesce`` (no shuffle — partitions merge in place), atomically
    swapping directories only after the rewrite succeeds.

    Returns {files_before, files_after, bytes}. No-ops (and reports)
    when the directory already has fewer than ``min_files`` files.
    On a partitioned table run per partition directory — compaction is
    embarrassingly parallel across partitions and never touches ones
    that are already healthy."""
    parts = [
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    total = sum(os.path.getsize(os.path.join(path, f)) for f in parts)
    if len(parts) < min_files:
        return {"files_before": len(parts), "files_after": len(parts), "bytes": total}
    n_out = max(1, -(-total // target_file_bytes))
    tmp = path.rstrip("/") + "__compact_tmp"
    spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "__compact_old"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    return {"files_before": len(parts), "files_after": after, "bytes": total}


def write_jsonl_gz_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard",
    order_col: str | None = None,
) -> None:
    """Export a training corpus as gzip'd JSONL shard files — the hand-off
    format LLM training stacks consume (one `shard=N/part-*.json.gz` dir
    per shard; `multimodal_gzip_corpus` is the matching READ side, and
    `pipeline_training_prep` produces exactly the (doc, shard)
    assignment this writes out).

    Shape: one shuffle to co-locate each shard (repartition on the shard
    column so a shard is one file, the contract samplers expect),
    optional within-file ordering, Spark's native gzip text codec — no
    driver involvement, each shard file streams from one task."""
    out = df.repartition(F.col(shard_col))
    if order_col is not None:
        out = out.sortWithinPartitions(shard_col, order_col)
    (
        out.write.partitionBy(shard_col)
        .option("compression", "gzip")
        .mode("overwrite")
        .json(path)
    )


def read_jsonl_gz_shards(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """Read a sharded gzip-JSONL corpus back (partition-column `shard`
    recovered from the directory layout; gzip is splittable per FILE, so
    parallelism = shard-file count — size shards accordingly)."""
    return spark.read.schema(schema + ", shard int").json(path)

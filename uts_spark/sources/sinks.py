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

Maintained indexes are not written here: every index family commits
through the versioned table's manifests (functions/vindex.py over
sources/versioned.py), which needs no rename and no O_EXCL.
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
) -> None:
    """Partitioned parquet append/overwrite. ``maxRecordsPerFile`` bounds
    file sizes (small-file storms and 10 GB monsters are both scan
    poison)."""
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )


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

"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration is what we'd set cluster-side for a 1000-executor job, minus
the master. Key choices:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  essential at 100 TB where static partition counts are always wrong.
- UTC session timezone — the testdata parquet carries naive timestamps; a
  fixed zone makes Spark and the DuckDB oracle agree bit-for-bit.
- Arrow enabled — every pandas interchange (the few places we drop to
  ``applyInPandas``) goes through Arrow batches, not pickled rows.
- Whole-stage codegen cache sized to the engine's working set
  (:data:`CODEGEN_CACHE_ENTRIES`) — Spark's default of 100 compiled
  classes is smaller than one pass of a recurring lane set, so the LRU
  cycles and every pass recompiles (Janino) and re-JITs what it just
  evicted.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's compiled-class LRU cache (static conf
# ``spark.sql.codegen.cache.maxEntries``, default 100), keyed by the
# generated source. Distinct classes per working set, measured as the
# CodegenMetrics compilation count on a fresh session: the perfbench
# ``pipeline`` cold pass 164, the ``tsq`` cold pass 105, one pass of
# bench.py's 47 headline lanes at sf0.1 1046. The headline pass is the
# largest set that recurs; this fits it with about 2x headroom.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "uts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not create (the
    driver hands us one). Only dynamic confs — never restarts the JVM.
    Static confs stay as that session's creator set them: such a session
    (the ``__spark_entry__`` driver's, for one) keeps its own codegen
    cache size, not :data:`CODEGEN_CACHE_ENTRIES`."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark

"""Sinks/sources: partitioned parquet round-trip with verified partition
pruning, CSV/JSON schema-explicit readers."""

from pyspark.sql import functions as F

from uts_spark.sources.sinks import (
    drop_expired_partitions,
    read_csv,
    read_json,
    write_partitioned,
)
from uts_spark.sources.tables import load_events


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    ev = load_events(spark, sf_dir).withColumn(
        "event_date", F.to_date(F.col("ts"))
    )
    out = str(tmp_path / "events_part")
    write_partitioned(ev, out, ["event_date"])

    back = spark.read.parquet(out)
    assert back.count() == ev.count()

    one_day = back.filter(F.col("event_date") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # the date predicate must land in PartitionFilters (directory pruning),
    # not in the row-level data filters
    assert "PartitionFilters: [" in plan
    assert "2024-01-05" in plan.split("PartitionFilters")[1].split("]")[0]
    assert one_day.count() == ev.filter(F.col("event_date") == "2024-01-05").count()


def test_retention_as_partition_drop(spark, sf_dir, tmp_path):
    """Series.compact's storage analog: TTL expiry on a date-partitioned
    table is a directory drop, and reading back equals the read-time
    retention predicate on the original data."""
    ev = load_events(spark, sf_dir).withColumn(
        "event_date", F.to_date(F.col("ts"))
    )
    out = str(tmp_path / "events_ttl")
    write_partitioned(ev, out, ["event_date"])

    cutoff = "2024-01-15"
    dropped = drop_expired_partitions(out, "event_date", cutoff)
    assert dropped and all(d < cutoff for d in dropped)

    back = spark.read.parquet(out)
    kept = ev.filter(F.col("event_date") >= cutoff)
    assert back.count() == kept.count()
    assert back.agg(F.min("event_date")).first()[0] >= kept.agg(
        F.min("event_date")
    ).first()[0]


def test_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0)], "id long, name string, v double"
    )
    cpath, jpath = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.option("header", True).csv(cpath)
    df.write.json(jpath)

    c = read_csv(spark, cpath, "id long, name string, v double")
    j = read_json(spark, jpath, "id long, name string, v double")

    def rows(d):
        return sorted((r.id, r.name, r.v) for r in d.collect())

    assert rows(c) == rows(df)
    assert rows(j) == rows(df)


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Both sides bucketed on the join key at write time → the equi-join
    runs with NO Exchange at all (the co-located-join play: pay the
    shuffle once at ingest, reuse it for every later join/groupBy on
    that key). Broadcast is disabled so the bucketing — not a broadcast
    — is what removes the shuffle."""
    import uuid as _uuid

    from uts_spark.sources.sinks import write_bucketed

    sfx = _uuid.uuid4().hex[:8]
    t_o, t_c = f"orders_b_{sfx}", f"cust_b_{sfx}"
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(orders, t_o, ["o_custkey"], n_buckets=8)
        write_bucketed(cust, t_c, ["c_custkey"], n_buckets=8)
        bo, bc = spark.table(t_o), spark.table(t_c)
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # result correctness vs the unbucketed join
        plain = orders.join(cust, orders.o_custkey == cust.c_custkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


def test_zorder_layout_shrinks_file_bounding_boxes(spark, sf_dir, tmp_path):
    """Files written in z-order must cover much smaller (x, y) rectangles
    than time-ordered files — the property that makes min/max file stats
    prune scans on EITHER dimension."""
    from uts_spark.functions.layout import z_value

    ev = (
        load_events(spark, sf_dir)
        .select(
            "event_id",
            F.col("user_id").alias("x"),
            F.round("value").cast("long").alias("y"),
        )
        .withColumn("zval", z_value(F.col("x"), F.col("y")))
    )

    def avg_bbox_area(df, order_col, path):
        df.repartitionByRange(8, F.col(order_col)).write.mode("overwrite").parquet(path)
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg(
                (F.max("x") - F.min("x")).alias("dx"),
                (F.max("y") - F.min("y")).alias("dy"),
            )
            .select(F.avg(F.col("dx") * F.col("dy")).alias("a"))
            .collect()
        )
        return per_file[0]["a"]

    a_time = avg_bbox_area(ev, "event_id", str(tmp_path / "by_time"))
    a_z = avg_bbox_area(ev, "zval", str(tmp_path / "by_z"))
    # z-order should cut the average file bounding box drastically
    assert a_z < a_time / 2, (a_z, a_time)


def test_range_partitioned_global_sort_write(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions = a total order across
    files (file N's max <= file N+1's min) with NO global single-node
    sort — the layout that gives min/max pruning on the sort key and
    merge-friendly downstream reads at 100 TB."""
    ev = load_events(spark, sf_dir).select("event_id", "ts_ms", "value")
    out = str(tmp_path / "sorted")
    (
        ev.repartitionByRange(6, F.col("ts_ms"))
        .sortWithinPartitions("ts_ms")
        .write.mode("overwrite").parquet(out)
    )
    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("lo")
        .collect()
    )
    assert len(per_file) > 1
    for a, b in zip(per_file, per_file[1:]):
        assert a["hi"] <= b["lo"], "files overlap on the sort key"
    # range partitioner balances rows (no single fat file)
    counts = [r["n"] for r in per_file]
    assert max(counts) < 3 * (sum(counts) / len(counts))
    # within-file order: first/last row of each file match its min/max
    one = spark.read.parquet(per_file[0]["f"]).select("ts_ms").limit(1).collect()
    assert one[0]["ts_ms"] == per_file[0]["lo"]


def test_compact_small_files_roundtrip(spark, tmp_path):
    from uts_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(16).write.parquet(path)
    import os

    before = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before) == 16
    stats = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == 16 and stats["files_after"] == 1
    # data survives byte-for-byte (same rows, same values)
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == 2 * sum(range(10_000))
    # already-compact dirs are left alone
    stats2 = compact_small_files(spark, path)
    assert stats2["files_before"] == stats2["files_after"] == 1


def test_schema_evolution_merge_read(spark, tmp_path):
    # Robustness at ingest: a table whose later files gained a column
    # reads as the UNION schema with mergeSchema; old files yield NULLs.
    # (At 100 TB schema drift across years of files is the norm, and the
    # footer-merge is why writers may add but never retype columns.)
    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, 10.0)], "id long, v double").write.parquet(
        base + "/g=a"
    )
    spark.createDataFrame(
        [(2, 20.0, "x")], "id long, v double, tag string"
    ).write.parquet(base + "/g=b")
    df = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(df.columns) >= {"id", "v", "tag"}
    rows = {r.id: r.tag for r in df.select("id", "tag").collect()}
    assert rows == {1: None, 2: "x"}


def test_lsh_index_at_rest_partition_pruned_probes(spark, sf_dir, tmp_path):
    # ANN index at rest: bucket ids written as a PARTITION column turn
    # every probe into a partition-pruned scan — the disk-backed shape of
    # the in-memory LSH bucket join (functions/similarity.lsh_bucket_table).
    from pyspark.sql import functions as F

    from uts_spark.functions.similarity import lsh_bucket_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    idx = lsh_bucket_table(emb, dim=dim, planes=6, tables=1)
    path = str(tmp_path / "lsh_index")
    idx.write.mode("overwrite").partitionBy("bucket").parquet(path)

    at_rest = spark.read.parquet(path)
    some_bucket = at_rest.select("bucket").first()[0]
    probe = at_rest.filter(F.col("bucket") == some_bucket)
    p = probe._jdf.queryExecution().executedPlan().toString()
    pf = p.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in pf  # the probe predicate prunes directories
    assert probe.count() > 0


def test_custom_python_datasource_partitioned_deterministic(spark):
    # Spark 4 Python DataSource API: the synthetic series source declares
    # partitions, generates executor-side, and is bit-deterministic in
    # (seed, row id) — a template for wrapping any external system as a
    # scale-out source (sources/synth.py).
    from uts_spark.sources.synth import register

    register(spark)
    df = (
        spark.read.format("uts-synth")
        .option("rows", 500).option("partitions", 8).option("seed", 3)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 500
    a = sorted(df.collect())
    b = sorted(
        spark.read.format("uts-synth")
        .option("rows", 500).option("partitions", 8).option("seed", 3)
        .load().collect()
    )
    assert a == b  # deterministic across reads
    # generated rows feed the normal Series/TSDB surface
    from uts_spark.plans.tsdb import Series
    from uts_spark.operators.aggregates import Metric

    s = Series(df, time_col="time", order_col="ingest_id")
    out = s.query({"m": Metric("mean", "value"), "n": Metric("count")})
    row = out.collect()[0]
    assert row["n"] == 500 and row["m"] > 0


def test_bucketed_layout_removes_sessionization_shuffle(spark):
    # ROADMAP r3 #2: session_window needs each user's events co-located;
    # a user_id-bucketed table satisfies that AT REST, so the session
    # aggregation plan has ZERO exchanges (measured at 20M rows: the
    # one full-data shuffle disappears; scale_smoke showed it is the
    # dominant cost at 100M).
    from pyspark.sql import functions as F

    tbl = "sess_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    ev = spark.range(20_000).select(
        (F.lit(1_700_000_000_000) + F.col("id") * 1000).alias("ts_ms"),
        F.pmod(F.xxhash64("id"), 50).alias("user_id"),
    )
    try:
        (
            ev.write.mode("overwrite").bucketBy(8, "user_id")
            .sortBy("user_id", "ts_ms").format("parquet").saveAsTable(tbl)
        )
        sess = (
            spark.table(tbl)
            .withColumn("ts", F.timestamp_millis("ts_ms"))
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        p = sess._jdf.queryExecution().executedPlan().toString()
        assert p.count("Exchange hashpartitioning") == 0
        # and the result matches the shuffled plan on the same data
        plain = (
            ev.withColumn("ts", F.timestamp_millis("ts_ms"))
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        a = sorted(map(tuple, sess.select("user_id", "n").collect()))
        b = sorted(map(tuple, plain.select("user_id", "n").collect()))
        assert a == b
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_orc_roundtrip_with_predicate_pushdown(spark, sf_dir, tmp_path):
    # Format coverage beyond parquet: ORC round-trips the events table
    # and pushes comparison predicates into the ORC scan (searchArg).
    ev = load_events(spark, sf_dir).select("event_id", "ts_ms", "value")
    path = str(tmp_path / "events_orc")
    ev.write.orc(path)
    back = spark.read.orc(path)
    assert back.count() == ev.count()
    assert sorted(back.columns) == sorted(ev.columns)
    q = back.filter(F.col("value") > 150.0)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(value,150.0)" in plan
    assert q.count() == ev.filter(F.col("value") > 150.0).count()


def test_csv_malformed_rows_permissive_and_drop(spark, tmp_path):
    # Ingest robustness: PERMISSIVE captures broken rows in
    # _corrupt_record (audit lane), DROPMALFORMED silently filters them
    # — the two knobs a 100 TB CSV backfill actually uses.
    import os

    path = str(tmp_path / "dirty")
    os.makedirs(path)
    with open(os.path.join(path, "part.csv"), "w") as f:
        f.write("1,a,1.5\n2,b,not_a_number\n3,c,-2.0\nbroken row\n")
    schema = "id long, name string, v double, _corrupt_record string"
    permissive = spark.read.schema(schema).option(
        "mode", "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", "_corrupt_record").csv(path)
    rows = permissive.collect()
    assert len(rows) == 4
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 2  # the non-numeric v and the short row
    dropped = spark.read.schema("id long, name string, v double").option(
        "mode", "DROPMALFORMED"
    ).csv(path)
    assert sorted(r.id for r in dropped.collect()) == [1, 3]


def test_jsonl_gz_shard_export_roundtrip(spark, sf_dir, tmp_path):
    # the training-corpus EXPORT path: pipeline_training_prep's shard
    # assignment written as gzip JSONL shard dirs, read back losslessly
    import glob
    import gzip
    import json
    import os

    from uts_spark.registry import QUERIES
    from uts_spark.sources.sinks import read_jsonl_gz_shards, write_jsonl_gz_shards

    prep = QUERIES["pipeline_training_prep"](spark, sf_dir)
    path = os.path.join(str(tmp_path), "corpus")
    write_jsonl_gz_shards(prep, path, shard_col="shard", order_col="doc_id")

    # layout: one shard=N dir per shard, gzip members inside
    files = glob.glob(os.path.join(path, "shard=*", "*.json.gz"))
    assert files, "no gzip shard files written"
    with gzip.open(files[0], "rt") as f:
        first = json.loads(f.readline())
    assert set(first) == {"doc_id", "n_bpeish"}

    back = read_jsonl_gz_shards(spark, path, "doc_id long, n_bpeish long")
    a = {(r.doc_id, r.n_bpeish, r.shard) for r in back.collect()}
    b = {(r.doc_id, r.n_bpeish, r.shard) for r in prep.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# Versioned snapshot tables (sources/versioned.py)
# ---------------------------------------------------------------------------


def test_versioned_time_travel_and_merge(spark, tmp_path):
    from pyspark.sql import functions as F

    from uts_spark.sources.versioned import (
        current_version,
        list_versions,
        merge_upsert,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    v0 = write_snapshot(base, path)
    assert v0 == 0 and current_version(path) == 0

    delta = spark.createDataFrame(
        [(2, "B", False), (4, "d", False), (3, None, True)],
        "k int, v string, deleted boolean",
    )
    v1 = merge_upsert(spark, path, delta, key="k", delete_col="deleted")
    assert v1 == 1 and current_version(path) == 1

    # time travel: v0 unchanged by the merge
    got0 = {(r.k, r.v) for r in read_version(spark, path, 0).collect()}
    assert got0 == {(1, "a"), (2, "b"), (3, "c")}
    # v1: key 2 updated, key 4 inserted, key 3 deleted, key 1 untouched
    got1 = {(r.k, r.v) for r in read_version(spark, path).collect()}
    assert got1 == {(1, "a"), (2, "B"), (4, "d")}

    # audit trail
    ms = list_versions(path)
    assert [m["version"] for m in ms] == [0, 1]
    assert ms[1]["operation"] == "merge" and ms[1]["parent"] == 0
    assert ms[0]["n_rows"] == 3 and ms[1]["n_rows"] == 3

    # double-commit of the same version refuses (atomicity guard)
    import pytest as _pytest

    from uts_spark.sources.versioned import _commit

    with _pytest.raises(ValueError, match="already"):
        _commit(path, {"version": 1})


def test_versioned_reader_pinned_during_new_write(spark, tmp_path):
    from uts_spark.sources.versioned import read_version, write_snapshot

    path = str(tmp_path / "vt2")
    write_snapshot(
        spark.createDataFrame([(1, 10)], "k int, x int"), path
    )
    pinned = read_version(spark, path, 0)  # lazy plan against v0 files
    write_snapshot(
        spark.createDataFrame([(9, 90)], "k int, x int"), path
    )
    # executing the pinned plan AFTER the new version commits still
    # reads v0 — snapshot files are immutable
    assert [(r.k, r.x) for r in pinned.collect()] == [(1, 10)]


def test_versioned_vacuum(spark, tmp_path):
    from uts_spark.sources.versioned import (
        list_versions,
        read_version,
        vacuum,
        write_snapshot,
    )

    path = str(tmp_path / "vt3")
    for i in range(4):
        write_snapshot(
            spark.createDataFrame([(i,)], "k int"), path
        )
    assert vacuum(path, keep_last=2) == [0, 1]
    assert [m["version"] for m in list_versions(path)] == [2, 3]
    assert [r.k for r in read_version(spark, path).collect()] == [3]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not found"):
        read_version(spark, path, 0)


def test_versioned_optimize_compacts_clusters_and_preserves_time_travel(
    spark, sf_dir, tmp_path
):
    """OPTIMIZE (round 6): compaction + z-order clustering committed as
    a NEW snapshot. Pins all three contracts at once:
    1. data identical (row multiset) before/after;
    2. time travel to the pre-optimize version reads the ORIGINAL
       small-file layout untouched;
    3. layout actually improves — fewer files AND a selective (x, y)
       predicate touches fewer files under min/max stats pruning."""
    import os

    from uts_spark.sources.versioned import (
        list_versions,
        optimize,
        read_version,
    )
    from uts_spark.sources.versioned import write_snapshot

    path = str(tmp_path / "vtab")
    ev = load_events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("x"),
        F.round("value").cast("long").alias("y"),
        "value",
    )
    # v0: a deliberately bad layout — 24 shuffled small files
    write_snapshot(ev.repartition(24), path)
    v0_dir = list_versions(path)[0]["data_dir"]
    files_v0 = [f for f in os.listdir(v0_dir) if f.endswith(".parquet")]
    assert len(files_v0) == 24

    v1 = optimize(spark, path, zorder_by=("x", "y"),
                  target_file_bytes=4 * 1024)
    assert v1 == 1
    assert list_versions(path)[-1]["operation"] == "optimize"

    # 1. row multiset preserved
    before = sorted(map(tuple, read_version(spark, path, 0).collect()))
    after = sorted(map(tuple, read_version(spark, path, 1).collect()))
    assert before == after

    # 2. time travel: v0's files untouched
    files_v0_after = [f for f in os.listdir(v0_dir) if f.endswith(".parquet")]
    assert files_v0_after == files_v0

    def files_read(version, x_lo, x_hi, y_lo, y_hi):
        """Files a min/max-stats-pruning reader opens for the box."""
        stats = (
            read_version(spark, path, version)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min("x").alias("x0"), F.max("x").alias("x1"),
                 F.min("y").alias("y0"), F.max("y").alias("y1"))
            .collect()
        )
        return sum(
            1 for r in stats
            if r.x1 >= x_lo and r.x0 <= x_hi and r.y1 >= y_lo and r.y0 <= y_hi
        ), len(stats)

    xs = [r.x for r in read_version(spark, path, 1).select("x").collect()]
    ys = [r.y for r in read_version(spark, path, 1).select("y").collect()]
    x_mid, y_mid = sorted(xs)[len(xs) // 2], sorted(ys)[len(ys) // 2]
    span_x = (max(xs) - min(xs)) // 20 or 1
    span_y = (max(ys) - min(ys)) // 20 or 1
    hit0, tot0 = files_read(0, x_mid, x_mid + span_x, y_mid, y_mid + span_y)
    hit1, tot1 = files_read(1, x_mid, x_mid + span_x, y_mid, y_mid + span_y)
    # 3. compaction: fewer files overall; clustering: the selective box
    # touches a smaller FRACTION of files post-optimize (v0's shuffled
    # small files all intersect everything)
    assert tot1 < tot0
    assert hit0 == tot0  # shuffled layout: every file intersects the box
    assert hit1 / tot1 < 1.0, (hit1, tot1)


def test_versioned_remove_orphans(spark, tmp_path):
    """The optimistic-concurrency protocol legitimately orphans dirs
    (losing rewrite attempts, crashed writers' staged deltas, raced
    recluster quantizers); remove_orphans clears exactly the
    unreferenced ones past the grace window — manifest-referenced
    dirs survive at ANY age, and a fresh (in-flight-writer) orphan
    survives the default window."""
    import os

    from uts_spark.functions.vindex import ivf_vindex_build, ivf_vindex_probe
    from uts_spark.sources.versioned import (
        _write_delta_dir,
        remove_orphans,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_vindex_build(emb, path, fingerprint="f0", n_cells=8)

    # a crashed/losing writer's staged delta + quantizer: never committed
    orphan_d = _write_delta_dir(emb.limit(5), path)
    os.makedirs(os.path.join(path, "quant"), exist_ok=True)
    orphan_q = os.path.join(path, "quant", "q-deadbeef0000")
    emb.limit(2).write.parquet(orphan_q)

    # inside the grace window: nothing removed (in-flight writer safety)
    assert remove_orphans(path) == []
    assert os.path.isdir(orphan_d) and os.path.isdir(orphan_q)

    removed = remove_orphans(path, older_than_secs=0)
    assert sorted(removed) == sorted([orphan_d, orphan_q])
    assert not os.path.exists(orphan_d) and not os.path.exists(orphan_q)
    # every manifest-referenced dir survived: the index still probes
    anchors = emb.filter(F.col("vec_id") < 3)
    assert ivf_vindex_probe(spark, path, anchors, k=5).count() > 0


def test_versioned_table_changes_appendonly_dir_diff(spark, tmp_path):
    """Append-only histories answer table_changes with a scan of the
    ADDED dirs — no join in the plan, result = the appended rows as
    inserts."""
    from uts_spark.sources.versioned import (
        append_snapshot,
        table_changes,
        write_snapshot,
    )

    path = str(tmp_path / "cdf_ap")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    append_snapshot(
        spark.createDataFrame([(3, "c"), (4, "d")], "k int, v string"), path
    )
    ch = table_changes(spark, path, 0, 1)
    got = {(r.k, r.v, r._change_type) for r in ch.collect()}
    assert got == {(3, "c", "insert"), (4, "d", "insert")}
    # the fast path never joins — the whole point at 100 TB: the
    # unchanged base is not read
    assert "Join" not in ch._jdf.queryExecution().executedPlan().toString()
    # same version diffed against itself: empty feed, schema intact
    assert table_changes(spark, path, 1, 1).count() == 0


def test_versioned_table_changes_key_diff_across_rewrite(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F401

    import pytest as _pytest

    from uts_spark.sources.versioned import (
        delete_rows,
        merge_upsert,
        table_changes,
        write_snapshot,
    )

    path = str(tmp_path / "cdf_rw")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        ),
        path,
    )
    merge_upsert(
        spark, path,
        spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"),
        key="k",
    )
    delete_rows(
        spark, path, spark.createDataFrame([(3,)], "k int"), key="k"
    )
    # rewrite in range -> key required
    with _pytest.raises(ValueError, match="pass key="):
        table_changes(spark, path, 0, 2)
    got = {
        (r.k, r.v, r._change_type)
        for r in table_changes(spark, path, 0, 2, key="k").collect()
    }
    assert got == {
        (4, "d", "insert"),
        (3, "c", "delete"),
        (2, "b", "update_preimage"),
        (2, "B", "update_postimage"),
    }
    # unknown version fails loudly
    with _pytest.raises(ValueError, match="not found"):
        table_changes(spark, path, 0, 9, key="k")


def test_versioned_table_changes_duplicate_keys_refused(spark, tmp_path):
    import pytest as _pytest

    from uts_spark.sources.versioned import (
        table_changes,
        write_snapshot,
    )

    path = str(tmp_path / "cdf_dup")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (1, "a2")], "k int, v string"), path
    )
    write_snapshot(
        spark.createDataFrame([(1, "z")], "k int, v string"), path
    )
    with _pytest.raises(ValueError, match="duplicate"):
        table_changes(spark, path, 0, 1, key="k").collect()


def test_versioned_schema_evolution_add_column(spark, tmp_path):
    """Fast-append may ADD columns: the commit records the widened
    schema + evolved flag, current reads back-fill NULL for old rows,
    and time travel to the pre-evolution version keeps the old
    schema."""
    from uts_spark.sources.versioned import (
        append_snapshot,
        list_versions,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_evo")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    append_snapshot(
        spark.createDataFrame(
            [(3, "c", "en")], "k int, v string, lang string"
        ),
        path,
    )
    cur = read_version(spark, path)
    assert cur.columns == ["k", "v", "lang"]
    got = {(r.k, r.v, r.lang) for r in cur.collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", "en")}
    # time travel: v0 never grows the column
    assert read_version(spark, path, 0).columns == ["k", "v"]
    ms = list_versions(path)
    assert ms[1]["evolved"] is True and "lang" in ms[1]["schema"]
    # a further append WITHOUT the new column: refused? No — it drops
    # 'lang' relative to the widened schema, which is a narrow. Refuse.
    import pytest as _pytest

    with _pytest.raises(ValueError, match="drops column"):
        append_snapshot(
            spark.createDataFrame([(4, "d")], "k int, v string"), path
        )


def test_versioned_schema_evolution_type_change_refused(spark, tmp_path):
    import pytest as _pytest

    from uts_spark.sources.versioned import append_snapshot, write_snapshot

    path = str(tmp_path / "vt_evo2")
    write_snapshot(spark.createDataFrame([(1, 10)], "k int, x int"), path)
    with _pytest.raises(ValueError, match="changes type"):
        append_snapshot(
            spark.createDataFrame([(2, 2.5)], "k int, x double"), path
        )


def test_versioned_delete_rows_prunes_by_dir_stats(spark, tmp_path):
    """Opted-in dir stats turn erasure into a touched-dirs rewrite:
    deleting keys inside one delta's id range carries every other dir
    into the new manifest BY REFERENCE (same dir paths), and the
    survivors read back exactly."""
    from uts_spark.sources.versioned import (
        append_snapshot,
        delete_rows,
        list_versions,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_prune")
    mk = lambda lo, n: spark.range(lo, lo + n).selectExpr(  # noqa: E731
        "id AS k", "CAST(id * 2 AS STRING) AS v"
    )
    write_snapshot(mk(0, 100), path, stats_col="k")
    append_snapshot(mk(1000, 100), path)   # stats_col inherited
    append_snapshot(mk(2000, 100), path)
    ms = list_versions(path)
    assert ms[-1]["stats_col"] == "k"
    assert len(ms[-1]["dir_stats"]) == 3
    pre_dirs = set(ms[-1]["dir_stats"])

    # delete 10 keys, all inside the SECOND delta's range
    delete_rows(
        spark, path, spark.range(1010, 1020).selectExpr("id AS k"), "k"
    )
    dm = list_versions(path)[-1]
    assert dm["operation"] == "delete" and dm["pruned_dirs"] == 2
    # the two unaffected dirs carried by reference
    assert len(set(dm["dir_stats"]) & pre_dirs) == 2
    assert dm["n_rows"] == 290
    got = {r.k for r in read_version(spark, path).collect()}
    assert len(got) == 290 and not (got & set(range(1010, 1020)))
    # delete keys admitted by NO dir range: current version stands
    v = delete_rows(
        spark, path, spark.range(5000, 5010).selectExpr("id AS k"), "k"
    )
    assert v == dm["version"]


def test_versioned_delete_rows_pruned_on_evolved_chain(spark, tmp_path):
    """Pruned erasure composes with schema evolution: the touched-dir
    rewrite reads merged-schema, survivors keep their NULL back-fill,
    untouched narrow dirs stay narrow (the version stays evolved)."""
    from uts_spark.sources.versioned import (
        append_snapshot,
        delete_rows,
        list_versions,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_prune_evo")
    write_snapshot(
        spark.range(0, 50).selectExpr("id AS k", "'a' AS v"),
        path,
        stats_col="k",
    )
    append_snapshot(
        spark.range(1000, 1050).selectExpr(
            "id AS k", "'b' AS v", "'en' AS lang"
        ),
        path,
    )
    # erase inside the EVOLVED delta's range only
    delete_rows(
        spark, path, spark.range(1000, 1010).selectExpr("id AS k"), "k"
    )
    dm = list_versions(path)[-1]
    assert dm["pruned_dirs"] == 1 and dm["evolved"] is True
    cur = read_version(spark, path)
    assert cur.columns == ["k", "v", "lang"]
    rows = {(r.k, r.lang) for r in cur.collect()}
    assert len(rows) == 90
    assert (0, None) in rows and (1010, "en") in rows


def test_versioned_merge_schema_policy(spark, tmp_path):
    """merge_upsert shares append's evolution contract: delta may ADD
    columns (untouched rows get NULL, schema widens), a delta missing
    current columns is refused (whole-row MERGE would silently NULL
    the column on every updated row)."""
    import pytest as _pytest

    from uts_spark.sources.versioned import (
        list_versions,
        merge_upsert,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_merge_evo")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        path,
        stats_col="k",
    )
    merge_upsert(
        spark, path,
        spark.createDataFrame(
            [(2, "B", "en"), (3, "c", "de")], "k int, v string, lang string"
        ),
        key="k",
    )
    got = {(r.k, r.v, r.lang) for r in read_version(spark, path).collect()}
    assert got == {(1, "a", None), (2, "B", "en"), (3, "c", "de")}
    # stats_col carried through the merge rewrite
    assert list_versions(path)[-1]["stats_col"] == "k"
    with _pytest.raises(ValueError, match="missing column"):
        merge_upsert(
            spark, path,
            spark.createDataFrame([(4, "d")], "k int, v string"),
            key="k",
        )


def test_versioned_refs_tag_read_vacuum(spark, tmp_path):
    """Named refs: tag/read/drop, pointer moves only by tag_version,
    and vacuum NEVER expires a tagged version (a name is a retention
    promise)."""
    import pytest as _pytest

    from uts_spark.sources.versioned import (
        drop_tag,
        list_versions,
        read_ref,
        read_version,
        tag_version,
        vacuum,
        write_snapshot,
    )

    path = str(tmp_path / "vt_refs")
    for i in range(4):
        write_snapshot(
            spark.createDataFrame([(i,)], "x int"), path
        )
    assert tag_version(path, "prod", 1) == 1
    assert tag_version(path, "latest") == 3  # None -> current
    assert [r.x for r in read_ref(spark, path, "prod").collect()] == [1]
    # a later commit does NOT move the ref
    write_snapshot(spark.createDataFrame([(9,)], "x int"), path)
    assert [r.x for r in read_ref(spark, path, "prod").collect()] == [1]
    with _pytest.raises(ValueError, match="no ref named"):
        read_ref(spark, path, "nope")
    with _pytest.raises(ValueError, match="cannot tag"):
        tag_version(path, "bad", 99)

    # vacuum keeps BOTH tagged versions (v1 'prod', v3 'latest');
    # untagged old versions go
    gone = vacuum(path, keep_last=1)
    assert set(gone) == {0, 2}
    assert sorted(m["version"] for m in list_versions(path)) == [1, 3, 4]
    assert [r.x for r in read_ref(spark, path, "prod").collect()] == [1]
    # dropping the tag releases it to the next vacuum
    drop_tag(path, "prod")
    assert 1 in vacuum(path, keep_last=1)
    with _pytest.raises(ValueError):
        read_version(spark, path, 1)


def test_versioned_table_changes_across_schema_evolution(spark, tmp_path):
    """Key-diff across an ADD-column evolution: unchanged old rows emit
    nothing (their NULL-backfilled image equals the merged read),
    changed rows emit NULL pre-images under the widened schema — the
    Delta-CDF convention."""
    from uts_spark.sources.versioned import (
        merge_upsert,
        table_changes,
        write_snapshot,
    )

    path = str(tmp_path / "vt_cdf_evo")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    # merge widens the schema AND updates key 2
    merge_upsert(
        spark, path,
        spark.createDataFrame([(2, "B", "en")], "k int, v string, lang string"),
        key="k",
    )
    got = {
        (r.k, r.v, r.lang, r._change_type)
        for r in table_changes(spark, path, 0, 1, key="k").collect()
    }
    assert got == {
        (2, "b", None, "update_preimage"),
        (2, "B", "en", "update_postimage"),
    }


def test_versioned_optimize_folds_append_chain(spark, tmp_path):
    """optimize() on a fast-append chain (the first cut crashed on the
    multi-dir manifest): whole chain folds to one dir, rows exactly
    preserved, stats re-recorded, evolution collapses (the rewrite
    materializes the widened schema); maybe_optimize triggers only
    past max_dirs."""
    from uts_spark.sources.versioned import (
        _manifest_dirs,
        append_snapshot,
        list_versions,
        maybe_optimize,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_opt_chain")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"),
        path, stats_col="k",
    )
    append_snapshot(
        spark.createDataFrame([(2, "b")], "k int, v string"), path
    )
    append_snapshot(
        spark.createDataFrame([(3, "c", "en")], "k int, v string, lang string"),
        path,
    )
    assert maybe_optimize(spark, path, max_dirs=8) is None  # under
    v = maybe_optimize(spark, path, max_dirs=2)
    assert v is not None
    m = list_versions(path)[-1]
    assert m["operation"] == "optimize" and len(_manifest_dirs(m)) == 1
    assert m["stats_col"] == "k" and list(m["dir_stats"].values()) == [[1, 3]]
    got = {(r.k, r.v, r.lang) for r in read_version(spark, path).collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", "en")}
    # pre-optimize chain still time-travels
    assert read_version(spark, path, 2).count() == 3


def test_versioned_table_changes_changed_columns(spark, tmp_path):
    """Opt-in column granularity: update images carry the NULL-safe
    list of moved columns; inserts/deletes carry NULL."""
    from uts_spark.sources.versioned import (
        merge_upsert,
        table_changes,
        write_snapshot,
    )

    path = str(tmp_path / "vt_cdf_cols")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", None), (3, "c", 30)],
            "k int, v string, x int",
        ),
        path,
    )
    merge_upsert(
        spark, path,
        spark.createDataFrame(
            # k=1: only x moves; k=2: x NULL->20 (null-safe diff);
            # k=3: identical (no feed row); k=4: insert
            [(1, "a", 11), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "k int, v string, x int",
        ),
        key="k",
    )
    ch = table_changes(
        spark, path, 0, 1, key="k", with_changed_columns=True
    )
    got = {
        (r.k, r._change_type): r._changed_columns for r in ch.collect()
    }
    assert got[(1, "update_preimage")] == ["x"]
    assert got[(1, "update_postimage")] == ["x"]
    assert got[(2, "update_preimage")] == ["x"]
    assert got[(4, "insert")] is None
    assert (3, "update_preimage") not in got  # unchanged row: no feed
    # default shape unchanged (no _changed_columns column)
    assert "_changed_columns" not in table_changes(
        spark, path, 0, 1, key="k"
    ).columns


def test_versioned_append_exactly_once_batch_key(spark, tmp_path):
    """Batch-keyed appends are exactly-once: a replay returns the
    already-committed version before any data job; stream ids
    namespace the key so two streams at bid 0 never alias."""
    from uts_spark.sources.versioned import (
        append_snapshot,
        list_versions,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_eo")
    write_snapshot(spark.createDataFrame([(1,)], "k int"), path)
    d = spark.createDataFrame([(2,)], "k int")
    v1 = append_snapshot(d, path, batch_id=0, stream_id="sA")
    # replay: same version back, no new manifest, no new rows
    assert append_snapshot(d, path, batch_id=0, stream_id="sA") == v1
    assert len(list_versions(path)) == 2
    assert read_version(spark, path).count() == 2
    # a DIFFERENT stream's bid 0 is a distinct commit
    v2 = append_snapshot(
        spark.createDataFrame([(3,)], "k int"), path,
        batch_id=0, stream_id="sB",
    )
    assert v2 != v1 and read_version(spark, path).count() == 3


def test_versioned_decimal_schema_append_and_read(spark, tmp_path):
    """ADVICE r9 (high): parenthesized type params (decimal(10,2))
    must survive the recorded-schema split — fast-appends on a table
    with a decimal column crashed _schema_fields before the fix."""
    from uts_spark.sources.versioned import (
        _schema_fields,
        append_snapshot,
        read_version,
        write_snapshot,
    )

    assert _schema_fields("struct<k:int,d:decimal(10,2),v:string>") == {
        "k": "int", "d": "decimal(10,2)", "v": "string"
    }
    assert _schema_fields(
        "struct<k:int,s:struct<a:decimal(3,1),b:array<char(2)>>>"
    ) == {"k": "int", "s": "struct<a:decimal(3,1),b:array<char(2)>>"}

    path = str(tmp_path / "vdec")
    df = spark.createDataFrame(
        [(1, "1.50"), (2, "2.25")], "k int, d string"
    ).select("k", F.col("d").cast("decimal(10,2)").alias("d"))
    write_snapshot(df, path)
    append_snapshot(
        spark.createDataFrame([(3, "9.99")], "k int, d string").select(
            "k", F.col("d").cast("decimal(10,2)").alias("d")
        ),
        path,
    )
    # evolved append on a decimal table reads back under the widened
    # schema (the crash was unconditional, so plain appends covered it;
    # evolution exercises the recorded-schema projection too)
    append_snapshot(
        spark.createDataFrame(
            [(4, "0.10", "x")], "k int, d string, tag string"
        ).select(
            "k", F.col("d").cast("decimal(10,2)").alias("d"), "tag"
        ),
        path,
    )
    got = read_version(spark, path)
    assert got.columns == ["k", "d", "tag"]
    assert got.count() == 4
    assert (
        got.filter(F.col("k") == 3).first()["tag"] is None
    )


def test_versioned_stats_col_type_refused_before_write(spark, tmp_path):
    """ADVICE r9: a stats_col whose type can't ride the JSON manifest
    (timestamp/date/binary/decimal) is refused BEFORE any data write —
    no orphan dir, no half-committed snapshot."""
    import os

    import pytest as _pytest

    from uts_spark.sources.versioned import (
        append_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "vstats_bad")
    df = spark.createDataFrame([(1,)], "k int").select(
        "k", F.current_timestamp().alias("ts")
    )
    with _pytest.raises(ValueError, match="round-trip"):
        write_snapshot(df, path, stats_col="ts")
    assert not os.path.exists(path)  # nothing written at all

    # inherited stats_col on append is checked up front too
    ok = str(tmp_path / "vstats_ok")
    write_snapshot(
        spark.createDataFrame([(1, 10)], "k int, sid bigint"), ok,
        stats_col="sid",
    )
    bad_delta = spark.createDataFrame([(2,)], "k int").select(
        "k", F.current_timestamp().cast("timestamp").alias("sid")
    )
    with _pytest.raises(ValueError, match="round-trip"):
        append_snapshot(bad_delta, ok)


def test_versioned_table_changes_dir_diff_across_evolution(spark, tmp_path):
    """ADVICE r9 (medium): the append-only CDF fast path across a
    schema-evolving range merges footers and projects to the
    to-version schema — the narrow dir's rows surface NULL in the
    added column instead of the feed inheriting one footer's schema."""
    from uts_spark.sources.versioned import (
        append_snapshot,
        table_changes,
        write_snapshot,
    )

    path = str(tmp_path / "cdf_evo_fast")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    # narrow append, then widened append: BOTH dirs are "added" in the
    # 0 -> 2 diff, with heterogeneous footers
    append_snapshot(
        spark.createDataFrame([(2, "b")], "k int, v string"), path
    )
    append_snapshot(
        spark.createDataFrame(
            [(3, "c", "x")], "k int, v string, tag string"
        ),
        path,
    )
    ch = table_changes(spark, path, 0, 2)
    assert ch.columns == ["k", "v", "tag", "_change_type"]
    got = {(r.k, r.v, r.tag, r._change_type) for r in ch.collect()}
    assert got == {
        (2, "b", None, "insert"),
        (3, "c", "x", "insert"),
    }
    # still the fast path: no join
    assert "Join" not in ch._jdf.queryExecution().executedPlan().toString()


def test_versioned_wap_branch_write_audit_publish(spark, tmp_path):
    """WAP: a branch stages appends invisibly to main (byte-identical
    reads until publish), read_branch audits the staged state, and
    merge_branch publishes as one commute-merge commit — even when
    main itself appended concurrently after the fork."""
    from uts_spark.sources.versioned import (
        append_snapshot,
        create_branch,
        list_branches,
        merge_branch,
        read_branch,
        read_version,
        write_snapshot,
        write_to_branch,
    )

    path = str(tmp_path / "wap")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    base = create_branch(path, "staging")
    assert base == 0 and list_branches(path) == ["staging"]

    write_to_branch(
        spark.createDataFrame([(3, "c")], "k int, v string"), path, "staging"
    )
    write_to_branch(
        spark.createDataFrame([(4, "d")], "k int, v string"), path, "staging"
    )
    # audit reads the staged state; main is byte-identical to the fork
    assert read_branch(spark, path, "staging").count() == 4
    main_rows = {tuple(r) for r in read_version(spark, path).collect()}
    assert main_rows == {(1, "a"), (2, "b")}

    # concurrent main append AFTER the fork: appends commute at publish
    append_snapshot(
        spark.createDataFrame([(9, "z")], "k int, v string"), path
    )
    ver = merge_branch(spark, path, "staging")
    got = {tuple(r) for r in read_version(spark, path, ver).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d"), (9, "z")}
    assert list_branches(path) == []  # published branches drop
    # time travel: pre-merge versions unchanged
    assert read_version(spark, path, 1).count() == 3


def test_versioned_wap_branch_conflicts_and_retention(spark, tmp_path):
    """Branch guards: a main REWRITE since the fork refuses the
    publish (staged appends may reference erased state); an overwrite
    branch publishes fast-forward-only; the branch-head CAS races like
    version commits; vacuum keeps branch-referenced dirs alive."""
    import pytest as _pytest

    from uts_spark.sources.versioned import (
        VersionConflictError,
        _commit,
        append_snapshot,
        create_branch,
        delete_rows,
        drop_branch,
        merge_branch,
        read_branch,
        vacuum,
        write_snapshot,
        write_to_branch,
    )

    path = str(tmp_path / "wapc")
    write_snapshot(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(6)], "k int, v string"
        ),
        path, stats_col="k",
    )
    create_branch(path, "risky")
    write_to_branch(
        spark.createDataFrame([(100, "x")], "k int, v string"), path, "risky"
    )
    # main rewrites (GDPR delete) after the fork -> publish refuses
    delete_rows(spark, path, spark.createDataFrame([(3,)], "k int"), "k")
    with _pytest.raises(VersionConflictError, match="Re-stage"):
        merge_branch(spark, path, "risky")
    drop_branch(path, "risky")

    # overwrite branch: fast-forward-only
    create_branch(path, "rewrite")
    write_to_branch(
        spark.createDataFrame([(7, "w")], "k int, v string"), path,
        "rewrite", operation="overwrite",
    )
    append_snapshot(
        spark.createDataFrame([(8, "y")], "k int, v string"), path
    )
    with _pytest.raises(VersionConflictError, match="fast-forward"):
        merge_branch(spark, path, "rewrite")
    drop_branch(path, "rewrite")

    # branch-head CAS: second writer of the same seq loses loudly
    create_branch(path, "race")
    with _pytest.raises(VersionConflictError, match="already committed"):
        _commit(path, {"seq": 0, "base": 0}, branch="race")

    # retention: vacuum keeps every branch-referenced dir
    write_to_branch(
        spark.createDataFrame([(200, "s")], "k int, v string"), path, "race"
    )
    for i in range(3):
        append_snapshot(
            spark.createDataFrame([(300 + i, "t")], "k int, v string"), path
        )
    vacuum(path, keep_last=1)
    assert read_branch(spark, path, "race").count() == 7  # 6 base + 1 staged


def test_versioned_wap_branch_schema_evolution(spark, tmp_path):
    """A branch may stage schema-ADDING appends; the publish widens
    main's schema (evolved read semantics), and narrowing stages are
    refused — same rules as the main chain."""
    import pytest as _pytest

    from uts_spark.sources.versioned import (
        create_branch,
        merge_branch,
        read_branch,
        read_version,
        write_snapshot,
        write_to_branch,
    )

    path = str(tmp_path / "wapse")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    create_branch(path, "widen")
    write_to_branch(
        spark.createDataFrame(
            [(2, "b", 0.5)], "k int, v string, score double"
        ),
        path, "widen",
    )
    aud = read_branch(spark, path, "widen")
    assert aud.columns == ["k", "v", "score"]
    with _pytest.raises(ValueError, match="narrowing"):
        write_to_branch(
            spark.createDataFrame([(3,)], "k int"), path, "widen"
        )
    ver = merge_branch(spark, path, "widen")
    got = read_version(spark, path, ver)
    assert got.columns == ["k", "v", "score"]
    assert {tuple(r) for r in got.collect()} == {
        (1, "a", None), (2, "b", 0.5)
    }


def test_catalog_register_resolve_alter_collisions(spark, tmp_path):
    """Catalog shim semantics: atomic registration (collision = loud
    error, never overwrite), alter moves a name by generation, missing
    names list what exists, kind mismatches refuse, and reads compose
    with version/ref/branch pins."""
    import pytest as _pytest

    from uts_spark.sources.catalog import (
        alter_entry,
        list_entries,
        read_table,
        register_entry,
        resolve,
        unregister_entry,
    )
    from uts_spark.sources.versioned import (
        append_snapshot,
        create_branch,
        tag_version,
        write_snapshot,
        write_to_branch,
    )

    cat = str(tmp_path / "cat")
    t1 = str(tmp_path / "t1")
    t2 = str(tmp_path / "t2")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"), t1
    )
    tag_version(t1, "prod", 0)
    append_snapshot(
        spark.createDataFrame([(2, "b")], "k int, v string"), t1
    )
    create_branch(t1, "stage")
    write_to_branch(
        spark.createDataFrame([(3, "c")], "k int, v string"), t1, "stage"
    )
    write_snapshot(
        spark.createDataFrame([(9, "z")], "k int, v string"), t2
    )

    register_entry(cat, "main", t1)
    with _pytest.raises(ValueError, match="already registered"):
        register_entry(cat, "main", t2)
    assert resolve(cat, "main")["path"] == t1

    # every pin resolves through the name
    assert read_table(spark, cat, "main").count() == 2
    assert read_table(spark, cat, "main", version=0).count() == 1
    assert read_table(spark, cat, "main", ref="prod").count() == 1
    assert read_table(spark, cat, "main", branch="stage").count() == 3
    with _pytest.raises(ValueError, match="at most one"):
        read_table(spark, cat, "main", version=0, ref="prod")

    # alter moves the name; generations win over the base file
    g = alter_entry(cat, "main", t2)
    assert g == 1 and resolve(cat, "main")["path"] == t2
    assert read_table(spark, cat, "main").count() == 1

    with _pytest.raises(ValueError, match="no entry named"):
        resolve(cat, "ghost")
    register_entry(cat, "idx", t2, kind="index")
    with _pytest.raises(ValueError, match="not a table"):
        read_table(spark, cat, "idx")
    assert [r["name"] for r in list_entries(cat)] == ["idx", "main"]
    unregister_entry(cat, "main")
    with _pytest.raises(ValueError, match="no entry named"):
        resolve(cat, "main")


def test_catalog_index_probe_by_name(spark, tmp_path):
    """Indexes register in the same catalog and probe by name through
    the index facade (family and config read off its manifest)."""
    import os as _os

    from uts_spark.sources.catalog import index_probe_by_name, register_entry

    SF = _os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])

    from uts_spark.functions.vindex import lsh_vindex_build

    cat = str(tmp_path / "cat")
    p = str(tmp_path / "lshidx")
    lsh_vindex_build(emb, p, dim, fingerprint="f0")
    register_entry(cat, "ann", p, kind="index")
    anchors = emb.orderBy("vec_id").limit(3)
    got = index_probe_by_name(spark, cat, "ann", anchors, k=5)
    assert got.count() > 0


def test_versioned_branch_changes_staged_feed(spark, tmp_path):
    """branch_changes: the staged feed is exactly the branch's added
    rows (join-free dir diff vs the fork base), evolution-aware;
    overwrite branches refuse (no key, no row-level diff)."""
    import pytest as _pytest

    from uts_spark.sources.versioned import (
        branch_changes,
        create_branch,
        drop_branch,
        write_snapshot,
        write_to_branch,
    )

    path = str(tmp_path / "bcf")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"), path
    )
    create_branch(path, "st")
    assert branch_changes(spark, path, "st").count() == 0
    write_to_branch(
        spark.createDataFrame([(2, "b")], "k int, v string"), path, "st"
    )
    write_to_branch(
        spark.createDataFrame(
            [(3, "c", 1.5)], "k int, v string, score double"
        ),
        path, "st",
    )
    feed = branch_changes(spark, path, "st")
    assert feed.columns == ["k", "v", "score", "_change_type"]
    got = {(r.k, r.v, r.score, r._change_type) for r in feed.collect()}
    assert got == {(2, "b", None, "insert"), (3, "c", 1.5, "insert")}
    assert "Join" not in feed._jdf.queryExecution().executedPlan().toString()
    drop_branch(path, "st")

    create_branch(path, "ow")
    write_to_branch(
        spark.createDataFrame([(7, "w")], "k int, v string"), path, "ow",
        operation="overwrite",
    )
    # keyless overwrite feeds refuse with the pass-key= hint (the
    # key-diff path is exercised by ..._overwrite_keydiff below)
    with _pytest.raises(ValueError, match="pass key="):
        branch_changes(spark, path, "ow")


def test_catalog_erase_by_names(spark, tmp_path):
    """Catalog-wide GDPR: erase_by_names resolves every named holder
    (or the whole catalog), dispatches tables by their manifest
    stats_col and indexes by family, and the per-target
    accounting carries the catalog name with zero leaks."""
    import os as _os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from uts_spark.functions.vindex import ivf_vindex_build
    from uts_spark.sources.catalog import erase_by_names, register_entry
    from uts_spark.sources.versioned import write_snapshot

    SF = _os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cat = str(tmp_path / "cat")
    p_idx = str(tmp_path / "idx")
    p_tbl = str(tmp_path / "tbl")
    p_nostats = str(tmp_path / "tbl2")
    ivf_vindex_build(emb, p_idx, fingerprint="f0")
    write_snapshot(
        emb.select("vec_id", "embedding"), p_tbl, stats_col="vec_id"
    )
    write_snapshot(emb.select("vec_id", "label"), p_nostats)
    p_bloom = str(tmp_path / "tbl3")
    write_snapshot(
        emb.select("vec_id", "label"), p_bloom, bloom_col="vec_id"
    )
    register_entry(cat, "ann", p_idx, kind="index")
    register_entry(cat, "vecs", p_tbl)
    register_entry(cat, "labels", p_nostats)
    register_entry(cat, "bloomed", p_bloom)

    dele = emb.filter(F.col("vec_id") % 9 == 2).select("vec_id")
    n_del = dele.count()

    # a stats-less table without an explicit key refuses loudly
    with _pytest.raises(ValueError, match="stats_col"):
        erase_by_names(spark, dele, cat)

    acct = erase_by_names(
        spark, dele, cat, fingerprint="gdpr",
        table_keys={"labels": "vec_id"},
    )
    by_name = {a["name"]: a for a in acct}
    assert set(by_name) == {"ann", "vecs", "labels", "bloomed"}
    assert all(a["leaked"] == 0 for a in acct), acct
    assert by_name["ann"]["rows_removed"] == n_del
    assert by_name["vecs"]["rows_removed"] == n_del
    assert by_name["labels"]["rows_removed"] == n_del
    # key resolved from bloom_col without an explicit table_keys entry
    assert by_name["bloomed"]["rows_removed"] == n_del

    # scoped call: only the named target is touched (already-erased
    # index removes nothing more)
    acct2 = erase_by_names(
        spark, dele, cat, names=["ann"], fingerprint="gdpr2"
    )
    assert len(acct2) == 1 and acct2[0]["rows_removed"] == 0
    with _pytest.raises(ValueError, match="no entries named"):
        erase_by_names(spark, dele, cat, names=["ghost"])


def test_versioned_bloom_pruned_erasure(spark, tmp_path):
    """Round 10: per-dir Bloom sidecars prune erasure by CONTENT on
    hash-distributed keys. (a) a 3-dir chain sliced by id%3 has fully
    overlapping per-dir [min,max] ranges — stats admit every dir — yet
    a takedown batch confined to one slice rewrites exactly ONE dir
    (pruned_dirs=2); (b) no false negatives: the erased ids are gone
    and every carried dir's surviving rows are intact byte-for-byte;
    (c) a batch with no member anywhere is a version no-op; (d) the
    rewritten dir gets a fresh sidecar so a SECOND takedown against
    the new current prunes the same way; (e) bloom_col inherits
    across appends like stats_col."""
    import os

    from uts_spark.sources.versioned import (
        _BLOOM_FILE,
        append_snapshot,
        delete_rows,
        list_versions,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt")
    # ids hashed via md5-conv: uniform over the keyspace, sliced % 3
    base = spark.range(900).select(
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
        .cast("long").alias("id"),
        (F.col("id") % 3).alias("slc"),
    ).cache()
    write_snapshot(
        base.filter(F.col("slc") == 0).drop("slc"), path,
        stats_col="id", bloom_col="id",
    )
    append_snapshot(base.filter(F.col("slc") == 1).drop("slc"), path)
    append_snapshot(base.filter(F.col("slc") == 2).drop("slc"), path)
    pm = list_versions(path)[-1]
    assert pm.get("bloom_col") == "id"
    dirs = pm["data_dirs"]
    assert len(dirs) == 3
    for d in dirs:
        assert os.path.exists(os.path.join(d, _BLOOM_FILE))
    # overlapping ranges: every dir's range admits every other dir's ids
    los = [pm["dir_stats"][d][0] for d in dirs]
    his = [pm["dir_stats"][d][1] for d in dirs]
    assert max(los) < min(his)

    erase = [r["id"] for r in
             base.filter(F.col("slc") == 1).limit(40).collect()]
    v = delete_rows(
        spark, path,
        spark.createDataFrame([(i,) for i in erase], "id long"), "id",
    )
    pm = list_versions(path)[-1]
    assert pm["version"] == v and pm["pruned_dirs"] == 2
    out = read_version(spark, path)
    assert out.count() == 900 - 40
    assert out.filter(F.col("id").isin(erase)).count() == 0
    # carried dirs' rows intact
    for s in (0, 2):
        sl = base.filter(F.col("slc") == s).drop("slc")
        assert out.join(sl, "id").count() == sl.count()

    # (c) no-hit batch: same version back, no commit
    miss = spark.createDataFrame([(10**17 + i,) for i in range(25)], "id long")
    assert delete_rows(spark, path, miss, "id") == v
    assert list_versions(path)[-1]["version"] == v

    # (d) second takedown against slice 2 — the post-delete chain
    # (two carried dirs + the rewritten one, all with sidecars) prunes
    erase2 = [r["id"] for r in
              base.filter(F.col("slc") == 2).limit(30).collect()]
    v2 = delete_rows(
        spark, path,
        spark.createDataFrame([(i,) for i in erase2], "id long"), "id",
    )
    pm2 = list_versions(path)[-1]
    assert pm2["version"] == v2 and pm2["pruned_dirs"] == 2
    assert read_version(spark, path).count() == 900 - 40 - 30


def test_versioned_bloom_fallback_and_refusals(spark, tmp_path):
    """Bloom edge contracts: (a) a non-int/string bloom_col is refused
    BEFORE any write; (b) a chain whose parent dirs predate the bloom
    opt-in (no sidecar) falls back safely — correct erasure, no
    pruning claim from the filterless dirs; (c) a bloom-only table
    (no stats_col) still prunes; (d) optimize carries bloom_col and
    re-sidecars the compacted dir; (e) merge_upsert carries it."""
    import os

    import pytest

    from uts_spark.sources.versioned import (
        _BLOOM_FILE,
        append_snapshot,
        delete_rows,
        list_versions,
        merge_upsert,
        optimize,
        read_version,
        write_snapshot,
    )

    # (a) type refusal before write
    bad = spark.range(10).select(F.col("id"), (F.col("id") * 0.5).alias("x"))
    with pytest.raises(ValueError, match="bloom_col"):
        write_snapshot(bad, str(tmp_path / "bad"), bloom_col="x")
    assert not os.path.exists(str(tmp_path / "bad"))

    # (b) parent dir predates the opt-in: v0 without bloom, append with
    path = str(tmp_path / "mixed")
    d0 = spark.range(0, 50).select(F.col("id"))
    d1 = spark.range(50, 100).select(F.col("id"))
    write_snapshot(d0, path)
    append_snapshot(d1, path, bloom_col="id")
    pm = list_versions(path)[-1]
    assert pm.get("bloom_col") == "id"
    v0_dir = [d for d in pm["data_dirs"]
              if not os.path.exists(os.path.join(d, _BLOOM_FILE))]
    assert len(v0_dir) == 1  # the pre-opt-in dir has no sidecar
    v = delete_rows(
        spark, path, spark.createDataFrame([(7,), (61,)], "id long"), "id",
    )
    pm = list_versions(path)[-1]
    assert pm["version"] == v and "pruned_dirs" not in pm
    out = read_version(spark, path)
    assert out.count() == 98
    assert out.filter(F.col("id").isin(7, 61)).count() == 0

    # (c) bloom-only table prunes (no stats_col at all)
    path2 = str(tmp_path / "bonly")
    ha = spark.range(300).select(
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
        .cast("long").alias("id"),
        (F.col("id") % 2).alias("slc"),
    ).cache()
    write_snapshot(ha.filter(F.col("slc") == 0).drop("slc"), path2,
                   bloom_col="id")
    append_snapshot(ha.filter(F.col("slc") == 1).drop("slc"), path2)
    ids = [r["id"] for r in ha.filter(F.col("slc") == 1).limit(20).collect()]
    delete_rows(
        spark, path2,
        spark.createDataFrame([(i,) for i in ids], "id long"), "id",
    )
    pm2 = list_versions(path2)[-1]
    assert pm2["pruned_dirs"] == 1
    assert read_version(spark, path2).count() == 300 - 20

    # (d) optimize folds the chain and re-sidecars the compacted dir
    ov = optimize(spark, path2)
    pmo = {m["version"]: m for m in list_versions(path2)}[ov]
    assert pmo.get("bloom_col") == "id"
    odirs = pmo.get("data_dirs", [pmo.get("data_dir")])
    assert all(os.path.exists(os.path.join(d, _BLOOM_FILE)) for d in odirs)

    # (e) merge carries bloom_col
    upd = spark.createDataFrame([(ids[0] + 1, )], "id long")
    mv = merge_upsert(spark, path2, upd, "id")
    pmm = {m["version"]: m for m in list_versions(path2)}[mv]
    assert pmm.get("bloom_col") == "id"


def test_versioned_replicate(spark, tmp_path):
    """Round 10: the replicate verb. (a) seed copies src@v0 with its
    pruning opt-ins; (b) an append-only range advances the replica via
    the APPEND fast path (no key, manifest-diff feed, dst operation
    'replicate-append'); (c) a rewrite range applies through the
    key-diff feed and converges to the source bit-for-bit; (d) a
    replayed tick is a version no-op; (e) refusal rails: non-replica
    dst, wrong source path, keyless rewrite range."""
    import pytest

    from uts_spark.sources.versioned import (
        append_snapshot,
        list_versions,
        merge_upsert,
        read_version,
        replicate,
        write_snapshot,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    v = lambda i, s: (i, s)  # noqa: E731
    base = spark.createDataFrame(
        [(i, f"r{i}") for i in range(40)], "id long, val string"
    )
    write_snapshot(base, src, stats_col="id")                      # v0
    append_snapshot(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(40, 60)], "id long, val string"
        ),
        src,
    )                                                              # v1
    merge_upsert(
        spark, src,
        spark.createDataFrame([(7, "UPD7"), (41, "UPD41")],
                              "id long, val string"),
        "id",
    )                                                              # v2
    append_snapshot(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(60, 70)], "id long, val string"
        ),
        src,
    )                                                              # v3

    # (a) seed at v0
    replicate(spark, src, dst, up_to=0)
    assert list_versions(dst)[-1]["operation"] == "replicate-seed"
    assert list_versions(dst)[-1].get("stats_col") == "id"
    assert read_version(spark, dst).count() == 40

    # (b) 0 -> 1 is append-only: fast path, no key needed
    replicate(spark, src, dst, up_to=1)
    dm = list_versions(dst)[-1]
    assert dm["operation"] == "replicate-append"
    assert dm["repl_cursor"] == 1
    assert read_version(spark, dst).count() == 60

    # (e) rewrite range without a key refuses
    with pytest.raises(ValueError, match="rewrite or merge-on-read"):
        replicate(spark, src, dst, up_to=2)

    # (c) 1 -> 3 spans a rewrite: key-diff apply, converges to src@3
    replicate(spark, src, dst, key="id", up_to=3)
    dm = list_versions(dst)[-1]
    assert dm["operation"] == "replicate-apply" and dm["repl_cursor"] == 3
    a = {(r["id"], r["val"]) for r in read_version(spark, dst).collect()}
    b = {(r["id"], r["val"]) for r in read_version(spark, src).collect()}
    assert a == b and ("7", ) not in a and (7, "UPD7") in a

    # (d) replay no-op: same dst version back, no new commit
    nv = replicate(spark, src, dst, key="id", up_to=3)
    assert nv == dm["version"]
    assert list_versions(dst)[-1]["version"] == nv

    # (e) refusals: a table never seeded by replicate...
    rogue = str(tmp_path / "rogue")
    write_snapshot(base, rogue)
    with pytest.raises(ValueError, match="no\\s+replication cursor"):
        replicate(spark, src, rogue, up_to=3)
    # ...and a replica of a DIFFERENT source
    src2 = str(tmp_path / "src2")
    write_snapshot(base, src2)
    with pytest.raises(ValueError, match="replica of"):
        replicate(spark, src2, dst, up_to=0)


def test_versioned_branch_exactly_once_batch_keys(spark, tmp_path):
    """Round 10 streaming WAP: write_to_branch batch keys. (a) a
    replayed staged batch returns the committed seq without writing;
    (b) stream ids namespace the key (two streams at bid 0 both
    land); (c) overwrite staging refuses keys (replay not idempotent
    by content); (d) the staged rows publish exactly once."""
    import pytest

    from uts_spark.sources.versioned import (
        create_branch,
        merge_branch,
        read_version,
        write_snapshot,
        write_to_branch,
    )

    path = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(i, f"r{i}") for i in range(20)], "id long, val string"
    )
    d1 = spark.createDataFrame([(100, "a")], "id long, val string")
    d2 = spark.createDataFrame([(101, "b")], "id long, val string")
    write_snapshot(base, path)
    create_branch(path, "st")

    s1 = write_to_branch(d1, path, "st", batch_id=0, stream_id="sA")
    # (a) replay: same seq, no new staged record, and the frame
    # argument is not even evaluated on the skip path
    s1b = write_to_branch(d1, path, "st", batch_id=0, stream_id="sA")
    assert s1b == s1
    # (b) a DIFFERENT stream's bid 0 is a distinct key
    s2 = write_to_branch(d2, path, "st", batch_id=0, stream_id="sB")
    assert s2 == s1 + 1

    # (c) overwrite staging refuses keys
    with pytest.raises(ValueError, match="append staging only"):
        write_to_branch(
            d1, path, "st", operation="overwrite", batch_id=1,
        )

    merge_branch(spark, path, "st")
    out = {(r["id"], r["val"]) for r in read_version(spark, path).collect()}
    assert (100, "a") in out and (101, "b") in out
    assert len(out) == 22  # exactly once: no double-fold of bid 0


def test_versioned_point_lookup_pruned(spark, tmp_path):
    """read_rows_for_ids: (a) returns exactly the requested rows; (b)
    the admit kernel rejects dirs whose bloom excludes every id (scan
    is pruned, not just filtered); (c) version pins read THAT
    version's rows with THAT manifest's structures; (d) ids absent
    everywhere return an empty frame of the right schema; (e) a
    structure-less table falls back to full-scan semi-join."""
    from uts_spark.sources.versioned import (
        _admitting_dirs,
        _manifest_dirs,
        append_snapshot,
        delete_rows,
        list_versions,
        read_rows_for_ids,
        write_snapshot,
    )

    path = str(tmp_path / "vt")
    base = spark.range(600).select(
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
        .cast("long").alias("id"),
        (F.col("id") % 3).alias("slc"),
    ).cache()
    for s in (0, 1, 2):
        sl = base.filter(F.col("slc") == s).drop("slc")
        if s == 0:
            write_snapshot(sl, path, stats_col="id", bloom_col="id")
        else:
            append_snapshot(sl, path)

    req_ids = [r["id"] for r in
               base.filter(F.col("slc") == 1).limit(15).collect()]
    req = spark.createDataFrame([(i,) for i in req_ids], "id long")

    # (b) the admit kernel prunes to ~the one dir that holds the slice
    pm = list_versions(path)[-1]
    admit = _admitting_dirs(spark, pm, req, "id")
    assert admit is not None and admit.count(True) <= 2  # 1 + rare FP
    assert sum(1 for _ in _manifest_dirs(pm)) == 3

    # (a) exact rows
    out = read_rows_for_ids(spark, path, req, "id")
    assert sorted(r["id"] for r in out.collect()) == sorted(req_ids)

    # (c) version pin: delete one requested id, v_old still serves it
    v_old = pm["version"]
    delete_rows(
        spark, path,
        spark.createDataFrame([(req_ids[0],)], "id long"), "id",
    )
    now = read_rows_for_ids(spark, path, req, "id")
    assert sorted(r["id"] for r in now.collect()) == sorted(req_ids[1:])
    past = read_rows_for_ids(spark, path, req, "id", version=v_old)
    assert sorted(r["id"] for r in past.collect()) == sorted(req_ids)

    # (d) absent ids: empty, schema intact
    ghost = spark.createDataFrame([(10**17,)], "id long")
    g = read_rows_for_ids(spark, path, ghost, "id")
    assert g.count() == 0 and g.columns == ["id"]

    # (e) no structures: full-scan fallback still exact
    path2 = str(tmp_path / "plain")
    write_snapshot(base.drop("slc"), path2)
    out2 = read_rows_for_ids(spark, path2, req, "id")
    assert sorted(r["id"] for r in out2.collect()) == sorted(req_ids)


def test_catalog_maintenance_tick(spark, tmp_path):
    """The nightly janitor: (a) a table whose append chain outgrew the
    knee compacts; a healthy index chain is a no-op; (b) vacuum only
    on opt-in; (c) CAS debris older than the grace window is removed,
    referenced dirs and young debris survive."""
    import os as _os
    import time as _time

    from uts_spark.functions.vindex import minhash_vindex_build
    from uts_spark.sources.catalog import (
        catalog_maintenance_tick,
        register_entry,
    )
    from uts_spark.sources.versioned import (
        append_snapshot,
        list_versions,
        read_version,
        write_snapshot,
    )

    SF = _os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.substring("text", 1, 20).alias("val")
    )
    cat = str(tmp_path / "cat")
    p_tbl = str(tmp_path / "tbl")
    p_idx = str(tmp_path / "idx")

    # table: a 6-dir chain with a low knee
    write_snapshot(docs.filter(F.col("doc_id") % 6 == 0), p_tbl)
    for m in range(1, 6):
        append_snapshot(docs.filter(F.col("doc_id") % 6 == m), p_tbl)
    # index: healthy single-dir chain
    minhash_vindex_build(
        spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        ),
        "text", "doc_id", p_idx, fingerprint="f0",
    )
    # CAS debris: one old orphan dir, one young one
    old_orphan = _os.path.join(p_tbl, "data", "d-deadbeef0000")
    young_orphan = _os.path.join(p_tbl, "data", "d-cafebabe0000")
    for d in (old_orphan, young_orphan):
        _os.makedirs(d)
    _os.utime(old_orphan, (1, 1))  # ancient mtime

    register_entry(cat, "t", p_tbl)
    register_entry(cat, "i", p_idx, kind="index")

    n_before = read_version(spark, p_tbl).count()
    rep = {r["name"]: r for r in catalog_maintenance_tick(
        spark, cat, max_dirs=4
    )}
    # (a) table compacted to one dir; content identical
    assert rep["t"]["compacted"] is not None
    pm = list_versions(p_tbl)[-1]
    assert len(pm.get("data_dirs", [pm.get("data_dir")])) == 1
    assert read_version(spark, p_tbl).count() == n_before
    # healthy index chain: no-op
    assert rep["i"]["compacted"] is None
    # (b) no vacuum without opt-in
    assert rep["t"]["vacuumed"] == [] and rep["i"]["vacuumed"] == []
    # (c) old debris gone, young debris survives
    assert rep["t"]["orphans_removed"] == 1
    assert not _os.path.exists(old_orphan)
    assert _os.path.exists(young_orphan)

    # (b') vacuum opt-in expires pre-compaction versions
    rep2 = {r["name"]: r for r in catalog_maintenance_tick(
        spark, cat, vacuum_keep_last=1
    )}
    assert len(rep2["t"]["vacuumed"]) >= 1
    assert read_version(spark, p_tbl).count() == n_before


def test_catalog_replicate_by_name(spark, tmp_path):
    """Catalog-level DR: seed-and-register on first call, change-sized
    advances after; path conflicts and non-table sources refuse."""
    import pytest

    from uts_spark.sources.catalog import (
        read_table,
        register_entry,
        replicate_by_name,
    )
    from uts_spark.sources.versioned import append_snapshot, write_snapshot

    cat = str(tmp_path / "cat")
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.createDataFrame(
        [(i, f"r{i}") for i in range(30)], "id long, val string"
    )
    write_snapshot(base, src)
    register_entry(cat, "primary", src)

    # seeding without a path refuses; with one, seeds AND registers
    with pytest.raises(ValueError, match="pass\\s+dst_path"):
        replicate_by_name(spark, cat, "primary", "replica")
    replicate_by_name(spark, cat, "primary", "replica", dst_path=dst)
    assert read_table(spark, cat, "replica").count() == 30

    # advance: append on primary, tick the replica by name only
    append_snapshot(
        spark.createDataFrame([(100, "x")], "id long, val string"), src
    )
    replicate_by_name(spark, cat, "primary", "replica")
    assert read_table(spark, cat, "replica").count() == 31

    # re-seeding at a different path refuses
    with pytest.raises(ValueError, match="not re-seeding"):
        replicate_by_name(
            spark, cat, "primary", "replica",
            dst_path=str(tmp_path / "other"),
        )


def test_versioned_dv_mor_delete_lifecycle(spark, tmp_path):
    """MERGE-ON-READ erasure end to end: a deletion vector hides rows
    immediately (count + manifest n_rows arithmetic exact), time
    travel to the pre-delete version is unaffected, an append that
    RE-USES an erased key stays visible (vector scope = dirs at its
    commit), a second vector composes across dirs, the pruned point
    lookup reads masked, and materialize_dvs folds everything into a
    vector-free manifest with byte-identical content."""
    from uts_spark.sources.versioned import (
        append_snapshot,
        delete_rows_mor,
        list_versions,
        materialize_dvs,
        maybe_materialize_dvs,
        read_rows_for_ids,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_dv")
    mk = lambda lo, hi, v: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", f"CAST({v} AS LONG) AS val"
    )
    write_snapshot(mk(0, 100, "id * 2"), path, stats_col="k")
    append_snapshot(mk(100, 200, "id * 2"), path)

    v = delete_rows_mor(spark, path, mk(10, 30, "0").select("k"), "k")
    ms = {m["version"]: m for m in list_versions(path)}
    assert ms[v]["operation"] == "delete_mor"
    assert len(ms[v]["dv"]) == 1 and ms[v]["dv"][0]["n_masked"] == 20
    assert ms[v]["n_rows"] == 180
    assert read_version(spark, path).count() == 180
    # time travel: the pre-delete version still shows every row
    assert read_version(spark, path, 1).count() == 200

    # MOR delete whose keys match nothing: NO commit
    assert delete_rows_mor(
        spark, path, mk(5000, 5010, "0").select("k"), "k"
    ) == v

    # append re-using erased keys: new rows stay visible (scope rule)
    append_snapshot(mk(10, 15, "-1"), path)
    cur = read_version(spark, path)
    assert cur.count() == 185
    assert cur.filter("k = 12").collect()[0].val == -1

    # second vector spans the old dirs AND the re-appended dir
    delete_rows_mor(spark, path, mk(12, 52, "0").select("k"), "k")
    cur = read_version(spark, path)
    # masks: re-appended 12..14 (3) + originals 30..51 (22) -> 185-25
    assert cur.count() == 160
    pm = list_versions(path)[-1]
    assert len(pm["dv"]) == 2 and pm["n_rows"] == 160

    # pruned point lookup applies the masks
    got = read_rows_for_ids(
        spark, path, mk(10, 14, "0").select("k"), "k"
    ).collect()
    assert {(r.k, r.val) for r in got} == {(10, -1), (11, -1)}

    # materialize: content identical, vectors gone, n_rows unchanged
    before = sorted((r.k, r.val) for r in cur.collect())
    vm = materialize_dvs(spark, path)
    pm = {m["version"]: m for m in list_versions(path)}[vm]
    assert not pm.get("dv") and pm["operation"] == "materialize_dv"
    assert pm["n_rows"] == 160
    after = sorted(
        (r.k, r.val) for r in read_version(spark, path).collect()
    )
    assert before == after
    # idempotent: nothing outstanding -> no-op
    assert materialize_dvs(spark, path) == vm
    assert maybe_materialize_dvs(spark, path) is None


def test_versioned_dv_cdf_fast_path(spark, tmp_path):
    """CDF across merge-on-read deletes WITHOUT the key-diff join: the
    manifests alone say the range is appends + new vectors, so the
    feed is (added dirs under to's masks) + (pruned scan of from-rows
    the new vectors hide). Netting is exact: a row inserted AND erased
    inside the range appears in neither leg. A dv-less caller hitting
    a rewrite still gets the loud key= demand."""
    import pytest

    from uts_spark.sources.versioned import (
        append_snapshot,
        delete_rows_mor,
        table_changes,
        write_snapshot,
    )

    path = str(tmp_path / "vt_dv_cdf")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id * 2 AS LONG) AS val"
    )
    write_snapshot(mk(0, 100), path, stats_col="k")          # v0
    append_snapshot(mk(100, 150), path)                      # v1
    delete_rows_mor(spark, path, mk(120, 140).select("k"), "k")  # v2
    delete_rows_mor(spark, path, mk(10, 20).select("k"), "k")   # v3

    # v0 -> v3: inserts = appended 100..149 minus masked 120..139;
    # deletes = v0-visible rows hidden since = 10..19
    feed = table_changes(spark, path, 0, 3)
    ins = {r.k for r in feed.filter("_change_type = 'insert'").collect()}
    dels = {r.k for r in feed.filter("_change_type = 'delete'").collect()}
    assert ins == set(range(100, 120)) | set(range(140, 150))
    assert dels == set(range(10, 20))

    # v2 -> v3: only the second vector's rows
    feed2 = table_changes(spark, path, 2, 3)
    assert {r.k for r in feed2.collect()} == set(range(10, 20))
    assert set(
        r._change_type for r in feed2.collect()
    ) == {"delete"}

    # same-manifest range (nothing changed): empty feed
    assert table_changes(spark, path, 3, 3).count() == 0

    # a REWRITE in range still demands key= (vectors don't change that)
    from uts_spark.sources.versioned import delete_rows

    delete_rows(spark, path, mk(0, 5).select("k"), "k")  # materializes+CoW
    with pytest.raises(ValueError, match="key="):
        table_changes(spark, path, 0)


def test_versioned_dv_interop_guards(spark, tmp_path):
    """The seams where vectors meet the other verbs: CoW delete_rows
    materializes outstanding vectors first; create_branch CARRIES a
    vector-carrying base (round 11 — the fork reads masked); vacuum
    keeps vector sidecars exactly as long as a kept manifest
    references them; replication across a MOR range demands key= and
    converges to the source."""
    import os

    import pytest

    from uts_spark.sources.versioned import (
        append_snapshot,
        create_branch,
        delete_rows,
        delete_rows_mor,
        list_versions,
        read_version,
        replicate,
        vacuum,
        write_snapshot,
    )

    path = str(tmp_path / "vt_dv_io")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id * 2 AS LONG) AS val"
    )
    write_snapshot(mk(0, 100), path, stats_col="k")
    append_snapshot(mk(100, 200), path)
    delete_rows_mor(spark, path, mk(50, 60).select("k"), "k")
    pm = list_versions(path)[-1]
    dv_dir = pm["dv"][0]["dir"]
    assert os.path.isdir(dv_dir)

    # branching a vector-carrying base CARRIES the vectors (round 11:
    # branch records hold vector lists) — the fork reads masked
    create_branch(path, "risky")
    from uts_spark.sources.versioned import drop_branch, read_branch

    assert read_branch(spark, path, "risky").count() == 190
    drop_branch(path, "risky")

    # replicate the MOR range: key required, replica converges
    dst = str(tmp_path / "vt_dv_replica")
    replicate(spark, path, dst, up_to=0)  # seed at v0
    with pytest.raises(ValueError, match="key="):
        replicate(spark, path, dst)
    replicate(spark, path, dst, key="k")
    src_rows = sorted(
        (r.k, r.val) for r in read_version(spark, path).collect()
    )
    dst_rows = sorted(
        (r.k, r.val) for r in read_version(spark, dst).collect()
    )
    assert src_rows == dst_rows

    # CoW delete on a vector-carrying table: materializes, then erases
    delete_rows(spark, path, mk(0, 10).select("k"), "k")
    ms = [m["operation"] for m in list_versions(path)]
    assert "materialize_dv" in ms and ms[-1] == "delete"
    assert read_version(spark, path).count() == 180
    assert not list_versions(path)[-1].get("dv")

    # vacuum: dv dir dies exactly when its last referencing manifest does
    vacuum(path, keep_last=2)  # keeps materialized + CoW-delete versions
    assert not os.path.isdir(dv_dir)
    assert read_version(spark, path).count() == 180


def test_versioned_dv_materialize_trigger(spark, tmp_path):
    """maybe_materialize_dvs fires on either measured knob — vector
    count (manifest growth) or masked fraction (read-side dead work) —
    and stands down otherwise."""
    from uts_spark.sources.versioned import (
        delete_rows_mor,
        list_versions,
        maybe_materialize_dvs,
        write_snapshot,
    )

    path = str(tmp_path / "vt_dv_trig")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id AS LONG) AS val"
    )
    write_snapshot(mk(0, 1000), path, stats_col="k")
    delete_rows_mor(spark, path, mk(0, 10).select("k"), "k")
    # 10/1000 masked: under both defaults
    assert maybe_materialize_dvs(spark, path) is None
    # count knob
    v = maybe_materialize_dvs(spark, path, max_dvs=0)
    assert v is not None
    assert not list_versions(path)[-1].get("dv")
    # fraction knob
    delete_rows_mor(spark, path, mk(10, 200).select("k"), "k")
    v2 = maybe_materialize_dvs(spark, path, max_masked_frac=0.1)
    assert v2 is not None and list_versions(path)[-1]["n_rows"] == 800


def test_catalog_snapshot_multi_table(spark, tmp_path):
    """Consistent cross-table snapshots: pins hold while members
    advance, retention tags protect pinned versions from vacuum until
    the snapshot is dropped, the recorded paths survive alter_entry,
    and name collisions / missing members refuse loudly."""
    import os

    import pytest

    from uts_spark.sources.catalog import (
        create_snapshot,
        drop_snapshot,
        list_snapshots,
        read_snapshot_table,
        register_entry,
        alter_entry,
        resolve_snapshot,
    )
    from uts_spark.sources.versioned import (
        append_snapshot,
        list_versions,
        vacuum,
        write_snapshot,
    )

    cat = str(tmp_path / "cat")
    pa, pb = str(tmp_path / "ta"), str(tmp_path / "tb")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id * 3 AS LONG) AS v"
    )
    write_snapshot(mk(0, 50), pa)
    write_snapshot(mk(0, 50), pb)
    register_entry(cat, "a", pa, kind="table")
    register_entry(cat, "b", pb, kind="table")

    rec = create_snapshot(cat, "cut", ["a", "b"])
    assert rec["pins"]["a"]["version"] == 0
    # collision refuses, first snapshot intact
    with pytest.raises(ValueError, match="already exists"):
        create_snapshot(cat, "cut")
    assert [s["name"] for s in list_snapshots(cat)] == ["cut"]
    # unknown member refuses
    with pytest.raises(ValueError, match="no table entries"):
        create_snapshot(cat, "cut2", ["a", "nope"])

    # members advance; the snapshot keeps reading the cut
    append_snapshot(mk(50, 80), pa)
    append_snapshot(mk(50, 60), pb)
    assert read_snapshot_table(spark, cat, "cut", "a").count() == 50
    assert read_snapshot_table(spark, cat, "cut", "b").count() == 50
    with pytest.raises(ValueError, match="does not pin"):
        read_snapshot_table(spark, cat, "cut", "zzz")

    # retention: vacuum keeps the pinned v0 while the snapshot lives
    append_snapshot(mk(80, 90), pa)
    vacuum(pa, keep_last=1)
    assert 0 in {m["version"] for m in list_versions(pa)}
    assert read_snapshot_table(spark, cat, "cut", "a").count() == 50

    # alter_entry re-points the NAME; the snapshot's recorded path wins
    pa2 = str(tmp_path / "ta2")
    write_snapshot(mk(0, 7), pa2)
    alter_entry(cat, "a", pa2)
    assert read_snapshot_table(spark, cat, "cut", "a").count() == 50

    # drop releases the tags; vacuum may now expire the pinned version
    drop_snapshot(cat, "cut")
    with pytest.raises(ValueError, match="no snapshot"):
        resolve_snapshot(cat, "cut")
    vacuum(pa, keep_last=1)
    assert {m["version"] for m in list_versions(pa)} == {2}
    # idempotent-ish cleanup path: snapshot over a since-dropped tag
    # cannot be dropped twice
    with pytest.raises(ValueError, match="no snapshot"):
        drop_snapshot(cat, "cut")
    assert os.path.isdir(pa2)  # alter target untouched throughout


def test_catalog_maintenance_tick_folds_dvs(spark, tmp_path):
    """The janitor pays merge-on-read debt: a registered table whose
    vectors exceed the masked-fraction knob gets materialized by the
    tick; a lightly-masked table is left alone."""
    from uts_spark.sources.catalog import (
        catalog_maintenance_tick,
        register_entry,
    )
    from uts_spark.sources.versioned import (
        delete_rows_mor,
        list_versions,
        write_snapshot,
    )

    cat = str(tmp_path / "cat")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id AS LONG) AS v"
    )
    heavy, light = str(tmp_path / "heavy"), str(tmp_path / "light")
    write_snapshot(mk(0, 1000), heavy, stats_col="k")
    delete_rows_mor(spark, heavy, mk(0, 200).select("k"), "k")  # 20% masked
    write_snapshot(mk(0, 1000), light, stats_col="k")
    delete_rows_mor(spark, light, mk(0, 5).select("k"), "k")    # 0.5%
    register_entry(cat, "heavy", heavy, kind="table")
    register_entry(cat, "light", light, kind="table")

    report = {r["name"]: r for r in catalog_maintenance_tick(spark, cat)}
    assert report["heavy"]["dv_materialized"] is not None
    assert not list_versions(heavy)[-1].get("dv")
    assert report["light"]["dv_materialized"] is None
    assert len(list_versions(light)[-1].get("dv", [])) == 1


def test_versioned_dv_mor_conflict_retry(spark, tmp_path, monkeypatch):
    """A CAS race on a vector commit re-runs the pruned count against
    the new current (vector commits don't blindly commute — the racer
    may have masked overlapping rows) and retries; n_rows stays exact
    arithmetic even when the racing takedowns overlap."""
    from uts_spark.sources import versioned as V

    path = str(tmp_path / "vt_dv_race")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id AS LONG) AS v"
    )
    V.write_snapshot(mk(0, 300), path, stats_col="k")

    real_commit = V._commit
    state = {"raced": False}
    racer_ids = spark.range(50, 70).selectExpr("id AS k")

    def racing_commit(path_, rec, branch=None):
        if not state["raced"]:
            state["raced"] = True
            import uuid

            rdir = f"{path_}/data/dv-racer-{uuid.uuid4().hex[:8]}"
            racer_ids.coalesce(1).write.parquet(rdir)
            # the racer lands an OVERLAPPING 20-key vector first
            dirs = rec["data_dirs"]
            real_commit(path_, {
                "version": rec["version"], "parent": rec["parent"],
                "operation": "delete_mor", "n_rows": 280,
                "data_dirs": dirs,
                "dv": [{"dir": rdir, "key": "k", "scope": list(dirs),
                        "n_masked": 20}],
                **{k: rec[k] for k in ("stats_col", "dir_stats",
                                       "dir_rows") if k in rec},
            })
        return real_commit(path_, rec, branch)

    monkeypatch.setattr(V, "_commit", racing_commit)
    # our takedown targets 50..100; the racer already masked 50..70,
    # so the retry's recount must see 30 still-visible victims
    V.delete_rows_mor(spark, path, spark.range(50, 100).selectExpr("id AS k"), "k")
    pm = V.list_versions(path)[-1]
    assert pm["operation"] == "delete_mor" and len(pm["dv"]) == 2
    assert pm["dv"][-1]["n_masked"] == 30
    assert pm["n_rows"] == 250
    assert V.read_version(spark, path).count() == 250


def test_parquet_cached_schema_reads(spark, tmp_path):
    """The per-process schema cache returns the same frames as bare
    reads, sees files appended after caching (only the SCHEMA is
    cached, never the file listing), and re-infers when a path is
    rewritten with a different schema (stat-signature key)."""
    from uts_spark.sources.tables import parquet_cached_schema

    p = str(tmp_path / "t")
    spark.range(0, 10).selectExpr("id", "id * 2 AS v").write.parquet(p)
    a = parquet_cached_schema(spark, p)  # cold: infers + caches
    b = parquet_cached_schema(spark, p)  # warm: explicit schema
    assert a.schema == b.schema
    assert sorted(r["v"] for r in b.collect()) == [2 * i for i in range(10)]
    # appended files are visible through the cached schema
    spark.range(10, 15).selectExpr("id", "id * 2 AS v").write.mode(
        "append"
    ).parquet(p)
    assert parquet_cached_schema(spark, p).count() == 15
    # a rewrite with a DIFFERENT schema re-infers (signature changed)
    spark.range(0, 3).selectExpr("id AS k", "'x' AS s").write.mode(
        "overwrite"
    ).parquet(p)
    c = parquet_cached_schema(spark, p)
    assert set(c.columns) == {"k", "s"} and c.count() == 3


def test_versioned_separator_column_name_reads(spark, tmp_path):
    """A column name embedding schema-separator characters makes
    ``simpleString`` ambiguous (`k:int,v` as ONE bigint column records
    the same string as two clean columns), so the writer must NOT
    record a schema the reader would mis-parse — the read falls back
    to plain inference and returns the true data, not NULL-filled
    wrong columns."""
    from uts_spark.sources.versioned import (
        list_versions,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_sep")
    df = spark.range(0, 5).select(F.col("id").alias("k:int,v"))
    write_snapshot(df, path)
    assert "schema" not in list_versions(path)[-1]  # refused as ambiguous
    back = read_version(spark, path)
    assert back.columns == ["k:int,v"]
    assert sorted(r[0] for r in back.collect()) == [0, 1, 2, 3, 4]


def test_versioned_pre_ktype_manifest_reads(spark, tmp_path):
    """The round-11 schema-hint reads keep PRE-round-11 manifests
    working: a DV record without ``ktype`` and a manifest without a
    recorded ``schema`` fall back to footer inference, and a key
    column whose vectors MIX ktype-carrying and legacy records reads
    through inference — results identical either way."""
    import json as _json
    import os

    from uts_spark.sources.versioned import (
        _versions_dir,
        delete_rows_mor,
        read_version,
        write_snapshot,
    )

    path = str(tmp_path / "vt_legacy")
    df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS val")
    write_snapshot(df, path, stats_col="k")
    v1 = delete_rows_mor(
        spark, path, spark.range(10, 20).selectExpr("id AS k"), "k"
    )
    # rewrite the committed manifest in the legacy (pre-round-11)
    # format: no ktype on the vector record, no recorded schema
    mf = os.path.join(_versions_dir(path), f"v{v1}.json")
    with open(mf) as f:
        m = _json.load(f)
    assert m["dv"][0].pop("ktype") == "bigint"
    m.pop("schema", None)
    os.unlink(mf)
    with open(mf, "w") as f:
        _json.dump(m, f, sort_keys=True)
    assert read_version(spark, path).count() == 90
    # a second vector on the SAME key carries ktype -> the read
    # groups a legacy and a stamped record together (mixed-type
    # group => inference fallback)
    delete_rows_mor(
        spark, path, spark.range(15, 30).selectExpr("id AS k"), "k"
    )
    cur = read_version(spark, path)
    assert cur.count() == 80  # 10..29 masked across the two vectors
    assert cur.agg({"k": "sum"}).first()[0] == sum(
        i for i in range(100) if not (10 <= i < 30)
    )


def test_versioned_merge_branch_carries_pruning_structures(spark, tmp_path):
    """An append publish merges main's dir_stats/dir_rows with
    freshly-computed stats + Bloom sidecars for the staged dirs, so a
    post-publish erasure still prunes instead of falling back to the
    table-grain rewrite (ROADMAP r11 #3)."""
    from uts_spark.sources.versioned import (
        _read_dir_bloom,
        create_branch,
        delete_rows,
        list_versions,
        merge_branch,
        read_version,
        write_to_branch,
        write_snapshot,
    )

    path = str(tmp_path / "vt_pub_stats")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id * 2 AS LONG) AS v"
    )
    write_snapshot(mk(0, 100), path, stats_col="k", bloom_col="k")
    create_branch(path, "staging")
    write_to_branch(mk(1000, 1100), path, "staging")
    merge_branch(spark, path, "staging")

    pm = list_versions(path)[-1]
    assert pm["stats_col"] == "k" and pm["bloom_col"] == "k"
    assert set(pm["dir_stats"]) == set(pm["data_dirs"])
    assert set(pm["dir_rows"]) == set(pm["data_dirs"])
    for d in pm["data_dirs"]:
        assert _read_dir_bloom(d) is not None
    # erasure confined to the STAGED dirs' range prunes main's dir
    delete_rows(spark, path, mk(1010, 1020).select("k"), "k")
    dm = list_versions(path)[-1]
    assert dm["operation"] == "delete" and dm["pruned_dirs"] == 1
    assert read_version(spark, path).count() == 190


def test_catalog_snapshot_refresh(spark, tmp_path):
    """refresh_snapshot advances a named cut atomically: readers see
    the old cut or the new one (generation files, never a mutated
    one), retention tags move to the new pins (vacuum may then expire
    the old ones), and the refreshed cut follows alter_entry."""
    import pytest

    from uts_spark.sources.catalog import (
        create_snapshot,
        drop_snapshot,
        read_snapshot_table,
        refresh_snapshot,
        register_entry,
        resolve_snapshot,
    )
    from uts_spark.sources.versioned import (
        append_snapshot,
        list_versions,
        vacuum,
        write_snapshot,
    )

    cat = str(tmp_path / "cat")
    pa, pb = str(tmp_path / "ta"), str(tmp_path / "tb")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id AS LONG) AS v"
    )
    write_snapshot(mk(0, 40), pa)
    write_snapshot(mk(0, 40), pb)
    register_entry(cat, "a", pa, kind="table")
    register_entry(cat, "b", pb, kind="table")
    create_snapshot(cat, "daily", ["a", "b"])
    append_snapshot(mk(40, 70), pa)
    append_snapshot(mk(40, 50), pb)
    assert read_snapshot_table(spark, cat, "daily", "a").count() == 40

    rec = refresh_snapshot(cat, "daily")
    assert rec["pins"]["a"]["version"] == 1
    assert read_snapshot_table(spark, cat, "daily", "a").count() == 70
    assert read_snapshot_table(spark, cat, "daily", "b").count() == 50

    # tags moved: vacuum may expire the OLD pinned version now
    append_snapshot(mk(70, 75), pa)
    vacuum(pa, keep_last=1)
    vs = {m["version"] for m in list_versions(pa)}
    assert 0 not in vs and 1 in vs  # old pin expired, new pin tagged
    assert read_snapshot_table(spark, cat, "daily", "a").count() == 70

    # unknown snapshot refuses; drop removes every generation
    with pytest.raises(ValueError, match="no snapshot"):
        refresh_snapshot(cat, "weekly")
    drop_snapshot(cat, "daily")
    with pytest.raises(ValueError, match="no snapshot"):
        resolve_snapshot(cat, "daily")
    # the name is reusable after a drop (g0 CAS is clean again)
    create_snapshot(cat, "daily", ["a"])


def test_catalog_publish_branches_refusals(spark, tmp_path):
    """publish_branches' preflight refuses BEFORE any table moves: a
    missing branch, a fork-only branch, a main rewrite since the fork,
    and a stage outside the snapshot's member set all leave every main
    AND the cut untouched; a clean publish advances both tables and
    the cut together."""
    import pytest

    from uts_spark.sources.catalog import (
        create_snapshot,
        publish_branches,
        read_snapshot_table,
        register_entry,
        resolve_snapshot,
    )
    from uts_spark.sources.versioned import (
        create_branch,
        current_version,
        delete_rows,
        list_branches,
        write_snapshot,
        write_to_branch,
    )

    cat = str(tmp_path / "cat")
    pa, pb = str(tmp_path / "ta"), str(tmp_path / "tb")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id AS LONG) AS v"
    )
    write_snapshot(mk(0, 50), pa, stats_col="k")
    write_snapshot(mk(0, 50), pb, stats_col="k")
    register_entry(cat, "a", pa, kind="table")
    register_entry(cat, "b", pb, kind="table")
    create_snapshot(cat, "rel", ["a", "b"])
    create_branch(pa, "st")
    create_branch(pb, "st")
    write_to_branch(mk(50, 60), pa, "st")

    # b's branch has nothing staged -> refused; a's main untouched
    with pytest.raises(ValueError, match="no staged commits"):
        publish_branches(spark, cat, "rel", {"a": "st", "b": "st"})
    assert current_version(pa) == 0 and current_version(pb) == 0

    # missing branch name
    with pytest.raises(ValueError, match="no branch named"):
        publish_branches(spark, cat, "rel", {"a": "zz"})

    # stage b, then REWRITE b's main since the fork -> refused early
    write_to_branch(mk(50, 55), pb, "st")
    delete_rows(spark, pb, mk(0, 5).select("k"), "k")
    with pytest.raises(ValueError, match="re-stage"):
        publish_branches(spark, cat, "rel", {"a": "st", "b": "st"})
    assert current_version(pa) == 0  # a was NOT merged mid-sequence
    assert resolve_snapshot(cat, "rel")["pins"]["a"]["version"] == 0

    # re-stage b against current main, then the publish lands whole
    from uts_spark.sources.versioned import drop_branch

    drop_branch(pb, "st")
    create_branch(pb, "st")
    write_to_branch(mk(50, 55), pb, "st")
    out = publish_branches(spark, cat, "rel", {"a": "st", "b": "st"})
    assert set(out["published"]) == {"a", "b"}
    assert read_snapshot_table(spark, cat, "rel", "a").count() == 60
    assert read_snapshot_table(spark, cat, "rel", "b").count() == 50
    assert not list_branches(pa)  # published branches dropped

    # a stage outside the cut's member set refuses in preflight
    pc = str(tmp_path / "tc")
    write_snapshot(mk(0, 5), pc)
    register_entry(cat, "c", pc, kind="table")
    create_branch(pc, "st")
    write_to_branch(mk(5, 6), pc, "st")
    with pytest.raises(ValueError, match="does not pin"):
        publish_branches(spark, cat, "rel", {"c": "st"})
    assert current_version(pc) == 0


def test_catalog_read_table_snapshot_pin_and_mor_erase(spark, tmp_path):
    """read_table(snapshot=) is the multi-table cut as a first-class
    pin (mutually exclusive with version/ref/branch), and
    erase_by_names threads both MOR modes through the facade."""
    import pytest

    from uts_spark.sources.catalog import (
        create_snapshot,
        erase_by_names,
        read_table,
        register_entry,
    )
    from uts_spark.sources.versioned import (
        append_snapshot,
        list_versions,
        write_snapshot,
    )

    cat = str(tmp_path / "cat")
    pa = str(tmp_path / "ta")
    mk = lambda lo, hi: mk_range(spark, lo, hi)  # noqa: E731

    def mk_range(spark, lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id AS LONG) AS v"
        )

    write_snapshot(mk(0, 100), pa, stats_col="k")
    register_entry(cat, "a", pa, kind="table")
    create_snapshot(cat, "cut", ["a"])
    append_snapshot(mk(100, 150), pa)

    assert read_table(spark, cat, "a").count() == 150
    assert read_table(spark, cat, "a", snapshot="cut").count() == 100
    with pytest.raises(ValueError, match="at most one"):
        read_table(spark, cat, "a", version=0, snapshot="cut")

    acct = erase_by_names(
        spark, mk(10, 20).select("k"), cat, names=["a"],
        table_mode="mor",
    )
    assert acct[0]["leaked"] == 0 and acct[0]["rows_removed"] == 10
    assert list_versions(pa)[-1]["operation"] == "delete_mor"
    assert read_table(spark, cat, "a").count() == 140
    # the pinned cut still reads the PRE-ERASURE version (time travel
    # semantics; GDPR completion = refresh/drop the cut + vacuum)
    assert read_table(spark, cat, "a", snapshot="cut").count() == 100


def test_catalog_publish_staged_erasure_multi_table(spark, tmp_path):
    """Multi-table STAGED ERASURE: takedowns staged as branch vectors
    on two tables publish through publish_branches as one snapshot
    flip — consumers reading through the cut see both erasures appear
    together; a main-side takedown since a fork refuses at the
    read-only preflight (no table moves, the cut stays)."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        create_snapshot,
        publish_branches,
        read_table,
        register_entry,
    )

    cat = str(tmp_path / "cat")
    pa, pb = str(tmp_path / "ta"), str(tmp_path / "tb")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", "CAST(id % 4 AS LONG) AS g"
    )
    V.write_snapshot(mk(0, 100), pa)
    V.write_snapshot(mk(0, 60), pb)
    register_entry(cat, "a", pa)
    register_entry(cat, "b", pb)
    create_snapshot(cat, "cut", ["a", "b"])

    V.create_branch(pa, "gdpr")
    V.create_branch(pb, "gdpr")
    V.delete_rows_mor_branch(
        spark, pa, "gdpr",
        spark.range(0, 100).filter(F.col("id") % 10 == 3)
        .select(F.col("id").alias("k")),
        "k",
    )
    V.delete_rows_positional_branch(spark, pb, "gdpr", F.col("g") == 2)
    # the cut is untouched while staged
    assert read_table(spark, cat, "a", snapshot="cut").count() == 100
    assert read_table(spark, cat, "b", snapshot="cut").count() == 60

    out = publish_branches(
        spark, cat, "cut", {"a": "gdpr", "b": "gdpr"}
    )
    assert set(out["published"]) == {"a", "b"}
    assert read_table(spark, cat, "a", snapshot="cut").count() == 90
    assert read_table(spark, cat, "b", snapshot="cut").count() == 45

    # preflight refusal: main takedown since the fork, nothing moves
    V.create_branch(pa, "gdpr2")
    V.delete_rows_mor_branch(
        spark, pa, "gdpr2",
        spark.createDataFrame([(4,)], "k long"), "k",
    )
    V.delete_rows_mor(
        spark, pa, spark.createDataFrame([(8,)], "k long"), "k"
    )
    va = V.current_version(pa)
    with _pytest.raises(ValueError, match="re-stage"):
        publish_branches(spark, cat, "cut", {"a": "gdpr2"})
    assert V.current_version(pa) == va
    assert "gdpr2" in V.list_branches(pa)


def test_stage_erasure_by_names_facade(spark, tmp_path):
    """The staged-GDPR facade: one call stages the takedown as MOR
    vectors on a branch of every named table (key from manifest
    stats_col or table_keys override; id frame renamed per table),
    indexes report staged=False with the publish-time instruction,
    replay is a no-op, and publish_branches flips the cut."""
    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        create_snapshot,
        publish_branches,
        read_table,
        register_entry,
        stage_erasure_by_names,
    )

    cat = str(tmp_path / "cat")
    pa, pb = str(tmp_path / "ta"), str(tmp_path / "tb")
    V.write_snapshot(
        spark.range(0, 80).selectExpr("id AS uid", "id % 5 AS g"),
        pa, stats_col="uid",
    )
    V.write_snapshot(
        spark.range(0, 40).selectExpr("id AS member", "id % 3 AS h"),
        pb,
    )
    register_entry(cat, "a", pa)
    register_entry(cat, "b", pb)
    create_snapshot(cat, "cut", ["a", "b"])

    ids = spark.range(0, 80).filter(F.col("id") % 8 == 1).select(
        F.col("id").alias("whatever")
    )
    rep = {
        r["name"]: r
        for r in stage_erasure_by_names(
            spark, ids, cat, "gdpr", table_keys={"b": "member"},
        )
    }
    assert rep["a"] == {
        "name": "a", "staged": True, "branch_seq": 1, "n_masked": 10,
    }
    assert rep["b"]["n_masked"] == 5  # ids 1..33 stepping 8 in 0..40
    # staged only: main + the cut untouched
    assert read_table(spark, cat, "a").count() == 80
    assert V.read_branch(spark, pa, "gdpr").count() == 70
    # replay: same ids stage nothing new
    rep2 = {
        r["name"]: r
        for r in stage_erasure_by_names(
            spark, ids, cat, "gdpr", table_keys={"b": "member"},
        )
    }
    assert rep2["a"]["branch_seq"] == 1 and rep2["a"]["n_masked"] == 0
    out = publish_branches(spark, cat, "cut", {"a": "gdpr", "b": "gdpr"})
    assert set(out["published"]) == {"a", "b"}
    assert read_table(spark, cat, "a", snapshot="cut").count() == 70
    assert read_table(spark, cat, "b", snapshot="cut").count() == 35


def test_catalog_sweep_snapshot_tags(spark, tmp_path):
    """The janitor drops ORPHANED snap- tags (a member moved by
    alter_entry keeps its stale tag on the abandoned path) but never
    live snapshot tags or user tags."""
    from uts_spark.sources.catalog import (
        alter_entry,
        catalog_maintenance_tick,
        create_snapshot,
        refresh_snapshot,
        register_entry,
        sweep_snapshot_tags,
    )
    from uts_spark.sources.versioned import (
        _read_refs,
        tag_version,
        write_snapshot,
    )

    cat = str(tmp_path / "cat")
    pa, pa2 = str(tmp_path / "ta"), str(tmp_path / "ta2")
    df = spark.range(0, 30).selectExpr("id AS k", "id AS v")
    write_snapshot(df, pa)
    write_snapshot(df, pa2)
    register_entry(cat, "a", pa, kind="table")
    create_snapshot(cat, "cut", ["a"])
    tag_version(pa, "user-prod", 0)  # a user tag must survive sweeps

    # move the member, refresh: the OLD path keeps a stale snap- tag
    alter_entry(cat, "a", pa2)
    refresh_snapshot(cat, "cut")
    assert "snap-cut" in _read_refs(pa) and "snap-cut" in _read_refs(pa2)

    # the stale tag sits on an UNREGISTERED path now — the sweep walks
    # registered entries, so re-register the old path (the realistic
    # shape: both paths stay catalog-visible during a migration)
    register_entry(cat, "a_old", pa, kind="table")
    swept = sweep_snapshot_tags(cat)
    assert (pa, "snap-cut") in swept
    assert "snap-cut" not in _read_refs(pa)
    assert _read_refs(pa).get("user-prod") == 0  # user tag untouched
    assert "snap-cut" in _read_refs(pa2)          # live tag untouched

    # the tick reports a sweep only when something was dropped
    report = catalog_maintenance_tick(spark, cat)
    assert not any(r.get("snapshot_tags_swept") for r in report)


def test_versioned_branch_changes_overwrite_keydiff(spark, tmp_path):
    """An overwrite branch's staged feed diffs against the fork base
    by row identity (same kernel as table_changes' rewrite ranges):
    inserts/deletes/update image pairs, keyless still refused."""
    import pytest

    from uts_spark.sources.versioned import (
        branch_changes,
        create_branch,
        write_snapshot,
        write_to_branch,
    )

    path = str(tmp_path / "vt_ow_feed")
    mk = lambda lo, hi, v: spark.range(lo, hi).selectExpr(  # noqa: E731
        "id AS k", f"CAST({v} AS LONG) AS v"
    )
    write_snapshot(mk(0, 10, "id"), path)
    create_branch(path, "rw")
    # staged overwrite: drop k<2, keep 2..9 with k=5 rewritten, add 10..11
    staged = (
        mk(2, 10, "id").withColumn(
            "v",
            F.when(F.col("k") == 5, F.lit(500).cast("long")).otherwise(
                F.col("v")
            ),
        ).unionByName(mk(10, 12, "id"))
    )
    write_to_branch(staged, path, "rw", operation="overwrite")

    with pytest.raises(ValueError, match="pass key="):
        branch_changes(spark, path, "rw")
    feed = branch_changes(spark, path, "rw", key="k")
    by = {}
    for r in feed.collect():
        by.setdefault(r._change_type, set()).add((r.k, r.v))
    assert by["insert"] == {(10, 10), (11, 11)}
    assert by["delete"] == {(0, 0), (1, 1)}
    assert by["update_preimage"] == {(5, 5)}
    assert by["update_postimage"] == {(5, 500)}
    # column-level granularity passes through to overwrite feeds
    cc = branch_changes(
        spark, path, "rw", key="k", with_changed_columns=True
    )
    upd = [r for r in cc.collect() if r._change_type == "update_postimage"]
    assert [r._changed_columns for r in upd] == [["v"]]


def test_versioned_branch_staged_mor_erasure(spark, tmp_path):
    """WAP erasure (round 11): takedowns stage as deletion vectors ON
    a branch — masked branch read, KEYLESS delete feed (the MOR
    fast-path kernel), main untouched until publish; publish folds
    the vectors into main's manifest with exact n_rows netting, a
    commuting main append survives, and a key re-used by a later
    branch append is outside every staged scope."""
    import uts_spark.sources.versioned as V

    path = str(tmp_path / "wap_erase")
    V.write_snapshot(
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ),
        path,
    )
    V.create_branch(path, "td")
    # key takedown: k % 10 == 3 (10 rows)
    V.delete_rows_mor_branch(
        spark, path, "td",
        spark.range(0, 100).filter(F.col("id") % 10 == 3)
        .select(F.col("id").alias("k")),
        "k",
    )
    # positional takedown over the REMAINING visible rows: grp == 5
    V.delete_rows_positional_branch(spark, path, "td", F.col("grp") == 5)
    n_pos = sum(1 for i in range(100) if i % 10 != 3 and i % 7 == 5)
    # append after the takedowns — k=3 was just erased; the re-used
    # key must survive (vector scope = dirs at stage time)
    V.write_to_branch(
        spark.createDataFrame([(3, 5), (203, 5)], "k long, grp long"),
        path, "td",
    )
    br = V.read_branch(spark, path, "td")
    assert br.count() == 100 - 10 - n_pos + 2
    assert br.filter(F.col("k") == 3).count() == 1  # the appended one
    # keyless audit feed: exact insert/delete images, no key= needed
    feed = V.branch_changes(spark, path, "td")
    by = {}
    for r in feed.collect():
        by.setdefault(r._change_type, set()).add((r.k, r.grp))
    assert by["insert"] == {(3, 5), (203, 5)}
    assert len(by["delete"]) == 10 + n_pos
    assert (3, 3) in by["delete"] and (33, 5) in by["delete"]
    # main untouched; a concurrent main append commutes
    assert V.read_version(spark, path).count() == 100
    V.append_snapshot(
        spark.createDataFrame([(300, 1)], "k long, grp long"), path
    )
    V.merge_branch(spark, path, "td")
    pm = V.list_versions(path)[-1]
    assert len(pm["dv"]) == 1 and len(pm["pdv"]) == 1
    main = V.read_version(spark, path)
    assert main.count() == 100 - 10 - n_pos + 2 + 1
    assert pm["n_rows"] == main.count()
    assert main.filter(F.col("k") == 3).count() == 1
    assert main.filter(F.col("k") == 300).count() == 1
    # published vectors materialize like any main-chain vectors
    V.materialize_dvs(spark, path)
    pm2 = V.list_versions(path)[-1]
    assert not pm2.get("dv") and not pm2.get("pdv")
    assert V.read_version(spark, path).count() == main.count()


def test_branch_overwrite_feed_masks_forked_vectors(spark, tmp_path):
    """An OVERWRITE branch forked from a vector-carrying base must
    diff against the MASKED base: erased base rows never resurrect as
    phantom delete images in the audit feed (code-review find,
    round 11)."""
    import uts_spark.sources.versioned as V

    p = str(tmp_path / "owm")
    V.write_snapshot(
        spark.range(0, 20).selectExpr("id AS k", "CAST(id AS LONG) AS v"),
        p,
    )
    V.delete_rows_mor(
        spark, p, spark.createDataFrame([(3,), (4,)], "k long"), "k"
    )
    V.create_branch(p, "ow")  # fork carries the vectors
    # staged overwrite = the masked base minus k=5, plus k=100
    staged = (
        V.read_branch(spark, p, "ow").filter(F.col("k") != 5)
        .unionByName(
            spark.createDataFrame([(100, 100)], "k long, v long")
        )
    )
    V.write_to_branch(staged, p, "ow", operation="overwrite")
    feed = V.branch_changes(spark, p, "ow", key="k")
    by = {}
    for r in feed.collect():
        by.setdefault(r._change_type, set()).add(r.k)
    # the erased 3/4 are NOT deletes of this overwrite — they were
    # already gone at the fork
    assert by["delete"] == {5}
    assert by["insert"] == {100}
    assert "update_preimage" not in by


def test_refresh_sql_views_empty_history_repoint(spark, tmp_path):
    """A name re-pointed to a not-yet-seeded path reports
    empty_history instead of crashing the refresh (and the janitor
    tick running it)."""
    import os

    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        alter_entry,
        refresh_sql_views,
        register_entry,
        register_sql_views,
    )

    cat = str(tmp_path / "cat")
    pa = str(tmp_path / "a")
    V.write_snapshot(spark.range(0, 5).selectExpr("id AS k"), pa)
    register_entry(cat, "ve", pa)
    register_sql_views(spark, cat)
    pb = str(tmp_path / "unseeded")
    os.makedirs(pb)
    alter_entry(cat, "ve", pb)
    rep = refresh_sql_views(spark, cat)
    assert rep["ve"] == {"refreshed": False, "empty_history": True}
    # the last registered snapshot keeps serving
    assert spark.sql("SELECT count(*) n FROM ve").first()["n"] == 5
    spark.catalog.dropTempView("ve")
    spark._uts_sql_view_state.clear()


def test_branch_append_carries_stage_time_stats(spark, tmp_path):
    """write_to_branch records the delta dir's stats when the fork
    carries the base's pruning opt-in: staged takedowns keep
    admitting-dirs pruning after staged appends, and publish reuses
    the carried ranges (ROADMAP r12 refreshed #1)."""
    import uts_spark.sources.versioned as V

    p = str(tmp_path / "sts")
    V.write_snapshot(
        spark.range(0, 100).selectExpr("id AS k"), p, stats_col="k"
    )
    V.create_branch(p, "b")
    V.write_to_branch(
        spark.range(200, 300).selectExpr("id AS k"), p, "b"
    )
    head = V._branch_records(p, "b")[-1]
    assert head.get("stats_col") == "k"
    assert len(head["dir_stats"]) == 2 and len(head["dir_rows"]) == 2
    idf = spark.createDataFrame([(250,)], "k long")
    assert V._admitting_dirs(spark, head, idf, "k") == [False, True]
    V.delete_rows_mor_branch(spark, p, "b", idf, "k")
    assert V.read_branch(spark, p, "b").count() == 199
    V.merge_branch(spark, p, "b")
    pm = V.list_versions(p)[-1]
    assert pm.get("stats_col") == "k" and len(pm["dir_stats"]) == 2
    assert V.read_version(spark, p).count() == 199


def test_versioned_branch_staged_mor_refusals_and_liveness(
    spark, tmp_path
):
    """The staged-takedown edges: re-deleting masked rows is a seq
    no-op; a missing key column refuses; publish refuses when main
    ran its OWN takedown since the fork (netting would double-count);
    staged vector dirs are orphan-protected while the branch lives
    and become debris after drop_branch."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    path = str(tmp_path / "wap_edges")
    V.write_snapshot(
        spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
        ),
        path,
    )
    V.create_branch(path, "td")
    ids = spark.range(0, 40).filter(F.col("id") % 4 == 1).select(
        F.col("id").alias("k")
    )
    s1 = V.delete_rows_mor_branch(spark, path, "td", ids, "k")
    # replay: every victim already masked -> no new seq
    assert V.delete_rows_mor_branch(spark, path, "td", ids, "k") == s1
    with _pytest.raises(ValueError, match="no column 'nope'"):
        V.delete_rows_mor_branch(spark, path, "td", ids, "nope")
    # a predicate matching nothing commits nothing
    assert (
        V.delete_rows_positional_branch(
            spark, path, "td", F.col("k") > 10_000
        )
        == s1
    )
    # staged vector dir survives an aggressive orphan sweep...
    assert V.remove_orphans(path, older_than_secs=0) == []
    # main runs its own takedown since the fork -> publish refuses
    V.delete_rows_mor(
        spark, path,
        spark.createDataFrame([(2,)], "k long"), "k",
    )
    with _pytest.raises(V.VersionConflictError, match="delete_mor"):
        V.merge_branch(spark, path, "td")
    # ...and becomes removable debris once the branch is dropped
    import os

    staged_dirs = [
        d for d in os.listdir(os.path.join(path, "data"))
        if d.startswith("bdv-")
    ]
    assert staged_dirs
    V.drop_branch(path, "td")
    removed = V.remove_orphans(path, older_than_secs=0)
    assert any("bdv-" in d for d in removed)


def test_versioned_kmv_sketch_lifecycle(spark, tmp_path):
    """Per-dir KMV sketches: inherited by appends, recomputed by the
    pruned delete, carried through optimize / merge / MOR + materialize,
    merge invariant (per-dir union == single-pass synopsis), and the
    type refusal."""
    import pytest

    import uts_spark.sources.versioned as V
    from uts_spark.functions.hashing import hash64

    df = spark.createDataFrame(
        [(i, i % 37, f"v{i}") for i in range(300)],
        "rid long, key long, val string",
    )
    path = str(tmp_path / "kmv_vt")
    V.write_snapshot(
        df.filter("rid % 3 = 0"), path, stats_col="key", kmv_col="key",
        kmv_k=16,
    )
    V.append_snapshot(df.filter("rid % 3 = 1"), path)
    V.append_snapshot(df.filter("rid % 3 = 2"), path)
    m = V.list_versions(path)[-1]
    assert m["kmv_col"] == "key" and m["kmv_k"] == 16
    assert len(m["dir_kmv"]) == 3

    # merge invariant: union of per-dir sketches == single-pass sketch
    sk, k = V.table_kmv(path)
    direct = [
        int(r["h"])
        for r in df.select(
            hash64(F.col("key").cast("string")).alias("h")
        ).distinct().orderBy("h").limit(16).collect()
    ]
    assert sk == direct and k == 16

    # 37 distinct keys > k=16 -> sampled estimate in the right decade
    est = V.kmv_distinct(path)
    assert 10 <= est <= 150

    # MOR delete carries the synopsis untouched; materialize recomputes
    V.delete_rows_mor(
        spark, path,
        spark.createDataFrame([(0,), (1,)], "key long"), "key",
    )
    assert V.table_kmv(path) is not None
    V.materialize_dvs(spark, path)
    m2 = V.list_versions(path)[-1]
    assert set(m2["dir_kmv"]) == set(V._manifest_dirs(m2))
    est2 = V.kmv_distinct(path)
    direct2 = [
        int(r["h"])
        for r in V.read_version(spark, path)
        .select(hash64(F.col("key").cast("string")).alias("h"))
        .distinct().orderBy("h").limit(16).collect()
    ]
    assert V.table_kmv(path)[0] == direct2

    # pruned CoW delete recomputes the rewritten dir's sketch
    V.delete_rows(
        spark, path,
        spark.createDataFrame([(2,), (3,)], "key long"), "key",
    )
    assert V.table_kmv(path)[0] == [
        int(r["h"])
        for r in V.read_version(spark, path)
        .select(hash64(F.col("key").cast("string")).alias("h"))
        .distinct().orderBy("h").limit(16).collect()
    ]

    # optimize and merge carry the synopsis
    V.optimize(spark, path)
    assert V.list_versions(path)[-1].get("kmv_col") == "key"
    V.merge_upsert(
        spark, path,
        spark.createDataFrame([(9999, 5, "up")], "rid long, key long, val string"),
        "rid",
    )
    assert V.list_versions(path)[-1].get("kmv_col") == "key"
    assert V.list_versions(path)[-1].get("kmv_k") == 16

    # estimates raise rather than lie when no synopsis exists
    bare = str(tmp_path / "bare_vt")
    V.write_snapshot(df, bare)
    with pytest.raises(ValueError, match="no complete KMV synopsis"):
        V.kmv_distinct(bare)

    # type refusal before any write
    arr = df.select("rid", F.array("key").alias("key"))
    with pytest.raises(ValueError, match="kmv_col"):
        V.write_snapshot(arr, str(tmp_path / "bad_vt"), kmv_col="key")


def test_versioned_kmv_planner_estimates(spark, tmp_path):
    """Join-size + takedown-overlap estimates and the erasure-mode
    advisor: floor-pinned integers, small-vs-large intersection takes
    the sample-rate branch (the union-merge form would truncate the
    small side to 0), and the advisor flips with the estimated
    fraction."""
    import uts_spark.sources.versioned as V

    a = spark.createDataFrame(
        [(i, i % 200) for i in range(4000)], "rid long, key long"
    )
    b = spark.createDataFrame(
        [(k,) for k in range(100, 300)], "key long"
    )
    pa, pb = str(tmp_path / "ja"), str(tmp_path / "jb")
    V.write_snapshot(a, pa, kmv_col="key")
    V.write_snapshot(b, pb, kmv_col="key")
    est = V.kmv_join_estimate(pa, 4000, pb, 200)
    exact = a.join(b, "key").count()  # keys 100..199 -> 100*20 = 2000
    assert exact == 2000
    assert 0 < est["est_join_rows"] < 4 * exact
    assert est["distinct_intersection"] <= est["distinct_union"]

    # overlap: exhaustive small key frame vs sampled table synopsis
    victims = spark.createDataFrame(
        [(k,) for k in range(0, 200, 10)], "key long"
    )  # 20 of 200 keys -> 10% of rows
    ov = V.kmv_overlap_estimate(spark, pa, victims, "key")
    assert ov["distinct_keys"] == 20
    assert ov["est_matching_rows"] >= 0

    # advisor: a tiny takedown suggests MOR, a huge one CoW
    tiny = spark.createDataFrame([(5,)], "key long")
    assert V.suggest_erasure_mode(spark, pa, tiny, "key") in ("mor", "cow")
    huge = spark.createDataFrame(
        [(k,) for k in range(200)], "key long"
    )
    assert V.suggest_erasure_mode(spark, pa, huge, "key") == "cow"
    # wrong key column refused
    import pytest

    with pytest.raises(ValueError, match="tracked"):
        V.kmv_overlap_estimate(
            spark, pa, victims.withColumnRenamed("key", "rid"), "rid"
        )


def test_versioned_pdv_positional_lifecycle(spark, tmp_path):
    """Positional deletion vectors: keyless + duplicate-row erasure by
    physical address, pinned reads, append-after-delete visibility,
    vector stacking, materialize pruning, and the CoW interop."""
    import uts_spark.sources.versioned as V

    p = str(tmp_path / "pdv")
    df = spark.createDataFrame(
        [(i % 5, f"g{i % 3}") for i in range(100)], "val long, grp string"
    )
    V.write_snapshot(df, p)
    V.append_snapshot(
        spark.createDataFrame([(7, "gX")] * 10, "val long, grp string"), p
    )
    assert V.read_version(spark, p).count() == 110

    V.delete_rows_positional(spark, p, F.col("val") == 2)
    assert V.read_version(spark, p).count() == 90
    assert V.list_versions(p)[-1]["n_rows"] == 90
    # pinned read BEFORE the vector sees everything
    assert V.read_version(spark, p, 1).count() == 110

    # appended rows matching the predicate stay visible (new files)
    V.append_snapshot(
        spark.createDataFrame([(2, "new")] * 5, "val long, grp string"), p
    )
    assert V.read_version(spark, p).count() == 95

    # second vector stacks over the already-masked state
    V.delete_rows_positional(
        spark, p, (F.col("val") == 7) & (F.col("grp") == "gX")
    )
    assert V.read_version(spark, p).count() == 85
    assert len(V.list_versions(p)[-1]["pdv"]) == 2

    # a no-match predicate commits nothing
    v = V.delete_rows_positional(spark, p, F.col("val") == 999)
    assert v == V.list_versions(p)[-1]["version"]
    assert len(V.list_versions(p)[-1]["pdv"]) == 2

    # materialize prunes to the dirs whose files the vectors name:
    # the appended (2,'new') dir holds no masked positions
    V.materialize_dvs(spark, p)
    m = V.list_versions(p)[-1]
    assert not m.get("pdv") and not m.get("dv")
    assert m["pruned_dirs"] >= 1
    assert V.read_version(spark, p).count() == 85

    # CoW delete with an outstanding positional vector materializes
    # first (same two-step as key vectors)
    V.delete_rows_positional(spark, p, F.col("grp") == "new")
    V.delete_rows(
        spark, p, spark.createDataFrame([(0,)], "val long"), "val"
    )
    m2 = V.list_versions(p)[-1]
    assert not m2.get("pdv")
    got = V.read_version(spark, p)
    assert got.filter("grp = 'new'").count() == 0
    assert got.filter("val = 0").count() == 0


def test_versioned_pdv_cdf_and_triggers(spark, tmp_path):
    """Keyless CDF across a positional delete, trigger accounting,
    branch guard, replicate refusal, and mixed key+positional
    composition."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    p = str(tmp_path / "pdvc")
    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(80)],
        "k long, grp long, val string",
    )
    V.write_snapshot(df, p)
    V.delete_rows_positional(spark, p, F.col("grp") == 1)  # 20 rows

    # keyless CDF: the positional fast path emits delete images with
    # NO key= (positions name rows directly)
    feed = V.table_changes(spark, p, 0, 1)
    rows = feed.collect()
    assert {r._change_type for r in rows} == {"delete"}
    assert len(rows) == 20 and all(r.grp == 1 for r in rows)

    # append + another positional delete in one range: inserts net
    # against masks, deletes come from the FROM-visible scan only
    V.append_snapshot(
        spark.createDataFrame([(100, 1, "new")], "k long, grp long, val string"),
        p,
    )
    V.delete_rows_positional(spark, p, F.col("k") == 6)
    feed2 = V.table_changes(spark, p, 1, 3)
    by = {}
    for r in feed2.collect():
        by.setdefault(r._change_type, []).append(r.k)
    assert by["insert"] == [100] and by["delete"] == [6]

    # unchanged-range fast path still empty with vectors outstanding
    assert V.table_changes(spark, p, 3, 3).count() == 0

    # mixed: a key vector over the positional state composes
    V.delete_rows_mor(
        spark, p, spark.createDataFrame([(10,), (11,)], "k long"), "k"
    )
    assert V.read_version(spark, p).count() == 80 - 20 + 1 - 1 - 2
    # the 1->4 range has both kinds of new vectors and still reads
    # KEYLESS: key vectors carry their own key column, positional
    # vectors join on the address — the MOR fast path needs no key=
    for kw in ({}, {"key": "k"}):
        feed3 = V.table_changes(spark, p, 1, 4, **kw)
        dels = sorted(
            r.k for r in feed3.collect() if r._change_type == "delete"
        )
        assert dels == [6, 10, 11]

    # trigger counts positional debt
    assert V.maybe_materialize_dvs(spark, p, max_dvs=0) is not None
    assert not V.list_versions(p)[-1].get("pdv")

    # a fork CARRIES outstanding vectors (round 11: branch records
    # hold vector lists) — the branch read masks exactly like main
    V.delete_rows_positional(spark, p, F.col("k") == 12)
    V.create_branch(p, "b1")
    assert (
        V.read_branch(spark, p, "b1").count()
        == V.read_version(spark, p).count()
    )
    assert V.read_branch(spark, p, "b1").filter(
        F.col("k") == 12
    ).count() == 0
    V.drop_branch(p, "b1")

    # replicate: a keyless positional range refuses; key= applies
    dst = str(tmp_path / "pdvr")
    V.replicate(spark, p, dst, up_to=0)
    with _pytest.raises(ValueError, match="pass key="):
        V.replicate(spark, p, dst, up_to=V.current_version(p))
    V.replicate(spark, p, dst, key="k", up_to=V.current_version(p))
    a = {tuple(r) for r in V.read_version(spark, p).collect()}
    b = {tuple(r) for r in V.read_version(spark, dst).collect()}
    assert a == b


def test_versioned_pdv_evolved_schema(spark, tmp_path):
    """Positional masks compose with schema evolution: the pos-aware
    scan merges footers and projects the widened schema before the
    address anti-join."""
    import uts_spark.sources.versioned as V

    p = str(tmp_path / "pdve")
    V.write_snapshot(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                              "k long, val string"),
        p,
    )
    V.append_snapshot(
        spark.createDataFrame([(100, "w", 1.5)],
                              "k long, val string, score double"),
        p,
    )
    V.delete_rows_positional(spark, p, F.col("k") % 2 == 0)
    got = V.read_version(spark, p)
    assert got.columns == ["k", "val", "score"]
    # the evolved row (k=100) is even — the predicate saw the widened
    # visible state, so it masks across BOTH footer shapes
    ks = sorted(r.k for r in got.collect())
    assert ks == [1, 3, 5, 7, 9]
    assert got.filter("score IS NOT NULL").count() == 0


def test_join_versioned_plan_shapes(spark, tmp_path):
    """plan_join decides from manifests; join_versioned's physical
    plan matches the decision (broadcast hint lands; shuffle path
    sort-merges when broadcasting is disabled); explosive estimates
    refuse up front."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    big = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("grp")
    )
    small = spark.range(0, 50).select(F.col("id").alias("k"))
    pb, ps = str(tmp_path / "big"), str(tmp_path / "small")
    V.write_snapshot(big, pb, kmv_col="k")
    V.write_snapshot(small, ps, kmv_col="k")

    plan = V.plan_join(pb, ps)
    assert plan["strategy"] == "broadcast" and plan["build_side"] == "b"
    assert plan["rows_a"] == 20000 and plan["rows_b"] == 50
    assert not plan["explosive"]
    j = V.join_versioned(spark, pb, ps, "k")
    assert "BroadcastHashJoin" in j._jdf.queryExecution().executedPlan().toString()
    assert j.count() == 50

    # shuffle decision when neither side fits the row budget; disable
    # Spark's own size-based broadcast so the helper's choice shows
    plan2 = V.plan_join(pb, ps, broadcast_rows=10)
    assert plan2["strategy"] == "shuffle"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j2 = V.join_versioned(spark, pb, ps, "k", broadcast_rows=10)
        s = j2._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in s and "BroadcastHashJoin" not in s
        assert j2.count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # explosive: a constant join key -> estimated output >> inputs
    ca = spark.range(0, 3000).select(F.lit(1).alias("k"))
    cb = spark.range(0, 3000).select(F.lit(1).alias("k"))
    pca, pcb = str(tmp_path / "ca"), str(tmp_path / "cb")
    V.write_snapshot(ca, pca, kmv_col="k")
    V.write_snapshot(cb, pcb, kmv_col="k")
    plan3 = V.plan_join(pca, pcb)
    assert plan3["explosive"]
    with _pytest.raises(ValueError, match="many-to-many"):
        V.join_versioned(
            spark, pca, pcb, "k", refuse_explosive=True
        )
    # without the refusal flag the join still runs correctly
    assert V.join_versioned(spark, pca, pcb, "k").count() == 9_000_000


def test_join_versioned_shapes_agree_by_rows(spark, tmp_path):
    """The broadcast and the shuffle plan of join_versioned return the
    same rows, not just the same count: random keys with duplicates on
    both sides, the probe side a two-dir table carrying a deletion
    vector, both checked against the join computed in Python."""
    import random
    import re

    import uts_spark.sources.versioned as V

    rnd = random.Random(7)
    a_rows = [(rnd.randrange(40), i) for i in range(300)]
    b_rows = [(rnd.randrange(40), f"b{i}") for i in range(60)]
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    V.write_snapshot(
        spark.createDataFrame(a_rows[:150], "k int, x int"), pa,
        stats_col="k",
    )
    V.append_snapshot(spark.createDataFrame(a_rows[150:], "k int, x int"), pa)
    V.delete_rows_mor(
        spark, pa, spark.createDataFrame([(3,), (11,)], "k int"), "k"
    )
    V.write_snapshot(spark.createDataFrame(b_rows, "k int, y string"), pb)
    pm = V.list_versions(pa)[-1]
    assert len(V._manifest_dirs(pm)) == 2 and len(pm["dv"]) == 1

    def rows(df):
        return sorted(tuple(r) for r in df.select("k", "x", "y").collect())

    want = sorted(
        (k, x, y) for k, x in a_rows if k not in (3, 11)
        for kb, y in b_rows if kb == k
    )
    def inner_join(df):
        # the deletion vector masks through a broadcast LEFT ANTI join
        # in both shapes; the shape under test is the INNER join's
        s = df._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"(\w+Join) \[[^\]]*\], \[[^\]]*\], Inner", s)

    bj = V.join_versioned(spark, pa, pb, "k")
    assert inner_join(bj) == ["BroadcastHashJoin"]
    got_b = rows(bj)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sj = V.join_versioned(spark, pa, pb, "k", broadcast_rows=10)
        assert inner_join(sj) == ["SortMergeJoin"]
        got_s = rows(sj)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert len(want) > 300  # duplicate keys on both sides fan out
    assert got_b == got_s == want


def test_catalog_retention_policy(spark, tmp_path):
    """Per-entry retention: the janitor vacuums each entry to its own
    keep_last; the tick-wide knob covers only policy-less entries;
    path moves carry the policy; tags still override."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        catalog_maintenance_tick,
        register_entry,
        resolve,
        set_retention,
    )

    cat = str(tmp_path / "cat")
    pa, pb = str(tmp_path / "ta"), str(tmp_path / "tb")
    for p in (pa, pb):
        for i in range(4):
            V.write_snapshot(
                spark.createDataFrame([(i,)], "v long"), p
            )
    register_entry(cat, "with_policy", pa)
    register_entry(cat, "no_policy", pb)
    set_retention(cat, "with_policy", keep_last=2)
    with _pytest.raises(ValueError, match="keep_last"):
        set_retention(cat, "with_policy", keep_last=0)

    # policy applies without any tick-wide knob; the other entry keeps
    # its full history
    rep = {r["name"]: r for r in catalog_maintenance_tick(spark, cat)}
    assert rep["with_policy"]["vacuumed"] == [0, 1]
    assert rep["with_policy"]["retention"] == "policy"
    assert rep["no_policy"]["vacuumed"] == []
    assert len(V.list_versions(pa)) == 2
    assert len(V.list_versions(pb)) == 4

    # tick-wide knob reaches only the policy-less entry; the policy
    # entry stays at ITS keep_last even when the knob is tighter
    rep = {
        r["name"]: r
        for r in catalog_maintenance_tick(spark, cat, vacuum_keep_last=1)
    }
    assert rep["no_policy"]["vacuumed"] == [0, 1, 2]
    assert len(V.list_versions(pa)) == 2

    # a tagged version survives the policy (vacuum's retention promise)
    V.write_snapshot(spark.createDataFrame([(9,)], "v long"), pa)
    V.tag_version(pa, "audit", 2)
    catalog_maintenance_tick(spark, cat)
    assert 2 in {m["version"] for m in V.list_versions(pa)}

    # a path move carries the policy
    pa2 = str(tmp_path / "ta2")
    for i in range(3):
        V.write_snapshot(spark.createDataFrame([(i,)], "v long"), pa2)
    from uts_spark.sources.catalog import alter_entry

    alter_entry(cat, "with_policy", pa2)
    assert resolve(cat, "with_policy")["retention"] == {"keep_last": 2}
    catalog_maintenance_tick(spark, cat)
    assert len(V.list_versions(pa2)) == 2

    # clearing the policy returns the entry to tick-wide control
    set_retention(cat, "with_policy", None)
    assert "retention" not in resolve(cat, "with_policy")


def test_versioned_pdv_relative_path_materialize(spark):
    """ADVICE r10 (high): manifest dirs are stored as the writer passed
    them; parquet ``_metadata`` paths are absolute ``file:`` URIs. On a
    RELATIVE table path the raw-string compare matched nothing, so
    materialize_dvs cleared positional vectors WITHOUT rewriting —
    silently RESURRECTING erased rows — and the CDF positional leg
    emitted no delete images. Both sides now normalize before any
    equality (versioned._norm_dir)."""
    import shutil
    import uuid

    import uts_spark.sources.versioned as V

    p = f"tmp_relpdv_{uuid.uuid4().hex[:8]}"  # relative to the cwd
    try:
        V.write_snapshot(
            spark.createDataFrame([(i,) for i in range(20)], "k long"), p
        )
        V.delete_rows_positional(spark, p, F.col("k") < 15)
        assert V.read_version(spark, p).count() == 5

        # the CDF positional leg emits the delete images (was: empty)
        feed = V.table_changes(spark, p, 0, 1).collect()
        assert {r._change_type for r in feed} == {"delete"}
        assert sorted(r.k for r in feed) == list(range(15))

        # materialize rewrites (was: cleared the vector, count -> 20)
        V.materialize_dvs(spark, p)
        m = V.list_versions(p)[-1]
        assert not m.get("pdv")
        got = sorted(r.k for r in V.read_version(spark, p).collect())
        assert got == [15, 16, 17, 18, 19]
    finally:
        shutil.rmtree(p, ignore_errors=True)


def test_versioned_pdv_nonnormal_path_materialize(spark, tmp_path):
    """Same failure class through a non-normalized ABSOLUTE path (a
    '.' segment): normalization, not the cwd, is what must fix it."""
    import uts_spark.sources.versioned as V

    p = str(tmp_path) + "/./pdvn"
    V.write_snapshot(
        spark.createDataFrame([(i,) for i in range(10)], "k long"), p
    )
    V.delete_rows_positional(spark, p, F.col("k") < 4)
    assert V.read_version(spark, p).count() == 6
    V.materialize_dvs(spark, p)
    assert not V.list_versions(p)[-1].get("pdv")
    assert sorted(r.k for r in V.read_version(spark, p).collect()) == [
        4, 5, 6, 7, 8, 9,
    ]


def test_versioned_pdv_materialize_refuses_unmatched_file(spark, tmp_path):
    """A positional vector whose masked file resolves to NO manifest
    dir is bookkeeping corruption — materialize must refuse, never
    clear the vector (clearing resurrects rows that were never
    rewritten)."""
    import json
    import os

    import pytest as _pytest

    import uts_spark.sources.versioned as V

    p = str(tmp_path / "pdvbad")
    V.write_snapshot(
        spark.createDataFrame([(i,) for i in range(10)], "k long"), p
    )
    V.delete_rows_positional(spark, p, F.col("k") < 3)
    # doctor the latest manifest: point its dir list at a fresh empty
    # dir so the vector's masked file matches nothing
    vdir = V._versions_dir(p)
    latest = sorted(
        os.listdir(vdir), key=lambda f: int(f[1:-5])
    )[-1]
    mp = os.path.join(vdir, latest)
    with open(mp) as fh:
        m = json.load(fh)
    stray = str(tmp_path / "stray")
    spark.createDataFrame([(99,)], "k long").write.parquet(stray)
    for key in ("data_dir", "data_dirs"):
        if key in m:
            m[key] = stray if key == "data_dir" else [stray]
    os.remove(mp)
    with open(mp, "w") as fh:
        json.dump(m, fh)
    with _pytest.raises(ValueError, match="refusing to materialize"):
        V.materialize_dvs(spark, p)


def test_versioned_cdf_pdv_key_vector_dedup(spark, tmp_path):
    """ADVICE r10 (low): a row masked in-range by BOTH a positional
    vector and a key vector must emit exactly ONE delete image in the
    MOR CDF fast path (accounting consumers double-counted)."""
    import uts_spark.sources.versioned as V

    p = str(tmp_path / "pdvdd")
    V.write_snapshot(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "k long, val string"
        ),
        p,
    )
    V.delete_rows_positional(spark, p, F.col("k") < 10)
    V.delete_rows_mor(
        spark, p,
        spark.createDataFrame([(k,) for k in range(5, 15)], "k long"),
        "k",
    )
    assert V.read_version(spark, p).count() == 25
    feed = V.table_changes(spark, p, 0, 2).collect()
    assert {r._change_type for r in feed} == {"delete"}
    ks = sorted(r.k for r in feed)
    # k=5..9 are masked by BOTH vectors — exactly one image each
    assert ks == list(range(15))


def test_versioned_reserved_address_columns_refused(spark, tmp_path):
    """ADVICE r10 (low): __file/__pos are the positional-vector
    address columns every masked read appends — user columns with
    those names are refused at write time."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    p = str(tmp_path / "resv")
    with _pytest.raises(ValueError, match="reserved"):
        V.write_snapshot(
            spark.createDataFrame([(1, "f")], "k long, __file string"), p
        )
    V.write_snapshot(spark.createDataFrame([(1,)], "k long"), p)
    with _pytest.raises(ValueError, match="reserved"):
        V.append_snapshot(
            spark.createDataFrame([(2, 0)], "k long, __pos long"), p
        )
    assert V.read_version(spark, p).count() == 1


def test_kmv_join_estimate_oracle_regimes(spark, tmp_path):
    """ADVICE r10 (low): the join-estimate ORACLE must mirror all
    three regimes of versioned._kmv_intersect_est — both sketches
    exhaustive (<k distinct), one exhaustive, both sampled — not just
    the sampled formula. Pin Python == DuckDB per regime on tiny
    synthetic tables where the exhaustive branches actually fire."""
    import duckdb

    import uts_spark.sources.versioned as V
    from uts_spark.registry import ORACLES

    sql = ORACLES["versioned_kmv_join_estimate"]

    cases = {
        # (orders distinct, customer distinct): regimes
        "both_exhaustive": (30, 40),
        "orders_exhaustive": (50, 200),
        "customer_exhaustive": (200, 40),
        "both_sampled": (100, 120),
    }
    for label, (no, nc) in cases.items():
        pa = str(tmp_path / f"o_{label}")
        pc = str(tmp_path / f"c_{label}")
        # 2 rows per orders key (exercises the rows/D scaling), keys
        # offset so the intersection is partial; append chain on the
        # orders side exercises the per-dir sketch merge
        odf = spark.createDataFrame(
            [(k, 2 * k) for k in range(no) for _ in range(2)],
            "o_custkey long, o_orderkey long",
        )
        cdf = spark.createDataFrame(
            [(k,) for k in range(no // 2, no // 2 + nc)],
            "c_custkey long",
        )
        V.write_snapshot(
            odf.filter(F.col("o_custkey") % 2 == 0), pa,
            kmv_col="o_custkey",
        )
        V.append_snapshot(odf.filter(F.col("o_custkey") % 2 == 1), pa)
        V.write_snapshot(cdf, pc, kmv_col="c_custkey")

        j = V.kmv_join_estimate(pa, 2 * no, pc, nc)

        con = duckdb.connect()
        con.register("odf", odf.toPandas())
        con.register("cdf", cdf.toPandas())
        con.execute("CREATE VIEW orders AS SELECT * FROM odf")
        con.execute("CREATE VIEW customer AS SELECT * FROM cdf")
        row = con.execute(sql).fetchone()
        cols = [d[0] for d in con.execute(sql).description]
        got = dict(zip(cols, row))
        con.close()

        assert got["est_distinct_orders"] == j["distinct_a"], label
        assert got["est_distinct_customer"] == j["distinct_b"], label
        assert got["est_intersection"] == j["distinct_intersection"], label
        assert got["est_union"] == j["distinct_union"], label
        assert got["est_join_rows"] == j["est_join_rows"], label


def test_versioned_age_based_retention(spark, tmp_path):
    """ROADMAP r11 #1 / VERDICT r10 #2: vacuum(max_age_secs=) expires
    a version only when it is BOTH beyond the keep_last floor AND
    older than the window (commit wall time stamped on the manifest);
    tags still override."""
    import json
    import os
    import time as _time

    import uts_spark.sources.versioned as V

    p = str(tmp_path / "aged")
    for i in range(4):
        V.write_snapshot(spark.createDataFrame([(i,)], "v long"), p)
    assert all(
        "committed_at" in m for m in V.list_versions(p)
    )  # every commit stamps wall time
    # age v0/v1 artificially (the stamp is plain manifest JSON)
    vdir = V._versions_dir(p)
    for v in (0, 1):
        mp = os.path.join(vdir, f"v{v}.json")
        with open(mp) as fh:
            m = json.load(fh)
        m["committed_at"] = _time.time() - 1000.0
        os.remove(mp)
        with open(mp, "w") as fh:
            json.dump(m, fh)

    V.tag_version(p, "audit", 1)
    # window 500s: v0 aged out; v1 aged but TAGGED -> survives; v2
    # beyond the floor but young -> survives
    assert V.vacuum(p, keep_last=1, max_age_secs=500) == [0]
    assert {m["version"] for m in V.list_versions(p)} == {1, 2, 3}
    # huge window: nothing more expires even at floor 1
    assert V.vacuum(p, keep_last=1, max_age_secs=10**9) == []
    # dropping the tag releases the aged v1; young v2 still survives
    V.drop_tag(p, "audit")
    assert V.vacuum(p, keep_last=1, max_age_secs=500) == [1]
    assert {m["version"] for m in V.list_versions(p)} == {2, 3}
    # age-less vacuum still expires purely by count
    assert V.vacuum(p, keep_last=1) == [2]
    # manifests predating the stamp fall back to file mtime: strip the
    # stamp from v2... (v3 is current; v2 was vacuumed) — rebuild one
    p2 = str(tmp_path / "aged2")
    for i in range(2):
        V.write_snapshot(spark.createDataFrame([(i,)], "v long"), p2)
    mp = os.path.join(V._versions_dir(p2), "v0.json")
    with open(mp) as fh:
        m = json.load(fh)
    del m["committed_at"]
    os.remove(mp)
    with open(mp, "w") as fh:
        json.dump(m, fh)
    os.utime(mp, (_time.time() - 1000, _time.time() - 1000))
    assert V.vacuum(p2, keep_last=1, max_age_secs=500) == [0]


def test_catalog_age_retention_policy(spark, tmp_path):
    """Age windows as catalog policy: the janitor applies keep_last
    floor AND max_age_secs window per entry; clearing needs both None."""
    import json
    import os
    import time as _time

    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        catalog_maintenance_tick,
        register_entry,
        resolve,
        set_retention,
    )

    cat = str(tmp_path / "cat")
    p = str(tmp_path / "t")
    for i in range(4):
        V.write_snapshot(spark.createDataFrame([(i,)], "v long"), p)
    vdir = V._versions_dir(p)
    for v in (0, 1):
        mp = os.path.join(vdir, f"v{v}.json")
        with open(mp) as fh:
            m = json.load(fh)
        m["committed_at"] = _time.time() - 1000.0
        os.remove(mp)
        with open(mp, "w") as fh:
            json.dump(m, fh)
    register_entry(cat, "t", p)
    # age-only policy: floor defaults to 1 (current always survives)
    set_retention(cat, "t", None, max_age_secs=500)
    assert resolve(cat, "t")["retention"] == {"max_age_secs": 500}
    rep = {r["name"]: r for r in catalog_maintenance_tick(spark, cat)}
    assert rep["t"]["vacuumed"] == [0, 1]
    assert {m["version"] for m in V.list_versions(p)} == {2, 3}
    # young versions beyond the floor survive the window
    rep = {r["name"]: r for r in catalog_maintenance_tick(spark, cat)}
    assert rep["t"]["vacuumed"] == []
    # both knobs recorded together
    set_retention(cat, "t", 2, max_age_secs=3600)
    assert resolve(cat, "t")["retention"] == {
        "keep_last": 2, "max_age_secs": 3600,
    }
    # clearing drops the whole policy
    set_retention(cat, "t", None)
    assert "retention" not in resolve(cat, "t")


def test_catalog_cbo_join_by_name_and_sql_views(spark, tmp_path):
    """VERDICT r10 #4: manifest statistics reach the CATALOG surface —
    join_by_name resolves names and lands the manifest-picked
    broadcast; register_sql_views carries the manifest row count into
    spark.sql joins as a hint-through-view, where Spark's own
    size-based inference is disabled and would sort-merge."""
    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        join_by_name,
        register_entry,
        register_sql_views,
    )

    cat = str(tmp_path / "cat")
    big = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("grp")
    )
    small = spark.range(0, 60).select(F.col("id").alias("k"))
    pb, ps = str(tmp_path / "big"), str(tmp_path / "small")
    V.write_snapshot(big, pb, kmv_col="k")
    V.write_snapshot(small, ps, kmv_col="k")
    register_entry(cat, "facts", pb)
    register_entry(cat, "dim", ps)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # name-resolved planned join: broadcast lands even with
        # Spark's own size threshold off
        j = join_by_name(spark, cat, "facts", "dim", "k")
        s = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in s
        assert j.count() == 60

        # SQL surface: hinted view -> broadcast; the report records
        # the manifest rows and the decision
        rep = register_sql_views(spark, cat)
        assert rep == {
            "facts": {"rows": 20000, "hinted": True},
            "dim": {"rows": 60, "hinted": True},
        }
        rep2 = register_sql_views(spark, cat, broadcast_rows=1000)
        assert rep2["facts"]["hinted"] is False
        assert rep2["dim"]["hinted"] is True
        q = spark.sql(
            "SELECT count(*) AS n FROM facts JOIN dim USING (k)"
        )
        s2 = q._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in s2
        assert q.first()["n"] == 60

        # control: the same SQL over UNHINTED plain views sort-merges
        V.read_version(spark, pb).createOrReplaceTempView("facts_raw")
        V.read_version(spark, ps).createOrReplaceTempView("dim_raw")
        q3 = spark.sql(
            "SELECT count(*) AS n FROM facts_raw JOIN dim_raw USING (k)"
        )
        s3 = q3._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in s3 and "BroadcastHashJoin" not in s3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for v in ("facts", "dim", "facts_raw", "dim_raw"):
            spark.catalog.dropTempView(v)


def test_versioned_kmv_multikey(spark, tmp_path):
    """ROADMAP r11 #4: a tuple kmv_col tracks several columns — the
    secondary sketches ride kmv_extra, survive every rewrite verb,
    and plan_join resolves either key from the manifest; an untracked
    key degrades honestly to row counts only."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    df = spark.range(0, 5000).select(
        (F.col("id") % 200).alias("a"),
        (F.col("id") % 37).alias("b"),
        F.col("id").alias("c"),
    )
    p = str(tmp_path / "mk")
    V.write_snapshot(
        df.filter(F.col("id") % 2 == 0), p, kmv_col=("a", "b"),
        stats_col="a",
    )
    V.append_snapshot(df.filter(F.col("id") % 2 == 1), p)

    # estimates for both tracked keys, straight off the manifest
    assert abs(V.kmv_distinct(p, col="a") - 200) <= 12
    assert V.kmv_distinct(p, col="b") == 37  # <k -> exhaustive exact
    assert V.kmv_cols_of(p) == ["a", "b"]
    with _pytest.raises(ValueError, match="no complete KMV"):
        V.kmv_distinct(p, col="c")

    # rewrite verbs recompute the extra sketches for the new dir
    V.delete_rows(
        spark, p, spark.createDataFrame([(7,)], "a long"), "a"
    )
    assert V.kmv_distinct(p, col="b") == 37
    assert abs(V.kmv_distinct(p, col="a") - 199) <= 12
    V.delete_rows_mor(
        spark, p, spark.createDataFrame([(8,)], "a long"), "a"
    )
    V.materialize_dvs(spark, p)
    assert V.kmv_distinct(p, col="b") == 37
    V.optimize(spark, p)
    assert V.kmv_cols_of(p) == ["a", "b"]
    assert V.kmv_distinct(p, col="b") == 37

    # plan_join resolves either key; untracked key degrades to rows
    q = str(tmp_path / "dim")
    V.write_snapshot(
        spark.range(0, 37).select(F.col("id").alias("b")), q,
        kmv_col="b",
    )
    plan = V.plan_join(p, q, key_a="b", key_b="b")
    assert "estimate" in plan
    assert plan["estimate"]["distinct_a"] == 37
    plan_a = V.plan_join(p, q, key_a="a", key_b="b")
    assert "estimate" in plan_a  # primary side resolves too
    plan_c = V.plan_join(p, q, key_a="c", key_b="b")
    assert "estimate" not in plan_c  # untracked -> row counts only
    assert plan_c["strategy"] == "broadcast"

    # join_versioned threads the join keys into the estimate
    j = V.join_versioned(spark, p, q, "b")
    assert j.count() > 0


def test_plan_join_bytes_guard(spark, tmp_path):
    """Round 11: the broadcast decision is bytes-aware — a build side
    whose ROWS fit the budget but whose SERVED bytes don't is routed
    to shuffle (wide-blob dims broke the rows-only proxy); MOR masks
    discount the estimate via the always-recorded dir_rows."""
    import uts_spark.sources.versioned as V

    big = spark.range(0, 100_000).select(
        (F.col("id") % 5000).alias("k")
    )
    # wide dim: 5k rows x ~1KB incompressible hex
    wide = spark.range(0, 5000).select(
        F.col("id").alias("k"),
        F.concat_ws(
            "",
            *[
                F.sha2(
                    F.concat(F.col("id").cast("string"), F.lit(f":{j}")),
                    256,
                )
                for j in range(16)
            ],
        ).alias("blob"),
    )
    pb, pw = str(tmp_path / "big"), str(tmp_path / "wide")
    V.write_snapshot(big, pb)
    V.write_snapshot(wide, pw)

    plan = V.plan_join(pb, pw)  # default 128MB budget: bytes fit
    assert plan["strategy"] == "broadcast"
    assert plan["est_build_bytes"] > 1_000_000
    tight = V.plan_join(pb, pw, broadcast_bytes=1_000_000)
    assert tight["strategy"] == "shuffle"
    assert tight["broadcast_refused"].startswith("build side exceeds")
    # the join still runs correctly under the tight budget (shuffle)
    j = V.join_versioned(spark, pb, pw, "k", broadcast_bytes=1_000_000)
    assert j.count() == 100_000

    # MOR mask discounts the served-bytes estimate: erase 90% of the
    # wide dim -> bytes on disk unchanged, served estimate ~10%
    victims = spark.range(0, 5000).filter(
        F.col("id") % 10 != 7
    ).select(F.col("id").alias("k"))
    V.delete_rows_mor(spark, pw, victims, "k")
    masked = V.plan_join(pb, pw)
    assert masked["rows_b"] == 500
    assert masked["est_build_bytes"] < plan["est_build_bytes"] // 5


def test_register_sql_views_staleness_and_refresh(spark, tmp_path):
    """The documented view contract: a view snapshots the version at
    registration; a later commit is invisible until re-registration
    (which is the refresh — idempotent createOrReplaceTempView)."""
    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import register_entry, register_sql_views

    cat = str(tmp_path / "cat")
    p = str(tmp_path / "t")
    V.write_snapshot(spark.range(0, 10).select(F.col("id").alias("k")), p)
    register_entry(cat, "tv", p)
    register_sql_views(spark, cat)
    assert spark.sql("SELECT count(*) n FROM tv").first()["n"] == 10
    V.append_snapshot(
        spark.range(10, 25).select(F.col("id").alias("k")), p
    )
    # stale until refreshed
    assert spark.sql("SELECT count(*) n FROM tv").first()["n"] == 10
    register_sql_views(spark, cat)
    assert spark.sql("SELECT count(*) n FROM tv").first()["n"] == 25
    spark.catalog.dropTempView("tv")


def test_refresh_sql_views_movers_only(spark, tmp_path):
    """ROADMAP r12 #2: refresh_sql_views re-registers ONLY names
    whose table advanced (or whose entry was re-pointed); unmoved
    names cost a manifest listing, an unregistered name is reported
    gone (view kept), and the hint budget from registration time is
    re-evaluated against the new row count."""
    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        alter_entry,
        refresh_sql_views,
        register_entry,
        register_sql_views,
        unregister_entry,
    )

    cat = str(tmp_path / "cat")
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    V.write_snapshot(spark.range(0, 10).select(F.col("id").alias("k")), pa)
    V.write_snapshot(spark.range(0, 5).select(F.col("id").alias("k")), pb)
    register_entry(cat, "va", pa)
    register_entry(cat, "vb", pb)
    register_sql_views(spark, cat, broadcast_rows=12)

    # only the mover refreshes; the SQL name now serves the commit
    V.append_snapshot(spark.range(10, 30).select(F.col("id").alias("k")), pa)
    rep = refresh_sql_views(spark, cat)
    assert rep["va"] == {
        "refreshed": True, "from": 0, "to": 1, "hinted": False,
    }  # 30 rows > the registration-time budget of 12 -> hint dropped
    assert rep["vb"] == {"refreshed": False, "from": 0, "to": 0}
    assert spark.sql("SELECT count(*) n FROM va").first()["n"] == 30

    # nothing moved -> nothing re-registered
    rep = refresh_sql_views(spark, cat)
    assert not any(r.get("refreshed") for r in rep.values())

    # alter_entry re-points a name -> that counts as a move
    pc = str(tmp_path / "c")
    V.write_snapshot(spark.range(0, 3).select(F.col("id").alias("k")), pc)
    alter_entry(cat, "vb", pc)
    rep = refresh_sql_views(spark, cat)
    assert rep["vb"]["refreshed"] and rep["vb"]["hinted"]
    assert spark.sql("SELECT count(*) n FROM vb").first()["n"] == 3

    # unregistered entry: reported gone, temp view still serves
    unregister_entry(cat, "va")
    rep = refresh_sql_views(spark, cat)
    assert rep["va"] == {"refreshed": False, "gone": True}
    assert spark.sql("SELECT count(*) n FROM va").first()["n"] == 30
    for v in ("va", "vb"):
        spark.catalog.dropTempView(v)
    spark._uts_sql_view_state.clear()


def test_janitor_tick_refreshes_sql_views(spark, tmp_path):
    """refresh_views=True: the tick's own work (an aggregate-view
    advance) lands in the session's SQL views in the SAME tick — the
    read-through that keeps a long SQL session current."""
    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        catalog_maintenance_tick,
        register_entry,
        register_sql_views,
    )

    cat = str(tmp_path / "cat")
    ps, pv = str(tmp_path / "src"), str(tmp_path / "view")
    V.write_snapshot(
        spark.createDataFrame(
            [(i, i % 2, i) for i in range(20)],
            "id long, grp long, val long",
        ),
        ps,
    )
    V.maintain_agg_view(spark, ps, pv, ("grp",), ("val",), key="id")
    register_entry(cat, "src", ps)
    register_entry(cat, "mv", pv, kind="view")
    register_sql_views(spark, cat)
    assert spark.sql(
        "SELECT sum(n_rows) s FROM mv"
    ).first()["s"] == 20

    V.append_snapshot(
        spark.createDataFrame(
            [(100 + i, 0, 1) for i in range(4)],
            "id long, grp long, val long",
        ),
        ps,
    )
    rep = catalog_maintenance_tick(spark, cat, refresh_views=True)
    tail = rep[-1]
    assert set(tail["sql_views_refreshed"]) == {"src", "mv"}
    assert tail["sql_views_checked"] == 2
    # the view the TICK advanced is already visible through SQL
    assert spark.sql("SELECT sum(n_rows) s FROM mv").first()["s"] == 24
    for v in ("src", "mv"):
        spark.catalog.dropTempView(v)
    spark._uts_sql_view_state.clear()


def test_maintain_agg_view_updates_and_refusals(spark, tmp_path):
    """IVM over the CDF, the paths the lane doesn't walk: update
    images from a rewrite range (merge_upsert, key=) apply as
    pre-subtract/post-add; float sum columns refused at seed; config
    mismatch refused; non-view destination refused; negative count
    (foreign history) refused; long overflow refused in both ANSI
    modes."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    ps = str(tmp_path / "src")
    pv = str(tmp_path / "view")
    rows = [(i, i % 3, (i * 7) % 50) for i in range(60)]
    V.write_snapshot(
        spark.createDataFrame(rows, "id long, grp long, val long"), ps
    )
    V.maintain_agg_view(spark, ps, pv, ("grp",), ("val",), key="id")
    got = {
        r.grp: (r.n_rows, r.sum_val)
        for r in V.read_version(spark, pv).collect()
    }
    assert got[0][0] == 20

    # rewrite range: upsert moves ids 0..9 to grp 2 with val 5
    V.merge_upsert(
        spark, ps,
        spark.createDataFrame(
            [(i, 2, 5) for i in range(10)], "id long, grp long, val long"
        ),
        "id",
    )
    V.maintain_agg_view(spark, ps, pv, ("grp",), ("val",), key="id")
    want = {}
    for i in range(60):
        g, v = (2, 5) if i < 10 else (i % 3, (i * 7) % 50)
        n, s = want.get(g, (0, 0))
        want[g] = (n + 1, s + v)
    got = {
        r.grp: (r.n_rows, r.sum_val)
        for r in V.read_version(spark, pv).collect()
    }
    assert got == want

    # a group emptied by churn drops from the view
    V.delete_rows(
        spark, ps,
        spark.createDataFrame(
            [(i,) for i in range(60) if i >= 10 and i % 3 == 1],
            "id long",
        ),
        "id",
    )
    V.maintain_agg_view(spark, ps, pv, ("grp",), ("val",), key="id")
    left = {r.grp for r in V.read_version(spark, pv).collect()}
    assert 1 not in left and {0, 2} <= left

    # float sums refused at seed
    pf = str(tmp_path / "fsrc")
    V.write_snapshot(
        spark.createDataFrame(
            [(1, 0, 1.5)], "id long, grp long, fval double"
        ),
        pf,
    )
    with _pytest.raises(ValueError, match="integer-typed"):
        V.maintain_agg_view(
            spark, pf, str(tmp_path / "fv"), ("grp",), ("fval",)
        )

    # config mismatch refused
    with _pytest.raises(ValueError, match="different aggregate"):
        V.maintain_agg_view(spark, ps, pv, ("grp",), (), key="id")
    # a plain table is not a view
    with _pytest.raises(ValueError, match="not an aggregate view"):
        V.maintain_agg_view(spark, ps, ps, ("grp",), ("val",))

    # a sum or sum of squares past a long is refused and commits
    # nothing, on seed and on tick, with ANSI off (plain long arithmetic
    # wraps silently) as with ANSI on (it raises ArithmeticException)
    ansi_key = "spark.sql.ansi.enabled"
    ansi = spark.conf.get(ansi_key)
    schema = "id long, grp long, val long"
    try:
        for mode in ("false", "true"):
            spark.conf.set(ansi_key, mode)
            po, pov = str(tmp_path / f"o{mode}"), str(tmp_path / f"ov{mode}")
            big = 4_000_000_000  # square > 2^63
            V.write_snapshot(
                spark.createDataFrame([(1, 0, big), (2, 0, big)], schema), po
            )
            with _pytest.raises(ValueError, match="overflows a long"):
                V.maintain_agg_view(
                    spark, po, pov, ("grp",), sumsq_cols=("val",)
                )
            assert V.list_versions(pov) == []
            half = 1 << 62  # one fits, two sum to 2^63
            V.write_snapshot(
                spark.createDataFrame([(1, 0, half)], schema), po
            )
            V.maintain_agg_view(spark, po, pov, ("grp",), ("val",))
            V.append_snapshot(
                spark.createDataFrame([(2, 0, half)], schema), po
            )
            with _pytest.raises(ValueError, match="overflows a long"):
                V.maintain_agg_view(spark, po, pov, ("grp",), ("val",))
            assert len(V.list_versions(pov)) == 1
            kept = V.read_version(spark, pov).collect()
            assert [r.sum_val for r in kept] == [half]
    finally:
        spark.conf.set(ansi_key, ansi)


def test_replicate_skips_content_preserving_ranges(spark, tmp_path):
    """Replication across upstream compactions: a mixed range rewinds
    to the newest content-changing version (keyless append fast path
    survives a compaction tail), a compaction-only range advances the
    cursor in one metadata commit (replicate-skip, no read), and a
    real delete in the range still demands key=."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    p, r = str(tmp_path / "src"), str(tmp_path / "rep")
    V.write_snapshot(spark.range(0, 60).selectExpr("id AS k"), p)
    V.replicate(spark, p, r)
    V.append_snapshot(spark.range(60, 80).selectExpr("id AS k"), p)
    V.optimize(spark, p)
    V.optimize(spark, p)  # v3: append + compaction tail
    V.replicate(spark, p, r)  # keyless
    assert V.read_version(spark, r).count() == 80
    assert V.list_versions(r)[-1]["repl_cursor"] == 3

    V.optimize(spark, p)  # v4: compaction-only range
    v = V.replicate(spark, p, r)
    m = V.list_versions(r)[-1]
    assert m["operation"] == "replicate-skip" and m["repl_cursor"] == 4
    assert V.read_version(spark, r).count() == 80
    assert V.replicate(spark, p, r) == v  # replay no-op

    V.delete_rows_mor(
        spark, p, spark.createDataFrame([(5,)], "k long"), "k"
    )
    V.materialize_dvs(spark, p)  # v6: delete under a preserving tail
    with _pytest.raises(ValueError, match="pass key="):
        V.replicate(spark, p, r)
    V.replicate(spark, p, r, key="k")
    assert V.read_version(spark, r).count() == 79


def test_table_changes_content_preserving_tail(spark, tmp_path):
    """A feed range ending in optimize / materialize_dv commits diffs
    against the newest content-CHANGING version (those verbs rewrite
    physics, never content — hash-identity pinned by their own oracle
    lanes): append+compact stays a keyless dir-diff, a
    compaction-only range is an empty no-scan feed, MOR
    delete+materialize keeps its keyless delete images, and a view
    over a compacting source advances without key=."""
    import uts_spark.sources.versioned as V

    p = str(tmp_path / "cp")
    V.write_snapshot(
        spark.range(0, 50).selectExpr("id AS k", "id % 5 AS g"), p
    )
    V.append_snapshot(
        spark.range(50, 70).selectExpr("id AS k", "id % 5 AS g"), p
    )
    V.optimize(spark, p)  # v2
    f = V.table_changes(spark, p, 0, 2)  # no key=
    assert {r._change_type for r in f.collect()} == {"insert"}
    assert f.count() == 20
    assert V.table_changes(spark, p, 1, 2).count() == 0

    V.delete_rows_mor(
        spark, p, spark.createDataFrame([(3,), (7,)], "k long"), "k"
    )
    V.materialize_dvs(spark, p)  # v4
    dels = sorted(
        r.k
        for r in V.table_changes(spark, p, 2, 4).collect()
        if r._change_type == "delete"
    )
    assert dels == [3, 7]

    pv = str(tmp_path / "cpv")
    V.maintain_agg_view(spark, p, pv, ("g",), ())
    V.append_snapshot(
        spark.range(70, 80).selectExpr("id AS k", "id % 5 AS g"), p
    )
    V.optimize(spark, p)
    V.maintain_agg_view(spark, p, pv, ("g",), ())  # keyless tick
    assert (
        sum(r.n_rows for r in V.read_version(spark, pv).collect()) == 78
    )


def test_table_changes_composite_key(spark, tmp_path):
    """Composite row identity (round 11): ``key=("k1","k2")`` diffs
    rewrite ranges by the column COMBINATION — neither column unique
    alone — with the usual insert/delete/update images, the
    changed-columns option, and the duplicate-combination refusal."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    p = str(tmp_path / "ck")
    rows0 = [(i % 7, i // 7, i, i * 2) for i in range(49)]
    V.write_snapshot(
        spark.createDataFrame(rows0, "k1 long, k2 long, a long, b long"),
        p,
    )
    rows1 = [
        (x, y, a + (10 if x == 2 else 0), b)
        for x, y, a, b in rows0 if y != 5
    ] + [(9, 9, 1, 1)]
    V.write_snapshot(
        spark.createDataFrame(rows1, "k1 long, k2 long, a long, b long"),
        p,
    )
    feed = V.table_changes(
        spark, p, 0, 1, key=("k1", "k2"), with_changed_columns=True
    )
    by = {}
    for r in feed.collect():
        by.setdefault(r._change_type, []).append(r)
    assert len(by["delete"]) == 7 and len(by["insert"]) == 1
    assert len(by["update_preimage"]) == 6
    assert all(
        r._changed_columns == ["a"] for r in by["update_postimage"]
    )
    # duplicate COMBINATION refuses (each column separately repeats
    # legitimately above)
    p2 = str(tmp_path / "ckdup")
    V.write_snapshot(
        spark.createDataFrame(
            [(1, 1, 1), (1, 1, 2)], "k1 long, k2 long, a long"
        ),
        p2,
    )
    V.write_snapshot(
        spark.createDataFrame([(1, 2, 1)], "k1 long, k2 long, a long"),
        p2,
    )
    with _pytest.raises(ValueError, match="duplicate"):
        V.table_changes(spark, p2, 0, 1, key=("k1", "k2")).collect()


def test_maintain_agg_view_up_to_catchup(spark, tmp_path):
    """Bounded catch-up ticks: up_to= pins the tick's target source
    version (seed included), each slice is its own atomic commit, an
    already-ahead tick no-ops, and an unknown version refuses."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    ps, pv = str(tmp_path / "s"), str(tmp_path / "v")
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, i % 2, i) for i in range(lo, hi)],
        "id long, grp long, val long",
    )
    V.write_snapshot(mk(0, 10), ps)        # v0
    V.append_snapshot(mk(10, 15), ps)      # v1
    V.append_snapshot(mk(15, 18), ps)      # v2

    def s_all():
        return sum(
            r.sum_val for r in V.read_version(spark, pv).collect()
        )

    V.maintain_agg_view(spark, ps, pv, ("grp",), ("val",), key="id", up_to=0)
    assert s_all() == sum(range(10))
    V.maintain_agg_view(spark, ps, pv, ("grp",), ("val",), key="id", up_to=1)
    assert s_all() == sum(range(15))
    # already-ahead: up_to below the cursor is a committed no-op
    v = V.maintain_agg_view(
        spark, ps, pv, ("grp",), ("val",), key="id", up_to=0
    )
    assert v == V.current_version(pv) and s_all() == sum(range(15))
    V.maintain_agg_view(spark, ps, pv, ("grp",), ("val",), key="id")
    assert s_all() == sum(range(18))
    with _pytest.raises(ValueError, match="not found"):
        V.maintain_agg_view(
            spark, ps, pv, ("grp",), ("val",), key="id", up_to=9
        )


def test_read_view_asof_source_version(spark, tmp_path):
    """Time travel indexed by the SOURCE's history: each view tick
    records the source cursor it materializes, so asof resolves to
    the newest tick not after the asked source version — exact on
    tick boundaries, newest-not-after between them, loud refusal
    before the seed."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    ps, pv = str(tmp_path / "s"), str(tmp_path / "v")
    V.write_snapshot(
        spark.createDataFrame(
            [(i, i % 2, i) for i in range(10)],
            "id long, grp long, val long",
        ),
        ps,
    )  # src v0
    V.append_snapshot(
        spark.createDataFrame([(100, 0, 100)], "id long, grp long, val long"),
        ps,
    )  # src v1 (before the view exists)
    V.maintain_agg_view(spark, ps, pv, ("grp",), ("val",), key="id")
    V.append_snapshot(
        spark.createDataFrame([(101, 0, 50)], "id long, grp long, val long"),
        ps,
    )  # src v2
    V.append_snapshot(
        spark.createDataFrame([(102, 0, 7)], "id long, grp long, val long"),
        ps,
    )  # src v3 — NOT yet ticked into the view
    V.advance_view(spark, pv)  # tick at v3

    def s0(df):
        return {r.grp: r.sum_val for r in df.collect()}[0]

    base = sum(i for i in range(10) if i % 2 == 0)
    # exact tick boundaries
    assert s0(V.read_view_asof(spark, pv, 1)) == base + 100
    assert s0(V.read_view_asof(spark, pv, 3)) == base + 100 + 50 + 7
    # between ticks: newest not-after (v2 has no tick; v1's state)
    assert s0(V.read_view_asof(spark, pv, 2)) == base + 100
    # before the seed cursor: refuse loudly
    with _pytest.raises(ValueError, match="no tick at or before"):
        V.read_view_asof(spark, pv, 0)
    # non-views refuse
    with _pytest.raises(ValueError, match="not an aggregate view"):
        V.read_view_asof(spark, ps, 1)


def test_view_chain_and_janitor_topo_order(spark, tmp_path):
    """A view maintained OVER another view (composite key = the inner
    view's group columns) stays exact across source churn, and the
    janitor advances chained views ancestors-first even when
    alphabetical entry order is adversarial (the dependent registered
    as 'a_*', its source as 'b_*')."""
    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        catalog_maintenance_tick,
        register_entry,
    )

    ps = str(tmp_path / "src")
    pdv = str(tmp_path / "daily")
    pw = str(tmp_path / "weekly")
    rows = [(i, i % 10, i % 4, (i * 3) % 20) for i in range(80)]
    V.write_snapshot(
        spark.createDataFrame(
            rows, "id long, day long, cat long, val long"
        ),
        ps,
    )
    V.maintain_agg_view(spark, ps, pdv, ("day", "cat"), ("val",), key="id")
    V.maintain_agg_view(
        spark, pdv, pw, ("cat",), ("sum_val", "n_rows"),
        key=("day", "cat"),
    )

    def weekly():
        return {
            r.cat: (r.n_rows, r.sum_sum_val, r.sum_n_rows)
            for r in V.read_version(spark, pw).collect()
        }

    def expect(alive):
        out = {}
        for i, day, cat, val in alive:
            e = out.setdefault(cat, [set(), 0, 0])
            e[0].add((day, cat))
            e[1] += val
            e[2] += 1
        return {c: (len(e[0]), e[1], e[2]) for c, e in out.items()}

    assert weekly() == expect(rows)

    cat = str(tmp_path / "cat")
    register_entry(cat, "a_weekly", pw, kind="view")
    register_entry(cat, "b_daily", pdv, kind="view")
    rows += [(100 + i, 3, 1, 7) for i in range(5)]
    V.append_snapshot(
        spark.createDataFrame(
            [(100 + i, 3, 1, 7) for i in range(5)],
            "id long, day long, cat long, val long",
        ),
        ps,
    )
    rep = {
        r["name"]: r for r in catalog_maintenance_tick(spark, cat)
    }
    # one tick advances BOTH: daily first (topo), weekly sees it
    assert rep["b_daily"]["view_advanced"] is not None
    assert rep["a_weekly"]["view_advanced"] is not None
    assert weekly() == expect(rows)


def test_maintain_agg_view_minmax_hybrid(spark, tmp_path):
    """min/max view columns (hybrid IVM): inserts merge purely
    (least/greatest, any orderable type — strings included); a delete
    attaining a group's extremum regresses that group and recomputes
    it from the source; non-attaining deletes leave extrema
    untouched; config mismatch on mins/maxs refuses."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V

    ps = str(tmp_path / "src")
    pv = str(tmp_path / "view")
    rows = [(i, i % 2, (i * 13) % 40, f"s{(i * 7) % 20:02d}") for i in range(40)]
    V.write_snapshot(
        spark.createDataFrame(rows, "id long, grp long, val long, tag string"),
        ps,
    )
    V.maintain_agg_view(
        spark, ps, pv, ("grp",), ("val",), key="id",
        min_cols=("val", "tag"), max_cols=("val",),
        sumsq_cols=("val",),
    )

    def view():
        return {
            r.grp: (r.n_rows, r.min_val, r.min_tag, r.max_val, r.sumsq_val)
            for r in V.read_version(spark, pv).collect()
        }

    def expect(alive):
        out = {}
        for i, g, v, t in alive:
            e = out.setdefault(g, [0, 10**9, "zz", -1, 0])
            e[0] += 1
            e[1] = min(e[1], v)
            e[2] = min(e[2], t)
            e[3] = max(e[3], v)
            e[4] += v * v
        return {g: tuple(e) for g, e in out.items()}

    assert view() == expect(rows)

    # pure-merge append: new string min + numeric max for grp 1
    V.append_snapshot(
        spark.createDataFrame(
            [(100, 1, 99, "a00")], "id long, grp long, val long, tag string"
        ),
        ps,
    )
    V.advance_view(spark, pv)
    alive = rows + [(100, 1, 99, "a00")]
    assert view() == expect(alive)

    # attaining delete: remove ONE row holding grp 0's min val ->
    # regression recompute from source (the second attaining row keeps
    # the same min — recompute must find it)
    min0 = min(v for i, g, v, t in rows if g == 0)
    vics = [i for i, g, v, t in rows if g == 0 and v == min0][:1]
    V.delete_rows_mor(
        spark, ps,
        spark.createDataFrame([(x,) for x in vics], "id long"), "id",
    )
    V.advance_view(spark, pv)
    alive = [r for r in alive if r[0] not in vics]
    assert view() == expect(alive)

    # non-attaining delete leaves extrema; counts drop
    allv1 = sorted(v for i, g, v, t in alive if g == 1)
    vic2 = [
        i for i, g, v, t in alive
        if g == 1 and v not in (allv1[0], allv1[-1])
        and t not in (min(t for *_, t in alive),)
    ][:1]
    V.delete_rows_mor(
        spark, ps,
        spark.createDataFrame([(x,) for x in vic2], "id long"), "id",
    )
    V.advance_view(spark, pv)
    alive = [r for r in alive if r[0] not in vic2]
    assert view() == expect(alive)

    # maintaining with different extrema config refuses
    with _pytest.raises(ValueError, match="different aggregate"):
        V.maintain_agg_view(
            spark, ps, pv, ("grp",), ("val",), key="id",
            min_cols=("val",),
        )


def test_catalog_janitor_advances_views(spark, tmp_path):
    """Round 11: registered aggregate views refresh on the
    maintenance tick — the view's own manifest carries source +
    config (advance_view), a tick after source churn advances it, a
    tick with nothing new reports None, and read_table/
    register_sql_views treat views as readable tables."""
    import pytest as _pytest

    import uts_spark.sources.versioned as V
    from uts_spark.sources.catalog import (
        catalog_maintenance_tick,
        read_table,
        register_entry,
        register_sql_views,
    )

    cat = str(tmp_path / "cat")
    ps = str(tmp_path / "src")
    pv = str(tmp_path / "view")
    V.write_snapshot(
        spark.createDataFrame(
            [(i, i % 3, i % 10) for i in range(30)],
            "id long, grp long, val long",
        ),
        ps,
    )
    V.maintain_agg_view(spark, ps, pv, ("grp",), ("val",), key="id")
    register_entry(cat, "src", ps)
    register_entry(cat, "mv", pv, kind="view")

    # source churn -> the tick advances the view
    V.append_snapshot(
        spark.createDataFrame(
            [(100 + i, 1, 7) for i in range(5)],
            "id long, grp long, val long",
        ),
        ps,
    )
    rep = {r["name"]: r for r in catalog_maintenance_tick(spark, cat)}
    assert rep["mv"]["view_advanced"] is not None
    got = {
        r.grp: (r.n_rows, r.sum_val)
        for r in read_table(spark, cat, "mv").collect()
    }
    assert got[1] == (10 + 5, sum(i % 10 for i in range(30) if i % 3 == 1) + 35)

    # quiet source -> no-op advance, honest None
    rep = {r["name"]: r for r in catalog_maintenance_tick(spark, cat)}
    assert rep["mv"]["view_advanced"] is None

    # views ride the SQL surface like tables
    out = register_sql_views(spark, cat)
    assert "mv" in out and out["mv"]["hinted"]
    n = spark.sql("SELECT count(*) c FROM mv").first()["c"]
    assert n == 3
    for v in ("src", "mv"):
        spark.catalog.dropTempView(v)

    # advance_view refuses non-views and src-less views
    with _pytest.raises(ValueError, match="not an aggregate view"):
        V.advance_view(spark, ps)

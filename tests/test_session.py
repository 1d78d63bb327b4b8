"""Session-level behaviour of ``uts_spark.session.get_spark``."""

# the perfbench tsq lanes: 105 distinct compiled classes on a fresh
# session (sf0.001 and sf0.01), more than Spark's default codegen cache
# of 100 entries, at which the second run recompiled 55 of them
_LANES = (
    "uts_global_agg",
    "uts_interval_mean_fill",
    "uts_derivative",
    "tpch_q1_pricing",
    "tpch_q3_topk",
    "ts_mad_anomaly",
)


def test_codegen_cache_holds_a_recurring_lane_set(spark, sf_dir):
    """A lane set run twice compiles nothing the second time: its
    whole-stage classes stay in the codegen cache. At Spark's default
    size the LRU cycles through the set and the second run recompiles
    about half of it."""
    from uts_spark.registry import QUERIES

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def run_all() -> int:
        before = compiles.getCount()
        for lane in _LANES:
            QUERIES[lane](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    run_all()
    assert run_all() == 0

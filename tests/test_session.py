"""SparkSession factory (session.py): the no-clobber guard must hold from
ANY thread — getActiveSession() is thread-local, so a get_spark() call in a
worker thread (foreachBatch handler, ThreadPoolExecutor task) used to fall
into the builder path and re-apply static configs to the shared live
session (observed: spark.sql.shuffle.partitions 4 → 32, fanning every
subsequent write into tiny files)."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from f1_data_pipeline_spark.session import get_spark


def test_get_spark_from_worker_thread_does_not_clobber(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def worker():
        s = get_spark()  # no explicit shuffle_partitions — must not reset
        return s.conf.get("spark.sql.shuffle.partitions")

    with ThreadPoolExecutor(max_workers=1) as ex:
        seen = ex.submit(worker).result()
    assert seen == before
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_get_spark_same_thread_reuses_and_honors_explicit_request(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    s = get_spark()
    assert s.conf.get("spark.sql.shuffle.partitions") == before
    try:
        s2 = get_spark(shuffle_partitions=7)  # explicit request IS honored
        assert s2.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_codegen_cache_holds_a_workload_pass(spark, sf_dir):
    """One pass of the benchmark's five analytics queries compiles about 90
    classes. With Spark's default cache cap (100 entries in 4 LRU segments of
    25) a segment overflows and the next pass recompiles; get_spark's cap
    keeps the whole pass cached."""
    from f1_data_pipeline_spark.queries import QUERIES

    keys = ("standings_recompute", "pricing_summary", "top_revenue_orders",
            "window_sums", "range_join")
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def run_pass():
        before = compiled.getCount()
        for k in keys:
            QUERIES[k](spark, sf_dir).collect()
        return compiled.getCount() - before

    run_pass()  # compiles what earlier tests have not
    assert run_pass() == 0

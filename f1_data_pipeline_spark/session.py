"""SparkSession factory.

Single place where engine-level configuration is decided. Everything here is
chosen for the 100 TB design target and merely *scaled down* for local test
runs — the knobs that matter at scale (AQE, skew handling, broadcast
threshold, partition sizing) are on by default so local plans are shaped the
same way cluster plans would be.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs applied even when the caller hands us an existing session
# (the correctness driver owns its own SparkSession — these must all be
# settable at runtime, not static).
RUNTIME_CONFS: dict[str, str] = {
    # Testdata `events.ts` is parquet INT64 TIMESTAMP(NANOS); Spark has no
    # ns timestamp — read as long and convert explicitly (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and plan re-optimization. Essential at scale; harmless small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic time semantics for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Dimension tables in this schema are tiny; keep the default 10 MB
    # threshold (explicit so it's a reviewed decision, not an accident).
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    # Manifest-table reads pass EXACT file paths (the manifest IS the
    # listing). Spark's default threshold (32) routes >32 paths through a
    # parallel-discovery Spark JOB whose launch cost (~1 s) dominated
    # every incremental manifest merge at bench scale; below the
    # threshold the driver stats paths directly in ~0.1 s. 256 keeps
    # small incremental reads driver-side while genuinely huge path
    # lists (full scans of thousand-partition tables on object stores)
    # still fan out. Measured in tools/scale_probe.py manifest_crossover.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "256",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an externally-created session (driver harness)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf locked by the host session: proceed — only nanosAsLong is
            # load-bearing and it is runtime-settable on Spark 4.
            pass
    return spark


def get_spark(
    app_name: str = "f1_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Local test default: local[$SPARK_GRAFT_CPUS or *] with shuffle
    partitions matched to core count — on a real cluster, shuffle
    partitions are left to AQE coalescing from a higher initial value.
    """
    # getActiveSession() is THREAD-LOCAL: a get_spark() call from a worker
    # thread (foreachBatch handler, ThreadPoolExecutor task) sees None there
    # even while a session is live, would fall into the builder path, and
    # re-apply static configs to the shared session — the exact clobber this
    # guard exists to prevent. SparkSession.active() falls back to the
    # process-global default session, so consult both.
    existing = SparkSession.getActiveSession()
    if existing is None:
        try:
            existing = SparkSession.active()
        except Exception:
            existing = None
    if existing is not None:
        # Builder .config(...) on getOrCreate APPLIES those configs to an
        # already-running session — a second get_spark() from a CLI entry
        # point or library call would silently clobber the host session's
        # shuffle partitioning (observed: a 4-partition test session bumped
        # to 32, fanning every subsequent write into tiny files). Reuse the
        # live session, apply only the runtime confs, and honor an
        # EXPLICIT shuffle_partitions request; `master` cannot change on a
        # live session and is ignored here.
        if shuffle_partitions is not None:
            existing.conf.set(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        return apply_runtime_confs(existing)

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Generated-code cache (static, so builder-only). The default cap of
        # 100 is split by Guava across 4 segments of 25 LRU entries each; one
        # pass of a five-query workload compiles about 90 distinct classes,
        # so some segment overflows and every pass recompiled 20-30 classes
        # and ran its hot loops in fresh, un-JITted code. 1000 holds about
        # ten such working sets.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)

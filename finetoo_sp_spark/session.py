"""SparkSession factory with scale-appropriate defaults.

Defaults are tuned for correctness + local benchmarking, but every knob is
the one you would also set on a 1000-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (vectorized pandas UDF transfer);
- session timezone pinned to UTC (duckdb oracle comparison; duckdb
  timestamps are UTC-naive);
- shuffle partitions ~ cores locally (the 200 default over-parallelizes
  small data and under-parallelizes huge data).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_ENV_DEFAULT = "__env_default__"


def local_cpus() -> int:
    """local[N] parallelism: ``$SPARK_GRAFT_CPUS``, else the host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "finetoo_sp_spark",
    master: str | None = _ENV_DEFAULT,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[N]``, N = :func:`local_cpus`.
    Pass ``master=None`` under spark-submit: the builder then inherits
    --master instead of overriding it (setting .master() here would
    silently win over the launch flag — the north-rule N-vs-4N runs
    depend on --master being authoritative).
    """
    cpus = local_cpus()
    if master == _ENV_DEFAULT:
        master = f"local[{cpus}]"
    # a quarter of physical memory, capped at 16g, so that two harnesses
    # fit on one host
    heap_mb = min(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 22, 16 << 10)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap_mb}m"))
        # High-thread-count local mode stalls on G1's GCLocker: Arrow /
        # compression JNI critical sections block young-gen GC and tasks
        # fail with "Retried waiting for GCLocker too often". Parallel GC
        # has no such stall for this batchy allocation profile, and a
        # higher retry count absorbs the rest. (Real clusters run 4-8
        # cores per executor JVM and rarely hit this.)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC -XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=100",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+UseParallelGC -XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=100",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        # cores-ish shuffle partitions; on a real cluster ~2-3x total
        # executor cores (AQE coalesces the excess anyway).
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def ensure_parallelism(df):
    """Repartition a DataFrame up to the session's default parallelism
    when its scan produced far fewer partitions than there are cores.

    Why: the local test tables are single-row-group parquet files —
    unsplittable, so every CPU-heavy NARROW stage downstream (shingle
    generation, per-word hashing, the extraction kernel) runs on ONE
    core while 31 idle (measured 5.2 s -> 0.6 s on the sf0.1 shingle
    pass). On a real cluster the input arrives in thousands of >=128 MB
    splits and this is a no-op — the guard makes the extra shuffle
    strictly a small-input rescue, never a corpus-scale cost. All
    callers' downstream semantics are partition-order independent
    (asserted by the determinism pytests).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df

"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configs below are
chosen to also be the right defaults on a real multi-executor cluster:
AQE for runtime re-planning (skew joins, partition coalescing),
Arrow for any pandas-UDF hop, UTC session time so timestamp semantics
are stable across engines (the DuckDB oracle is naive/UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import file_indexer_spark

# Python workers run under pydaemon.py, which stops PySpark from
# re-parsing pyspark.zip on every task; its package root goes on the
# workers' PYTHONPATH so the daemon imports from any driver cwd.
PYTHON_DAEMON = "file_indexer_spark.pydaemon"
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(file_indexer_spark.__file__)))

# At 100 TB the shuffle-partition count should be sized so each task's
# shuffle block is ~128-512 MB; AQE coalesces down from a high initial
# number, so err high on clusters. For local[32] tests, 32 is right.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Garbage collector for the batch engine (guide §5: memory pressure is
# a first-class performance input). JDK 17's default G1 optimizes for
# pause latency and, measured on this workload, stalls every task
# thread for seconds at a time under allocation-heavy stages (32
# concurrent tasks, HOF-generated short-lived arrays): sim5's scoring
# stage ran 10.9 s wall with 0.4 s CPU per task under G1/16g vs 3.9 s
# with the throughput collector at the SAME heap (OPTIMIZATION_r12.md,
# "GC pathology"). The round-13 controlled A/B (full bench per
# collector, same host, matched canaries 0.41-0.42 — BENCH_GC_AB_r13
# .json) settled the r12 open question: ParallelGC wins BOTH halves
# (headline 3.77 s vs G1 6.09 / ZGC 5.44; all_queries 252.8 s vs G1
# 302.6 / ZGC 268.9). Batch analytics wants throughput, not pause
# latency; override with SPARK_GRAFT_GC_OPTS (e.g. "-XX:+UseZGC") or
# "" to keep the JVM default.
GC_OPTS = os.environ.get("SPARK_GRAFT_GC_OPTS", "-XX:+UseParallelGC")

# Spark's generated-code cache is a static conf; by default it keeps 100
# compiled classes. An entry is keyed by source and class loader, so a
# stage's planning-time check compile and its tasks' copy take two. One op
# of this engine uses more than 100, so the LRU evicted each class before
# its next use: measured on the benchmark (4-vCPU VM, local[4]), a warm
# `index` op Janino-compiled ~180 classes and a catalog request 6-29, and
# HotSpot JIT-compiled every new class again. The bound covers the
# largest working set measured without misses, 330 classes for one pass
# of dd19, with headroom because Guava splits it over 4 segments
# (PERFORMANCE.md, "Measured engine facts" 5).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "file_indexer_spark",
    shuffle_partitions: int | None = None,
    cpus: int | str | None = None,
) -> SparkSession:
    """``cpus`` overrides the ``local[N]`` core count (default: the
    driver contract's $SPARK_GRAFT_CPUS). The pytest session passes a
    smaller value: at test scale (sf0.001/sf0.01) 32-way task fan-out
    is pure scheduling overhead — the r13 suite profile measured 24 min
    of SYSTEM time on a 56-min run, collapsing when the test session
    runs local[8] (OPTIMIZATION_r13.md)."""
    cpus = str(cpus) if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", PYTHON_DAEMON)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
    )
    if GC_OPTS:
        builder = builder.config(
            "spark.driver.extraJavaOptions", GC_OPTS
        ).config("spark.executor.extraJavaOptions", GC_OPTS)
    builder = builder.config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # driver extraJavaOptions and static SQL confs only take effect when
    # THIS process launched the JVM; if getOrCreate returned an
    # already-running session they were silently ignored — make that
    # visible instead of benchmarking under the wrong collector or
    # codegen cache (ADVICE r12).
    ignored = []
    if GC_OPTS:
        active = spark.conf.get("spark.driver.extraJavaOptions", "") or ""
        if GC_OPTS not in active:
            ignored.append(f"GC opts {GC_OPTS!r} (spark.driver.extraJavaOptions is {active!r})")
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    if cache != str(CODEGEN_CACHE_ENTRIES):
        ignored.append(
            f"spark.sql.codegen.cache.maxEntries={CODEGEN_CACHE_ENTRIES} (active: {cache})"
        )
    if ignored:
        import warnings

        warnings.warn(
            "the JVM was created elsewhere; NOT applied: " + "; ".join(ignored),
            stacklevel=2,
        )
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: one per miss of
    the generated-code cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally created session.

    The correctness driver hands us its own SparkSession; timestamp
    comparisons against the DuckDB oracle require UTC session time and
    we want AQE on for every operator. Only runtime-mutable confs here:
    static ones (the GC flag, ``spark.sql.codegen.cache.maxEntries``)
    cannot be set on a running JVM; only ``get_spark`` applies them.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # events.parquet stores TIMESTAMP(NANOS); surface as long nanos
        # (events_df converts to microsecond timestamps)
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-runtime conf on this build — keep going
    return spark

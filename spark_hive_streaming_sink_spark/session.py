"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime shuffle coalescing, skew-join splitting, dynamic broadcast),
Arrow for any Python exchange, UTC session time zone (matches the
DuckDB oracle's naive timestamps), and shuffle partitions sized to the
parallelism at hand. On a 1000-executor cluster the only knobs that
change are ``master``, ``spark.sql.shuffle.partitions`` (or rely on
AQE's coalescing from a high initial value), and memory sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory in whole GiB (at least 1g): local
    mode runs everything in the driver JVM, and a heap sized past the
    host's memory would let it grow until the OS kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "spark-hive-streaming-sink-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # ones, convert to broadcast at runtime — required posture at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark reads it as
        # a long when this flag is set — io.load_table converts to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark's default 10 MB. Deliberately NOT raised: every intended
        # dimension broadcast in this engine is an explicit F.broadcast(),
        # and AQE upgrades shuffle joins to broadcast at runtime from
        # ACTUAL sizes. A high static threshold lets Catalyst broadcast
        # size-underestimated aggregates (e.g. a HAVING-filtered groupBy
        # over the fact table) — measured 4× slowdown on q18 at the ×30
        # stress scale, and a driver OOM waiting to happen at 100 TB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # local mode = driver-only JVM; this is the one memory knob
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        # A long-lived session compiles one generated class per
        # whole-stage-codegen subtree; at the JVM's default ~240 MB
        # ReservedCodeCacheSize a many-query session exhausts the code
        # cache, the JIT stops compiling, and fresh queries run
        # interpreted (measured 5-8× first-run stalls, e.g. 32s → 4s on
        # the same plan). Same knob a production cluster sets via
        # spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark

"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a cluster deployment would set per
executor; the scale story is in the *plan shape* (broadcasts, partial
aggs, pushdown), which is identical on a 1000-executor cluster.
"""

from __future__ import annotations

import contextlib
import os
import re
from collections.abc import Iterator

from pyspark.sql import SparkSession

# Local cores (SPARK_GRAFT_CPUS, read once): the local[N] master and
# the default shuffle partition count.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries in Spark's generated-class cache (static conf
# spark.sql.codegen.cache.maxEntries; Spark's default is 100). The
# engine runs one fixed set of plans again and again, so the cache must
# hold all of them or every warm run recompiles its classes with Janino
# on the driver. Working set, counted as Janino compiles in a cold
# local[1] JVM (codegen_compiles below) with the package shipped to the
# workers: 1,925 classes for one pass over the 151 named queries at
# sf0.001 (Python-UDF queries included), plus 239 for the warehouse
# snapshot and one pass over the 15 serving endpoints (130 + 109).
# 4096 is about twice their sum.
CODEGEN_CACHE_ENTRIES = 4096

# JVM byte-size literal: digits plus an optional unit — 'b', or one of
# k/m/g/t optionally followed by 'b' (e.g. "64m", "64mb", "1048576").
_SIZE_RE = re.compile(r"^[0-9]+(?:b|[kmgt]b?)?$", re.IGNORECASE)


def _advisory_partition_bytes() -> str:
    """Resolve the AQE advisory partition size from the env seam.

    A malformed value fails with a ValueError naming
    SPARK_GRAFT_ADVISORY_PARTITION_BYTES instead of an opaque JVM
    NumberFormatException at session creation.

    The unset default is Spark's own 64m. The same conf is also the
    size AQE splits skewed join partitions to (and the rebalance
    target), so a small default would shred a multi-GB hot-key
    partition on a cluster into thousands of splits, each re-reading
    the other join side. The local benchmark recipe (bench.py) exports
    1m itself: its shuffles are under 100 MB (sweep in SCALING.md).
    """
    raw = os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m")
    if not _SIZE_RE.match(raw.strip()):
        raise ValueError(
            "SPARK_GRAFT_ADVISORY_PARTITION_BYTES must be a byte-size "
            f"literal like '64m', '1m' or '1048576'; got {raw!r}"
        )
    return raw.strip()


def get_spark(
    app_name: str = "mspr2_back_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing, skew-join splitting, dynamic
      broadcast decisions survive a 100x scale-up better than static
      plans.
    - shuffle.partitions sized to cores locally; on a real cluster
      AQE coalesces the 32-partition default upward/downward from
      runtime stats anyway.
    - Arrow on: every toPandas()/applyInPandas crossing is batched.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions to the advisory size instead
        # of stopping at defaultParallelism, so a KB-sized stage runs
        # one task, not `cores` tasks: partition count follows bytes.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # The advisory size is the scale-dependent half of the pair
        # above, so it comes from the env seam (see
        # _advisory_partition_bytes). With 64m, shuffles between 64 MB
        # and cores x 64 MB coalesce to fewer partitions than cores and
        # serialize a local box (SCALING.md, the 64x probe).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            _advisory_partition_bytes(),
        )
        # Let AQE coalesce the plans that fill persisted relations, so
        # a cached relation is stored in data-proportional partitions.
        # Caches whose partitioning encodes compute density (the
        # shingle projection, the packed BLAS blocks) pin their count
        # with explicit-N repartitions, which AQE never rewrites.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Read un-adjusted parquet timestamps as session-TZ TIMESTAMP,
        # not TIMESTAMP_NTZ: watermarks and unix_micros require
        # TIMESTAMP, and the session TZ is pinned UTC so values are
        # identical. load_table additionally normalizes NTZ for
        # sessions built outside this factory (sources/readers.py).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Read nanosecond parquet timestamps as longs instead of
        # failing the scan; load_table truncates them to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # No Python call-site capture (a static conf; Spark's default
        # is true). With it on, PySpark wraps every Column and
        # DataFrame API call: an active-session lookup, a read of
        # spark.sql.stackTracesInDataFrameContext, a Python stack walk,
        # a failed `import IPython` and a set and clear of the JVM's
        # PySparkCurrentOrigin. F.col("x") measured 13 py4j round trips
        # and 1.3 ms on, 3 and 0.6 ms off (local[1], shared 4-core x86
        # host); F.col("x") + F.lit(1) 31 on, 7 off. Building one
        # perfbench analytics query makes hundreds to thousands of such
        # round trips (rfm_segments: 2,438 -> 925). Trade-off: an error
        # keeps its condition, message and SQLSTATE (DIVIDE_BY_ZERO
        # still raises), but its "== DataFrame ==" context names a JVM
        # frame instead of the Python file:line that built the column.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled by Janino in this JVM so far.

    Each compile is a miss in the class cache that
    CODEGEN_CACHE_ENTRIES sizes, so over a warm pass of a fixed set of
    plans the delta of this count should be 0.
    """
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@contextlib.contextmanager
def job_group(spark: SparkSession, group: str) -> Iterator[None]:
    """Run the block's Spark jobs under job group ``group`` (this
    thread only), restoring the outer group afterwards."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)


def group_jobs(spark: SparkSession, group: str) -> int:
    """Spark jobs run so far under job group ``group``. Waits for the
    listener bus to drain first, so call it outside timed regions."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))

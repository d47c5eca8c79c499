"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so the
same logical plans scale to a multi-executor cluster: AQE handles skew
and coalescing at runtime, shuffle partitions are sized for the local
core count (raise to ~2-3x total cores on a real cluster), and Arrow is
enabled for the pandas-UDF slow path.

Spark keeps every compiled whole-stage and expression class in one
JVM-wide LRU cache keyed by the generated source
(``spark.sql.codegen.cache.maxEntries``, default 100). A long-lived
session runs many catalog plans, and their working set is far larger
than 100 classes: the five perfbench ``catalog`` entries compile about
300 and the 28 headline entries about 740. Cycling through more plans
than an LRU holds evicts each class before its plan comes round again,
so every warm pass recompiled nearly all of them with Janino (and
loaded and JIT-compiled the new classes again). The cache is sized
by ``CODEGEN_CACHE_ENTRIES``; ``codegen_compiles`` reads the JVM's
compile counter, so a cold/warm gap can be attributed to codegen.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

# Generated-class cache entries. One session running all 412 catalog
# entries fills 7075 (the 28 headline entries 737, the five perfbench
# catalog entries 352), so 8192 holds the whole catalog with 16%
# headroom; Metaspace grew from 255 MB at 4000 entries to 281 MB at 7075.
# The conf is static and JVM-wide: it must be set before the first
# session.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(app_name: str = "production_grade_rag_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` overrides parallelism (driver contract).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # if testdata events.parquet stores TIMESTAMP(NANOS) (it has in
        # some regenerations) read it as a long, converted to a
        # microsecond timestamp in sources.tables; a timestamp[us]
        # encoding ignores this conf
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # let custom Python data sources (sources/paged_source.py)
        # consume pushed filters in pushFilters()
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (every codegen cache miss).

    A delta around a plan is the number of classes it compiled; 0 on a
    repeat means every class came from the cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def materialize(df: DataFrame, step: str) -> DataFrame:
    """Compute ``df`` now and cut its lineage: the package's one lineage
    cut.  Without a checkpoint dir this is ``df.localCheckpoint()``
    (executor-local blocks, lost with their executor); with
    ``sparkContext.setCheckpointDir`` set it is a reliable eager
    ``checkpoint()`` that survives executor loss.  The checkpoint job
    carries ``step`` as its job description; the caller's is restored."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(step)
    try:
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)
    finally:
        sc.setJobDescription(prev)


def scratch(name: str) -> str:
    """Path of the scratch dir ``name`` (dump round trips, versioned
    stores, graph stores) under this process's scratch root: one dir
    per process in the repo's gitignored ``spark-warehouse``, removed
    at exit.  A concurrent process can neither overwrite a store this
    one reads nor leave its own behind."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(root, "spark-warehouse", f"pid{os.getpid()}", name)


atexit.register(lambda: shutil.rmtree(scratch(""), ignore_errors=True))

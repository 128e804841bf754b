"""SparkSession factory tuned for the engine's workload.

Scale posture: AQE on (runtime coalesce + skew-join splitting), Arrow on
(every Pandas-UDF boundary is batched), shuffle partitions sized for the
local harness but overridable via env for a real cluster, and a modest
broadcast threshold so dimension tables (region/nation/supplier/part/
customer at typical SFs) broadcast instead of shuffling the fact side.
The whole-stage codegen class cache holds the engine's plan working set,
so a repeated op reuses its compiled classes instead of re-running Janino.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spider-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``); on a real cluster pass ``None`` and set the master via
    spark-submit — every other config below is cluster-safe.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPIDER_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Let AQE re-plan at runtime: coalesce tiny shuffle partitions,
        # split skewed ones, demote/promote join strategies.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dimension tables broadcast; AQE may still upgrade larger sides.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Timestamps in parquet are plain micros; keep session TZ stable.
        .config("spark.sql.session.timeZone", "UTC")
        # Scans: pack small files, keep splits executor-memory-friendly.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Generated-class cache (static conf, default 100 entries). The
        # perfbench olap queries need 191 distinct classes and a
        # webtext_build round 236, so at 100 the LRU evicts every class
        # before its op comes round again and Janino recompiles it each
        # time (~160 compiles per olap round; 0 at 1024).
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.driver.memory", os.environ.get("SPIDER_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-frames that have corrupted every
        # driver-parsed bench artifact (BENCH_r02..r04 "parsed: null");
        # stdout must stay machine-readable.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_parallelism(df, bytes_per_task: int = 64 << 10, target: int | None = None):
    """Fan a DataFrame out before an expensive narrow (Arrow-kernel)
    stage, sized so each task gets at least ``bytes_per_task`` of input.

    At real scale the scan already yields splits ≫ cores and this is a
    no-op (returns ``df`` untouched — no exchange added to the plan).
    On small inputs — a single parquet row group, a collapsed AQE stage —
    the downstream Arrow kernel would otherwise run on ONE core; a
    round-robin repartition of the (tiny) input costs far less than the
    serialized compute it unblocks. ``bytes_per_task`` encodes kernel
    weight: CPU-heavy per-byte kernels (string shingling) want small
    values (full cores), batch-amortized kernels (BLAS matmuls) want
    large values (fewer, bigger Arrow batches). Sizing reads optimizer
    plan statistics and the compiled partition count — no job runs.
    """
    if df.isStreaming:
        # micro-batch parallelism is the source's concern (file splits /
        # maxFilesPerTrigger); plan stats and .rdd are illegal on an
        # unstarted stream, and a repartition would add a per-batch
        # shuffle the stateless kernels don't need
        return df
    sc = df.sparkSession.sparkContext
    cores = target if target is not None else sc.defaultParallelism
    want = cores
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if 0 < size < (1 << 50):  # unknown stats report Long.MaxValue
            want = max(1, min(cores, size // bytes_per_task))
    except Exception:
        pass
    if want > 1 and df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df

"""SparkSession factory with scale-oriented defaults.

The defaults below are what we would submit to a 1000-executor cluster; on
``local[N]`` they are tuned down via ``shuffle_partitions``. Every knob is a
plain public Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "cosmwasm-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's standard config.

    - AQE on (runtime coalesce + skew-join mitigation; the reference has no
      skew handling at all — Postgres absorbed it; see SURVEY §4).
    - Arrow on (all extraction UDFs are pandas/Arrow-vectorized; no per-row
      Python anywhere in the engine).
    - Shuffle partitions sized to cores locally; on a real cluster this is
      set to ~2-3x total executor cores at submit time.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(cpus, 8))))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # int64 micros, not legacy INT96: INT96 carries NO min/max column
        # statistics, which would blind the lakehouse's ts-stats file
        # pruning (retention) — and Iceberg mandates int64 timestamps anyway
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # LakeTable reads name their parquet files explicitly (from the
        # commit log), and above this many paths Spark stats them in a
        # separate listing JOB. On the local filesystem that job costs a
        # point lookup ~0.3 s once base + delta files for its keys pass 32
        # (the default); stating 1,024 local files serially takes
        # milliseconds.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # Vectorized-reader batch size bounded so wide BINARY cells (8 KB
        # html pages) build ~8 MB value arrays instead of the default
        # 4096-row ~32 MB ones: with an 8 g heap G1 regions are 4 MB, so a
        # 32 MB byte[] is a humongous allocation needing 8 CONTIGUOUS free
        # regions — under two concurrent scans of the event log (a batch
        # apply beside a whole-log dead-letter pass, which has since been
        # removed) fragmentation made that reservation fail intermittently
        # (observed: "Cannot reserve additional contiguous bytes in the
        # vectorized reader", fatal to the whole local JVM). Kept: any two
        # concurrent scans of 8 KB pages can fragment the heap the same
        # way, and 1024 rows keeps narrow-table scan batches plenty large
        # while making payload-column vectors region-sized.
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            os.environ.get("SPARK_GRAFT_PARQUET_BATCH", "1024"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # 32 MB G1 regions raise the humongous-allocation threshold to 16 MB,
    # so the reader's payload-column arrays (and 16 MB Arrow batches) are
    # regular allocations G1 can place anywhere — belt to the
    # columnarReaderBatchSize suspender above. User opts come LAST so an
    # explicit SPARK_GRAFT_JAVA_OPTS flag overrides the default.
    jvm_opts = ("-XX:G1HeapRegionSize=32m " + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")).strip()
    builder = builder.config("spark.driver.extraJavaOptions", jvm_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession, parallelism: int | None = None) -> None:
    """Start (and warm) one Python/Arrow worker per core before timing or
    serving: the FIRST pandas-UDF stage in a session pays a multi-second
    one-time worker spin-up (measured ~40s at 32 cores for an 8 KB-payload
    stage) which would otherwise be misattributed to throughput."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    n = parallelism or int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _noop(x):
        return x

    # set real type objects: `from __future__ import annotations` would
    # stringify inline hints and break pandas_udf type inference
    _noop.__annotations__ = {"x": pd.Series, "return": pd.Series}
    udf = pandas_udf(_noop, "long")
    spark.range(n * 4).repartition(n).select(F.sum(udf(F.col("id")))).collect()

"""SparkSession factory.

Encodes the physical-execution decisions SURVEY.md section 4 maps from the
reference's layout hints (hash buckets / clustered indexes,
/root/reference/USQL/CreateGitHubDataTable.usql:23-26) onto Spark:

- UTC session timezone (all reference timestamps are UTC,
  /root/reference/USQL/CreateGitHubDataTable.usql:18-20) and required for
  DuckDB-oracle comparison (duckdb timestamps are UTC-naive).
- AQE on: runtime coalesce, auto-broadcast, skew-join handling replace the
  reference's static ``DISTRIBUTE HASH(k) INTO n`` bucket counts.
- Dynamic partition overwrite: the idempotent daily partition swap
  (/root/reference/USQL/StageData.usql:24-36) without drop/add DDL.
- Arrow enabled for the pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory() -> str:
    """Half the host's RAM, at most 48g: in local mode the executors run
    inside the driver JVM, and the Python workers need the other half."""
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(48, ram_gib // 2))}g"


def get_spark(
    app_name: str = "ghcrawler-datalake-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    Local-mode defaults come from the host: ``local[<cpu count>]`` and
    ``default_driver_memory()``, unless ``SPARK_GRAFT_CPUS`` /
    ``SPARK_GRAFT_DRIVER_MEM`` (or ``master`` / ``extra_conf``) say
    otherwise. On a real cluster the master/memory settings come from
    spark-submit and only the SQL confs below matter. Every conf here is
    also safe to set on an existing session via ``spark.conf`` except the
    memory ones, which are ignored after JVM start.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd parquet: markedly better ratio than snappy at similar read
        # speed, so every standing table/changefeed write ships and
        # stores fewer bytes. Measured locally on the write-heaviest IVM
        # queries: within noise of snappy (44.1s vs 45.2s over 3
        # queries), so the local bench loses nothing. Shuffle codec
        # stays lz4: bench-scale shuffles are KB-sized, no local signal,
        # and zstd shuffle trades CPU for bytes - a cluster measurement,
        # not a local default.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # The testdata parquet stores naive timestamps
        # (isAdjustedToUTC=false); Spark 4's NTZ inference would load
        # them as TIMESTAMP_NTZ, which strict chrono functions
        # (unix_micros, window watermarks) reject. The engine's contract
        # is reference-style single-zone UTC (CreateGitHubDataTable
        # .usql:18-20): read every naive timestamp as UTC TIMESTAMP.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # Whole-stage codegen emits one large class per stage; a workload
        # with many wide queries overflows the JVM's default 240m JIT
        # code cache, silently disabling compilation for everything after
        # (interpreted execution, 10-40x slower on expression-heavy
        # stages). Size it for a long-lived session.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

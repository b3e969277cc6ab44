"""SparkSession factory with the engine's scale-oriented defaults.

All knobs here are chosen for the 100 TB design point and merely *also* work
on local[N]:

- AQE on (runtime coalescing + skew-join splitting for hot-host skew).
- Arrow enabled for every pandas UDF path; small ``maxRecordsPerBatch``
  because rows carry multi-KB ``html:binary`` payloads (SURVEY §4.2).
- local[N] and shuffle.partitions default to this machine's core count;
  production submits override via spark-submit conf (the code never
  hardcodes cluster size).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_defaults() -> tuple[str, int]:
    """(N of local[N], shuffle partitions) for a session built without
    explicit values: SPARK_GRAFT_CPUS and SPARK_GRAFT_SHUFFLE when set,
    else this machine's core count for both."""
    cores = os.cpu_count() or 1
    return (os.environ.get("SPARK_GRAFT_CPUS", str(cores)),
            int(os.environ.get("SPARK_GRAFT_SHUFFLE", cores)))


def build_session(app_name: str = "python_web_scraper_cleaner_spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    cpus, default_shuffle = local_defaults()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or default_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html:binary rows are multi-KB: Arrow batch size must balance IPC
        # amortization against Python-worker memory. Measured on the crawl
        # slice (1.1 KB html rows, local[32]): 2048→64.8k urls/s,
        # 8192→75.4k, 32768→70.5k — 8192 (~9 MB/batch) is the knee. For
        # 100 KB+ pages lower via SPARK_GRAFT_ARROW_BATCH to keep batches
        # ≲100 MB (SURVEY §4.2, §7 risk 4).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "8192"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_for_binary_scan(spark: SparkSession,
                         max_partition_bytes: int = 64 * 1024 * 1024) -> None:
    """Shrink input splits when scanning tables with large binary columns so
    a single task's Arrow transfer stays bounded."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_partition_bytes))

"""SparkSession factory with scale-aware defaults.

Local-mode knobs are tuned for the test harness (local[N] on one JVM);
the config surface is the same one a cluster deployment would set via
spark-submit, so nothing here is local-only in design:

- AQE on (runtime shuffle coalescing, skew-join splitting) — the
  100 TB story relies on it for skewed keys.
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a higher initial number.
- Arrow enabled for every pandas boundary (Pandas UDFs, toPandas).
- Session timezone pinned UTC so timestamp semantics match the
  DuckDB oracle and are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "musicflow_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession.

    At cluster scale the same builder is used without ``master``;
    every other conf carries over unchanged.
    """
    n = cpus or DEFAULT_CPUS
    # default driver heap: half the host's physical memory, capped at 90g
    heap_mb = min(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21, 90 * 1024)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap_mb}m"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory.

The reference builds its session at sim.sc:355-362 (app name, master
``local[*]``, ``spark.driver.maxResultSize=0``) with zero performance tuning —
Spark 2.4 defaults (200 shuffle partitions, no AQE). This factory is the
100-TB-aware replacement:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switch) — the single biggest lever Spark 3+ gives a shuffle-heavy
  DAG like this one.
- shuffle partitions sized to the environment (local testing: ~cores; a real
  cluster submit overrides via ``spark.sql.shuffle.partitions``).
- Arrow enabled for any pandas-UDF path (similarity / multimodal operators).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "platform-etl-drug-disease-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Half the machine's physical memory, at least 1g and at most the 16g
    the engine was tuned with — local mode runs everything in the driver
    JVM, which must leave room for the Python workers and the OS."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{min(16, max(1, phys // 2**31))}g"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    All settings are overridable: a production ``spark-submit`` on a real
    cluster passes its own master/conf and this factory only fills gaps.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # match the reference's unlimited driver-result cap (sim.sc:356) but
        # keep it bounded — we never collect large results to the driver.
        .config("spark.driver.maxResultSize", "4g")
        # local mode runs driver+executors in one JVM; the 1g default heap
        # OOMs on self-join expansions long before the data is "big"
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # columnar parquet reads stay vectorized; explicit for clarity.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

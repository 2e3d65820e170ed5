"""SparkSession factory with scale-oriented defaults.

Defaults target correctness + determinism locally while keeping every
knob that matters at 100 TB explicit:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (vectorized pandas UDF / toPandas transfer)
- UTC session timezone (deterministic timestamp rendering vs the oracle)
- shuffle partitions sized from env (32 locally; a real cluster sets
  this to ~2-3x total cores or relies on AQE coalescing)
- the package root on the Python workers' path, from any working dir
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "graphdatabases-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset). On a real cluster, pass the cluster master or let
    spark-submit inject it; everything here is master-agnostic.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Driver memory only applies if this call creates the JVM (local mode).
        .config("spark.driver.memory", driver_memory)
        # --- Catalyst / AQE -------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Memory ----------------------------------------------------------
        # Off-heap Tungsten pages: on-heap mode allocates execution pages
        # as 64 MiB long[] — humongous objects under G1 — and a shuffle
        # big enough to need many of them (first seen at sf1: a 6M-row
        # groupBy) triggers commit/GC storms that made identical runs
        # swing 1.7 s ↔ 25.8 s on this box (70%+ kernel time). Off-heap
        # allocation removed the swing entirely (0.7-1.1 s steady). On a
        # real cluster this is the same reason production configs enable
        # it for shuffle-heavy jobs.
        .config("spark.memory.offHeap.enabled", "true")
        .config(
            "spark.memory.offHeap.size",
            os.environ.get("SPARK_GRAFT_OFFHEAP", "8g"),
        )
        # --- Python/Arrow ---------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark merges it with its own and the launcher's PYTHONPATH.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        # --- Determinism ----------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Read TIMESTAMP(NANOS) parquet (events.ts) as long; the table
        # loader converts to a microsecond timestamp column.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- Scale hygiene --------------------------------------------------
        # 128 MiB input splits: good default for large parquet scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Quieter local runs.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

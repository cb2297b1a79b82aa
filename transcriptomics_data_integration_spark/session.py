"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones that
also matter on a real cluster (AQE, broadcast threshold, Arrow).  Shuffle
partition count is sized by ``SPARK_GRAFT_CPUS`` locally; on a 1000-executor
cluster it should be set to ~2-3x total cores by the submitter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "transcriptomics-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # long sessions run hundreds of broadcast-heavy queries; the
        # reference-tracking cleaner's default BLOCKING unpersist turns
        # GC-triggered cleanup bursts into multi-second stalls charged
        # to whatever query is running (observed 8s -> 30s outliers)
        .config("spark.cleaner.referenceTracking.blocking", "false")
        # io codec decision (r11, VERDICT item 9): lz4 — a same-host
        # A/B on the closure-heavy dedup_clusters gate measured zstd
        # 29% SLOWER end-to-end (9.4 -> 12.1 s; banded pairs 1.25 ->
        # 3.15 s) because iterative CC rounds ship many tiny shuffle
        # blocks where zstd's per-block cost dominates.
        .config("spark.io.compression.codec", "lz4")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One parquet table of a scale-factor directory, ``<sf_dir>/<name>.parquet``."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver-provided parquet tables as a dict of DataFrames."""
    if names is None:
        names = (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    return {n: read_table(spark, sf_dir, n) for n in names}

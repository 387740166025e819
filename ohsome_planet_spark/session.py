"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on local[N].
Every knob here exists for a scale reason:

- AQE on (runtime coalesce + skew-join splitting — the reference handles skew
  with a hard-coded 500-member cutoff, `ContributionGeometry.java:24`; we let
  AQE split skewed shuffle partitions and additionally salt mega-cells
  explicitly in operators/skew.py).
- Arrow batches sized so pandas-UDF kernels amortize Python dispatch
  (reference batches 10k OSH per fetch, `TransformerNodes.java:85`).
- shuffle.partitions defaults to 2×cores locally (declarative stages like the
  enrich pipeline measurably prefer the finer grain; AQE re-coalesces by
  bytes where it's too fine); on a real cluster this is overridden (or left
  to AQE coalescing from a high initial number). The compute-bound Arrow
  KERNEL stages do NOT use it directly — see kernel_partitions(): a kernel
  stage wants exactly one wave of cores (measured −30% on relation_merge_1k
  vs two waves), never fewer partitions than memory safety demands.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ohsome-planet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N in master string, else fall back to cpus
        try:
            n = int(master.split("[")[1].rstrip("]*"))
        except (IndexError, ValueError):
            n = cpus
        shuffle_partitions = max(2 * n, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def kernel_partitions(spark: SparkSession) -> int:
    """Partition count for a compute-bound Python/Arrow kernel stage (the
    way/relation merge kernels, the imperative node twin, the gazetteer
    enrichment kernel; the PBF blob tasks take at most this many).

    Those stages use explicit repartition(n, key) to stay exempt from AQE
    post-shuffle coalescing (AQE targets shuffle BYTES and would serialize a
    byte-small but compute-heavy kernel onto 1-2 tasks). That makes n the
    literal task count, and the right n is ONE WAVE of all cores: with the
    local 2×cores shuffle.partitions default, kernels paid two waves of
    Python-worker round trips (measured +30-45% on relation_merge_1k /
    way_merge_10k at sf0.1). Never go BELOW shuffle.partitions/2 either —
    on a cluster where shuffle.partitions is tuned high for memory (100 TB:
    thousands), a kernel partition must still fit an executor's Arrow batch
    in memory, so the memory-driven grain wins when it is finer than a
    single wave."""
    cores = spark.sparkContext.defaultParallelism
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(cores, nparts // 2)

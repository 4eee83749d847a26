"""SparkSession factory with scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "jsonld-kg", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """``extra_conf``: static SparkConf entries that must be set BEFORE
    session construction (e.g. spark.ui.retainedStages for the scale
    probe's metric sampling); no effect if a session already exists
    (getOrCreate reuses it) — callers needing them must be first."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)
    builder = SparkSession.builder
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return (
        builder
        .master(f"local[{cores}]")
        .appName(app)
        # AQE: runtime coalescing + skew-join splitting (north-star: AQE
        # handles residual skew the static plan can't see)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r8: AQE's 1 MB minimum coalesced-partition size serializes
        # CPU-heavy post-shuffle stages over byte-small intermediates
        # (e.g. a Python map over an aggregated feature table) on
        # ONE task; 256 KB keeps such stages parallel. Scale-neutral:
        # with real data volumes the parallelismFirst target
        # (total/defaultParallelism) dominates this floor anyway.
        # Parameterised for ops override; bytes, conservative default.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_MIN_COALESCED_PARTITION",
                               "262144"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the shuffle inside a cached plan too: the
        # commit caches rows clustered by bucket (plans/lineage.py), and
        # without this their partition count is pinned at
        # spark.sql.shuffle.partitions, so a small commit runs that many
        # write tasks. Readers of the cache that need hash partitioning
        # still get it (a coalesced hash partitioning is one).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow exchange for pandas UDFs / mapInPandas
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10k-row Arrow batches: ~2x parse throughput vs the 2048 default
        # (fewer IPC roundtrips per task; ~12 MB peak per output batch)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )

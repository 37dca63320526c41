"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same config block is
what we would ship to a 1000-executor cluster (AQE on, skew-join handling,
Arrow for the few pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession



def _default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` when set, else the cores this process may
    run on — so ``local[k]`` never oversubscribes a small machine."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


DEFAULT_CPUS = _default_cpus()


def get_spark(
    app_name: str = "data-engineering-challenge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default tuning.

    Defaults are chosen for correctness-at-scale:
      * AQE + partition coalescing + skew-join splitting (power-user skew in
        the journey join is the reference's known hot spot).
      * UTC session timezone so timestamp semantics are engine-independent
        (the DuckDB oracle reads parquet timestamps as naive UTC).
      * Arrow enabled for the pandas-UDF paths (batching / multimodal).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamps without the UTC-adjusted annotation must read
        # as TimestampType (instant semantics, matching the DuckDB oracle's
        # naive-UTC view), not TIMESTAMP_NTZ — the testdata is written both
        # ways across generator versions and every timestamp function here
        # (unix_micros, date_format, windows) targets TimestampType
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as annotated INT64 micros, not legacy INT96:
        # INT96 columns carry NO parquet min/max statistics, so neither
        # this engine's manifest stats (`_file_stats` reads the footer)
        # nor Spark's own row-group pushdown can ever prune a timestamp
        # predicate on INT96 data — at 100 TB that is the difference
        # between opening one day's files and scanning the table
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # AQE coalescing keeps parallelism-first (the Spark default) but its
        # 1 MB minPartitionSize floor re-serializes small shuffles: a 45 MB
        # window/aggregation shuffle coalesces to half the cores because the
        # COMPRESSED partition bytes dip under the floor.  Lower the floor so
        # small shuffles keep cluster-width parallelism (measured r14:
        # flagship window stage 16 -> 32 tasks, 1.40 s -> 1.11 s).  At scale
        # this is inert — post-shuffle partitions sit at the advisory size
        # (64 MB+), far above either floor; env-overridable for clusters
        # where many tiny reducers are worse than idle cores.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else DEFAULT_CPUS),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

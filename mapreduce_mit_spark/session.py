"""SparkSession factory.

The reference engine's runtime (master/worker RPC scheduling, retry,
shuffle spill files — /root/reference/src/mapreduce/schedule.go:7-94,
common_map.go:65-107) is entirely subsumed by Spark's DAG scheduler and
sort-based shuffle, so the only runtime knob this engine owns is session
configuration.

Scale posture: these defaults are written for a real multi-executor
cluster (AQE coalescing + skew-join handling, partition sizes targeted at
~128 MB splits) and merely *also* work on local[N] test mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may
    run on — a fixed larger count oversubscribes a small box (measured
    12-18% slower per ANN serve pass at local[32] on 4 cores)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


DEFAULT_CPUS = default_cpus()


def get_spark(
    app_name: str = "mapreduce_mit_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching cover the 100 TB skew story without
      hand-tuning per query.
    - ``spark.sql.shuffle.partitions`` defaults to the local core count;
      AQE coalesces downward, so a too-large value is cheap while a
      too-small one is not.
    - Arrow enabled so any Pandas-UDF operator moves batches, not rows.
    - ``spark.sql.codegen.cache.maxEntries`` = 1000: at the default 100
      (split across cache segments) a warm ``relational`` benchmark pass
      recompiled the same 25 generated classes every time; at 1000 it
      compiles none.
    - ``spark.python.sql.dataFrameDebugging.enabled`` off: capturing the
      Python call site of every Column operation more than doubled the
      gateway round trips of a warm plan build at sf0.001 (q01: 407 vs
      157 commands, q68: 786 vs 336).

    ``extra_conf`` overrides any of these.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns type, so
        # read as long and convert to µs timestamps at the source wrapper
        # (sources/io.py) — DuckDB equally truncates ns → µs, so oracles agree.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else DEFAULT_CPUS),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

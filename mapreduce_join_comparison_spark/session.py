"""SparkSession factory with scale-conscious defaults.

The reference picks its join algorithm manually per run
(``JoinSimulation.java:154-210``); we mirror that by disabling
auto-broadcast when the caller wants hint-driven strategy selection,
while keeping AQE on so skew joins and partition coalescing re-plan at
runtime — the Spark-native replacement for the reference's manual skew
guard (``JoinSimulation.java:203-204``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else this machine's CPU count — a
    fixed fallback would oversubscribe (or starve) every other host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


from contextlib import contextmanager


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Set runtime-settable session confs for the duration of a block,
    restoring the previous values (or unsetting) on exit — a leaked
    conf makes later queries in the same session order-dependent.
    Keys use ``__`` for ``.`` when passed as kwargs, or pass a dict via
    ``scoped_conf(spark, **{"spark.sql....": "v"})``."""
    resolved = {k.replace("__", "."): v for k, v in confs.items()}
    prev: dict[str, str | None] = {}
    for k in resolved:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
    for k, v in resolved.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


# AQE skew-split thresholds scaled to LOCAL data sizes. The defaults
# (256 MB skewed-partition threshold / 64 MB advisory target) are sized
# for cluster-scale partitions: at 100 TB a Zipf hot key blows far past
# them and AQE splits the skewed partition automatically. A local[32]
# sweep at 10-20 M rows keeps the hot partition in the tens of MB, so
# the same mechanism never engages and one straggler thread eats the
# speedup. Scaling the thresholds down (NOT disabling the factor
# heuristic) exercises on the laptop exactly the code path the cluster
# uses.
LOCAL_SKEW_CONF = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # thresholds compare against COMPRESSED shuffle-partition bytes —
    # a multi-million-row hot key lands in single-digit MB locally
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
}


def get_spark(
    app_name: str = "mapreduce_join_comparison_spark",
    shuffle_partitions: int | None = None,
    manual_join_strategy: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    manual_join_strategy=True sets autoBroadcastJoinThreshold=-1 so only
    explicit hints pick a join algorithm — faithful to the reference's
    caller-chosen strategy. Leave False for production plans: Catalyst's
    size-estimate-driven choice is usually right at scale.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Spark implicitly casts TIMESTAMP_NTZ through the session zone
        # in instant functions (to_utc_timestamp included), so naive
        # parquet times only normalize reproducibly under a pinned UTC
        # session — matches DuckDB's epoch_us(naive) on any machine.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata uses parquet TIMESTAMP(NANOS); Spark 4 rejects it
        # unless read as long — sources.io.load_table converts back to
        # timestamp (µs) transparently.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    if manual_join_strategy:
        builder = builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

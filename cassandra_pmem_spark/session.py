"""SparkSession factory tuned for the engine.

Scale posture: these configs are chosen so the same code runs on a
1000-executor cluster against ~100 TB — AQE handles post-shuffle partition
coalescing and skew-join splitting at runtime, broadcast threshold keeps
dimension joins shuffle-free, and Arrow makes the (rare) pandas-UDF path
batch-vectorized. Locally we default parallelism to the machine size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def env_flag(name: str) -> bool:
    """A boolean env lever: on only for 1/true/yes (any case); unset,
    empty, 0, false or anything else means off."""
    return os.environ.get(name, "").strip().lower() in ("1", "true", "yes")


_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# spellings of "the session timezone is UTC" accepted by the UTC-gated
# fast paths (statement-log Arrow frames, nested-timestamp tokens).
# ONE set — two hand-maintained copies classified 'Etc/GMT' differently
UTC_TZ_NAMES = frozenset({"UTC", "Etc/UTC", "GMT", "Etc/GMT", "+00:00", "Z"})


def session_tz_is_utc(spark: SparkSession | None = None) -> bool:
    """True when the (given or active) session's timeZone is UTC —
    get_spark pins it, so this is False only for foreign sessions."""
    s = spark or SparkSession.getActiveSession()
    if s is None:
        return False
    return s.conf.get("spark.sql.session.timeZone", "UTC") in UTC_TZ_NAMES


def get_spark(app_name: str = "cassandra-pmem-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    - AQE on: runtime coalescing of shuffle partitions + skew-join handling,
      the Spark analog of the reference's adaptive range-scan fan-out
      (service/StorageProxy.java:1939-2015).
    - UTC session timezone: deterministic timestamp semantics regardless of
      host zone (the reference stores epoch millis; TimestampType.java).
    - Arrow enabled for the pandas-UDF slow path.
    - ANSI off: CQL semantics are permissive (overflow wraps, bad casts are
      errors at *prepare* time, not row time); we validate up front instead.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if not env_flag("SPARK_GRAFT_NO_MASTER"):
        # local workers share this host's Python: start them from
        # worker_daemon, which imports the installed pyspark instead of
        # Spark's zip/jar archives (~0.2 s off every Python task); the
        # package root on PYTHONPATH finds it from any working directory
        # (Spark appends the driver's own PYTHONPATH after it)
        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.python.daemon.module", "cassandra_pmem_spark.worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        )
    return builder.getOrCreate()

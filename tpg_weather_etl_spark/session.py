"""SparkSession factory.

Encodes once the engine-wide settings that the reference sets via
DuckDB PRAGMAs (reference: src/common.py:36-87):

- UTC session timezone (hazard H1 — reference stores naive-UTC
  timestamps; weather parsed with utc=True at 03_ingest_weather.py:138)
- AQE on (runtime re-planning replaces the reference's hand tuning
  of ``PRAGMA threads`` / morsel parallelism)
- zstd parquet (reference gold outputs use ZSTD: 10_build_features.py:294)

Dynamic partition overwrite (the reference's per-month DELETE+INSERT
transactions, 02_ingest_istdaten.py:476-504) is an option of each
partitioned write (sources/writers.py), not a session setting.

At cluster scale the same factory applies; only ``master`` and the
memory/shuffle sizing change. Nothing here is local-mode specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, not the local test rig:
#  - shuffle.partitions is a *starting* value; AQE coalesces/splits at
#    runtime, so overprovisioning is cheap and skew is handled.
#  - 128m maxPartitionBytes keeps scan tasks cache-friendly.
_BASE_CONF: dict[str, str] = {
    # Local mode hosts all executor threads in the driver JVM; the
    # unset default (1g) gives 32 concurrent tasks ~30 MB each, which
    # OOMs any honest multi-million-row shuffle (observed: the
    # triangle wedge join at sf0.1) and silently spills everything
    # else. Sized for the 128 GiB test rig; a cluster deployment
    # overrides per-executor memory in its submit config, and the
    # setting is inert when the session already exists.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Exact-n sampling / window dedupe benefit from stable shuffle.
    "spark.sql.execution.sortBeforeRepartition": "true",
    # Read timezone-less parquet timestamps as TIMESTAMP (LTZ), not
    # TIMESTAMP_NTZ — matches the engine's naive-UTC convention (H1:
    # session tz is pinned UTC, so the two readings are value-identical)
    # and keeps strictly-typed functions (unix_micros & co.) working.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # The testdata parquet stores timestamps as INT64 TIMESTAMP(NANOS),
    # which Spark rejects unless read as longs; sources/tables.read_table
    # rebuilds the timestamp columns from them.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ObjectHashAggregate (percentile/median/collect aggs) falls back to
    # sort-based execution after only 128 distinct keys by default;
    # high-cardinality grouped percentiles (A8) are ~30% faster hashing.
    # Memory-safe at our executor sizing: buffers spill per-partition.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "100000",
}


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return os.environ.get("SPARK_MASTER", f"local[{cpus}]")


def default_shuffle_partitions() -> int:
    # local: match cores; cluster: AQE coalesces from a high initial value.
    return int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                              os.environ.get("SPARK_GRAFT_CPUS", "32")))


def get_spark(
    app_name: str = "tpg_weather_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession."""
    builder = SparkSession.builder.appName(app_name).master(
        master or default_master()
    )
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions or default_shuffle_partitions()
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Settings that must hold even when the driver hands us a session
    # it already created (the verify harness does this).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-created session.

    Callers of the ``__spark_entry__`` contract bring their own
    SparkSession; timezone, AQE and the parquet timestamp readings are
    runtime-settable, so we assert them here instead of trusting the
    ambient config (hazard H1). Queries themselves never write session
    conf.
    """
    for key in (
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        try:
            spark.conf.set(key, _BASE_CONF[key])
        except Exception:
            pass  # static conf on some builds; harmless
    return spark

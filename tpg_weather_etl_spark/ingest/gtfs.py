"""GTFS static-timetable ingest (reference src/01_ingest_gtfs.py).

agency ⟕ routes (J1) → case-insensitive operator filter (P3) →
semi-join cascade routes→trips→stop_times→stops (J2) → exact dedupe
(A1) → feed_version-partitioned warehouse overwrite (K4).

The cascade order is also the correctness order (each stage's keys
come from the previous subset); every build side is a small dim so
Spark broadcasts — there is no shuffle in the whole pipeline until the
final write.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpg_weather_etl_spark.schemas import (
    GTFS_OPTIONAL_DEFAULTS,
    GTFS_REQUIRED,
)
from tpg_weather_etl_spark.sources.readers import ensure_columns, read_gtfs_csv
from tpg_weather_etl_spark.sources.staging import (
    read_csv_from_zip_member,
)
from tpg_weather_etl_spark.sources.writers import write_partitioned

DEFAULT_OPERATOR_PATTERN = "Transports Publics Genevois"


def detect_feed_version(spark: SparkSession, staged: dict[str, Path],
                        zip_stem: str) -> str:
    """feed_info.txt[feed_version] else filename-stem fallback
    (F21, ref 01:90-112)."""
    if "feed_info" in staged:
        rows = read_gtfs_csv(spark, staged["feed_info"]).limit(1).collect()
        if rows and "feed_version" in rows[0].__fields__ and rows[0]["feed_version"]:
            return str(rows[0]["feed_version"])
    return zip_stem.rsplit("_", 1)[-1] if "_" in zip_stem else zip_stem


def ingest_gtfs(
    spark: SparkSession,
    gtfs_zip: str | Path,
    staging_dir: str | Path,
    warehouse_dir: str | Path,
    operator_pattern: str = DEFAULT_OPERATOR_PATTERN,
) -> dict[str, DataFrame]:
    """Full GTFS pipeline; returns the four warehouse DataFrames."""
    gtfs_zip, staging_dir = Path(gtfs_zip), Path(staging_dir)
    members = ["agency.txt", "routes.txt", "trips.txt",
               "stop_times.txt", "stops.txt", "feed_info.txt"]
    staged: dict[str, Path] = {}
    for m in members:
        try:
            staged[m.removesuffix(".txt")] = read_csv_from_zip_member(
                gtfs_zip, m, staging_dir)
        except OSError:
            continue  # empty-DF-if-missing (ref S1, 01:32-57)

    feed_version = detect_feed_version(spark, staged, gtfs_zip.stem)

    agency = ensure_columns(read_gtfs_csv(spark, staged["agency"]),
                            GTFS_REQUIRED["agency"])
    routes = ensure_columns(read_gtfs_csv(spark, staged["routes"]),
                            GTFS_REQUIRED["routes"],
                            GTFS_OPTIONAL_DEFAULTS["routes"])
    trips = ensure_columns(read_gtfs_csv(spark, staged["trips"]),
                           GTFS_REQUIRED["trips"],
                           GTFS_OPTIONAL_DEFAULTS["trips"])
    stop_times = ensure_columns(read_gtfs_csv(spark, staged["stop_times"]),
                                GTFS_REQUIRED["stop_times"])
    stops = ensure_columns(read_gtfs_csv(spark, staged["stops"]),
                           GTFS_REQUIRED["stops"],
                           GTFS_OPTIONAL_DEFAULTS["stops"])

    # J1: routes ⟕ agency, rename agency_name → operator_name (01:147-150)
    routes = (
        routes.join(
            F.broadcast(agency.select("agency_id",
                                      F.col("agency_name").alias("operator_name"))),
            "agency_id", "left")
    )
    # P3: case-insensitive substring operator filter (01:152-155)
    routes = routes.filter(
        F.lower(F.coalesce(F.col("operator_name"), F.lit("")))
        .contains(operator_pattern.lower())
    )

    # J2 cascade: each table restricted to the subset found upstream
    trips = trips.join(F.broadcast(routes.select("route_id")),
                       "route_id", "left_semi")
    stop_times = stop_times.join(F.broadcast(trips.select("trip_id")),
                                 "trip_id", "left_semi")
    stops = stops.join(F.broadcast(stop_times.select("stop_id").distinct()),
                       "stop_id", "left_semi")

    fv = F.lit(feed_version)
    out = {
        "gtfs_routes": routes.select(
            "route_id", "route_short_name", "route_long_name",
            F.col("route_type").cast("int").alias("route_type"),
            "operator_name").dropDuplicates()
            .withColumn("feed_version", fv),
        "gtfs_trips": trips.select(
            "trip_id", "route_id", "service_id",
            F.col("direction_id").cast("int").alias("direction_id"),
            "trip_headsign").dropDuplicates().withColumn("feed_version", fv),
        "gtfs_stop_times": stop_times.select(
            "trip_id",
            F.col("stop_sequence").cast("int").alias("stop_sequence"),
            "stop_id",
            # >24h clock strings stay TEXT (common.py:126-127)
            F.col("arrival_time").alias("arrival_time_planned"),
            F.col("departure_time").alias("departure_time_planned"),
        ).dropDuplicates().withColumn("feed_version", fv),
        "gtfs_stops": stops.select(
            "stop_id", "stop_name",
            F.col("stop_lat").cast("double").alias("stop_lat"),
            F.col("stop_lon").cast("double").alias("stop_lon"),
            "zone_id", "location_type", "parent_station", "platform_code",
        ).dropDuplicates().withColumn("feed_version", fv),
    }
    for name, df in out.items():
        write_partitioned(df, Path(warehouse_dir) / name, "feed_version")
    return out

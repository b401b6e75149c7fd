"""feature_training_row builder — the reference's documented-but-
missing module 12_build_feature_training_row: its CLI is in
README.md:175-182 and its output DDL exists (common.py:174-193), but no
source file ships. We implement the declared schema:

- boolean lateness targets at +15/+30 min horizons (forward-looking:
  latest same-(line,stop) departure inside the horizon ran ≥2 min
  late — the horizons genuinely differ)
- rolling delay medians over trailing 7/14/28 days per (line, stop)
  (W3 — exact percentile over a time-range window frame)
- weather lags at −10/−20 min on the 10-minute grid (W4 — F.lag over
  the per-station grid, since the grid is strict)
- calendar features (dow Monday=0, hour, minute bin) and cyclic
  sin/cos hour encodes (F20)

Scale notes: the rolling windows sort once per (line_text, stop_code)
partition; lags ride the weather table's (station, ts) sort which is
tiny. No driver-side state anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tpg_weather_etl_spark.functions.time import (
    cyclic_hour_cos,
    cyclic_hour_sin,
    dow_monday0,
    epoch_us,
)

_DAY_US = 86_400 * 1_000_000


def build_training_rows(
    features_events: DataFrame,
    weather: DataFrame,
    holidays: list[str] | None = None,
    routes: DataFrame | None = None,
) -> DataFrame:
    """Assemble per-event training rows (DDL common.py:174-193).

    ``routes``: optional (route_id, line_text) lookup (GTFS routes,
    route_short_name = line_text) to populate the DDL's route_id;
    NULL when absent — the reference's builder 12 is documented but
    unshipped, so the linkage source is our call.
    """
    ev = features_events.filter(F.col("sched_ts").isNotNull()).select(
        "service_date", "line_text", "stop_code", "stop_name",
        F.col("sched_ts").alias("ts_event"),
        F.col("depart_only_delay_sec").cast("int")
         .alias("delay_depart_sec"),
        "sched_bin", "station_id",
    ).withColumn("row_id", F.monotonically_increasing_id())

    # Targets (DDL common.py:183-184): builder 12 is absent from the
    # reference, so we define the label precisely: target_late2m_h is
    # whether the latest departure of this (line, stop) scheduled in
    # (t, t+h min] ran ≥2 min late — the realized delay state of the
    # stop at forecast horizon h. NULL when no departure falls in the
    # horizon (or its delay is unknown). The two horizons genuinely
    # differ: +30 sees departures +15 cannot.
    tw = (
        Window.partitionBy("line_text", "stop_code")
        .orderBy(epoch_us(F.col("ts_event")))
    )
    for mins in (15, 30):
        ev = ev.withColumn(
            f"target_late2m_{mins}",
            F.last("delay_depart_sec").over(
                tw.rangeBetween(1, mins * 60 * 1_000_000)
            ) >= 120,
        )

    # W3: rolling medians over trailing windows per (line, stop); frame
    # excludes the current day's value leaking: range up to -1 µs.
    for days in (7, 14, 28):
        ev = ev.withColumn(
            f"med_delay_{days}d_sec",
            F.expr("percentile(delay_depart_sec, 0.5)").over(
                tw.rangeBetween(-days * _DAY_US, -1)
            ).cast("int"),  # DDL common.py:185-187 declares INT
        )

    # calendar + cyclic (F8 with H6 Monday=0, F20)
    ev = (
        ev.withColumn("dow", dow_monday0(F.col("ts_event")))
        .withColumn("hour", F.hour("ts_event"))
        .withColumn("minute_bin",
                    (F.minute("ts_event") - F.minute("ts_event") % 10))
        .withColumn("is_holiday",
                    F.to_date("ts_event").cast("string")
                    .isin(holidays or []) if holidays
                    else F.lit(False))
        .withColumn("sin_hour", cyclic_hour_sin(F.col("hour")))
        .withColumn("cos_hour", cyclic_hour_cos(F.col("hour")))
    )

    # W4: weather lags at −10/−20 min ride the strict grid per station
    wlag = Window.partitionBy("station_id").orderBy("ts_utc")
    w = weather.select(
        "station_id", "ts_utc", "temp_c", "rain_mm", "wind_ms", "gust_ms",
        *[F.lag(c, k).over(wlag).alias(f"{c}_lag{k*10}")
          for c in ("rain_mm", "wind_ms") for k in (1, 2)],
    )
    # the weather grid grows with stations × time — no broadcast
    # hint; the equi-join keys co-partition and AQE broadcasts
    # only when the grid is actually small (as in the reference's
    # single-station deployments)
    out = ev.join(
        w,
        (ev["sched_bin"] == w["ts_utc"])
        & (ev["station_id"] == w["station_id"]),
        "left",
    ).drop(w["station_id"]).drop("ts_utc")

    if routes is not None:
        out = out.join(
            F.broadcast(routes.select("route_id", "line_text")
                        .dropDuplicates(["line_text"])),
            "line_text", "left",
        )
    else:
        out = out.withColumn("route_id", F.lit(None).cast("string"))

    # column order & names exactly per DDL common.py:174-193
    return out.select(
        "row_id", "service_date", "route_id", "line_text",
        F.col("stop_code").alias("stop_id"), "stop_name",
        "ts_event", "target_late2m_15", "target_late2m_30",
        "delay_depart_sec", "med_delay_7d_sec", "med_delay_14d_sec",
        "med_delay_28d_sec", "dow", "hour", "minute_bin", "is_holiday",
        "sin_hour", "cos_hour", "temp_c", "rain_mm", "wind_ms", "gust_ms",
        "rain_mm_lag10", "rain_mm_lag20", "wind_ms_lag10", "wind_ms_lag20",
    )

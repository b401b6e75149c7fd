"""feature_training_row builder — the reference's documented-but-
missing module 12_build_feature_training_row: its CLI is in
README.md:175-182 and its output DDL exists (common.py:174-193), but no
source file ships. We implement the declared schema:

- boolean lateness targets at +15/+30 min horizons (forward-looking:
  latest same-(line,stop) departure inside the horizon ran ≥2 min
  late — the horizons genuinely differ)
- rolling delay medians over trailing 7/14/28 days per (line, stop)
  (W3 — exact medians in one sorted pass per (line, stop) group)
- weather lags at −10/−20 min on the 10-minute grid (W4 — F.lag over
  the per-station grid, since the grid is strict)
- calendar features (dow Monday=0, hour, minute bin) and cyclic
  sin/cos hour encodes (F20)

Scale notes:

- Width. Events are repartitioned to ``defaultParallelism`` by
  (line_text, stop_code) right after ``row_id`` is assigned. AQE does
  not coalesce a shuffle that names its partition count; without it
  the ~2 MB shuffle was coalesced into ONE task that ran every window.
  No session conf is written.
- Medians. ``percentile`` over a moving RANGE frame is O(n·w): Spark
  re-aggregates the whole frame (up to 28 days of a stop's events)
  each time its bounds move, so the step grew superlinearly with
  history length (7 → 14 service days: 15 → 48 s on 4 vCPUs). Instead,
  one ``applyInPandas`` call per (line, stop) sorts the group once;
  for each horizon ``numpy.searchsorted`` finds every row's frame
  bounds and a sorted list slides through them (``bisect.insort`` in,
  delete at ``bisect_left`` out): O(log w) search plus a small memmove
  per row. It rides the same partitioning, so it adds no Exchange.
- The ``F.last`` target windows stay in Spark on that partitioning;
  lags ride the weather table's (station, ts) sort which is tiny. No
  driver-side state anywhere.
"""

from __future__ import annotations

import sys
from bisect import bisect_left, insort

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from tpg_weather_etl_spark.functions.time import (
    cyclic_hour_cos,
    cyclic_hour_sin,
    dow_monday0,
    epoch_us,
)

_DAY_US = 86_400 * 1_000_000
_MEDIAN_DAYS = (7, 14, 28)
_KEY = "_ts_us"

# the median helpers travel to the Python workers by value, so they do
# not have to import this package (its root need not be on their path)
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def trailing_medians(keys, vals, width: int) -> list[int | None]:
    """Per row i, the median of the non-NaN ``vals`` whose key lies in
    ``[keys[i] - width, keys[i])``, truncated toward zero; None for an
    empty frame. ``keys`` must be ascending int64 (µs).

    Matches Spark's ``percentile(v, 0.5)`` over ``rangeBetween(-width,
    -1)`` cast to int: rows tied on the key share their frame, and an
    even count interpolates ``x + 0.5 * (y - x)``.
    """
    his = np.searchsorted(keys, keys, "left").tolist()
    los = np.searchsorted(keys, keys - width, "left").tolist()
    vals = vals.tolist()
    win: list[float] = []
    out: list[int | None] = []
    a = b = 0
    for lo, hi in zip(los, his):  # both bounds only move forward
        while b < hi:
            if vals[b] == vals[b]:  # NaN is a NULL delay: skipped
                insort(win, vals[b])
            b += 1
        while a < lo:
            if vals[a] == vals[a]:
                del win[bisect_left(win, vals[a])]
            a += 1
        n = len(win)
        if n == 0:
            out.append(None)
        elif n % 2:
            out.append(int(win[n // 2]))
        else:
            x, y = win[n // 2 - 1], win[n // 2]
            out.append(int(x + 0.5 * (y - x)))
    return out


def _with_medians(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (line, stop) group: sort once, add the three medians."""
    pdf = pdf.sort_values(_KEY, kind="stable")
    keys = pdf[_KEY].to_numpy(dtype="int64")
    vals = pdf["delay_depart_sec"].to_numpy(dtype="float64",
                                            na_value=np.nan)
    for days in _MEDIAN_DAYS:
        pdf[f"med_delay_{days}d_sec"] = pd.array(
            trailing_medians(keys, vals, days * _DAY_US), dtype="Int32")
    return pdf.drop(columns=_KEY)


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
    ev = ev.repartition(
        ev.sparkSession.sparkContext.defaultParallelism,
        "line_text", "stop_code",
    ).withColumn(_KEY, epoch_us(F.col("ts_event")))

    # Targets (DDL common.py:183-184): builder 12 is absent from the
    # reference, so we define the label precisely: target_late2m_h is
    # whether the latest departure of this (line, stop) scheduled in
    # (t, t+h min] ran ≥2 min late — the realized delay state of the
    # stop at forecast horizon h. NULL when no departure falls in the
    # horizon (or its delay is unknown). The two horizons genuinely
    # differ: +30 sees departures +15 cannot.
    tw = (
        Window.partitionBy("line_text", "stop_code")
        .orderBy(_KEY)
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
    # INT per DDL common.py:185-187.
    schema = StructType(
        [f for f in ev.schema.fields if f.name != _KEY]
        + [StructField(f"med_delay_{days}d_sec", IntegerType())
           for days in _MEDIAN_DAYS])
    ev = ev.groupBy("line_text", "stop_code").applyInPandas(
        _with_medians, schema)

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

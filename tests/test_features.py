"""Feature builder tests: events enrichment + weather joins (strict &
as-of), by_stop_line aggregation vs a DuckDB mini-oracle, training rows."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

from tpg_weather_etl_spark.features.by_stop_line import (
    build_features_by_stop_line,
    qc_features_by_stop_line,
)
from tpg_weather_etl_spark.features.events import (
    build_features_events,
    enrich_events,
    qc_features_events,
)
from tpg_weather_etl_spark.features.training_row import build_training_rows

T0 = dt.datetime(2024, 2, 1, 8, 0, 0)


def _mk_events(spark, rows):
    cols = ("service_date date, fahrt_bezeichner string, operator_abbr string,"
            "product_id string, line_text string, stop_name string,"
            "stop_code string, arrival_sched_ts timestamp,"
            "arrival_est_ts timestamp, arrival_status string,"
            "depart_sched_ts timestamp, depart_est_ts timestamp,"
            "depart_status string, pass_through boolean,"
            "is_extra_trip boolean, is_cancelled boolean")
    return spark.createDataFrame(rows, cols)


def _ev(minute=0, sec=0, delay_s=120, line="12", stop="8501",
        arr_only=False, op="TPG", prod="Bus"):
    sched = T0 + dt.timedelta(minutes=minute, seconds=sec)
    est = sched + dt.timedelta(seconds=delay_s)
    return (
        sched.date(), f"t{minute}", op, prod, line, "Gare", stop,
        sched, est, "REAL",
        None if arr_only else sched, None if arr_only else est,
        "REAL", False, False, False,
    )


def _mk_weather(spark, n_bins=12, station="GVE"):
    rows = [
        (station, T0 - dt.timedelta(minutes=60) + dt.timedelta(minutes=10 * i),
         10.0 + i, 0.1 * i, 3.0, 5.0, 180.0, 80.0, 1013.0, 100.0, 5.0, 2.0)
        for i in range(n_bins + 6)
    ]
    return spark.createDataFrame(
        rows,
        "station_id string, ts_utc timestamp, temp_c double, rain_mm double,"
        "wind_ms double, gust_ms double, wind_dir_deg double, humidity double,"
        "pressure_hpa double, global_rad_wm2 double, sunshine_min double,"
        "dewpoint_c double",
    )


def test_enrich_delay_and_coalesce_flags(spark):
    ev = _mk_events(spark, [_ev(delay_s=180), _ev(minute=1, arr_only=True)])
    out = enrich_events(ev).collect()
    full = [r for r in out if not r.coalesce_sched_from_arrival][0]
    assert full.delay_sec == 180
    assert full.delay_min == pytest.approx(3.0)
    arr = [r for r in out if r.coalesce_sched_from_arrival][0]
    assert arr.any_coalesce_from_arrival is True
    assert arr.sched_ts == arr.arrival_sched_ts  # coalesced from arrival


def test_enrich_bin_edges(spark):
    ev = _mk_events(spark, [_ev(minute=9, sec=59), _ev(minute=10, sec=0)])
    bins = sorted(r.sched_bin for r in enrich_events(ev).collect())
    assert bins == [T0, T0 + dt.timedelta(minutes=10)]


def test_strict_weather_join_attaches_bin_obs(spark):
    ev = _mk_events(spark, [_ev(minute=5)])  # sched 08:05 → bin 08:00
    wx = _mk_weather(spark)
    out = build_features_events(ev, wx, station_id="GVE").collect()
    assert len(out) == 1
    assert out[0].temp_c == pytest.approx(16.0)  # obs at 08:00 = 10+6
    assert out[0].station_id == "GVE"


def test_asof_join_nearest_past_within_5min(spark):
    # weather only at 07:55 (off-grid): strict join misses, as-of hits
    wx_rows = [("GVE", T0 - dt.timedelta(minutes=5), 7.0) + (0.0,) * 9]
    wx = spark.createDataFrame(
        wx_rows,
        "station_id string, ts_utc timestamp, temp_c double, rain_mm double,"
        "wind_ms double, gust_ms double, wind_dir_deg double, humidity double,"
        "pressure_hpa double, global_rad_wm2 double, sunshine_min double,"
        "dewpoint_c double")
    ev = _mk_events(spark, [_ev(minute=5)])
    strict = build_features_events(ev, wx, station_id="GVE").collect()
    assert strict[0].temp_c is None
    asof = build_features_events(ev, wx, station_id="GVE", asof=True).collect()
    assert asof[0].temp_c == pytest.approx(7.0)


def test_dominant_station_fallback(spark):
    ev = _mk_events(spark, [_ev()])
    wx = _mk_weather(spark, station="AAA").union(_mk_weather(spark, 2, "BBB"))
    out = build_features_events(ev, wx).collect()
    assert out[0].station_id == "AAA"  # more rows → dominant


def test_qc_features_events(spark):
    ev = _mk_events(spark, [_ev(), _ev(minute=1, arr_only=True)])
    feats = build_features_events(ev, _mk_weather(spark), station_id="GVE")
    qc = qc_features_events(feats)
    assert qc["n_rows"] == 2
    assert qc["n_coalesce_sched"] == 1
    assert qc["n_with_weather"] == 2


def test_by_stop_line_matches_duckdb_quantiles(spark):
    delays = [0, 60, 120, 180, 240, 300, 600]
    ev = _mk_events(spark, [_ev(sec=i, delay_s=d)
                            for i, d in enumerate(delays)])
    feats = build_features_events(ev, _mk_weather(spark), station_id="GVE")
    agg = build_features_by_stop_line(feats).collect()
    assert len(agg) == 1
    row = agg[0]
    mins = [d / 60.0 for d in delays]
    con = duckdb.connect()
    exp_p50, exp_p90 = con.execute(
        "SELECT median(x), quantile_disc(x, 0.9) FROM (SELECT unnest(?) x)",
        [mins]).fetchone()
    assert row.delay_p50_min == pytest.approx(exp_p50)
    assert row.delay_p90_min == pytest.approx(exp_p90)
    assert row.n_trips == 7
    assert row.share_late_ge2 == pytest.approx(5 / 7)
    assert row.stop_key == "12·8501"
    qc = qc_features_by_stop_line(build_features_by_stop_line(feats))
    assert qc == {"n_bins": 1, "n_distinct_bins": 1, "n_stop_keys": 1}


def test_training_rows_lags_and_rolling(spark):
    # events across 3 days, same (line, stop)
    rows = []
    for day in range(3):
        for k in range(3):
            sched = T0 + dt.timedelta(days=day, minutes=10 * k)
            est = sched + dt.timedelta(seconds=60 * (day + 1))
            rows.append((sched.date(), f"d{day}k{k}", "TPG", "Bus", "12",
                         "Gare", "8501", sched, est, "REAL", sched, est,
                         "REAL", False, False, False))
    ev = _mk_events(spark, rows)
    wx = _mk_weather(spark, n_bins=24 * 6 * 3)
    feats = build_features_events(ev, wx, station_id="GVE")
    tr = build_training_rows(feats, wx).collect()
    assert len(tr) == 9
    d0 = sorted((r for r in tr if r.service_date == T0.date()),
                key=lambda r: r.ts_event)
    # the very first event has no trailing history → NULL; later
    # same-day events see the earlier ones (frame ends at -1 µs)
    assert d0[0].med_delay_7d_sec is None
    assert d0[1].med_delay_7d_sec == pytest.approx(60.0)
    d1 = [r for r in tr if r.service_date == (T0 + dt.timedelta(days=1)).date()]
    # second day sees day-0 delays (60s) only
    assert all(r.med_delay_7d_sec == pytest.approx(60.0) for r in d1)
    # lag columns ride the 10-min grid: lag10 of rain at bin b = rain(b-10m)
    some = d0[1]  # 08:10 bin
    assert some.rain_mm_lag10 is not None
    assert some.rain_mm == pytest.approx(some.rain_mm_lag10 + 0.1)
    assert some.dow == 3  # 2024-02-01 is a Thursday → Monday0 → 3
    assert some.sin_hour == pytest.approx(__import__("math").sin(2 * 3.141592653589793 * 8 / 24))


def test_asof_mode_is_inner_drops_unmatched(spark):
    # ref 10:253-264 DELETEs rows whose nearest obs is missing or
    # outside the window — as-of mode must not keep NULL-weather rows
    wx_rows = [("GVE", T0 - dt.timedelta(minutes=60), 7.0) + (0.0,) * 9]
    wx = spark.createDataFrame(
        wx_rows,
        "station_id string, ts_utc timestamp, temp_c double, rain_mm double,"
        "wind_ms double, gust_ms double, wind_dir_deg double, humidity double,"
        "pressure_hpa double, global_rad_wm2 double, sunshine_min double,"
        "dewpoint_c double")
    ev = _mk_events(spark, [_ev(minute=5)])
    strict = build_features_events(ev, wx, station_id="GVE").collect()
    assert len(strict) == 1 and strict[0].temp_c is None  # left: kept
    asof = build_features_events(ev, wx, station_id="GVE", asof=True).collect()
    assert asof == []  # inner: deleted


def test_training_targets_differ_by_horizon(spark):
    # e0 on time at 08:00; e1 at 08:20 is 3 min late. The +15 horizon
    # from e0 sees no departure (NULL target); the +30 horizon sees e1
    # late → True. The last event has nothing ahead → both NULL.
    ev = _mk_events(spark, [_ev(minute=0, delay_s=0),
                            _ev(minute=20, delay_s=180)])
    feats = build_features_events(ev, _mk_weather(spark), station_id="GVE")
    tr = sorted(build_training_rows(feats, _mk_weather(spark)).collect(),
                key=lambda r: r.ts_event)
    assert [r.stop_id for r in tr] == ["8501", "8501"]  # DDL name
    assert tr[0].route_id is None
    assert tr[0].target_late2m_15 is None
    assert tr[0].target_late2m_30 is True
    assert tr[1].target_late2m_15 is None
    assert tr[1].target_late2m_30 is None


def test_by_stop_line_null_stop_name_falls_back_to_code(spark):
    # ref 11:93: COALESCE(stop_name, stop_code) happens per-row before
    # MAX, so an all-NULL-name group emits the code, not NULL
    r = _ev()
    ev = _mk_events(spark, [r[:5] + (None,) + r[6:]])
    feats = build_features_events(ev, _mk_weather(spark), station_id="GVE")
    out = build_features_by_stop_line(feats).collect()
    assert len(out) == 1
    assert out[0].stop_name == "8501"


# W3 replay oracle: every rolling median of build_training_rows against
# DuckDB's quantile_cont over the same RANGE frame. Three (line, stop)
# groups over 35 days; group B has a 10-day gap (empty 7d frame, non-
# empty 14/28d), group C plants a -3.5 half median (Spark's int cast
# truncates to -3; a plain DuckDB CAST would round to -4).
_MED_GROUPS = (("12", "8501"), ("12", "8502"), ("14", "8501"))
_MED_DUCKDB = """
SELECT line_text, stop_code, ts_event, d,
  {meds}
FROM ev
"""
_MED_EXPR = ("CAST(trunc(quantile_cont(d, 0.5) OVER (PARTITION BY line_text, "
             "stop_code ORDER BY ts_event RANGE BETWEEN INTERVAL {n} DAYS "
             "PRECEDING AND INTERVAL 1 MICROSECOND PRECEDING)) AS INTEGER)")


def _nulls_last(row):
    return tuple((v is None, 0 if v is None else v) for v in row)


def _median_fixture():
    import random
    rng = random.Random(7)
    rows = []
    for g, (line, stop) in enumerate(_MED_GROUPS):
        for day in range(35):
            if g == 1 and 12 <= day < 22:
                continue  # gap: 7d frames empty, 14/28d frames not
            for _ in range(rng.randint(1, 4)):
                ts = T0 + dt.timedelta(days=day, minutes=rng.choice(
                    [0, 0, 10, 25, 40]))  # repeated minutes → tied ts
                d = None if rng.random() < 0.15 else rng.randint(-300, 900)
                rows.append((line, stop, ts, d))
    # group C's first two events: the next day's frames hold exactly
    # {-4, -3}, a -3.5 median
    t = T0 - dt.timedelta(days=1)
    rows += [("14", "8501", t, -4), ("14", "8501", t, -3),
             ("14", "8501", t + dt.timedelta(hours=1), None)]
    return rows


def test_training_row_medians_match_duckdb_replay(spark):
    import pandas as pd

    rows = _median_fixture()
    feats = spark.createDataFrame(
        [(ts.date(), line, stop, "Gare", ts, d,
          ts.replace(minute=ts.minute - ts.minute % 10), "GVE")
         for line, stop, ts, d in rows],
        "service_date date, line_text string, stop_code string,"
        "stop_name string, sched_ts timestamp, depart_only_delay_sec int,"
        "sched_bin timestamp, station_id string")
    got = sorted((
        (r.line_text, r.stop_id, r.ts_event, r.delay_depart_sec,
         r.med_delay_7d_sec, r.med_delay_14d_sec, r.med_delay_28d_sec)
        for r in build_training_rows(feats, _mk_weather(spark)).collect()),
        key=_nulls_last)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    ev = pd.DataFrame(rows, columns=["line_text", "stop_code", "ts_event", "d"])
    ev["d"] = ev["d"].astype("Int64")
    con.register("ev", ev)
    want = con.execute(_MED_DUCKDB.format(meds=", ".join(
        _MED_EXPR.format(n=n) for n in (7, 14, 28)))).fetchall()
    assert len(got) == len(rows) == len(want)
    assert got == sorted(want, key=_nulls_last)

    # the fixture exercises what the semantics hinge on
    raw7 = [r[0] for r in con.execute(
        "SELECT quantile_cont(d, 0.5) OVER (PARTITION BY line_text, "
        "stop_code ORDER BY ts_event RANGE BETWEEN INTERVAL 7 DAYS "
        "PRECEDING AND INTERVAL 1 MICROSECOND PRECEDING) FROM ev").fetchall()]
    assert -3.5 in raw7                                   # truncation
    assert any(v is not None and v != int(v) for v in raw7)   # even count
    assert any(v is not None and v == int(v) for v in raw7)   # odd count
    assert any(r[4] is None and r[5] is not None for r in got)  # empty 7d
    assert any(r[3] is None for r in got)                 # NULL delays
    assert len({(r[0], r[1], r[2]) for r in got}) < len(got)  # tied ts
    assert any(len({r[4], r[5], r[6]}) == 3 for r in got)  # frames differ


def test_training_row_plan_has_explicit_width_and_no_percentile(spark):
    # the (line, stop) shuffle names its width, so AQE cannot coalesce
    # the window stage into one task; no medians left in Spark windows
    import re

    ev = _mk_events(spark, [_ev(minute=m, stop=s)
                            for m in (0, 10) for s in ("8501", "8502")])
    feats = build_features_events(ev, _mk_weather(spark), station_id="GVE")
    tr = build_training_rows(feats, _mk_weather(spark))
    assert len(tr.collect()) == 4
    plan = tr._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the final AQE plan
    width = spark.sparkContext.defaultParallelism
    assert len(re.findall(
        rf"Exchange hashpartitioning\(line_text#\d+, stop_code#\d+, "
        rf"{width}\), REPARTITION_BY_NUM", plan)) == 1
    assert "percentile" not in plan.lower()

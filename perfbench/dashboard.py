"""Seeded dashboard sessions over the gold parquet, checked against DuckDB.

A session replays what the two reference dashboards ask of
``tpg_weather_etl_spark.app.data``, one interaction per call: the
event page load, then the stop-line page with line, stop, date and
metric choices drawn from the session's random stream. DataFrame
answers are pulled with ``toPandas()`` as the apps do.

Every answer is compared afterwards, outside the timed call, with the
same question put to DuckDB over the same parquet files. Reference
answers are memoised by question, since every pass writes the same
gold.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from collections.abc import Callable

import duckdb

from tpg_weather_etl_spark.app import data as D

WEATHER = D.WEATHER_COLS


def _canon(v):
    if v is None:
        return None
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "item"):      # numpy scalar
        return _canon(v.item())
    return v


def _same(a, b) -> bool:
    a, b = _canon(a), _canon(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    key = lambda r: tuple(("" if x is None else str(x)) for x in map(_canon, r))
    return all(_same(x, y) for g, w in zip(sorted(got, key=key),
                                           sorted(want, key=key))
               for x, y in zip(g, w))


class Gold:
    """Spark frames of one pass's outputs, as the apps open them."""

    def __init__(self, spark, layout):
        read = spark.read.parquet
        self.events = read(str(layout.silver_ist))
        self.features = read(str(layout.features_events))
        self.gold = D.enhance_time(read(str(layout.by_stop_line)))


class Reference:
    """DuckDB answers over the parquet of a pass."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.memo: dict[tuple, object] = {}

    def point(self, layout) -> None:
        """Read the parquet of ``layout`` from now on; the memo stays."""
        self.con.execute(
            "CREATE OR REPLACE VIEW ev AS SELECT * FROM read_parquet("
            f"'{layout.silver_ist}/**/*.parquet', hive_partitioning=true)")
        self.con.execute("CREATE OR REPLACE VIEW fe AS SELECT * FROM read_parquet("
                         f"'{layout.features_events}/*.parquet')")
        self.con.execute("CREATE OR REPLACE VIEW gold AS SELECT * FROM read_parquet("
                         f"'{layout.by_stop_line}/*.parquet')")

    def ask(self, key: tuple, build: Callable[[], object]):
        if key not in self.memo:
            self.memo[key] = build()
        return self.memo[key]

    def rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()


def _where(lines, stops, dr) -> tuple[str, list]:
    ph = lambda xs: ",".join("?" * len(xs))
    sql = (f" WHERE line_text IN ({ph(lines)}) AND stop_key IN ({ph(stops)})"
           " AND CAST(sched_bin AS DATE) BETWEEN ? AND ?")
    return sql, [*lines, *stops, *dr]


class Session:
    """One replayed dashboard session.

    ``interactions()`` yields ``(name, call, check)``; the caller times
    ``call()``, runs ``check`` on its result afterwards and sends the
    result back, since later choices depend on the options shown."""

    def __init__(self, rng: random.Random, gold: Gold, ref: Reference,
                 days: list[dt.date]):
        self.rng, self.g, self.ref, self.days = rng, gold, ref, days

    def interactions(self):
        g, rng = self.g, self.rng
        yield ("load_latest_events",
               lambda: D.load_latest_events(g.events).toPandas(),
               self._check_latest)
        yield ("feature_sample",
               lambda: D.feature_sample(g.features).toPandas(),
               self._check_sample)
        yield ("compute_kpis", lambda: D.compute_kpis(g.features),
               self._check_kpis)
        yield ("missing_values_table",
               lambda: D.missing_values_table(g.features),
               self._check_missing)
        yield ("coalescing_table", lambda: D.coalescing_table(g.features),
               self._check_coalescing)
        all_lines = yield ("line_options", lambda: D.line_options(g.gold),
                           self._check_lines)
        lines = rng.sample(all_lines, 1)
        options = yield ("stop_options", lambda: D.stop_options(g.gold, lines),
                         lambda got: self._check_stops(got, lines))
        stops = rng.sample([k for k, _ in options], min(len(options), 2))
        day = rng.choice(self.days)
        dr = (day, day)
        metric = rng.choice(list(D.METRIC_LABELS))
        view = lambda: D.filter_view(g.gold, lines=lines, stop_keys=stops,
                                     date_range=dr)
        yield ("kpi_row", lambda: D.kpi_row(view()),
               lambda got: self._check_kpi_row(got, lines, stops, dr))
        yield ("timeseries",
               lambda: D.timeseries(view(), metric).toPandas(),
               lambda got: self._check_timeseries(got, lines, stops, dr,
                                                  metric))
        yield ("heatmap_hour_dow",
               lambda: D.heatmap_hour_dow(view()).toPandas(),
               lambda got: self._check_heatmap(got, lines, stops, dr))

    # --- checks: each returns True when Spark's answer matches DuckDB ---

    def _check_latest(self, got) -> bool:
        want = self.ref.ask(("latest",), lambda: self.ref.rows(
            "SELECT service_date, COALESCE(depart_sched_ts, arrival_sched_ts)"
            " AS s FROM ev WHERE operator_abbr = 'TPG' AND (product_id IN"
            " ('Bus','Tram') OR product_id IS NULL)"
            f" ORDER BY service_date DESC, s DESC LIMIT {D.LATEST_LIMIT}"))
        keys = list(zip(got["service_date"], got["sched_ts"]))
        return keys == sorted(keys, reverse=True) and _same_rows(keys, want)

    def _check_sample(self, got) -> bool:
        known = self.ref.ask(("sample_keys",), lambda: {
            tuple(map(_canon, r)) for r in self.ref.rows(
                "SELECT line_text, stop_code, sched_ts FROM fe")})
        n = self.ref.ask(("n_features",),
                         lambda: self.ref.rows("SELECT COUNT(*) FROM fe")[0][0])
        keys = [tuple(map(_canon, r)) for r in zip(
            got["line_text"], got["stop_code"], got["sched_ts"])]
        return len(keys) == min(D.SAMPLE_SIZE, n) and all(k in known for k in keys)

    def _check_kpis(self, got) -> bool:
        full = " AND ".join(f"{c} IS NOT NULL" for c in WEATHER)
        want = self.ref.ask(("kpis",), lambda: self.ref.rows(
            "SELECT COUNT(*), SUM((depart_sched_ts IS NOT NULL AND"
            " depart_est_ts IS NOT NULL)::BIGINT),"
            " AVG(any_coalesce_from_arrival::DOUBLE) * 100,"
            " SUM((sched_ts IS NULL OR est_ts IS NULL)::BIGINT),"
            f" SUM(({full})::BIGINT) FROM fe")[0])
        keys = ("rows_total", "both_depart_present", "pct_any_coalesce",
                "unusable", "full_weather_rows")
        return all(_same(got[k], w) for k, w in zip(keys, want))

    def _check_missing(self, got) -> bool:
        def build():
            cols = [r[0] for r in self.ref.rows("DESCRIBE fe")]
            vals = self.ref.rows("SELECT " + ", ".join(
                f'ROUND(AVG(("{c}" IS NULL)::DOUBLE) * 100.0, 1)'
                for c in cols) + " FROM fe")[0]
            return sorted(zip(cols, vals), key=lambda kv: (-(kv[1] or 0.0),
                                                           kv[0]))[:D.MISS_TOP_N]
        want = self.ref.ask(("missing",), build)
        return [c for c, _ in got] == [c for c, _ in want] and all(
            _same(a, b) for (_, a), (_, b) in zip(got, want))

    def _check_coalescing(self, got) -> bool:
        flags = ["coalesce_sched_from_arrival", "coalesce_est_from_arrival",
                 "any_coalesce_from_arrival"]
        want = self.ref.ask(("coalescing",), lambda: self.ref.rows(
            "SELECT COUNT(*), " + ", ".join(f"SUM({c}::BIGINT)" for c in flags)
            + ", SUM((depart_sched_ts IS NOT NULL AND depart_est_ts IS NOT NULL)"
            "::BIGINT) FROM fe")[0])
        n, counts = want[0], want[1:]
        names = [*flags, "both_depart_present"]
        return [m for m, _, _ in got] == names and all(
            c == w and _same(p, 100.0 * w / n)
            for (_, c, p), w in zip(got, counts))

    def _check_lines(self, got) -> bool:
        want = self.ref.ask(("lines",), lambda: [r[0] for r in self.ref.rows(
            "SELECT DISTINCT line_text FROM gold WHERE line_text IS NOT NULL"
            " ORDER BY 1")])
        return list(got) == want

    def _check_stops(self, got, lines) -> bool:
        want = self.ref.ask(("stops", *lines), lambda: self.ref.rows(
            "SELECT DISTINCT stop_key, stop_name FROM gold WHERE line_text IN"
            f" ({','.join('?' * len(lines))}) AND stop_key IS NOT NULL"
            " AND stop_name IS NOT NULL", lines))
        names = [n for _, n in got]
        return names == sorted(names) and _same_rows(list(got), want)

    def _check_kpi_row(self, got, lines, stops, dr) -> bool:
        where, params = _where(lines, stops, dr)
        want = self.ref.ask(("kpi_row", *params), lambda: self.ref.rows(
            "SELECT SUM(n_trips), AVG(delay_avg_min), AVG(delay_p90_min),"
            " AVG(share_late_ge2) FROM gold" + where, params)[0])
        keys = ("trips", "avg_delay_min", "p90_delay_min", "share_late_ge2")
        return all(_same(got[k], w) for k, w in zip(keys, want))

    def _check_timeseries(self, got, lines, stops, dr, metric) -> bool:
        where, params = _where(lines, stops, dr)
        want = self.ref.ask(("timeseries", metric, *params), lambda: self.ref.rows(
            "SELECT sched_bin, line_text, stop_key, stop_name,"
            f" {metric} AS value, n_trips FROM gold" + where, params))
        cols = ["sched_bin", "line_text", "stop_key", "stop_name", "value",
                "n_trips"]
        rows = list(zip(*[got[c] for c in cols]))
        order = [tuple(map(_canon, r[:3])) for r in rows]
        return order == sorted(order) and _same_rows(rows, want)

    def _check_heatmap(self, got, lines, stops, dr) -> bool:
        where, params = _where(lines, stops, dr)
        want = self.ref.ask(("heatmap", *params), lambda: self.ref.rows(
            "SELECT isodow(sched_bin) - 1, hour(sched_bin), AVG(delay_avg_min)"
            " FROM gold" + where + " GROUP BY 1, 2 ORDER BY 1, 2", params))
        rows = list(zip(got["dow"], got["hour"], got["delay_avg_min"]))
        return len(rows) == len(want) and all(
            _same(a, b) for r, w in zip(rows, want) for a, b in zip(r, w))

"""Workload ``transit_pipeline``: the paper's batch job, then its dashboards.

Set-up generates two seeded tiers of raw files. The small tier runs
one cold raw→gold pass as the warm-up; its gold must value-match the
reference SQL (``REF_FEATURES_SQL``/``REF_GOLD_SQL`` of
``tests/test_e2e_dashboard.py``, replayed in DuckDB over the same
silver), and a warm-up dashboard session runs on it.

The timed loop runs batches while the next is expected to end within
the run's seconds, one at least. A batch is one raw→gold pass on the
main tier followed by SESSIONS seeded dashboard sessions over the gold
that pass wrote: what a user waits for to rebuild gold and then browse
it, so a change that trades write speed for read speed shows in the
same figure. Each pass's silver and gold row counts are checked against
the counts the generator planted, and each dashboard answer against
DuckDB. The operation kinds are the six pipeline steps; the dashboard
calls are timed one by one for the per-layer figures.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import statistics
import time
from pathlib import Path

import duckdb

from dashboard import Gold, Reference, Session
from gen_transit import START, Planted, generate
from pipeline import STEPS, Layout, steps
from spans import Tracer
from stats import Outcome, Timings

SMALL = {"n_days": 1, "scale": 0.15}
MAIN = {"n_days": 2, "scale": 2.0}
SESSIONS = 4   # dashboard sessions per batch


def _count(path: Path) -> int:
    return duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]


def _mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*.parquet")) / 1e6


class TransitPipeline:
    name = "transit_pipeline"

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer,
                 outcome: Outcome):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.outcome = tracer, outcome
        self.rng = random.Random(f"dashboard-{seed}")
        self.days = [START + dt.timedelta(days=d) for d in range(MAIN["n_days"])]
        self.ref = Reference()
        self.timings = Timings()
        self.calls: dict[str, list[float]] = {}   # seconds per app.data call
        self.untraced_pass_s: list[float] = []
        self.traced_pass_s: list[float] = []
        self.unspanned_s: list[float] = []
        self.out_facts: dict[str, float] = {}
        self.n_pass = 0

    # ------------------------------------------------------------ set-up

    def setup(self) -> float:
        """Generate inputs and warm up; returns the set-up seconds. The
        reference and row-count checks are left out of them; the warm-up
        session's own DuckDB comparisons, a few milliseconds, are not."""
        t0 = time.perf_counter()
        small = generate(self.work / "raw-small", self.seed, **SMALL)
        self.raw = generate(self.work / "raw", self.seed, **MAIN)
        lay = Layout(self.work / "small")
        for _, call in steps(self.spark, small, lay):
            call()
        spent = time.perf_counter() - t0
        self._check_counts(lay, small)
        self._check_reference(lay)
        ref = Reference()
        ref.point(lay)
        gold = Gold(self.spark, lay)
        t1 = time.perf_counter()
        with self.tracer.paused():
            self._session(Session(random.Random(self.seed), gold, ref, [START]))
        self.calls.clear()
        return spent + (time.perf_counter() - t1)

    def _check_counts(self, lay: Layout, raw: Planted) -> None:
        want = {
            lay.silver_ist: raw.silver_rows,
            lay.weather_obs: raw.weather_silver_rows,
            lay.features_events: raw.features_events_rows,
            lay.by_stop_line: raw.by_stop_line_rows,
            lay.training_row: raw.training_rows,
            lay.warehouse / "gtfs_routes": raw.gtfs_routes,
            lay.warehouse / "gtfs_trips": raw.gtfs_trips,
            lay.warehouse / "gtfs_stop_times": raw.gtfs_stop_times,
            lay.warehouse / "gtfs_stops": raw.gtfs_stops,
        }
        for path, n in want.items():
            got = _count(path)
            self.outcome.check(got == n, f"{path.name}: {got} rows, planted {n}")

    def _check_reference(self, lay: Layout) -> None:
        """Gold of ``lay`` against the reference SQL replayed in DuckDB."""
        from test_e2e_dashboard import (FEAT_COLS, GOLD_COLS, REF_FEATURES_SQL,
                                        REF_GOLD_SQL, _rows)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute("CREATE VIEW ist_events AS SELECT * FROM read_parquet("
                    f"'{lay.silver_ist}/**/*.parquet', hive_partitioning=true)")
        con.execute("CREATE VIEW weather_obs AS SELECT * FROM read_parquet("
                    f"'{lay.weather_obs}/*.parquet')")
        con.execute(REF_FEATURES_SQL)
        con.execute(REF_GOLD_SQL)
        for table, path, cols in (
                ("features_events", lay.features_events, FEAT_COLS),
                ("features_by_stop_line", lay.by_stop_line, GOLD_COLS)):
            sel = "SELECT " + ", ".join(cols)
            want = [dict(zip(cols, r)) for r in con.execute(f"{sel} FROM {table}").fetchall()]
            got = [dict(zip(cols, r)) for r in con.execute(
                f"{sel} FROM read_parquet('{path}/*.parquet')").fetchall()]
            self.outcome.check(len(got) > 0 and _rows(cols, got) == _rows(cols, want),
                               f"{table} differs from the reference SQL")

    # ------------------------------------------------------------ timed loop

    def run(self, seconds: float) -> None:
        """Batches while the next is expected to end within ``seconds``
        (one at least). A traced run first times a traced pass after an
        untraced one, so the tracing overhead is not confused with
        warm-up; the batch's pass then gives a second untraced time."""
        if self.tracer.enabled:
            for traced in (False, True):
                self._pass(traced)
        t_end = time.perf_counter() + seconds
        last = self._batch()
        while last and time.perf_counter() + last <= t_end:
            last = self._batch()

    def _batch(self) -> float:
        """One raw→gold pass, then SESSIONS dashboard sessions over the
        gold it wrote; returns the batch's wall seconds, 0 if it failed."""
        t0 = time.perf_counter()
        done = self._pass(traced=False)
        if done is None:
            return 0.0
        lay, seconds = done
        gold = Gold(self.spark, lay)
        self.ref.point(lay)
        for _ in range(SESSIONS):
            seconds += self._session(Session(self.rng, gold, self.ref, self.days))
        self.timings.batches.append(seconds)
        return time.perf_counter() - t0

    def _pass(self, traced: bool) -> tuple[Layout, float] | None:
        """One raw→gold pass; returns its layout and the seconds of its
        steps (checks excluded)."""
        lay = Layout(self.work / f"pass{self.n_pass}")
        self.n_pass += 1
        seconds = 0.0
        try:
            with self.tracer.paused(not traced), \
                    self.tracer.span("pipeline.pass", spark=False) as sp:
                for name, call in steps(self.spark, self.raw, lay):
                    with self.tracer.span(name) as step:
                        call()
                    if not traced:
                        self.timings.op(name, step.seconds)
                    seconds += step.seconds
        except Exception as exc:  # noqa: BLE001 - a failed pass is counted
            self.outcome.error("pipeline pass", exc)
            return None
        if traced:
            self.traced_pass_s.append(seconds)
            self.unspanned_s.append(self.tracer.self_seconds(sp))
            self.out_facts = {
                "ingest.istdaten.keep_ratio": _count(lay.silver_ist) / self.raw.raw_rows,
                "features.by_stop_line.out_files": float(
                    len(list(lay.by_stop_line.glob("*.parquet")))),
                "features.events.out_mb": _mb(lay.features_events),
                "features.by_stop_line.out_mb": _mb(lay.by_stop_line),
                "features.training_row.out_mb": _mb(lay.training_row),
            }
        else:
            self.untraced_pass_s.append(seconds)
        self._check_counts(lay, self.raw)
        for old in range(self.n_pass - 2, -1, -1):
            shutil.rmtree(self.work / f"pass{old}", ignore_errors=True)
        return lay, seconds

    def _session(self, session: Session) -> float:
        """One dashboard session; returns the seconds of its calls
        (checks excluded)."""
        seconds = 0.0
        interactions = session.interactions()
        item = next(interactions)
        while True:
            name, call, check = item
            try:
                with self.tracer.span(f"app.data.{name}") as sp:
                    result = call()
            except Exception as exc:  # noqa: BLE001 - a failed call is counted
                self.outcome.error(f"app.data.{name}", exc)
                break
            self.calls.setdefault(name, []).append(sp.seconds)
            seconds += sp.seconds
            self.outcome.check(check(result), f"app.data.{name} differs from DuckDB")
            try:
                item = interactions.send(result)
            except StopIteration:
                break
        return seconds

    # ------------------------------------------------------------ results

    def per_layer(self) -> dict[str, tuple[float, str]]:
        out: dict[str, tuple[float, str]] = {}
        cores = self.spark.sparkContext.defaultParallelism
        for step in STEPS:
            spans = [s for s in self.tracer.spans if s.name == step]
            m = lambda k: statistics.median(s.metrics[k] for s in spans)
            wall, run_ms = statistics.median(s.seconds for s in spans), m("run_ms")
            out[f"{step}.s"] = (wall, "s")
            out[f"{step}.shuffle_write_mb"] = (m("shuffle_write_bytes") / 1e6, "MB")
            out[f"{step}.spill_mb"] = (m("spill_bytes") / 1e6, "MB")
            out[f"{step}.tasks"] = (m("tasks"), "count")
            out[f"{step}.gc_share"] = (m("gc_ms") / run_ms if run_ms else 0.0, "share")
            out[f"{step}.busy_share"] = (run_ms / 1e3 / (wall * cores), "share")
        out["pipeline.unspanned_s"] = (statistics.median(self.unspanned_s), "s")
        out["trace.overhead_s"] = (
            statistics.median(self.traced_pass_s)
            - statistics.median(self.untraced_pass_s), "s")
        for k, v in self.out_facts.items():
            unit = "MB" if k.endswith("_mb") else (
                "count" if k.endswith("files") else "ratio")
            out[k] = (v, unit)
        for name, xs in self.calls.items():
            out[f"app.data.{name}.ms"] = (statistics.median(xs) * 1e3, "ms")
        calls = [s for s in self.tracer.spans if s.name.startswith("app.data.")]
        out["app.data.jobs_per_op"] = (
            statistics.mean(s.metrics["jobs"] for s in calls), "count")
        return out

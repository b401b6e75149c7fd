"""Workload ``query_mix``: a fixed list of registry queries, oracle-checked.

The list covers every ``queries_*`` module, the canaries
``pricing_summary``, ``region_revenue`` and ``top_orders``, and the
open targets ``pagerank_parts``, ``minhash_pairs``, ``part_triangles``
and ``dedup_clusters``. The seed sets the order of the list (see
``UNITS``) and the values of the generated tables.

Set-up generates the tables and runs one untimed warm-up pass over the
whole list, so that every query's first-execution costs in the process
(class loading, code generation, JIT compilation, the Python workers
pandas UDFs run in) are paid before timing and no query pays them only
because the seed put it early. A query's first execution varies about
twice as much from run to run as its later ones. The timed loop then
runs the whole list while the next pass is expected to end within the
run's seconds, one pass at least. Answers are collected (they are small
by construction) rather than sent to the noop sink, so that each one can
be hashed and compared, after its timed call, with the hash of the
query's ``registry.all_oracles()`` DuckDB oracle over the same parquet;
the warm-up pass's answers are checked too. ``caching.release_all()`` is
called before and after every pass so no pass reads persists another one
left. A name missing from ``all_queries()`` and any exception count as
failed operations; the list is never shrunk to what the registry happens
to hold.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time
from pathlib import Path

import duckdb
from check_oracle import canon_rows

import gen_tables
from spans import Tracer
from stats import Outcome, Timings

from tpg_weather_etl_spark import caching
from tpg_weather_etl_spark.registry import all_oracles, all_queries

# Units of the list. Queries of one unit share a cross-query cache
# (the MinHash edge list; the co-purchase graph) and keep the bench.py
# order, builder first; the seed shuffles the units. A seeded order
# inside a family would only move which query pays the shared build.
UNITS = [
    ("pricing_summary",), ("region_revenue",), ("top_orders",),  # relational
    ("minhash_pairs", "dedup_clusters"),                       # text, ml
    ("embedding_topk",),                                       # embeddings
    ("sessionize",),                                           # scalar
    ("pagerank_parts", "part_triangles"),                      # ml
    ("multimodal_features",),                                  # multimodal
]
QUERIES = [q for unit in UNITS for q in unit]


def answer_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result, over the canonical columns and
    rows of the repo's oracle gate (``tools/check_oracle.py``)."""
    ccols, crows = canon_rows(cols, rows)
    h = hashlib.sha1(repr(ccols).encode())
    for r in crows:
        h.update(repr(r).encode())
    return h.hexdigest()


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer,
                 outcome: Outcome):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.outcome = tracer, outcome
        units = list(UNITS)
        random.Random(f"order-{seed}").shuffle(units)
        self.order = [q for unit in units for q in unit]
        self.tables = work / "tables"
        self.timings = Timings()
        self.builds: list[int] = []
        self.want: dict[str, str] = {}

    def setup(self) -> float:
        """Generate the tables and run the warm-up pass; returns the
        set-up seconds, the answer checks left out of them."""
        t0 = time.perf_counter()
        gen_tables.generate(self.tables, self.seed)
        # data-derived oracles are built over the tables the views read
        os.environ["SPARK_GRAFT_ORACLE_SF"] = str(self.tables)
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.con = duckdb.connect()
        for t in gen_tables.SIZES | {"region": 0, "nation": 0}:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{self.tables}/{t}.parquet')")
        spent = time.perf_counter() - t0
        with self.tracer.paused():
            spent += self._pass(record=False)
        return spent

    def run(self, seconds: float) -> None:
        """Passes while the next is expected to end within ``seconds``
        (one at least)."""
        t_end = time.perf_counter() + seconds
        last = self._pass()
        while last and time.perf_counter() + last <= t_end:
            last = self._pass()

    def _pass(self, record: bool = True) -> float:
        """One pass over the list, each query's answer checked against
        its oracle after the timed call; returns the seconds the queries
        took, 0 if one failed. Only recorded passes go into the timings."""
        caching.release_all()
        builds, ok, seconds = 0, True, 0.0
        with self.tracer.span("query_mix.pass", spark=False):
            for name in self.order:
                if name not in self.queries or name not in self.oracles:
                    self.outcome.fail(f"{name}: not in the registry")
                    ok = False
                    continue
                marker = caching.mark()
                try:
                    with self.tracer.span(f"queries.{name}") as q:
                        df = self.queries[name](self.spark, str(self.tables))
                        rows = df.collect()
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    self.outcome.error(name, exc)
                    ok = False
                    continue
                builds += caching.live_since(marker)
                if record:
                    self.timings.op(name, q.seconds)
                seconds += q.seconds
                self.outcome.check(answer_hash(df.columns, rows) == self._want(name),
                                   f"{name}: answer differs from its oracle")
        caching.release_all()
        if not ok:
            return 0.0
        if record:
            self.timings.batches.append(seconds)
            self.builds.append(builds)
        return seconds

    def _want(self, name: str) -> str:
        """Answer hash of the query's oracle, computed once per run."""
        if name not in self.want:
            res = self.con.execute(self.oracles[name])
            self.want[name] = answer_hash([d[0] for d in res.description],
                                          res.fetchall())
        return self.want[name]

    def per_layer(self) -> dict[str, tuple[float, str]]:
        out: dict[str, tuple[float, str]] = {}
        modules: dict[str, float] = {}
        for name in QUERIES:
            spans = [s for s in self.tracer.spans if s.name == f"queries.{name}"]
            if not spans:
                continue
            wall = statistics.median(s.seconds for s in spans)
            out[f"queries.{name}.s"] = (wall, "s")
            out[f"queries.{name}.shuffle_write_mb"] = (statistics.median(
                s.metrics["shuffle_write_bytes"] for s in spans) / 1e6, "MB")
            module = self.queries[name].__module__.rsplit(".", 1)[-1]
            modules[module] = modules.get(module, 0.0) + wall
        for module, s in sorted(modules.items()):
            out[f"{module}.s"] = (s, "s")
        out["caching.builds"] = (statistics.median(self.builds), "count")
        return out

"""Shuffle-budget regression guard over the whole query registry.

`plan_budgets.json` pins the shuffle-exchange count of every gate
query's physical plan at sf0.001. A code change that adds an Exchange
to any plan — a lost co-partitioning, a broadcast that fell back to
shuffle, an accidental repartition — fails here mechanically instead
of surfacing as a mystery slowdown at the next bench run (or worse,
only at cluster scale, where one extra shuffle over 100 TB is hours).

Plans are built only (analysis + physical planning); nothing executes
— with ONE documented exception (ADVICE r12): the triangle family
(`part_triangles` / `clustering_coeff` / `edge_jaccard`) runs a
bounded max-out-degree agg at CONSTRUCTION time to pick the hub-free
vs salted branch (queries_ml._oriented_triangles), so building those
three plans executes a small job and requires sf0.001 data to exist —
which this suite (and every other caller: the driver gate, bench,
check_oracle) always has.
The same test also fails a query whose construction writes session
conf (`spark.conf.set`/`unset`): queries share the caller's session.
Fewer exchanges than budgeted passes — run
`python tools/update_plan_budgets.py` to ratchet the budget down (or,
after review, to accept a deliberate increase).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

SF_DIR = "/root/testdata/sf0.001"
BUDGETS = json.loads((Path(__file__).parent / "plan_budgets.json").read_text())


def _names():
    from tpg_weather_etl_spark.registry import all_queries
    return sorted(all_queries())


def test_every_query_has_a_budget():
    missing = set(_names()) - set(BUDGETS)
    assert not missing, (
        f"queries with no shuffle budget: {sorted(missing)} — run "
        "tools/update_plan_budgets.py and review+commit the diff"
    )


@pytest.fixture(autouse=True)
def _clean_cache_baseline(spark):
    # Budgets are recorded against a cache-free session, per query. A
    # persist left by an earlier test OR by an earlier budget test's
    # query CONSTRUCTION (e.g. cluster_split building the minhash
    # edge cache) would substitute InMemoryRelations into matching
    # subtrees and shift exchange counts with registry order
    # (observed: an earlier test's minhash run changing
    # containment_pairs' plan; round 6: cluster_split doing the same
    # to every alphabetically-later shingle query). Clear both layers
    # before every single budget check so budgets are canonical.
    from tpg_weather_etl_spark.caching import release_all
    release_all()
    spark.catalog.clearCache()
    # Budgets are also canonical w.r.t. a CONSISTENT width config:
    # shuffle.partitions must match the session's defaultParallelism-
    # derived width (tool: 32/32, this suite: 4/4), else explicit
    # width-N repartitions stop co-partitioning with
    # ENSURE_REQUIREMENTS exchanges and plans gain one Exchange. An
    # app main() run by an earlier test calls get_spark(), whose
    # builder conf is APPLIED to the existing session (getOrCreate
    # contract) and flips shuffle.partitions to the production
    # default (observed: test_dashboard_smoke → curation_e2e 8 → 9
    # in the full suite only). Re-pin the suite's canonical value.
    spark.conf.set("spark.sql.shuffle.partitions",
                   spark.sparkContext.defaultParallelism)
    yield


@pytest.mark.parametrize("name", _names())
def test_shuffle_count_within_budget(spark, name, monkeypatch):
    if name not in BUDGETS:
        pytest.skip("covered by test_every_query_has_a_budget")
    from pyspark.sql.conf import RuntimeConfig

    from tpg_weather_etl_spark.plans.audit import count_exchanges
    from tpg_weather_etl_spark.registry import all_queries

    # Queries share one session, so building a plan (which runs the
    # eager CC/PageRank loops) must not write its conf. Record every
    # set/unset made while the plan is built; the fixture's own
    # shuffle.partitions pin above runs before recording starts.
    writes = []
    for method in ("set", "unset"):
        def record(self, key, *args, _orig=getattr(RuntimeConfig, method),
                   _method=method):
            writes.append((_method, key))
            return _orig(self, key, *args)
        monkeypatch.setattr(RuntimeConfig, method, record)
    n = count_exchanges(all_queries()[name](spark, SF_DIR))
    monkeypatch.undo()
    assert not writes, f"{name} wrote session conf: {writes}"
    assert n <= BUDGETS[name], (
        f"{name}: plan now has {n} shuffle exchanges, budget is "
        f"{BUDGETS[name]} — a new shuffle appeared. If intentional, "
        "rerun tools/update_plan_budgets.py and commit the diff."
    )

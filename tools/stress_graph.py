"""Scale probe for the graph family (round 8, VERDICT r7 task 4;
extended round 11 per VERDICT r10 tasks 3-4).

`part_triangles`, `pagerank_parts`, `degree_distribution`, and the
connected-components loop all claim near-linear scaling because their
per-key work is structurally bounded (degree orientation bounds wedge
fan-out by arboricity; the PageRank/CC loops join a pre-partitioned,
checkpointed edge list against a small frontier). This probe checks
those claims with measurements instead of arguments, mirroring
tools/stress_curation.py:

- generate the same synthetic co-purchase workload at every tier of
  ``--orders`` (default 250k / 1M / 2M — the round-11 8x-edge second
  doubling, VERDICT r10 task 4) and assert wall-clock between
  consecutive tiers grows <= RATIO_SLACK_PER_EDGE_UNIT x the measured
  edge growth (linear ideal = the edge ratio itself; a quadratic
  wedge or join blowup shows ~edge_ratio^2);
- assert `_EDGE_ROWS_PER_PARTITION` sizing actually grows the loop
  partition count across tiers (the knob is load-bearing, not
  decorative);
- time the CC pointer-jumping loop on the same graphs;
- PLANTED-SKEW section (VERDICT r10 task 3): rebuild the mid tier
  with (a) one hub part added to ``--hub-share`` of all orders and
  (b) a planted same-degree clique whose smallest-id member's
  ORIENTED out-degree exceeds WEDGE_APEX_BUDGET (a single hub is
  neutralized by degree orientation — every hub edge points INTO the
  hub — so the clique is what actually engages the apex split; the
  probe measures both). Gates: the w1 build side of the wedge join
  holds <= 2 x WEDGE_APEX_BUDGET rows per (src, salt) key even with
  the planted skew, and per-edge wall time of the two triangle
  consumers stays within HUB_SLOWDOWN_MAX of the clean same-size run.

Writes STRESS_graph.json at the repo root; exit 1 on breach.

Usage: python tools/stress_graph.py [--orders 250000,1000000,2000000]
                                    [--hub-share 0.1] [--no-hub]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# Consecutive-tier gate: time ratio <= slack x edge ratio. 1.5 is the
# same allowance the old fixed gate encoded (6.0 on 4x edges); a
# quadratic term would show ~edge_ratio x over the linear ideal (4.0
# slack-equivalent on a 4x step, 2.0 on a 2x step) — far outside.
RATIO_SLACK_PER_EDGE_UNIT = 1.5
# planted-skew run: per-edge wall time of the triangle consumers may
# cost at most this much more than the clean same-size run (the split
# replicates hot apexes' probe side ceil(d/budget)x, so some overhead
# is the design, unbounded overhead is the bug)
HUB_SLOWDOWN_MAX = 2.0
BASKET = 5          # distinct parts per order -> C(5,2)=10 pairs
PARTS_PER_ORDER = 7.5   # TPC-H-ish parts:orders ratio (20k:150k)
CLIQUE_SIZE = 600   # planted same-degree clique: smallest-id member's
                    # oriented out-degree = 599 >> WEDGE_APEX_BUDGET


def _write_graph(n_orders: int, out_dir: Path, hub_share: float = 0.0,
                 clique: int = 0) -> int:
    """Synthetic lineitem (l_orderkey, l_partkey) co-purchase workload
    with a zipf-skewed part popularity, deterministic in n_orders.

    ``hub_share`` > 0 plants one dedicated hub part into that share of
    all orders (the VERDICT r10 task-3 shape: one part in 10% of
    orders). ``clique`` > 0 additionally plants a ``clique``-member
    part clique via synthetic 2-item orders so every clique pair is an
    edge: equal degrees make orientation fall back to the id
    tie-break, giving the smallest-id member an oriented out-degree of
    clique-1 — the shape that actually engages the apex split."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(42)
    n_parts = max(100, int(n_orders / PARTS_PER_ORDER))
    # zipf-ish skew via squared uniform — hot parts exist (the wedge
    # fan-out stressor) without one part touching every order
    draws = (rng.random((n_orders, BASKET)) ** 2 * n_parts).astype(
        np.int64)
    orderkeys = np.repeat(np.arange(1, n_orders + 1), BASKET)
    parts = draws.ravel()
    if hub_share > 0:
        hub_part = n_parts + 1
        n_hub = int(n_orders * hub_share)
        orderkeys = np.concatenate(
            [orderkeys, np.arange(1, n_hub + 1)])
        parts = np.concatenate(
            [parts, np.full(n_hub, hub_part, np.int64)])
    if clique > 0:
        # one synthetic 2-item order per clique pair; ids far above
        # both the organic parts and the hub
        base = n_parts + 1000
        ii, jj = np.triu_indices(clique, k=1)
        ok0 = n_orders + 1000
        pair_orders = np.repeat(
            np.arange(ok0, ok0 + len(ii)), 2)
        pair_parts = np.empty(2 * len(ii), np.int64)
        pair_parts[0::2] = base + ii
        pair_parts[1::2] = base + jj
        orderkeys = np.concatenate([orderkeys, pair_orders])
        parts = np.concatenate([parts, pair_parts])
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(parts, pa.int64()),
    }), out_dir / "lineitem.parquet")
    return n_parts


def _skew_metrics(spark, sf_dir: str) -> dict:
    """Independent re-derivation of the wedge join's w1 build-side
    grouping (orientation + per-apex salt count + dst-hash salt) so
    the probe measures the per-(src, salt) bound without reaching into
    `_oriented_triangles` internals — same formulation, fresh code."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import tpg_weather_etl_spark.queries_ml as QM

    e = QM._copurchase_edges(spark, sf_dir)
    deg = (e.select(F.col("u").alias("x"))
           .unionAll(e.select(F.col("v").alias("x")))
           .groupBy("x").agg(F.count("*").alias("d")))
    e2 = (e.join(deg.select(F.col("x").alias("u"),
                            F.col("d").alias("du")), "u")
          .join(deg.select(F.col("x").alias("v"),
                           F.col("d").alias("dv")), "v"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = e2.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"))
    w_src = Window.partitionBy("src")
    salted = (oriented
              .withColumn("ns", F.greatest(
                  F.lit(1),
                  F.ceil(F.count("*").over(w_src)
                         / F.lit(QM.WEDGE_APEX_BUDGET))).cast("int"))
              .withColumn("salt",
                          F.pmod(F.hash("dst"), F.col("ns"))))
    row = (salted.groupBy("src", "salt")
           .agg(F.count("*").alias("g"), F.max("ns").alias("ns"))
           .agg(F.max("g").alias("max_group"),
                F.max("ns").alias("max_ns")).collect()[0])
    odeg = (oriented.groupBy("src").agg(F.count("*").alias("od"))
            .agg(F.max("od").alias("m")).collect()[0])
    return {"max_src_salt_rows": int(row.max_group),
            "max_n_salts": int(row.max_ns),
            "max_oriented_outdeg": int(odeg.m)}


def main() -> int:
    ap = argparse.ArgumentParser()
    # tiers ~ sf0.1 scale and up: 250k orders x ~10 pairs = 2.5M raw
    # pairs (~2.5M distinct edges); 1M = the r10 tier; 2M = the
    # round-11 second doubling (8x the base tier's edges)
    ap.add_argument("--orders", default="250000,1000000,2000000")
    ap.add_argument("--hub-share", type=float, default=0.1,
                    help="share of all orders the planted hub part "
                         "joins in the skew section")
    ap.add_argument("--no-hub", action="store_true",
                    help="skip the planted-skew section")
    args = ap.parse_args()
    sizes = [int(s) for s in args.orders.split(",") if s]

    from pyspark.sql import functions as F

    import tpg_weather_etl_spark.queries_ml as QM
    from tpg_weather_etl_spark.caching import release_all
    from tpg_weather_etl_spark.operators.graph import (
        _EDGE_ROWS_PER_PARTITION,
        _MAX_LOOP_PARTITIONS,
        connected_components_min_label,
    )
    from tpg_weather_etl_spark.registry import all_queries
    from tpg_weather_etl_spark.session import get_spark

    spark = get_spark(app_name="stress_graph")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    queries = ["degree_distribution", "part_triangles", "pagerank_parts",
               "clustering_coeff", "edge_jaccard"]
    timings: dict[str, dict[int, float]] = {
        q: {} for q in queries + ["connected_components"]}
    n_edges: dict[int, int] = {}
    loop_parts: dict[int, int] = {}

    for n in sizes:
        out_dir = Path(f"/tmp/spark_graft_stress_graph_{n}")
        _write_graph(n, out_dir)
        print(f"== {n} orders ==")
        edges = QM._copurchase_edges(spark, str(out_dir))
        n_edges[n] = edges.count()
        # the loop sizing both CC and PageRank derive from the edge
        # count (PageRank symmetrizes, hence 2x)
        loop_parts[n] = max(1, min(
            _MAX_LOOP_PARTITIONS,
            -(-2 * n_edges[n] // _EDGE_ROWS_PER_PARTITION)))
        print(f"  edges={n_edges[n]}  loop_parts={loop_parts[n]}")
        for q in queries:
            t0 = time.perf_counter()
            qs[q](spark, str(out_dir)).write.format("noop").mode(
                "overwrite").save()
            dt = round(time.perf_counter() - t0, 2)
            timings[q][n] = dt
            print(f"  {q}: {dt}s")
            release_all()
        t0 = time.perf_counter()
        labels = connected_components_min_label(
            QM._copurchase_edges(spark, str(out_dir)).select(
                F.col("u").alias("doc_a"), F.col("v").alias("doc_b")))
        labels.write.format("noop").mode("overwrite").save()
        timings["connected_components"][n] = round(
            time.perf_counter() - t0, 2)
        print(f"  connected_components: "
              f"{timings['connected_components'][n]}s")
        release_all()
        shutil.rmtree(out_dir, ignore_errors=True)

    # consecutive-tier ratios, gated against measured edge growth
    steps = []
    for lo, hi in zip(sizes, sizes[1:]):
        er = round(n_edges[hi] / max(n_edges[lo], 1), 2)
        steps.append({
            "orders": [lo, hi],
            "edge_ratio": er,
            "time_ratio": {
                q: round(t[hi] / max(t[lo], 0.01), 2)
                for q, t in timings.items()
                if lo in t and hi in t},
            "tripwire": round(RATIO_SLACK_PER_EDGE_UNIT * er, 2),
        })
    rec = {
        "sizes_orders": sizes,
        "n_edges": {str(k): v for k, v in n_edges.items()},
        "loop_parts": {str(k): v for k, v in loop_parts.items()},
        "edge_rows_per_partition": _EDGE_ROWS_PER_PARTITION,
        "timings_sec": {q: {str(k): v for k, v in t.items()}
                        for q, t in timings.items()},
        "steps": steps,
        "ratio_slack_per_edge_unit": RATIO_SLACK_PER_EDGE_UNIT,
    }

    bad = []
    for s in steps:
        lo = s["orders"][0]
        for q, r in s["time_ratio"].items():
            # skip the ratio when the base run is too fast to measure —
            # JVM/GC noise at low single-digit seconds produces
            # spurious ratios (ADVICE r7 on stress_curation)
            if timings[q][lo] >= 2.0 and r > s["tripwire"]:
                bad.append(f"{q} at {s['orders']}: {r}x > "
                           f"{s['tripwire']}x")
    if loop_parts[sizes[-1]] <= loop_parts[sizes[0]]:
        bad.append(f"loop partition sizing did not grow with edges: "
                   f"{loop_parts}")

    # -------- planted-skew section (VERDICT r10 task 3) --------
    if not args.no_hub and len(sizes) >= 2:
        n = sizes[1] if len(sizes) > 1 else sizes[0]
        out_dir = Path(f"/tmp/spark_graft_stress_graph_hub_{n}")
        _write_graph(n, out_dir, hub_share=args.hub_share,
                     clique=CLIQUE_SIZE)
        print(f"== {n} orders + hub({args.hub_share}) "
              f"+ clique({CLIQUE_SIZE}) ==")
        hub_edges = QM._copurchase_edges(spark, str(out_dir)).count()
        hub_t: dict[str, float] = {}
        for q in ("part_triangles", "clustering_coeff", "edge_jaccard"):
            t0 = time.perf_counter()
            qs[q](spark, str(out_dir)).write.format("noop").mode(
                "overwrite").save()
            hub_t[q] = round(time.perf_counter() - t0, 2)
            print(f"  {q}: {hub_t[q]}s")
            release_all()
        sk = _skew_metrics(spark, str(out_dir))
        release_all()
        shutil.rmtree(out_dir, ignore_errors=True)
        slowdown = {
            q: round((hub_t[q] / hub_edges)
                     / (timings[q][n] / n_edges[n]), 2)
            for q in hub_t}
        rec["planted_skew"] = {
            "orders": n,
            "hub_share": args.hub_share,
            "clique_size": CLIQUE_SIZE,
            "n_edges": hub_edges,
            "timings_sec": hub_t,
            "per_edge_slowdown_vs_clean": slowdown,
            "wedge_apex_budget": QM.WEDGE_APEX_BUDGET,
            **sk,
        }
        print(f"  skew: {sk}  per-edge slowdown: {slowdown}")
        if sk["max_src_salt_rows"] > 2 * QM.WEDGE_APEX_BUDGET:
            bad.append(
                f"w1 build side exceeds 2x apex budget per (src, "
                f"salt): {sk['max_src_salt_rows']} > "
                f"{2 * QM.WEDGE_APEX_BUDGET}")
        if sk["max_oriented_outdeg"] <= QM.WEDGE_APEX_BUDGET:
            bad.append("planted skew never engaged the split "
                       f"(max oriented out-degree "
                       f"{sk['max_oriented_outdeg']} <= budget "
                       f"{QM.WEDGE_APEX_BUDGET}) — probe is vacuous")
        for q, r in slowdown.items():
            if r > HUB_SLOWDOWN_MAX:
                bad.append(f"planted skew per-edge slowdown {q}: "
                           f"{r}x > {HUB_SLOWDOWN_MAX}x")

    (ROOT / "STRESS_graph.json").write_text(
        json.dumps(rec, indent=2) + "\n")
    print(json.dumps([s["time_ratio"] for s in steps], indent=1))

    if bad:
        print("STRESS FAIL:", bad)
        return 1
    print("STRESS OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())

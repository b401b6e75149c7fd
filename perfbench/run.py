"""Benchmark of tpg_weather_etl_spark: the transit×weather pipeline with
its dashboards, and a mix of registry queries.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload transit_pipeline --seed 1 \\
        --seconds 20 --trace 0

Workloads (each runs in a fresh process on local[nproc], driven by one
closed-loop client that sends its next call when the last returns):

- ``transit_pipeline``: seeded raw IstDaten/weather/GTFS files → ingest
  → silver → the three gold builders, written as parquet, then seeded
  dashboard sessions over that gold (transit.py).
- ``query_mix``: a fixed list of registry queries over seeded tables,
  each answer collected and checked against its oracle (querymix.py).

With ``--trace 0`` the last line of stdout is one JSON object holding
the end-to-end metrics, which are the same for both workloads, all
measured as wall time or memory of this process and its JVM:

- ``setup_s``: process set-up — product imports, session start, input
  generation and the warm-up, correctness checks excluded.
- ``batch_s``: median wall time of one batch: a raw→gold pass followed
  by four dashboard sessions over its gold, or one pass over the query
  list.
- ``op_geomean_ms``: geometric mean over operation kinds (the six
  pipeline steps, or the ten queries) of each kind's median latency, so
  that no single slow kind hides the others.
- ``peak_rss_mb``: peak resident memory of the driver JVM plus Python,
  read from ``/proc``.

With ``--trace 1`` the run profiles every layer, so it runs every
workload in turn, the named one first, each for ``--seconds``; the
JSON then holds the per-layer metrics, and the spans are written to
``.perfbench_work/traces/``. Every run checks the program's answers;
a wrong answer, an exception or a missing query is a failed operation.
A run with a failed operation prints its reasons and a result with
``"correct": false`` and no metrics, and exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from pathlib import Path

T_ORIGIN = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# The driver heap fits a 4-core, 15 GiB box (the session default is 16g).
# It is committed at start (-Xms), so peak_rss_mb does not swing with
# when G1 chooses to grow the heap; on-heap pressure shows in the GC
# and spill figures instead.
DRIVER_HEAP = "2g"


def _pin(work: Path) -> int:
    """Pin the box before the product is imported; returns the cores."""
    cpus = len(os.sched_getaffinity(0))
    (work / "spark-local").mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_MASTER", None)
    return cpus


def _rss_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").iterdir():
        try:
            out += [int(k) for k in (task / "children").read_text().split()]
        except FileNotFoundError:   # the thread ended meanwhile
            continue
    return out


def _stop(spark, jvm) -> None:
    """Stop Spark and wait until the JVM and its Python workers end."""
    from pyspark import SparkContext
    kids = _children(jvm.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(Path(f"/proc/{k}").exists() for k in kids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"python workers still running: {kids}")
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["transit_pipeline", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cpus = _pin(work)
    sys.path[1:1] = [str(ROOT), str(ROOT / "tests"), str(ROOT / "tools")]

    import pyspark

    import tpg_weather_etl_spark
    if ROOT not in Path(tpg_weather_etl_spark.__file__).resolve().parents:
        raise SystemExit("tpg_weather_etl_spark is not imported from this checkout")
    from querymix import QueryMix
    from spans import Tracer
    from stats import Outcome
    from transit import TransitPipeline

    from tpg_weather_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext
    jvm = SparkContext._gateway.proc

    kinds = {"transit_pipeline": TransitPipeline, "query_mix": QueryMix}
    names = [args.workload] + ([k for k in kinds if k != args.workload]
                               if args.trace else [])
    tracer = Tracer(bool(args.trace), spark)
    outcome = Outcome()
    try:
        setup_s = time.perf_counter() - T_ORIGIN
        workloads = []
        for name in names:
            w = kinds[name](spark, work / name, args.seed, tracer, outcome)
            setup_s += w.setup()
            workloads.append(w)
        for w in workloads:
            w.run(args.seconds)
        metrics = {}   # a failed run gives no figures, only its reasons
        if not outcome.failed and args.trace:
            metrics = {"session.get_spark.s": (get_spark_s, "s"),
                       "session.conf_changed": (float(sum(
                           1 for s in tracer.spans
                           if s.metrics.get("conf_changed"))), "count")}
            for w in workloads:
                metrics.update(w.per_layer())
            tracer.dump(ROOT / ".perfbench_work" / "traces"
                        / f"{args.workload}-seed{args.seed}.jsonl", T_ORIGIN)
        elif not outcome.failed:
            metrics = {"setup_s": (setup_s, "s"), **workloads[0].timings.end_to_end(),
                       "peak_rss_mb": (_rss_mb(jvm.pid) + _rss_mb("self"), "MB")}
        samples = {w.name: w.timings.samples() for w in workloads}
        kind_ms = {k: round(v * 1e3) for w in workloads
                   for k, v in w.timings.kind_medians().items()}
    finally:
        _stop(spark, jvm)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# box: local[{cpus}], driver heap {DRIVER_HEAP}, "
          f"SPARK_LOCAL_DIRS={work / 'spark-local'}, pyspark {pyspark.__version__}, "
          f"python {platform.python_version()}")
    print(f"# workload {args.workload}, seed {args.seed}, seconds {args.seconds}, "
          f"samples {samples}")
    print(f"# median ms per operation kind: {kind_ms}")
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value:.6g} {unit}")
    print(f"# error_rate = {outcome.failed}/{outcome.attempted}")
    for reason in outcome.reasons[:20]:
        print(f"# failed: {reason}")
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if outcome.failed else 0


if __name__ == "__main__":
    sys.exit(main())

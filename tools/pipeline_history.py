"""History probe for ``build_training_rows``: step time against service days.

Generates perfbench's seeded raw files at 2, 7 and 14 service days
(scale 2.0), runs the raw→gold pass of ``perfbench/pipeline.steps`` on
a baseline checkout and on this one, each tree in a fresh process on
``local[4]``, and times the training-row step (best of two, parquet
sink). Writes ``BENCH_pipeline_history.json`` with both trees' seconds
and whether their whole ``feature_training_row`` outputs, ``row_id``
included, are equal. Run by hand; it takes several minutes.

Usage: python tools/pipeline_history.py --baseline DIR
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work" / "history"
SEED, SCALE, DAYS = 51, 2.0, (2, 7, 14)


def _child(tree: str, days: str, out: str) -> None:
    """One tree, one history length: print the step's best seconds."""
    sys.path[:0] = [tree, f"{tree}/perfbench"]
    from gen_transit import generate
    from pipeline import Layout, steps

    from tpg_weather_etl_spark.session import get_spark
    spark = get_spark(app_name="pipeline_history", master="local[4]")
    raw = generate(Path(out) / "raw", SEED, int(days), SCALE)
    calls = [call for _, call in steps(spark, raw, Layout(Path(out)))]
    for call in calls[:-1]:
        call()
    secs = []
    for _ in range(2):
        t0 = time.perf_counter()
        calls[-1]()
        secs.append(time.perf_counter() - t0)
    spark.stop()
    print(json.dumps(min(secs)))


def _same(a: Path, b: Path) -> bool:
    ta, tb = (f"SELECT * FROM read_parquet('{p}/*.parquet')" for p in (a, b))
    return duckdb.sql(f"SELECT (SELECT count(*) FROM ({ta} EXCEPT ALL {tb})) + "
                      f"(SELECT count(*) FROM ({tb} EXCEPT ALL {ta}))").fetchone()[0] == 0


def main(baseline: Path) -> None:
    rows = []
    for days in DAYS:
        row = {"service_days": days}
        for side, tree in (("baseline_s", baseline), ("change_s", ROOT)):
            child = subprocess.run(
                [sys.executable, __file__, "--child", str(tree.resolve()),
                 str(days), str(WORK / side / str(days))],
                check=True, capture_output=True, text=True)
            row[side] = round(json.loads(child.stdout.splitlines()[-1]), 2)
        row["equal"] = _same(*(WORK / s / str(days) / "gold" / "feature_training_row"
                               for s in ("baseline_s", "change_s")))
        rows.append(row)
        print(json.dumps(row), flush=True)
    (ROOT / "BENCH_pipeline_history.json").write_text(json.dumps(
        {"seed": SEED, "scale": SCALE, "master": "local[4]", "rows": rows}, indent=1) + "\n")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        _child(*sys.argv[2:5])
    else:
        ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
        ap.add_argument("--baseline", type=Path, required=True,
                        help="checkout to compare against")
        main(ap.parse_args().baseline)

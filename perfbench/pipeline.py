"""The paper's batch job, raw files → silver → gold, as the CLI runs it.

Each step is one call into the product's public layer functions and
writes real parquet; each builder reads its inputs back from the
parquet the previous step wrote, as ``tpg_weather_etl_spark.cli``
does.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from gen_transit import Planted

from tpg_weather_etl_spark.features.by_stop_line import (
    build_features_by_stop_line,
)
from tpg_weather_etl_spark.features.events import build_features_events
from tpg_weather_etl_spark.features.training_row import build_training_rows
from tpg_weather_etl_spark.ingest.gtfs import ingest_gtfs
from tpg_weather_etl_spark.ingest.istdaten import ingest_istdaten
from tpg_weather_etl_spark.ingest.weather import ingest_weather
from tpg_weather_etl_spark.sources.writers import write_parquet


class Layout:
    """Medallion directories of one pass, as the CLI lays them out."""

    def __init__(self, root: Path):
        self.root = root
        self.staging = root / "staging" / "gtfs"
        self.warehouse = root / "warehouse"
        self.silver_ist = root / "silver" / "ist"
        self.silver_weather = root / "silver" / "weather"
        self.weather_obs = root / "warehouse" / "weather_obs"
        self.features_events = root / "gold" / "features_events"
        self.by_stop_line = root / "gold" / "features_by_stop_line"
        self.training_row = root / "gold" / "feature_training_row"


STEPS = ("ingest.gtfs", "ingest.istdaten", "ingest.weather",
         "features.events", "features.by_stop_line", "features.training_row")


def steps(spark, raw: Planted, out: Layout) -> list[tuple[str, Callable[[], object]]]:
    """The calls of one raw→gold pass, in order, as (name, call)."""
    read = spark.read.parquet
    return list(zip(STEPS, [
        lambda: ingest_gtfs(spark, raw.gtfs_zip, out.staging, out.warehouse),
        lambda: ingest_istdaten(spark, raw.ist_files, out.silver_ist),
        lambda: ingest_weather(spark, raw.weather_files, out.silver_weather,
                               warehouse_path=out.weather_obs),
        lambda: write_parquet(
            build_features_events(read(str(out.silver_ist)),
                                  read(str(out.weather_obs))),
            out.features_events),
        lambda: write_parquet(
            build_features_by_stop_line(read(str(out.features_events))),
            out.by_stop_line),
        lambda: write_parquet(
            build_training_rows(read(str(out.features_events)),
                                read(str(out.weather_obs))),
            out.training_row),
    ]))

"""quality.py checks + CLI end-to-end over the medallion layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tpg_weather_etl_spark.quality import (
    assert_unique_key,
    kpi_summary,
    null_rates,
)
from tpg_weather_etl_spark.schemas import IST_COLMAP, WEATHER_COLMAP


def test_null_rates(spark):
    df = spark.createDataFrame([(1, None), (2, "x"), (None, "y")],
                               "a int, b string")
    rates = null_rates(df)
    assert rates["a"] == pytest.approx(1 / 3)
    assert rates["b"] == pytest.approx(1 / 3)


def test_assert_unique_key(spark):
    ok = spark.createDataFrame([(1,), (2,)], "k int")
    assert_unique_key(ok, ["k"])
    bad = spark.createDataFrame([(1,), (1,)], "k int")
    with pytest.raises(AssertionError):
        assert_unique_key(bad, ["k"])


def _write_raw(tmp_path):
    ist = tmp_path / "raw_ist"
    ist.mkdir()
    hdr = ";".join(IST_COLMAP)
    rows = []
    for m in range(0, 30, 5):
        s, e = f"01.02.2024 08:{m:02d}:00", f"01.02.2024 08:{m + 2:02d}:00"
        rows.append(";".join(["01.02.2024", f"t{m}", "TPG", "Bus", "12",
                              "Gare", "8501", s, e, "REAL", s, e, "REAL",
                              "0", "0", "0"]))
    (ist / "2024-02-01_istdaten.csv").write_text("\n".join([hdr] + rows))
    wx = tmp_path / "raw_wx"
    wx.mkdir()
    whdr = ";".join(WEATHER_COLMAP)
    wrows = [";".join(["GVE", f"01.02.2024 08:{m:02d}", "5.5", "0.2", "36",
                       "72", "180", "80", "1013", "100", "5", "2.1"])
             for m in range(0, 60, 10)]
    (wx / "wx.csv").write_text("\n".join([whdr] + wrows))
    return ist, wx


def test_cli_pipeline_end_to_end(spark, tmp_path):
    from tpg_weather_etl_spark.cli import main
    ist, wx = _write_raw(tmp_path)
    root = tmp_path / "data"
    assert main(["--data-root", str(root), "ingest-istdaten",
                 "--glob", str(ist / "*.csv")]) == 0
    assert main(["--data-root", str(root), "ingest-weather",
                 "--glob", str(wx / "*.csv")]) == 0
    assert main(["--data-root", str(root), "build-features",
                 "--station-id", "GVE"]) == 0
    assert main(["--data-root", str(root),
                 "build-features-by-stop-line"]) == 0
    assert main(["--data-root", str(root), "build-training-rows"]) == 0
    gold = spark.read.parquet(str(root / "gold" / "features_by_stop_line"))
    assert gold.count() > 0
    assert "delay_p90_min" in gold.columns
    tr = spark.read.parquet(str(root / "gold" / "feature_training_row"))
    assert tr.count() == 6


def test_cli_curate_corpus_composes_quality_and_dedup(spark, tmp_path,
                                                      capsys):
    """End-to-end corpus curation: the curated set must be exactly
    (quality-pass ∩ dedup-survivors) and strictly smaller than the
    input (the sf0.001 corpus contains both low-quality docs and
    near-dup clusters)."""
    import json

    from tpg_weather_etl_spark.cli import main
    from tpg_weather_etl_spark.queries_ml import q_dedup_apply
    from tpg_weather_etl_spark.queries_text import q_gopher_quality

    rc = main(["curate-corpus", "--input", "/root/testdata/sf0.001",
               "--out", str(tmp_path)])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = {r.doc_id for r in spark.read.parquet(
        str(tmp_path / "curated_documents")).collect()}
    want_quality = {r.doc_id for r in q_gopher_quality(
        spark, "/root/testdata/sf0.001").filter("keep").collect()}
    want_dedup = {r.doc_id for r in q_dedup_apply(
        spark, "/root/testdata/sf0.001").collect()}
    assert got == (want_quality & want_dedup)
    assert 0 < stats["curated"] < stats["docs_in"]
    assert stats["curated"] == len(got)

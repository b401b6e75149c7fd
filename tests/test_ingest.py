"""Ingest pipeline tests over synthetic raw fixtures (FIXTURES.md)."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql import functions as F

from tpg_weather_etl_spark.functions.time import month_key
from tpg_weather_etl_spark.ingest.gtfs import ingest_gtfs
from tpg_weather_etl_spark.ingest.istdaten import (
    dedupe_istdaten,
    normalize_istdaten,
)
from tpg_weather_etl_spark.ingest.weather import (
    dedupe_weather,
    normalize_weather,
)
from tpg_weather_etl_spark.sources.readers import read_semicolon_csv
from tpg_weather_etl_spark.sources.staging import (
    month_from_filename,
    stage_zip_members,
    zip_list_members,
)
from tpg_weather_etl_spark.sources.writers import (
    upsert_station_range,
    write_partitioned,
)
from tpg_weather_etl_spark.schemas import IST_COLMAP, WEATHER_COLMAP

IST_HEADER = ";".join(IST_COLMAP.keys())


def _ist_csv(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text("\n".join([IST_HEADER] + [";".join(r) for r in rows]),
                 encoding="utf-8")
    return p


def _ist_row(date="01.02.2024", fahrt="t1", op="TPG", prod="Bus", line="12",
             stop_name="Gare", stop="8501", a_sched="01.02.2024 08:00:00",
             a_est="01.02.2024 08:02:00", a_st="REAL",
             d_sched="01.02.2024 08:01:00", d_est="01.02.2024 08:03:00",
             d_st="REAL", pt="0", extra="0", cancel="0"):
    return [date, fahrt, op, prod, line, stop_name, stop, a_sched, a_est,
            a_st, d_sched, d_est, d_st, pt, extra, cancel]


def test_istdaten_normalize_filters_and_casts(spark, tmp_path):
    rows = [
        _ist_row(),
        _ist_row(op="SBB"),                      # filtered: operator
        _ist_row(prod="Zug"),                    # filtered: product
        _ist_row(prod="", a_st="", pt="true", cancel="garbage"),
    ]
    p = _ist_csv(tmp_path, "2024-02-01_istdaten.csv", rows)
    raw = read_semicolon_csv(spark, [p], usecols=list(IST_COLMAP))
    out = normalize_istdaten(raw).collect()
    assert len(out) == 2  # TPG Bus + TPG empty-product
    by_prod = {r.product_id: r for r in out}
    assert by_prod["Bus"].arrival_sched_ts.hour == 8
    assert by_prod["Bus"].service_date.month == 2  # day-first parse
    empty = by_prod[None]
    assert empty.arrival_status == "PROGNOSE"  # null → default
    assert empty.pass_through is True          # "true"
    assert empty.is_cancelled is False         # garbage → False


def test_istdaten_priority_dedupe(spark, tmp_path):
    # same business key, different statuses → REAL wins over PROGNOSE
    rows = [
        _ist_row(a_st="PROGNOSE", d_st="PROGNOSE", a_est="01.02.2024 08:09:00"),
        _ist_row(a_st="REAL", d_st="REAL", a_est="01.02.2024 08:02:00"),
        # different stop → separate key, survives
        _ist_row(stop="9999"),
    ]
    p = _ist_csv(tmp_path, "x.csv", rows)
    out = dedupe_istdaten(
        normalize_istdaten(read_semicolon_csv(spark, [p],
                                              usecols=list(IST_COLMAP)))
    ).collect()
    assert len(out) == 2
    winner = [r for r in out if r.stop_code == "8501"][0]
    assert winner.arrival_status == "REAL"


def test_istdaten_dedupe_deterministic_on_exact_ties(spark, tmp_path):
    rows = [_ist_row(stop_name="A"), _ist_row(stop_name="B")]
    p = _ist_csv(tmp_path, "x.csv", rows)
    df = normalize_istdaten(read_semicolon_csv(spark, [p],
                                               usecols=list(IST_COLMAP)))
    winners = {dedupe_istdaten(df).collect()[0].stop_name for _ in range(3)}
    assert winners == {"A"}  # H2: tiebreak on stop_name asc, stable


def _write_months(df, out):
    """The silver layout: ``month=YYYY-MM/`` from ``service_date``."""
    write_partitioned(
        df.withColumn("month", month_key(F.col("service_date"))), out, "month")


def test_month_partitioned_overwrite_only_touches_present_months(spark, tmp_path):
    # dynamic overwrite is an option of the write itself: it must hold
    # under a static session default and leave that default as it was
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    try:
        for session_mode in ("dynamic", "static"):
            spark.conf.set(key, session_mode)
            out = tmp_path / f"silver_{session_mode}"
            d1 = spark.createDataFrame(
                [("2024-01-05", 1), ("2024-02-05", 2)],
                "service_date string, v int"
            ).withColumn("service_date", F.to_date("service_date"))
            _write_months(d1, out)
            # second batch: only february, new value → january must survive
            d2 = spark.createDataFrame(
                [("2024-02-20", 99)], "service_date string, v int"
            ).withColumn("service_date", F.to_date("service_date"))
            _write_months(d2, out)
            got = {(r.month, r.v)
                   for r in spark.read.parquet(str(out)).collect()}
            assert got == {("2024-01", 1), ("2024-02", 99)}, session_mode
            assert spark.conf.get(key) == session_mode
    finally:
        spark.conf.set(key, prev)


WX_HEADER = ";".join(WEATHER_COLMAP.keys())


def _wx_csv(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text("\n".join([WX_HEADER] + [";".join(r) for r in rows]),
                 encoding="utf-8")
    return p


def _wx_row(st="GVE", ts="01.02.2024 08:00", temp="5.2", rain="0.1",
            wind="36", gust="72", wdir="180", hum="80", pres="1013",
            rad="100", sun="5", dew="2.0"):
    return [st, ts, temp, rain, wind, gust, wdir, hum, pres, rad, sun, dew]


def test_weather_normalize(spark, tmp_path):
    rows = [
        _wx_row(),
        _wx_row(ts="bogus"),          # dropped: unparseable ts
        _wx_row(temp="-", rain="-"),  # '-' sentinel → NULL
    ]
    p = _wx_csv(tmp_path, "w.csv", rows)
    raw = read_semicolon_csv(spark, [p], usecols=list(WEATHER_COLMAP),
                             null_value="-")
    out = normalize_weather(raw).collect()
    assert len(out) == 2
    first = [r for r in out if r.temp_c is not None][0]
    assert first.wind_ms == pytest.approx(10.0)   # 36 km/h → 10 m/s
    assert first.gust_ms == pytest.approx(20.0)
    nulled = [r for r in out if r.temp_c is None][0]
    assert nulled.rain_mm is None


def test_weather_median_collapse_even_group(spark, tmp_path):
    rows = [_wx_row(temp="1.0"), _wx_row(temp="2.0"),
            _wx_row(temp="4.0"), _wx_row(temp="8.0")]
    p = _wx_csv(tmp_path, "w.csv", rows)
    out = dedupe_weather(normalize_weather(
        read_semicolon_csv(spark, [p], usecols=list(WEATHER_COLMAP),
                           null_value="-"))).collect()
    assert len(out) == 1
    assert out[0].temp_c == pytest.approx(3.0)  # interpolating median


def test_weather_range_upsert(spark, tmp_path):
    tgt = tmp_path / "obs"
    old = spark.createDataFrame(
        [("GVE", "2024-01-01 08:00:00", 1.0),
         ("GVE", "2024-01-01 09:00:00", 2.0),
         ("XYZ", "2024-01-01 08:00:00", 9.0)],
        "station_id string, ts_utc string, temp_c double",
    ).withColumn("ts_utc", F.to_timestamp("ts_utc"))
    upsert_station_range(spark, tgt, old)
    new = spark.createDataFrame(
        [("GVE", "2024-01-01 08:00:00", 100.0)],
        "station_id string, ts_utc string, temp_c double",
    ).withColumn("ts_utc", F.to_timestamp("ts_utc"))
    upsert_station_range(spark, tgt, new)
    got = {(r.station_id, r.ts_utc.hour, r.temp_c)
           for r in spark.read.parquet(str(tgt)).collect()}
    # GVE@08 replaced; GVE@09 outside incoming range → survives; XYZ intact
    assert got == {("GVE", 8, 100.0), ("GVE", 9, 2.0), ("XYZ", 8, 9.0)}


def _gtfs_zip(tmp_path):
    z = tmp_path / "gtfs_2024-02.zip"
    files = {
        "agency.txt": "agency_id,agency_name\n"
                      "tpg,Transports Publics Genevois (TPG)\n"
                      "sbb,Swiss Federal Railways\n",
        "routes.txt": "route_id,route_type,route_short_name,agency_id\n"
                      "r1,3,12,tpg\nr2,2,IC1,sbb\nr3,0,18,tpg\n",
        "trips.txt": "trip_id,route_id,service_id\n"
                     "t1,r1,s1\nt2,r2,s1\nt3,r3,s1\n",
        "stop_times.txt": "trip_id,stop_sequence,stop_id,arrival_time,departure_time\n"
                          "t1,1,s_a,08:00:00,08:01:00\n"
                          "t1,2,s_b,25:10:00,25:11:00\n"   # >24h stays text
                          "t2,1,s_c,09:00:00,09:01:00\n",
        "stops.txt": "stop_id,stop_name,stop_lat,stop_lon\n"
                     "s_a,Gare,46.2,6.1\ns_b,Stand,46.3,6.2\n"
                     "s_c,Zürich,47.4,8.5\n",
        "feed_info.txt": "feed_version\n2024-02-15\n",
    }
    with zipfile.ZipFile(z, "w") as zf:
        for name, content in files.items():
            zf.writestr(name, content)
    return z


def test_gtfs_cascade_and_feed_version(spark, tmp_path):
    z = _gtfs_zip(tmp_path)
    out = ingest_gtfs(spark, z, tmp_path / "staging", tmp_path / "wh")
    routes = {r.route_id for r in out["gtfs_routes"].collect()}
    assert routes == {"r1", "r3"}  # operator filter, case-insensitive
    trips = {r.trip_id for r in out["gtfs_trips"].collect()}
    assert trips == {"t1", "t3"}
    sts = out["gtfs_stop_times"].collect()
    assert {r.trip_id for r in sts} == {"t1"}
    assert "25:10:00" in {r.arrival_time_planned for r in sts}  # text >24h
    stops = {r.stop_id for r in out["gtfs_stops"].collect()}
    assert stops == {"s_a", "s_b"}
    assert out["gtfs_routes"].collect()[0].feed_version == "2024-02-15"
    # warehouse written with feed_version= partition dirs
    assert (tmp_path / "wh" / "gtfs_routes" /
            "feed_version=2024-02-15").exists()


def test_staging_zip_and_encoding(tmp_path):
    z = tmp_path / "ist_2024-02-01.zip"
    latin = "BETRIEBSTAG;STOP\n01.02.2024;Genève\n".encode("latin-1")
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("2024-02-01_istdaten.csv", latin)
        zf.writestr("readme.txt", "ignore me")
    assert zip_list_members(z) == ["2024-02-01_istdaten.csv"]
    staged = stage_zip_members(z, tmp_path / "stage")
    assert len(staged) == 1
    assert "Genève" in staged[0].read_text(encoding="utf-8")
    assert month_from_filename(staged[0].name) == "2024-02"
    assert month_from_filename("nodate.csv") is None


def test_istdaten_dedupe_est_priority_is_arrival_coalesce(spark, tmp_path):
    # ref 02:290: the est-ts priority key is
    # arrival_est.combine_first(depart_est) — arrival-preferred
    # coalesce, NOT the max of the two. X has the later depart_est but
    # the earlier arrival_est; under coalesce semantics Y must win.
    rows = [
        _ist_row(stop_name="X", a_est="01.02.2024 08:02:00",
                 d_est="01.02.2024 08:10:00"),
        _ist_row(stop_name="Y", a_est="01.02.2024 08:05:00",
                 d_est="01.02.2024 08:06:00"),
    ]
    p = _ist_csv(tmp_path, "x.csv", rows)
    out = dedupe_istdaten(
        normalize_istdaten(read_semicolon_csv(spark, [p],
                                              usecols=list(IST_COLMAP)))
    ).collect()
    assert len(out) == 1
    assert out[0].stop_name == "Y"


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    from tpg_weather_etl_spark.sources.writers import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).withColumnRenamed("id", "k") \
            .withColumn("va", F.col("k") * 2)
        b = spark.range(0, 1000).withColumnRenamed("id", "k") \
            .withColumn("vb", F.col("k") % 7)
        write_bucketed(a, "t_bucket_a", ["k"], num_buckets=8, sort_cols=["k"])
        write_bucketed(b, "t_bucket_b", ["k"], num_buckets=8, sort_cols=["k"])
        joined = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
        # aggregation on the bucket key also skips the shuffle
        agg = spark.table("t_bucket_a").groupBy("k").sum("va")
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_month_partitioned_scan_prunes_partitions(spark, tmp_path):
    import datetime as _dt

    rows = [(i, _dt.date(2024, 1 + (i % 3), 1 + i % 27), float(i))
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, service_date date, v double")
    out = str(tmp_path / "mp")
    _write_months(df, out)
    scan = spark.read.parquet(out).filter(F.col("month") == "2024-02")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the month predicate must become a PartitionFilter on the scan —
    # at 100 TB this is the difference between reading one month's
    # directory and reading the lake
    assert "PartitionFilters: [isnotnull(month" in plan, plan
    assert scan.count() == sum(1 for _, d, _v in rows if d.month == 2)


def test_merge_schema_reads_evolved_shards(spark, tmp_path):
    out = tmp_path / "evolving"
    spark.createDataFrame([(1, "a")], "id long, name string") \
        .write.parquet(str(out / "day=1"))
    spark.createDataFrame([(2, "b", 9.5)],
                          "id long, name string, score double") \
        .write.parquet(str(out / "day=2"))
    df = spark.read.option("mergeSchema", "true").parquet(str(out))
    rows = {r.id: r for r in df.collect()}
    assert set(df.columns) >= {"id", "name", "score"}
    assert rows[1].score is None        # padded for the old shard
    assert rows[2].score == 9.5


def test_ignore_corrupt_files_skips_poison_shard(spark, tmp_path):
    out = tmp_path / "mixed"
    out.mkdir()
    spark.range(0, 10).write.parquet(str(out / "good"))
    (out / "good" / "zzz-poison.parquet").write_bytes(b"not a parquet file")
    read = (spark.read
            .option("ignoreCorruptFiles", "true")
            .parquet(str(out / "good")))
    assert read.count() == 10


def test_narrow_projection_prunes_read_schema(spark):
    from tpg_weather_etl_spark.sources.tables import read_table

    df = read_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m, plan
    # the scan must read ONLY the projected columns — at 100 TB the
    # text column is ~99% of the bytes and must not leave the footer
    assert "text" not in m[0], m[0]
    assert "doc_id" in m[0] and "lang" in m[0]


def test_aqe_splits_skewed_join(spark):
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot key carrying ~95% of the left side
        # pad is incompressible so the hot partition's shuffle bytes
        # actually exceed the skew threshold (constant keys compress
        # to nothing on their own)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"))
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        joined = left.join(right, "k").select("k", "pad")
        # execute THIS dataframe so its own AdaptiveSparkPlan finalizes
        # (a .write would run a separate query execution)
        assert len(joined.collect()) == 190_050
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # AQE must mark the hot partition split on the final plan —
        # the runtime answer to hot keys the static planner can't see
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_month_join(spark, tmp_path):
    import datetime as _dt

    rows = [(i, _dt.date(2024, 1 + (i % 6), 1 + i % 27), float(i))
            for i in range(2000)]
    fact = spark.createDataFrame(
        rows, "id long, service_date date, v double")
    out = str(tmp_path / "fact")
    _write_months(fact, out)

    dim = spark.createDataFrame(
        [("2024-02", "febfeature"), ("2099-01", "unused")],
        "month string, feature string")
    # DPP requires a selective predicate on the dim side
    joined = (spark.read.parquet(out)
              .join(dim.filter(F.col("feature") == "febfeature"), "month")
              .select("id", "feature"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the dim filter must reach the fact scan as a runtime partition
    # filter (DPP) — at 100 TB this reads one month, not the lake
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == sum(1 for _, d, _v in rows if d.month == 2)

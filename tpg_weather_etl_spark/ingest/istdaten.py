"""IstDaten ingest — normalize → priority-dedupe → month-partitioned
silver (reference src/02_ingest_istdaten.py, the most complex pipeline).

The reference's shape: ThreadPoolExecutor over per-CSV pandas tasks
(read S5 → normalize → dedupe A2 → shard K2), then a bulk DuckDB
month-wise upsert (K5). Here the whole thing is ONE lazy DataFrame
plan: Spark parallelizes per-file splits natively (the thread pool
disappears), the dedupe is a keyed window, and the month-partitioned
write with dynamic overwrite replaces the per-month transactions.

Hazard H2 (dedupe determinism): pandas resolves priority ties by
stable input order (02:310-321); a distributed engine has no input
order, so the key's tiebreak closes with the full remaining priority
chain + est-ts + raw-text columns, making the winner deterministic.
"""

from __future__ import annotations

from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpg_weather_etl_spark.functions.macros import robust_bool, status_rank
from tpg_weather_etl_spark.functions.time import month_key
from tpg_weather_etl_spark.operators.dedupe import priority_dedupe
from tpg_weather_etl_spark.schemas import IST_COLMAP
from tpg_weather_etl_spark.sources.readers import read_semicolon_csv
from tpg_weather_etl_spark.sources.writers import write_partitioned

# dd.MM.yyyy HH:mm[:ss] day-first parse with coerce-to-NULL (ref F1,
# 02:247-249): try seconds format first, then minutes-only.
_TS_FMTS = ("dd.MM.yyyy HH:mm:ss", "dd.MM.yyyy HH:mm")


def parse_ist_ts(col: F.Column) -> F.Column:
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(f)) for f in _TS_FMTS])


def normalize_istdaten(raw: DataFrame,
                       operator_abbr: str = "TPG",
                       products: Sequence[str] = ("Bus", "Tram")) -> DataFrame:
    """Rename → pad → coerce → filter (ref normalize_df 02:223-260).

    - statuses NULL → 'PROGNOSE' (02:243-244)
    - day-first timestamp parse, invalid → NULL (02:247-249)
    - robust boolean cast (02:210-220)
    - operator equality + product IN-list-or-NULL predicate (02:257-258)
    """
    df = raw
    for src, dst in IST_COLMAP.items():
        if src in df.columns:
            df = df.withColumnRenamed(src, dst)
    for dst in IST_COLMAP.values():
        if dst not in df.columns:
            df = df.withColumn(dst, F.lit(None).cast("string"))
    df = df.select(*IST_COLMAP.values())

    df = (
        df.withColumn("service_date",
                      F.coalesce(
                          F.expr("try_to_date(service_date, 'dd.MM.yyyy')"),
                          F.expr("try_to_date(service_date)")))
        .withColumn("arrival_sched_ts", parse_ist_ts(F.col("arrival_sched_ts")))
        .withColumn("arrival_est_ts", parse_ist_ts(F.col("arrival_est_ts")))
        .withColumn("depart_sched_ts", parse_ist_ts(F.col("depart_sched_ts")))
        .withColumn("depart_est_ts", parse_ist_ts(F.col("depart_est_ts")))
        .withColumn("arrival_status",
                    F.coalesce(F.col("arrival_status"), F.lit("PROGNOSE")))
        .withColumn("depart_status",
                    F.coalesce(F.col("depart_status"), F.lit("PROGNOSE")))
        .withColumn("pass_through", robust_bool(F.col("pass_through")))
        .withColumn("is_extra_trip", robust_bool(F.col("is_extra_trip")))
        .withColumn("is_cancelled", robust_bool(F.col("is_cancelled")))
    )
    return df.filter(
        (F.col("operator_abbr") == operator_abbr)
        & (F.col("product_id").isin(*products) | F.col("product_id").isNull())
    )


def dedupe_istdaten(df: DataFrame) -> DataFrame:
    """A2 priority dedupe: top-1 per business key (ref 02:271-325).

    key   = (service_date, fahrt_bezeichner, stop_code, sched_key)
            where sched_key = COALESCE(arrival_sched_ts, depart_sched_ts)
    order = status-rank desc (REAL/IST=3 > GESCHAETZT=2 > PROGNOSE=1 >
            other=0, on the better of the two statuses), has-estimate
            desc, not-cancelled desc, not-pass-through desc, latest
            est ts desc, then deterministic tiebreaks (H2).
    """
    df = df.withColumn(
        "sched_key", F.coalesce("arrival_sched_ts", "depart_sched_ts")
    )
    rank = F.greatest(status_rank(F.col("arrival_status")),
                      status_rank(F.col("depart_status")))
    has_est = (F.col("arrival_est_ts").isNotNull()
               | F.col("depart_est_ts").isNotNull()).cast("int")
    # ref 02:290 est_ts = arrival.combine_first(depart): coalesce with
    # arrival preferred, NOT the max of the two
    best_est = F.coalesce("arrival_est_ts", "depart_est_ts")
    out = priority_dedupe(
        df,
        key_cols=["service_date", "fahrt_bezeichner", "stop_code", "sched_key"],
        priority=[
            rank.desc(),
            has_est.desc(),
            (~F.col("is_cancelled")).cast("int").desc(),
            (~F.col("pass_through")).cast("int").desc(),
            best_est.desc_nulls_last(),
        ],
        tiebreak=[
            F.col("line_text").asc_nulls_last(),
            F.col("stop_name").asc_nulls_last(),
            F.col("arrival_est_ts").asc_nulls_last(),
            F.col("depart_est_ts").asc_nulls_last(),
        ],
    )
    return out.drop("sched_key")


def ingest_istdaten(
    spark: SparkSession,
    csv_paths: Sequence[str | Path],
    silver_path: str | Path,
    operator_abbr: str = "TPG",
) -> DataFrame:
    """Full pipeline: CSV shards → normalize → dedupe → month-silver.

    One lazy plan; the month partition overwrite only rewrites months
    present in this batch (K5 semantics).
    """
    raw = read_semicolon_csv(spark, csv_paths, usecols=list(IST_COLMAP))
    events = dedupe_istdaten(normalize_istdaten(raw, operator_abbr))
    write_partitioned(
        events.withColumn("month", month_key(F.col("service_date"))),
        silver_path, "month")
    return events

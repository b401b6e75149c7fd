"""Parquet sinks & upserts (reference K1-K6; the K7 CSV download is
built in pandas by the dashboard, app/streamlit_app.py).

The reference's transactional DELETE+INSERT upserts against DuckDB
become partition-layout operations on a parquet lake:

- K2/K5 month-wise overwrite → ``partitionBy("month")`` + dynamic
  partition overwrite: writing only the months present in the incoming
  batch replaces exactly those directories, atomically per partition —
  the index-drop/checkpoint-suppression tuning of the reference
  (02_ingest_istdaten.py:459-473) has no analogue because there is
  nothing to maintain.
- K4 feed_version overwrite → same mechanism on ``feed_version=``.
- K6 per-station time-range overwrite (03_ingest_weather.py:245-286)
  has no partition alignment, so it is expressed as the reference's
  own algebra: anti-join the existing table against the incoming
  (station, [tmin,tmax]) bounds, union the incoming rows, rewrite.

At cluster scale K6 would be a Delta/Iceberg ``MERGE``/replaceWhere;
the anti-join form here is engine-pure and produces the identical
table state.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str | Path) -> None:
    """Plain parquet sink (K1/K3); zstd matches the reference gold
    outputs (10_build_features.py:294)."""
    df.write.mode("overwrite").option("compression", "zstd").parquet(str(path))


def write_partitioned(df: DataFrame, path: str | Path, by: str) -> None:
    """Hive-style ``<by>=<value>/`` sink that replaces only the
    partitions present in ``df``: ``month`` for the silver events
    (K2+K5), ``feed_version`` for GTFS (K4, 01_ingest_gtfs.py:237-270).

    Dynamic overwrite is an option of this write alone: the session's
    overwrite-mode setting is neither read nor changed."""
    (df.write.mode("overwrite")
       .option("compression", "zstd")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(by)
       .parquet(str(path)))


def upsert_station_range(
    spark: SparkSession,
    target_path: str | Path,
    incoming: DataFrame,
    station_col: str = "station_id",
    ts_col: str = "ts_utc",
) -> None:
    """K6: per-station time-window overwrite.

    DELETE existing rows inside each incoming station's [min,max] ts
    range, then INSERT all incoming rows — as one read-modify-write.
    """
    target_path = str(target_path)
    incoming = incoming.cache()
    try:
        existing = spark.read.parquet(target_path)
    except Exception:
        existing = None
    if existing is None:
        write_parquet(incoming, target_path)
        incoming.unpersist()
        return
    bounds = incoming.groupBy(station_col).agg(
        F.min(ts_col).alias("__tmin"), F.max(ts_col).alias("__tmax")
    )
    kept = (
        existing.join(
            F.broadcast(bounds),
            on=(
                (existing[station_col] == bounds[station_col])
                & existing[ts_col].between(F.col("__tmin"), F.col("__tmax"))
            ),
            how="left_anti",
        )
    )
    merged = kept.unionByName(incoming).localCheckpoint()
    write_parquet(merged, target_path)
    incoming.unpersist()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (and optionally sort-ordered) managed table.

    The co-located-join scale path: two tables bucketed on the same
    keys with the same bucket count join/aggregate with ZERO Exchange
    — each task reads matching bucket files from both sides. At 100 TB
    this converts every recurring fact⋈fact join on the bucket key
    from a full corpus shuffle into a local merge, which is the single
    biggest cost lever a warehouse layout owns (the write pays the
    shuffle once; every downstream query skips it).

    Bucketing requires the table-catalog path (``saveAsTable``) —
    plain ``.parquet(path)`` writes cannot carry bucket metadata.
    """
    w = (df.write.mode(mode)
         .option("compression", "zstd")
         .bucketBy(num_buckets, *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def managed_table_location(spark: SparkSession, table: str) -> str:
    """Filesystem location ``saveAsTable`` would use for a managed
    table — warehouse dir + (``<db>.db/``)? + lowercased table name.
    Needed to detect ORPHANED locations: data on disk whose catalog
    entry died with a previous session (in-memory catalog) or a crash
    between write and catalog commit.

    Unqualified names resolve against the session's CURRENT database
    (``spark.catalog.currentDatabase()``), exactly as ``saveAsTable``
    does — after ``USE mydb`` a bare ``t`` lives under
    ``<wh>/mydb.db/t``, not ``<wh>/t`` (ADVICE r13)."""
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    parts = table.split(".")
    name = parts[-1].lower()
    if len(parts) > 1:
        db = parts[0].lower()
    else:
        try:
            db = spark.catalog.currentDatabase().lower()
        except Exception:
            db = "default"
    if db != "default":
        return f"{wh}/{db}.db/{name}"
    return f"{wh}/{name}"


def _hadoop_fs(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def repair_orphaned_table(
    spark: SparkSession,
    table: str,
    bucket_cols: list[str] | None = None,
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> bool:
    """Re-register a managed-table location that lost its catalog
    entry, instead of letting the next ``saveAsTable`` die with
    ``LOCATION_ALREADY_EXISTS``.

    Why this exists: with an in-memory catalog, EVERY new session
    forgets every managed table it ever wrote — the data under
    ``spark-warehouse/<table>`` survives, the catalog entry does not.
    A restart of an incremental-dedup stream (streaming/
    corpus_dedup.py) then (a) crashes on append and, worse, (b) would
    anti-join against ``seen=None`` and re-admit every duplicate the
    orphaned store already suppressed. Registering the existing data
    as the table restores both the append path and replay idempotency.

    Policy:
    - table already in catalog → no-op (False);
    - location absent → no-op (False);
    - location present, holding ONLY marker entries (``_temporary``,
      ``_SUCCESS``, dotfiles — a crash before the first job commit) →
      clear the location so the next write bootstraps cleanly (False);
    - location present with top-level committed parquet → ``CREATE
      TABLE … USING parquet [CLUSTERED BY … INTO n BUCKETS] LOCATION``
      with the schema read from the files (True). ``LOCATION`` makes
      the registered table external — the data outlives DROP TABLE,
      which is the correct durability for a dedup store;
    - location present with NON-marker entries this flat-layout helper
      cannot classify (subdirectories — e.g. a partitioned table's
      ``month=…`` dirs — or non-parquet files) → raise. Deleting here
      (the pre-round-14 behavior) could destroy a partitioned table's
      committed data that merely lives one level down; a helper scoped
      to flat bucketed stores must refuse what it can't prove is
      uncommitted debris.

    Bucket spec is declared, not inferred: pass the SAME
    ``bucket_cols``/``num_buckets`` the store was written with.
    Spark's bucketed scan derives bucket ids from the committed file
    names, so a spec mismatch fails loudly at read ("Invalid bucket
    file"), never silently mis-buckets. An unreadable location with
    committed files (corrupt footers) propagates — same contract as
    ``_path_exists`` in the streaming store: only provable absence may
    skip state."""
    if spark.catalog.tableExists(table):
        return False
    loc = managed_table_location(spark, table)
    fs, p = _hadoop_fs(spark, loc)
    if not fs.exists(p):
        return False
    statuses = fs.listStatus(p)
    committed = [s.getPath().getName() for s in statuses
                 if s.getPath().getName().endswith(".parquet")
                 and not s.getPath().getName().startswith(("_", "."))]
    if not committed:
        unclassified = [s.getPath().getName() for s in statuses
                        if not s.getPath().getName().startswith(("_", "."))]
        if unclassified:
            raise ValueError(
                f"refusing to clear {loc}: no top-level committed "
                f"parquet, but non-marker entries exist "
                f"({sorted(unclassified)[:5]}…). This helper only "
                f"repairs FLAT bucketed layouts; a partitioned or "
                f"foreign layout must be registered or cleared by "
                f"its owner, not recursively deleted as debris.")
        fs.delete(p, True)
        return False
    schema = spark.read.parquet(loc).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)
    clustered = ""
    if bucket_cols:
        bcols = ", ".join(f"`{c}`" for c in bucket_cols)
        sorted_by = ""
        if sort_cols:
            scols = ", ".join(f"`{c}`" for c in sort_cols)
            sorted_by = f" SORTED BY ({scols})"
        clustered = (f" CLUSTERED BY ({bcols}){sorted_by}"
                     f" INTO {num_buckets} BUCKETS")
    spark.sql(f"CREATE TABLE {table} ({cols}) USING parquet"
              f"{clustered} LOCATION '{loc}'")
    return True

"""CSV / parquet readers (reference S5-S9).

All readers hand Spark an explicit all-string schema or header-driven
schema plus options — never inferSchema (a full extra pass at scale).
Type coercion happens downstream in the normalize steps, mirroring the
reference's dtype=str reads (02_ingest_istdaten.py:190) with final
casts at load (02:429-445).
"""

from __future__ import annotations

from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_semicolon_csv(
    spark: SparkSession,
    paths: Sequence[str | Path],
    usecols: Sequence[str] | None = None,
    null_value: str | None = None,
) -> DataFrame:
    """Semicolon CSV, all columns string (ref S5/S6).

    ``usecols`` prunes immediately after parse — with an explicit
    select Catalyst drops unparsed columns from the CSV reader
    (column pruning X1). ``null_value`` handles the weather '-'
    sentinel (03_ingest_weather.py:77).
    """
    reader = (
        spark.read.option("sep", ";")
        .option("header", "true")
        .option("encoding", "UTF-8")
        .option("mode", "PERMISSIVE")
    )
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    df = reader.csv([str(p) for p in paths])
    if usecols:
        present = [c for c in usecols if c in df.columns]
        df = df.select(*present)
    return df


def read_gtfs_csv(spark: SparkSession, path: str | Path) -> DataFrame:
    """Comma CSV with header, all-string (GTFS member, ref S1)."""
    return (
        spark.read.option("header", "true")
        .option("encoding", "UTF-8")
        .csv(str(path))
    )


def ensure_columns(
    df: DataFrame,
    required: Sequence[str],
    optional_defaults: Sequence[str] = (),
) -> DataFrame:
    """Schema padding (ref P2, 01_ingest_gtfs.py:60-87).

    Missing required columns raise; missing optional columns are added
    as NULL strings.
    """
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"required columns missing: {missing}")
    for c in optional_defaults:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(T.StringType()))
    return df


def read_media_dir(spark: SparkSession, path: str | Path,
                   pattern: str = "*") -> DataFrame:
    """Raw media files → MEDIA_SCHEMA rows via Spark's binaryFile
    source (the ingestion edge of the multimodal pipeline).

    binaryFile gives (path, modificationTime, length, content) with
    the payload read lazily per task — files are NOT concatenated into
    driver memory, and pathGlobFilter prunes at listing time.
    ``media_id`` is a 60-bit hash of the file path (stable across
    re-ingests), ``kind`` is derived from the extension, and the typed
    metadata columns arrive NULL — they are filled by the decode pass
    (operators/multimodal.extract_features), which is where a real
    pipeline learns width/duration anyway. recursiveFileLookup handles
    the nested layouts object stores produce.
    """
    from pyspark.sql import functions as F

    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    kind = (
        F.when(ext.isin("jpg", "jpeg", "png", "ppm", "gif", "bmp"), "image")
        .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
        .when(ext.isin("mp4", "mkv", "webm", "avi", "rawv"), "video")
        .otherwise("other")
    )
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
        .load(str(path))
        .select(
            F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10)
            .cast("long").alias("media_id"),
            kind.alias("kind"),
            F.col("content"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        )
    )

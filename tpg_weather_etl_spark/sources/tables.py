"""Testdata/warehouse parquet table reader.

The driver's synthetic parquet stores timestamps as INT64
TIMESTAMP(NANOS), which Spark's vectorized parquet reader rejects
(PARQUET_TYPE_ILLEGAL). They arrive as longs through the legacy
``spark.sql.legacy.parquet.nanosAsLong`` escape hatch, a session
default (session.py), and this reader rebuilds proper TimestampType
columns (truncating nanos → micros, exactly what DuckDB's reader
does), so the rest of the engine sees ordinary timestamps and all
pushdown/pruning still works: the long column is pruned/filtered at
the scan, the conversion is a cheap projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Known timestamp columns per testdata table (nanos-encoded at rest).
TS_COLS: dict[str, list[str]] = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing nano-timestamp columns."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in TS_COLS.get(name, []):
        field = next((f for f in df.schema.fields if f.name == c), None)
        if field is not None and isinstance(field.dataType, T.LongType):
            # integer `div`, NOT `/`: nanos ≈ 1.7e18 exceed double's 2^53
            # exact-integer range, so a float division corrupts the
            # low microseconds.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif field is not None and isinstance(field.dataType,
                                              T.TimestampNTZType):
            # Timezone-less parquet timestamp[us] read under NTZ
            # inference (pyspark 4 default; broke round 3). Normalize
            # to TIMESTAMP at the reader boundary — lossless under the
            # pinned UTC session timezone — so the engine sees one
            # timestamp flavor regardless of ambient session confs.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df

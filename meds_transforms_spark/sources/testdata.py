"""Loaders for the driver's synthetic testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under /root/testdata/sf*/.

Normalizations applied at the boundary:
- ``events.ts`` is written as parquet TIMESTAMP(NANOS); with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as epoch
  nanos LONG and is converted here to µs TimestampType.
- ``events_as_meds`` maps the events stream onto the MEDS core schema
  (FIXTURES.md §7: user_id → subject_id, ts → time, event_type → code,
  value → numeric_value).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Older Sparks ERROR on the TIMESTAMP(NANOS) column
        # (PARQUET_TYPE_ILLEGAL) unless this legacy conf is set; Spark
        # >= 4.1 ignores it and reads nanos natively as TIMESTAMP_NTZ.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # Integer division, NOT `/1000` (double division loses
            # precision at epoch-nanos magnitude). Truncation matches
            # DuckDB's parquet ns→µs read, keeping oracles exact.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Spark 4.1+ native nanos read (already µs-truncated). The
            # session timezone is pinned to UTC everywhere, so this cast
            # is a pure reinterpretation — same instants, and functions
            # like unix_micros (TIMESTAMP-only) work downstream.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def events_as_meds(
    spark: SparkSession, sf_dir: str, value_type: str = "float", with_modifier: bool = False
) -> DataFrame:
    """Events mapped to MEDS shape. ``value_type="double"`` keeps the
    source double — used by oracle-compared queries so both engines do
    identical float64 arithmetic. ``with_modifier`` adds ``kk`` (the
    props JSON int, bucketed by 10) as a code-modifier column."""
    ev = load_table(spark, sf_dir, "events")
    out = ev.select(
        F.col("user_id").alias("subject_id"),
        F.col("ts").alias("time"),
        F.col("event_type").alias("code"),
        F.col("value").cast(value_type).alias("numeric_value"),
        F.col("props"),
    )
    if with_modifier:
        # try_cast, not cast: regexp_extract returns '' on no match and
        # ANSI mode (Spark 4 default) aborts the job on cast('' as int)
        # — a digit-free props (e.g. the synthetic '{}' frames the
        # scale harnesses generate) must yield a NULL modifier instead.
        out = out.withColumn(
            "kk",
            F.expr(
                "cast(try_cast(regexp_extract(props, '([0-9]+)', 1) as int) div 10 as int)"
            ),
        )
    return out.drop("props")

"""Canonical MEDS schemas, re-expressed as Spark StructTypes.

Reference semantics: MEDS v0.4 core table — one row per measurement of a
subject at a time identified by a code
(reference: src/MEDS_transforms/stages/extract_values/extract_values.py:16-23,
mapreduce/stage.py:85-120).

Scale note: the event table is horizontally partitioned by ``subject_id``;
at 100 TB the physical layout should be parquet partitioned by ``split``
(directory partitioning → Catalyst partition pruning) and bucketed or
repartitioned by ``subject_id`` so every per-subject window/group operator
runs shuffle-free after a single ingest repartition.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Core column names (mirrors the `meds` package schema constants) -----
SUBJECT_ID = "subject_id"
TIME = "time"
CODE = "code"
NUMERIC_VALUE = "numeric_value"
TEXT_VALUE = "text_value"
CATEGORICAL_VALUE = "categorical_value"

#: Deterministic order key materialized at ingest. The reference relies on
#: Polars' stable sorts / order-preserving joins (maintain_order=True,
#: e.g. compute_modes/match_revise.py:316-318); Spark sorts are not stable,
#: so insertion order is materialized as an explicit tiebreak column and
#: every order-sensitive stage sorts by (subject_id, time, ORDER_KEY).
ORDER_KEY = "__order"

MANDATORY_COLUMNS = [SUBJECT_ID, TIME, CODE, NUMERIC_VALUE]

MEDS_DATA_SCHEMA = T.StructType(
    [
        T.StructField(SUBJECT_ID, T.LongType(), nullable=False),
        # TimestampType is µs precision — matches Polars Datetime("us").
        # null time ⇒ static measurement (demographics).
        T.StructField(TIME, T.TimestampType(), nullable=True),
        T.StructField(CODE, T.StringType(), nullable=False),
        T.StructField(NUMERIC_VALUE, T.FloatType(), nullable=True),
        T.StructField(TEXT_VALUE, T.StringType(), nullable=True),
    ]
)

# --- Code metadata (the dimension table, metadata/codes.parquet) ---------
CODE_METADATA_SCHEMA = T.StructType(
    [
        T.StructField(CODE, T.StringType(), nullable=True),  # null = grand-total row
        T.StructField("description", T.StringType(), nullable=True),
        T.StructField("parent_codes", T.ArrayType(T.StringType()), nullable=True),
    ]
)

SUBJECT_SPLITS_SCHEMA = T.StructType(
    [
        T.StructField(SUBJECT_ID, T.LongType(), nullable=False),
        T.StructField("split", T.StringType(), nullable=False),
    ]
)

#: Reference split names (mapreduce/stage.py:155-168).
TRAIN_SPLIT = "train"
TUNING_SPLIT = "tuning"
HELD_OUT_SPLIT = "held_out"

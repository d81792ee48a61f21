"""add_time_derived_measurements — synthesize new rows from timestamps.

Three sub-operators, mirroring
src/MEDS_transforms/stages/add_time_derived_measurements/:

- ``age``            (age.py:149-176): at each event, age since the
  subject's DOB row (code == DOB_code), in configured units.
- ``time_of_day``    (time_of_day.py:111-127): bucket each event's hour
  into configured endpoint ranges → categorical code rows.
- ``timeline_tokens``(timeline_tokens.py:250-286): per-subject timeline
  start/end marker rows and inter-event time-delta rows.

Spark plan: all three are per-subject window computations — the
reference's event×DOB join (age.py:169) is re-expressed as
``min(when(code==DOB, time)) over (partition by subject)``, which is
strictly better at scale: zero join, single window pass over the
subject-partitioned table. New rows are produced on DISTINCT events
(subject, time) — dropDuplicates — and merged back with a
union-by-name with missing columns nulled (diagonal concat,
add_time_derived_measurements.py:165-167).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.functions.time_units import normalize_time_unit
from meds_transforms_spark.schema import CODE, NUMERIC_VALUE, SUBJECT_ID, TIME


def _micros(df: DataFrame, col):
    """Timestamp → exact epoch microseconds (long). Exact integer µs —
    NOT a double cast, which at epoch magnitude has ~0.5 µs quantization
    that breaks oracle-exact comparisons.

    ``col`` has the type of ``df``'s ``time``. A tz-naive MEDS ``time``
    reads as TIMESTAMP_NTZ, which ``unix_micros`` rejects; its wall clock
    is rebuilt field by field as a UTC TIMESTAMP, so no session time zone
    (nor its DST gaps and overlaps) enters the result."""
    if isinstance(df.schema[TIME].dataType, T.TimestampNTZType):
        col = F.make_timestamp_ltz(
            F.year(col), F.month(col), F.dayofmonth(col), F.hour(col),
            F.minute(col), F.extract(F.lit("SECOND"), col), F.lit("UTC"),
        )
    return F.unix_micros(col)


def _distinct_events(df: DataFrame) -> DataFrame:
    """Unique (subject, time) pairs with non-null time — the event grid
    new measurements attach to (utils.py:129-133)."""
    return (
        df.filter(F.col(TIME).isNotNull())
        .select(SUBJECT_ID, TIME)
        .dropDuplicates([SUBJECT_ID, TIME])
    )


def age_rows(
    df: DataFrame,
    DOB_code: str = "MEDS_BIRTH",
    age_code: str = "AGE",
    age_unit: str = "years",
    DOB_regex: str | None = None,
) -> DataFrame:
    """One AGE row per event after birth (age.py:149-176).

    DOB rows match by substring CONTAINMENT of ``DOB_code`` (the
    reference's ``str.contains(literal=True)`` — 'SNOMED//MEDS_BIRTH'
    matches DOB_code='MEDS_BIRTH'), or by ``DOB_regex`` when given."""
    per_subject = W.partitionBy(SUBJECT_ID)
    is_dob = (
        F.col(CODE).rlike(DOB_regex)
        if DOB_regex is not None
        else F.col(CODE).contains(DOB_code)
    )
    dob = F.min(F.when(is_dob, F.col(TIME))).over(per_subject)
    unit_seconds = normalize_time_unit(age_unit)
    events = (
        df.withColumn("__dob", dob)
        .filter(F.col(TIME).isNotNull() & F.col("__dob").isNotNull())
        .select(SUBJECT_ID, TIME, "__dob")
        .dropDuplicates([SUBJECT_ID, TIME])
    )
    age = (_micros(df, F.col(TIME)) - _micros(df, F.col("__dob"))) / F.lit(
        unit_seconds * 1e6
    )
    return (
        events.filter(F.col(TIME) > F.col("__dob"))
        .select(
            SUBJECT_ID,
            TIME,
            F.lit(age_code).alias(CODE),
            age.cast("float").alias(NUMERIC_VALUE),
        )
    )


def time_of_day_rows(
    df: DataFrame,
    time_of_day_code: str = "TIME_OF_DAY",
    endpoints: Sequence[int] = (6, 12, 18, 24),
) -> DataFrame:
    """One TIME_OF_DAY//[lo,hi) row per event (time_of_day.py:100-131),
    including the reference's terminal ``[last,24)`` bucket — endpoints
    need not reach 24 — and its endpoint validations."""
    eps = list(endpoints)
    if not eps:
        raise ValueError("endpoints must contain at least one hour boundary")
    if not all(isinstance(e, int) and 0 <= e <= 24 for e in eps):
        raise ValueError(f"endpoints must be whole hours in [0, 24]: {eps}")
    if len(eps) != len(set(eps)) or eps != sorted(eps):
        raise ValueError(f"endpoints must be unique and sorted: {eps}")
    events = _distinct_events(df)
    hour = F.hour(F.col(TIME))
    expr = F.when(hour < eps[0], F.lit(f"{time_of_day_code}//[00,{eps[0]:02})"))
    for lo, hi in zip(eps, eps[1:]):
        expr = expr.when(hour < hi, F.lit(f"{time_of_day_code}//[{lo:02},{hi:02})"))
    # hours past the last endpoint land in [last,24) — unreachable (and
    # harmless) when the last endpoint is already 24
    expr = expr.when(hour >= eps[-1], F.lit(f"{time_of_day_code}//[{eps[-1]:02},24)"))
    return events.select(
        SUBJECT_ID,
        TIME,
        expr.alias(CODE),
        F.lit(None).cast("float").alias(NUMERIC_VALUE),
    )


def timeline_tokens_rows(
    df: DataFrame,
    time_unit: str = "d",
    timeline_start_code: str | None = "TIMELINE//START",
    timeline_end_code: str | None = "TIMELINE//END",
    time_delta_code: str | None = "TIMELINE//DELTA//{time_unit}",
) -> DataFrame:
    """Timeline START/END markers + inter-event deltas
    (timeline_tokens.py:250-286). Delta = time since previous event in
    ``time_unit`` (lag-1 window, W4 in SURVEY §2.5).

    Reference config parity (timeline_tokens.py:16-35): a ``None`` code
    suppresses those rows; ``{time_unit}`` in the delta code is replaced
    with the canonical unit name ("y" → "years")."""
    from meds_transforms_spark.functions.time_units import canonical_time_unit

    events = _distinct_events(df)
    per_subject = W.partitionBy(SUBJECT_ID)
    ordered = per_subject.orderBy(TIME)
    unit_seconds = normalize_time_unit(time_unit)
    start_code, end_code = timeline_start_code, timeline_end_code
    delta_code = (
        time_delta_code.replace("{time_unit}", canonical_time_unit(time_unit))
        if time_delta_code is not None
        else None
    )

    base = events.withColumn("__start", F.min(TIME).over(per_subject)).withColumn(
        "__end", F.max(TIME).over(per_subject)
    )
    delta = (_micros(df, F.col(TIME)) - _micros(df, F.lag(TIME).over(ordered))) / F.lit(
        unit_seconds * 1e6
    )
    deltas = base.withColumn("__delta", delta).filter(F.col("__delta").isNotNull())

    starts = (
        base.filter(F.col(TIME) == F.col("__start"))
        .select(
            SUBJECT_ID, TIME, F.lit(start_code).alias(CODE),
            F.lit(None).cast("float").alias(NUMERIC_VALUE),
        )
    )
    ends = (
        base.filter(F.col(TIME) == F.col("__end"))
        .select(
            SUBJECT_ID, TIME, F.lit(end_code).alias(CODE),
            F.lit(None).cast("float").alias(NUMERIC_VALUE),
        )
    )
    parts = []
    if start_code is not None:
        parts.append(starts)
    if delta_code is not None:
        parts.append(
            deltas.select(
                SUBJECT_ID, TIME, F.lit(delta_code).alias(CODE),
                F.col("__delta").cast("float").alias(NUMERIC_VALUE),
            )
        )
    if end_code is not None:
        parts.append(ends)
    if not parts:
        return df.sparkSession.createDataFrame([], starts.schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_SUBSTAGES = {
    "age": age_rows,
    "time_of_day": time_of_day_rows,
    "timeline_tokens": timeline_tokens_rows,
}


@register_stage("add_time_derived_measurements")
def add_time_derived_measurements(df: DataFrame, **sub_configs) -> DataFrame:
    """Union the input with each configured sub-operator's new rows.

    ``sub_configs`` maps sub-operator name → its config dict, e.g.
    ``{"age": {"DOB_code": "MEDS_BIRTH", "age_unit": "years"}}``.
    Output order contract: callers sort (subject_id, time, __order) at
    the boundary; new rows carry no __order and sort after existing rows
    at the same timestamp via nulls_last — matching the reference's
    stable diagonal concat then sort (:165-169).
    """
    out = df
    for name, cfg in sub_configs.items():
        fn = _SUBSTAGES.get(name)
        if fn is None:
            raise ValueError(f"Unknown time-derived sub-stage {name!r}")
        new_rows = fn(df, **(cfg or {}))
        out = out.unionByName(new_rows, allowMissingColumns=True)
    return out

"""filter_measurements — keep rows whose code passes frequency thresholds.

Reference semantics (src/MEDS_transforms/stages/filter_measurements/
filter_measurements.py:135-168): filter the code-metadata dimension table
by per-code thresholds (min_subjects_per_code, min_occurrences_per_code),
then keep only event rows whose (code, *modifiers) survive — an inner
join used purely as a semi join, with row order restored via a temp row
index.

Spark plan: broadcast LEFT SEMI join against the filtered dimension
table. The dimension side is tiny (vocabulary-sized) → no shuffle of the
100 TB fact table at all; the filter evaluates map-side inside the scan
stage. Order restoration is unnecessary because a semi join in Spark
never reorders... but Spark gives no ordering guarantee either — callers
that materialize ordered output sort by (subject_id, time, __order) at
write time (see schema.ORDER_KEY).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.schema import CODE


@register_stage("filter_measurements")
def filter_measurements(
    df: DataFrame,
    code_metadata: DataFrame,
    min_subjects_per_code: int | None = None,
    min_occurrences_per_code: int | None = None,
    code_modifiers: Sequence[str] = (),
) -> DataFrame:
    keys = [CODE, *code_modifiers]
    allowed = code_metadata
    if min_subjects_per_code is not None:
        allowed = allowed.filter(F.col("code/n_subjects") >= int(min_subjects_per_code))
    if min_occurrences_per_code is not None:
        allowed = allowed.filter(
            F.col("code/n_occurrences") >= int(min_occurrences_per_code)
        )
    allowed = allowed.select(*keys)
    if all(t is None for t in (min_subjects_per_code, min_occurrences_per_code)):
        return df
    return df.join(F.broadcast(allowed), on=keys, how="left_semi")

"""occlude_outliers — null numeric values beyond k·σ of their code's mean.

Reference semantics (src/MEDS_transforms/stages/occlude_outliers/
occlude_outliers.py:78-116): per-code mean/σ come from the code-metadata
table — either precomputed ``values/mean``/``values/std`` or derived from
(values/n_occurrences, values/sum, values/sum_sqd) (:90-95). Rows outside
``|v - mean| ≤ k·σ`` get ``numeric_value`` nulled and
``numeric_value/is_inlier = false``; rows with no value get a null flag.

Spark plan: broadcast LEFT join of the fact table against the
vocabulary-sized stats table on (code, *modifiers), then a pure
``when`` projection — map-side only, no shuffle of the event table,
stays in whole-stage codegen.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.schema import CODE, NUMERIC_VALUE


@register_stage(
    "occlude_outliers",
    output_schema_updates={"numeric_value/is_inlier": "boolean"},
)
def occlude_outliers(
    df: DataFrame,
    code_metadata: DataFrame,
    stddev_cutoff: float = 5.0,
    code_modifiers: Sequence[str] = (),
) -> DataFrame:
    keys = [CODE, *code_modifiers]
    meta = code_metadata
    if "values/mean" in meta.columns and "values/std" in meta.columns:
        stats = meta.select(
            *keys,
            F.col("values/mean").alias("__mean"),
            F.col("values/std").alias("__std"),
        )
    else:
        n = F.col("values/n_occurrences")
        s = F.col("values/sum")
        s2 = F.col("values/sum_sqd")
        # mean = Σv/n ; σ = sqrt(Σv²/n − mean²)  (occlude_outliers.py:90-95)
        # try_divide: ANSI mode (Spark 4 default) errors on 0/0 — codes
        # with no observed values get null mean/std → rows kept, flag null.
        mean = F.try_divide(s, n)
        var = F.try_divide(s2, n) - mean * mean
        stats = meta.select(
            *keys,
            mean.alias("__mean"),
            F.sqrt(F.greatest(var, F.lit(0.0))).alias("__std"),
        )
    joined = df.join(F.broadcast(stats), on=keys, how="left")
    v = F.col(NUMERIC_VALUE)
    is_inlier = F.when(
        v.isNotNull() & F.col("__mean").isNotNull(),
        F.abs(v - F.col("__mean")) <= F.lit(float(stddev_cutoff)) * F.col("__std"),
    )
    return (
        joined.withColumn("numeric_value/is_inlier", is_inlier)
        .withColumn(
            NUMERIC_VALUE,
            # keep ONLY when the flag is TRUE — the reference's
            # pl.when(filter_expr).then(value) takes the null branch for
            # a NULL flag (code absent from metadata / no usable stats),
            # NULLING the value (occlude_outliers.py:108-112)
            F.when(F.col("numeric_value/is_inlier"), v),
        )
        .drop("__mean", "__std")
    )

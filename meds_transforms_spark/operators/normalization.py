"""normalization — z-score values and dictionary-encode codes.

Reference semantics (src/MEDS_transforms/stages/normalization/
normalization.py:187-225): inner-join the event table to code metadata on
(code, *modifiers) with null-equal keys; replace ``code`` with its
integer ``code/vocab_index`` and ``numeric_value`` with
``(v - mean) / std`` where mean/std come from the metadata (precomputed
``values/mean``/``values/std``, else derived from n/Σ/Σ²); input row
order is restored via a row index.

Spark plan: broadcast inner join (null-safe on modifier keys) against the
vocabulary-sized metadata — map-side, no fact-table shuffle; projection
stays in codegen. Codes absent from the vocabulary are dropped by the
inner join, matching the reference.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.schema import CODE, NUMERIC_VALUE


@register_stage("normalization")
def normalization(
    df: DataFrame,
    code_metadata: DataFrame,
    code_modifiers: Sequence[str] = (),
) -> DataFrame:
    keys = [CODE, *code_modifiers]
    meta = code_metadata
    # Independent column selection (normalization.py:190-199): a
    # precomputed values/mean is used even when values/std must be
    # derived, and the DERIVED std always uses the DERIVED mean (the
    # reference's stddev_col closes over mean_col, not the selected
    # mean). try_divide: zero-count codes (no observed values) must
    # yield null stats, not an ANSI DIVIDE_BY_ZERO error.
    n = F.col("values/n_occurrences")
    derived_mean = F.try_divide(F.col("values/sum"), n)
    derived_var = F.try_divide(F.col("values/sum_sqd"), n) - derived_mean * derived_mean
    # NO clamp: float-noise negative variance must give NaN std (the
    # reference's (neg)**0.5), which NaN-propagates into the normalized
    # value — pinned by the reference golden (a clamp to 0 would emit
    # ±inf instead)
    derived_std = F.sqrt(derived_var)
    mean = F.col("values/mean") if "values/mean" in meta.columns else derived_mean
    std = F.col("values/std") if "values/std" in meta.columns else derived_std
    stats = meta.select(
        *keys,
        F.col("code/vocab_index").alias("__vocab"),
        mean.alias("__mean"),
        std.alias("__std"),
    )

    # Null-safe equi-join: nullable modifier keys must match null-to-null
    # (nulls_equal=True at normalization.py:214). Spark's `on=[cols]`
    # form is not null-safe → build an explicit <=> condition. Frame
    # aliases, not bare attribute refs: stats usually derives from df's
    # lineage, and same-exprId eqNullSafe terms trigger Spark's
    # "trivially true equals predicate" WARN.
    d_, s_ = df.alias("__nz_d"), stats.alias("__nz_s")

    def dcol(c):
        return F.col(f"__nz_d.`{c}`")

    def scol(c):
        return F.col(f"__nz_s.`{c}`")

    cond = None
    for k in keys:
        term = dcol(k).eqNullSafe(scol(k))
        cond = term if cond is None else cond & term
    joined = d_.join(F.broadcast(s_), cond, "inner")

    # The reference's normalization emits ONLY the tokenization-ready
    # core schema (its golden outputs drop upstream extras like
    # numeric_value/is_inlier); keep subject/time (+order key) only, and
    # the split column when there is one: it is the dataset's layout
    # (write_data partitions by it), not an event attribute.
    from meds_transforms_spark.schema import ORDER_KEY, SUBJECT_ID, TIME

    keep = [c for c in (SUBJECT_ID, TIME, ORDER_KEY) if c in df.columns]
    passthrough = [dcol(c) for c in keep]
    split = [dcol("split")] if "split" in df.columns else []
    v = dcol(NUMERIC_VALUE)
    diff = v - scol("__mean")
    # std == 0 mirrors the reference's unguarded (v-mean)/std, which in
    # Polars follows IEEE: ±inf for diff ≠ 0, NaN for diff == 0. Spark 4
    # ANSI errors on double/0, so the IEEE outcomes are spelled out;
    # NULL inputs (v, mean, or std) stay NULL.
    normed = (
        F.when(v.isNull() | scol("__mean").isNull() | scol("__std").isNull(), F.lit(None).cast("double"))
        .when(scol("__std") != 0, diff / scol("__std"))
        # Spark orders NaN above every double, so NaN diff would take
        # the +inf branch; IEEE NaN/0 is NaN
        .when(F.isnan(diff), F.lit(float("nan")))
        .when(diff > 0, F.lit(float("inf")))
        .when(diff < 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan")))
    )
    return joined.select(
        *passthrough,
        scol("__vocab").cast("long").alias(CODE),
        normed.cast("float").alias(NUMERIC_VALUE),
        *split,
    )

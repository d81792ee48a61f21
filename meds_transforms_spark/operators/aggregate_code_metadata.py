"""aggregate_code_metadata — per-code statistics over the event table.

Reference semantics (src/MEDS_transforms/stages/aggregate_code_metadata/
aggregate_code_metadata.py:66-188): grouped by ``code`` (+ configured
``code_modifiers``), compute any subset of:

- ``code/n_subjects``     distinct subjects per code
- ``code/n_occurrences``  row count per code
- ``values/n_subjects``   distinct subjects with a present numeric value
- ``values/n_occurrences``count of present (non-null, non-NaN) values
- ``values/n_ints``       count of whole-number values (v == round(v))
- ``values/sum``          Σv          - ``values/sum_sqd``  Σv²
- ``values/min`` / ``values/max``
- ``values/quantiles``    EXACT quantiles → struct of requested points

Spark-first restatement: the reference splits every statistic into a
per-shard commutative partial + a cross-shard reduce joined by an outer
cascade (design note at :28-38; reducer at :768-786) — that split exists
only because its workers share nothing but the filesystem. Spark's hash
aggregation IS a partial/final mapreduce (map-side combine, then a
single shuffle on the group keys), so the whole subsystem collapses into
one ``groupBy().agg()``. The grand-total row (do_summarize_over_all_codes,
:514-535) is grouping sets — expressed via ``rollup`` — rather than a
diagonal concat.

NaN discipline: Polars skips null but counts NaN into sums; the reference
therefore guards every values/* statistic with
``VAL_PRESENT = is_not_null & is_not_nan`` (:169-171). Spark's sum/avg
*propagate* NaN instead of skipping it, so we pre-null NaNs explicitly —
same guard, same result.

Quantiles are EXACT, matching the reference's quantile_reducer
(:101-165); method="nearest" interpolation (Polars default) via
sort-position math on ``percentile``'s exact machinery would drift, so we
compute nearest-rank directly from sorted arrays per group. At 100 TB,
per-code value lists are the scale risk; see ``exact_quantiles`` below
for the sort-based distributed formulation.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.schema import CODE, NUMERIC_VALUE, SUBJECT_ID

#: All supported aggregation names (aggregate_code_metadata.py:66-76).
AGGREGATIONS = [
    "code/n_subjects",
    "code/n_occurrences",
    "values/n_subjects",
    "values/n_occurrences",
    "values/n_ints",
    "values/sum",
    "values/sum_sqd",
    "values/min",
    "values/max",
    "values/quantiles",
]

DEFAULT_QUANTILES = [0.25, 0.5, 0.75]


def _agg_exprs(aggregations: Sequence, quantiles: Sequence[float], sum_decimal_scale=None):
    """Build the Spark agg expression list for the requested statistics.

    ``__val`` is numeric_value with NaN pre-nulled (VAL_PRESENT guard).

    ``sum_decimal_scale``: when set, values/sum and values/sum_sqd cast
    each row to an exact DECIMAL at that scale before summing and cast
    the total back to double. Floating sums over a shuffle are
    association-order-dependent (non-deterministic across partitionings
    and engines); fixed-point sums are exact and reproducible — use this
    whenever results must be bit-stable across runs/engines.
    """
    val = F.col("__val")
    exprs = []
    for agg in aggregations:
        name = agg if isinstance(agg, str) else agg.get("name")
        approx = bool(agg.get("approx", False)) if isinstance(agg, dict) else False
        if name == "code/n_subjects":
            if approx:
                # HyperLogLog++ sketch — mergeable, no expand, ~2% default
                # error. The 100 TB opt-in where exactness isn't required.
                exprs.append(F.approx_count_distinct(SUBJECT_ID).alias(name))
                continue
            exprs.append(F.countDistinct(SUBJECT_ID).alias(name))
        elif name == "code/n_occurrences":
            exprs.append(F.count(F.lit(1)).alias(name))
        elif name == "values/n_subjects":
            exprs.append(
                F.countDistinct(F.when(val.isNotNull(), F.col(SUBJECT_ID))).alias(name)
            )
        elif name == "values/n_occurrences":
            exprs.append(F.count(val).alias(name))
        elif name == "values/n_ints":
            exprs.append(F.count(F.when(val == F.round(val), F.lit(1))).alias(name))
        elif name == "values/sum":
            # Polars sums empty groups to 0.0 (not null) — match it.
            if sum_decimal_scale is not None:
                expr = F.sum(val.cast(f"decimal(30,{sum_decimal_scale})")).cast("double")
            else:
                expr = F.sum(val)
            exprs.append(F.coalesce(expr, F.lit(0.0)).alias(name))
        elif name == "values/sum_sqd":
            if sum_decimal_scale is not None:
                expr = F.sum((val * val).cast(f"decimal(38,{sum_decimal_scale + 2})")).cast("double")
            else:
                expr = F.sum(val * val)
            exprs.append(F.coalesce(expr, F.lit(0.0)).alias(name))
        elif name == "values/min":
            exprs.append(F.min(val).alias(name))
        elif name == "values/max":
            exprs.append(F.max(val).alias(name))
        elif name == "values/quantiles":
            qs = list(agg.get("quantiles", quantiles)) if isinstance(agg, dict) else list(quantiles)
            if approx:
                # Greenwald-Khanna sketch (percentile_approx) — bounded
                # memory regardless of group size; opt-in only, the
                # reference (and our oracle) is exact.
                pcts = F.percentile_approx(val, [float(q) for q in qs], 10000)
                exprs.append(
                    F.struct(
                        *[
                            F.element_at(pcts, i + 1).alias(f"values/quantile/{q}")
                            for i, q in enumerate(qs)
                        ]
                    ).alias("values/quantiles")
                )
                continue
            # Exact nearest-rank quantiles from the sorted value array.
            # collect_list skips nulls, so the VAL_PRESENT guard holds.
            sorted_vals = F.array_sort(F.collect_list(val))
            fields = []
            for q in qs:
                # Polars "nearest" on a size-n sorted array: index
                # round(q*(n-1)) (half away from zero). Guard empty groups.
                n = F.size(sorted_vals)
                idx = F.round(F.lit(float(q)) * (n - F.lit(1))).cast("int")
                fields.append(
                    F.when(n > 0, F.element_at(sorted_vals, idx + 1))
                    .alias(f"values/quantile/{q}")
                )
            exprs.append(F.struct(*fields).alias("values/quantiles"))
        else:
            raise ValueError(f"Unknown aggregation {name!r}")
    return exprs


@register_stage("aggregate_code_metadata", kind="mapreduce", is_metadata=True)
def aggregate_code_metadata(
    df: DataFrame,
    aggregations: Sequence = ("code/n_subjects", "code/n_occurrences"),
    code_modifiers: Sequence[str] = (),
    do_summarize_over_all_codes: bool = False,
    quantiles: Sequence[float] = DEFAULT_QUANTILES,
    sum_decimal_scale: int | None = None,
) -> DataFrame:
    """One-shot grouped aggregation; returns the code-metadata delta.

    Plan shape at scale: single shuffle on (code, *modifiers) with
    map-side partial aggregation. With exactly one exact distinct count
    (the usual ``code/n_subjects`` request) Spark rewrites the aggregate
    into a (keys, subject) → (keys) two-level plan with no expand; two
    distinct counts still plan an expand, still one logical pass. Skewed
    codes (a handful of ultra-common labs) are handled by AQE skew
    splitting.

    This aggregate owns the codes table's uniqueness: one row per
    (code, *modifiers), plus the null-key grand total under
    ``do_summarize_over_all_codes``. Consumers rely on it and do not
    re-deduplicate. It does not own order: the output is unsorted, and
    ``fit_vocabulary_indices``'s rank pass is the one place that orders
    codes (the pipeline's written codes table comes out of it)."""
    keys = [CODE, *code_modifiers]
    guarded = df.withColumn(
        "__val",
        F.when(
            F.col(NUMERIC_VALUE).isNotNull() & ~F.isnan(F.col(NUMERIC_VALUE)),
            F.col(NUMERIC_VALUE),
        ),
    )
    exprs = _agg_exprs(aggregations, quantiles, sum_decimal_scale)
    if do_summarize_over_all_codes:
        # rollup(code, mods) emits per-key rows + the null-key grand total
        # — the reference's diagonal concat of an ungrouped select
        # (:514-535) as native grouping sets. Intermediate rollup levels
        # (partial modifier combos) are filtered out to match.
        out = guarded.rollup(*keys).agg(*exprs)
        if len(keys) > 1:
            grouping_cols = [F.grouping(k) for k in keys]
            all_grouped = F.lit(True)
            for g in grouping_cols:
                all_grouped = all_grouped & (g == 0)
            all_total = F.lit(True)
            for g in grouping_cols:
                all_total = all_total & (g == 1)
            out = out.filter(all_grouped | all_total)
    else:
        out = guarded.groupBy(*keys).agg(*exprs)
    return out


def join_and_replace(new: DataFrame, old: DataFrame | None, keys: Sequence[str]) -> DataFrame:
    """Merge freshly-aggregated metadata into an existing codes table.

    Reference: mapreduce/stage.py:507-543 — keep all of ``new``'s columns;
    back-fill ``old``'s non-conflicting columns via left join. ``old`` is
    the small dimension table → broadcast.
    """
    if old is None:
        return new
    conflicts = [c for c in old.columns if c in new.columns and c not in keys]
    right = old.drop(*conflicts)
    if not [c for c in right.columns if c not in keys]:
        return new
    # Null-safe join keys: metadata rows may carry null keys (grand-total
    # row, nullable modifiers) — reference uses nulls_equal=True (:784).
    # Explicit frame aliases: new and old often share lineage (the
    # pipeline derives both from one frame), and same-exprId eqNullSafe
    # terms make Spark emit its "trivially true equals predicate" WARN
    # per query.
    n, r = new.alias("__jr_n"), right.alias("__jr_r")
    cond = None
    for k in keys:
        term = F.col(f"__jr_n.`{k}`").eqNullSafe(F.col(f"__jr_r.`{k}`"))
        cond = term if cond is None else cond & term
    joined = n.join(F.broadcast(r), cond, "left")
    return joined.select(
        *[F.col(f"__jr_n.`{c}`") for c in new.columns],
        *[F.col(f"__jr_r.`{c}`") for c in right.columns if c not in keys],
    )

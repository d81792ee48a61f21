"""Physical-plan shape assertions — the scale contract.

Correctness tests say the operators compute the right rows; these say
Catalyst produced the plan we designed for 100 TB: broadcast joins for
dimension tables (no fact-table shuffle), predicate pushdown into
parquet scans, and pipeline end-to-end viability.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_measurements_broadcasts(spark, meds_df):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_transforms_spark.operators.filter_measurements import filter_measurements

    meta = aggregate_code_metadata(
        meds_df, aggregations=["code/n_subjects", "code/n_occurrences"]
    )
    out = filter_measurements(meds_df, meta, min_subjects_per_code=2)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan


def test_normalization_broadcasts(spark, meds_df):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_transforms_spark.operators.fit_vocabulary_indices import (
        fit_vocabulary_indices,
    )
    from meds_transforms_spark.operators.normalization import normalization

    meta = fit_vocabulary_indices(
        aggregate_code_metadata(
            meds_df,
            aggregations=["values/n_occurrences", "values/sum", "values/sum_sqd"],
        )
    )
    plan = plan_of(normalization(meds_df, meta))
    assert "BroadcastHashJoin" in plan, plan
    # No sort-merge join of the fact table anywhere in this plan.
    assert "SortMergeJoin" not in plan, plan


def test_parquet_filter_pushdown(spark, tmp_path, meds_df):
    path = str(tmp_path / "events")
    meds_df.write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("subject_id") == 1).select("code")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(subject_id), EqualTo(subject_id,1)" in plan, plan
    # Column pruning: scan should read only the needed columns.
    assert "ReadSchema: struct<subject_id:bigint,code:string>" in plan, plan


def test_aggregate_is_partial_final(spark, meds_df):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    plan = plan_of(
        aggregate_code_metadata(meds_df, aggregations=["code/n_occurrences"])
    )
    # Two-phase hash aggregation (map-side partial + final) — the native
    # replacement for the reference's per-shard map / cross-shard reduce.
    assert plan.count("HashAggregate") >= 2, plan


def test_aggregate_leaves_order_to_the_vocabulary(spark, meds_df):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    for kw in ({}, {"do_summarize_over_all_codes": True}):
        plan = plan_of(
            aggregate_code_metadata(
                meds_df, aggregations=["code/n_subjects", "values/sum"], **kw
            )
        )
        # No global sort: the vocabulary rank pass owns codes order.
        assert "rangepartitioning" not in plan, plan
        assert not re.search(r"\bSort \[", plan), plan


def test_aggregate_without_distinct_is_one_shuffle(spark, meds_df):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    plan = plan_of(
        aggregate_code_metadata(
            meds_df,
            aggregations=["values/n_occurrences", "values/sum", "values/sum_sqd"],
            sum_decimal_scale=6,
        )
    )
    assert plan.count("Exchange ") == 1, plan
    assert "Exchange hashpartitioning(code" in plan, plan


@pytest.mark.parametrize(
    "consumer", ["occlude_outliers", "normalization", "filter_measurements"]
)
def test_codes_table_consumers_do_not_reaggregate(spark, meds_df, consumer):
    """The codes table is unique by construction, so its consumers
    broadcast it as is: no aggregate over it on the broadcast side."""
    import importlib

    stage = getattr(
        importlib.import_module(f"meds_transforms_spark.operators.{consumer}"), consumer
    )
    kw = {"min_subjects_per_code": 2} if consumer == "filter_measurements" else {}
    codes = [r.code for r in meds_df.select("code").distinct().collect()]
    meta = spark.createDataFrame(
        [(c, i, 2, 2, 1.0, 1.0) for i, c in enumerate(codes)],
        "code string, `code/vocab_index` int, `code/n_subjects` long, "
        "`values/n_occurrences` long, `values/sum` double, `values/sum_sqd` double",
    )
    plan = plan_of(stage(meds_df, meta, **kw))
    assert "BroadcastExchange" in plan, plan
    assert "HashAggregate" not in plan, plan


def test_pipeline_checkpoint_resume(spark, meds_df, tmp_path):
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    cfg = PipelineConfig.from_yaml(
        """
stages:
  - filter_subjects: {min_events_per_subject: 2}
"""
    )
    ckpt = str(tmp_path / "ckpt")
    data1, _ = Pipeline(spark, cfg, checkpoint_dir=ckpt).run(meds_df)
    n1 = data1.count()
    # Resume: second run must read the committed checkpoint, not recompute.
    data2, _ = Pipeline(spark, cfg, checkpoint_dir=ckpt, resume=True).run(
        meds_df.limit(0)  # poisoned input proves the checkpoint was used
    )
    assert data2.count() == n1 > 0


def test_pipeline_base_stage_alias_and_overrides(spark, meds_df):
    """Reference config fidelity (configs/pipeline.py:440-486): an
    aliased stage (_base_stage) resolves to its registered operator and
    may appear twice under different names; dotted CLI overrides patch
    the aliased stage's config by its pipeline-local name."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    cfg = PipelineConfig.from_yaml(
        """
stages:
  - keep_busy_subjects:
      _base_stage: filter_subjects
      min_events_per_subject: 99
  - count_codes:
      _base_stage: aggregate_code_metadata
      aggregations: [code/n_occurrences]
"""
    )
    assert cfg.stages[0].resolved_name == "filter_subjects"
    # Override by the ALIAS name, YAML-typed value.
    cfg.apply_overrides(
        ["keep_busy_subjects.min_events_per_subject=4", "worker_tag=abc"]
    )
    assert cfg.stages[0].config["min_events_per_subject"] == 4
    assert cfg.additional_params["worker_tag"] == "abc"

    data, meta = Pipeline(spark, cfg).run(meds_df)
    # n_unique counts the null-time group: s1=5 events, s2=4, s3=3;
    # min_events=4 keeps subjects 1 and 2, drops 3.
    assert {r.subject_id for r in data.select("subject_id").distinct().collect()} == {1, 2}
    counts = {r.code: r["code/n_occurrences"] for r in meta.collect()}
    assert counts["HR"] == 3  # subject 1: 2, subject 2: 1


def test_pipeline_config_pkg_uri():
    """pkg:// pipeline addressing (reference utils.py:10-33): the
    shipped example pipeline resolves through importlib.resources."""
    from meds_transforms_spark.plans import PipelineConfig

    cfg = PipelineConfig.from_yaml(
        "pkg://meds_transforms_spark.pipelines.normalize.yaml"
    )
    names = [s.name for s in cfg.stages]
    assert names == [
        "filter_subjects",
        "fit_normalization_stats",
        "occlude_outliers",
        "fit_vocabulary_indices",
        "normalization",
    ]
    assert cfg.stage_by_name("fit_normalization_stats").resolved_name == (
        "aggregate_code_metadata"
    )


def test_metadata_stage_reads_train_only_after_data_stage(spark, meds_df):
    """Train-only contract (reference configs/pipeline.py:415-428): a
    metadata stage after a data stage must aggregate over the train
    split of the CURRENT frame — tuning/held-out rows leaking into
    fitted statistics is the classic train/test contamination bug."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    splits = spark.createDataFrame(
        [(1, "train"), (2, "tuning"), (3, "train")],
        "subject_id long, split string",
    )
    cfg = PipelineConfig.from_yaml(
        """
stages:
  - filter_subjects: {min_events_per_subject: 4}
  - aggregate_code_metadata: {aggregations: [code/n_subjects, code/n_occurrences]}
"""
    )
    _, meta = Pipeline(spark, cfg).run(meds_df, subject_splits=splits)
    got = {r.code: r["code/n_subjects"] for r in meta.collect()}
    # n_unique counts the null-time group: s1=5, s2=4, s3=3 events.
    # Subject 3 (train, 3 events) falls to filter_subjects; subject 2
    # (4 events) survives it but is tuning. Only subject 1's rows may
    # reach the aggregate: HR seen by exactly 1 subject, and
    # subject-2-only codes absent entirely. A stale pre-filter train
    # frame would leak subject 3's HR (=2); no split filtering would
    # leak subject 2's (=2).
    assert got["HR"] == 1
    assert "ADMISSION//PULMONARY" not in got
    assert "EYE_COLOR//BLUE" not in got

    # Same pipeline with a split COLUMN on the data (partitioned-layout
    # path) must behave identically.
    with_split = meds_df.join(splits, "subject_id", "left")
    _, meta2 = Pipeline(spark, cfg).run(with_split)
    got2 = {r.code: r["code/n_subjects"] for r in meta2.collect()}
    assert got2["HR"] == 1 and "EYE_COLOR//BLUE" not in got2

    # And via train_data (legacy entry): train subject ids are static,
    # so the slice is the current frame semi-joined on them.
    train_frame = meds_df.filter(F.col("subject_id").isin(1, 3))
    _, meta3 = Pipeline(spark, cfg).run(meds_df, train_data=train_frame)
    got3 = {r.code: r["code/n_subjects"] for r in meta3.collect()}
    assert got3["HR"] == 1 and "EYE_COLOR//BLUE" not in got3


def test_q15_q11_single_fact_scan(spark):
    """Regression: the scalar-aggregate branch re-scanned lineitem (the
    join's pushed isnotnull broke ReusedExchange canonicalization) —
    the pinned aggregate must leave exactly one lineitem scan."""
    import __spark_entry__ as E

    for name in ("tpch_q15", "tpch_q11"):
        df = E.queries()[name](spark, "/root/testdata/sf0.01")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("lineitem.parquet") <= 1, name
        assert df.count() >= 1, name

"""Bucketed-table co-location: the ingest-once, shuffle-never pattern.

At 100 TB the event table should be written bucketed by subject_id
(`write.bucketBy(n, "subject_id").sortBy(...)`); every subsequent
per-subject groupBy/window then reads pre-distributed data and plans
ZERO exchanges. This test proves the plan property locally.
"""

from __future__ import annotations


def test_bucketed_groupby_has_no_exchange(spark, meds_df, tmp_path):
    spark.sql("DROP TABLE IF EXISTS meds_bucketed")
    (
        meds_df.write.mode("overwrite")
        .option("path", str(tmp_path / "bucketed"))
        .bucketBy(8, "subject_id")
        .sortBy("subject_id", "time")
        .saveAsTable("meds_bucketed")
    )
    t = spark.table("meds_bucketed")

    agg = t.groupBy("subject_id").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert agg.count() > 0

    # Unbucketed baseline DOES need an exchange — the contrast that
    # proves the bucketing (not triviality) removed it.
    base = meds_df.groupBy("subject_id").count()
    base_plan = base._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in base_plan
    spark.sql("DROP TABLE IF EXISTS meds_bucketed")

"""AQE skew-join evidence: the session factory's skewJoin setting
actually splits a heavy-hitter partition at runtime.

This is the engine's answer to 'skewed keys hurt at 100 TB': no manual
salting in the join path — AQE detects the oversized partition after
the map stage and replans it as multiple sub-joins (plan shows
`skew=true` on the SortMergeJoin). AQE does not split skewed
aggregations; this covers joins only."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join(spark):
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        # shrink thresholds so the test corpus counts as skewed
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # apply the optimization even where it would add a shuffle —
        # deterministic for the assertion regardless of session defaults
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        left = spark.range(200_000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        qe = j._jdf.queryExecution()
        # collect() executes THIS QueryExecution (count() would build a
        # new one and leave qe's adaptive plan unfinalized)
        assert len(j.collect()) > 0
        plan = qe.executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

"""Driver contract for the spark-graft builder (PySpark target).

Every query exercises operators from meds_transforms_spark (SURVEY.md §2
inventory + the large-scale training-data extensions); each oracle is the
ANSI-SQL equivalent DuckDB runs on the same parquet.

Determinism policy (so value-hashes match across engines):
- Sums of floats go through exact per-row DECIMAL casts (association-
  order independent), surfaced as double.
- Derived stats (mean/std/z-scores) are computed from those exact sums
  with identical operand chains → bit-identical doubles.
- Timestamps are µs-truncated on both sides (Spark: integer div of
  nanos; DuckDB: its parquet ns→µs read truncation).
- Cross-engine library math (cosine) is rounded to 4 decimals.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from meds_transforms_spark.plans import tpch as _tpch_suite

SF0001 = "/root/testdata/sf0.001"

#: MEDS view of the events table, shared by oracle SQL (double value —
#: both engines do identical float64 arithmetic).
MEDS_SQL = (
    "SELECT user_id AS subject_id, ts AS \"time\", event_type AS code, "
    "value AS numeric_value FROM events"
)
MEDS_K_SQL = (
    "SELECT user_id AS subject_id, ts AS \"time\", event_type AS code, "
    "value AS numeric_value, "
    "CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) // 10 AS kk FROM events"
)

AGE_UNIT_US = repr(365.2422 * 86400.0 * 1e6)  # identical constant in both engines


def _meds(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    from meds_transforms_spark.sources.testdata import events_as_meds

    return events_as_meds(spark, sf_dir, value_type="double", **kw)


def _stats_meta(spark, sf_dir):
    """Exact-sum per-code stats used by occlude/normalization queries."""
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    return aggregate_code_metadata(
        _meds(spark, sf_dir),
        aggregations=[
            "values/n_occurrences",
            "values/sum",
            "values/sum_sqd",
        ],
        sum_decimal_scale=6,
    )


STATS_SQL = """
  SELECT code,
         count(numeric_value) AS "values/n_occurrences",
         CAST(sum(CAST(numeric_value AS DECIMAL(30,6))) AS DOUBLE) AS "values/sum",
         CAST(sum(CAST(numeric_value * numeric_value AS DECIMAL(38,8))) AS DOUBLE) AS "values/sum_sqd"
  FROM meds GROUP BY code
"""


# ----------------------------------------------------------------------
# Query implementations (Spark side)
# ----------------------------------------------------------------------

def q_meds_agg_code_metadata(spark, sf_dir):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    out = aggregate_code_metadata(
        _meds(spark, sf_dir),
        aggregations=[
            "code/n_subjects",
            "code/n_occurrences",
            "values/n_occurrences",
            "values/n_ints",
            "values/sum",
            "values/sum_sqd",
            "values/min",
            "values/max",
        ],
        sum_decimal_scale=6,
    )
    return out


def q_meds_agg_rollup(spark, sf_dir):
    """Grand-total row via rollup — the reference's
    do_summarize_over_all_codes (diagonal concat) as native grouping sets."""
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    return aggregate_code_metadata(
        _meds(spark, sf_dir),
        aggregations=["code/n_subjects", "code/n_occurrences", "values/sum"],
        do_summarize_over_all_codes=True,
        sum_decimal_scale=6,
    )


def q_meds_agg_quantiles(spark, sf_dir):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    out = aggregate_code_metadata(
        _meds(spark, sf_dir),
        aggregations=[{"name": "values/quantiles", "quantiles": [0.25, 0.5, 0.75]}],
    )
    q = F.col("values/quantiles")
    return out.select(
        "code",
        q["values/quantile/0.25"].alias("q25"),
        q["values/quantile/0.5"].alias("q50"),
        q["values/quantile/0.75"].alias("q75"),
    )


def q_meds_agg_quantiles_approx(spark, sf_dir):
    """Sketch-based grouped quantiles with an ORACLE-CHECKABLE
    certificate (operators/quantiles.approx_quantiles_certificate):
    the Greenwald-Khanna sketch runs here (one mergeable-sketch
    hash-agg pass — the path for groups whose DISTINCT-value stream is
    too hot for the exact two-level formulation), then one
    conditional-sum pass ranks each sketch result against the group and
    emits ``within_tol`` = (rank error ≤ max(1, n/accuracy)). The
    sketch's internals aren't SQL-replayable, but this ASSERTION is
    engine-independent: the oracle replays the exact nearest-rank
    values and emits a constant TRUE — any bound violation
    hash-mismatches. The same bound is property-tested in
    tests/test_approx_quantiles.py."""
    from meds_transforms_spark.operators.quantiles import (
        approx_quantiles_certificate,
    )

    out = approx_quantiles_certificate(
        _meds(spark, sf_dir), [0.25, 0.5, 0.75], accuracy=10_000
    )
    return out.select("code", "q", "exact_value", "within_tol")


def q_meds_quantiles_distributed(spark, sf_dir):
    """Same nearest-rank quantiles as meds_agg_quantiles, via the
    array-free distributed formulation (operators/quantiles.py) — the
    100 TB path; must agree exactly with the same oracle."""
    from meds_transforms_spark.operators.quantiles import grouped_exact_quantiles

    out = grouped_exact_quantiles(_meds(spark, sf_dir), quantiles=[0.25, 0.5, 0.75])
    return out.select(
        "code",
        F.col("`q0.25`").alias("q25"),
        F.col("`q0.5`").alias("q50"),
        F.col("`q0.75`").alias("q75"),
    )


def q_emb_ivf_topk(spark, sf_dir):
    from meds_transforms_spark.operators.ivf import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("embedding")
    )
    out = ivf_topk(
        emb, queries, k=10, n_cells=16, n_probe=4,
        corpus_vec="emb_d", query_vec="embedding",
    )
    return out.select("query_id", "vec_id", (F.round("cos", 4) + F.lit(0.0)).alias("cos_r"), "rank")


def q_meds_filter_subjects(spark, sf_dir):
    from meds_transforms_spark.operators.filter_subjects import filter_subjects

    return filter_subjects(_meds(spark, sf_dir), min_events_per_subject=67)


def q_meds_filter_measurements(spark, sf_dir):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_transforms_spark.operators.filter_measurements import filter_measurements

    meds = _meds(spark, sf_dir, with_modifier=True)
    meta = aggregate_code_metadata(
        meds, aggregations=["code/n_occurrences"], code_modifiers=["kk"]
    )
    return filter_measurements(
        meds, meta, min_occurrences_per_code=200, code_modifiers=["kk"]
    )


def q_meds_occlude_outliers(spark, sf_dir):
    from meds_transforms_spark.operators.occlude_outliers import occlude_outliers

    out = occlude_outliers(_meds(spark, sf_dir), _stats_meta(spark, sf_dir), stddev_cutoff=1.0)
    return out.select(
        "subject_id", "time", "code", "numeric_value",
        F.col("numeric_value/is_inlier").alias("is_inlier"),
    )


def q_meds_normalization(spark, sf_dir):
    from meds_transforms_spark.operators.fit_vocabulary_indices import (
        fit_vocabulary_indices,
    )
    from meds_transforms_spark.operators.normalization import normalization

    meta = fit_vocabulary_indices(_stats_meta(spark, sf_dir))
    return normalization(_meds(spark, sf_dir), meta)


def q_meds_fit_vocab(spark, sf_dir):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_transforms_spark.operators.fit_vocabulary_indices import (
        fit_vocabulary_indices,
    )

    meta = aggregate_code_metadata(_meds(spark, sf_dir), aggregations=["code/n_occurrences"])
    return fit_vocabulary_indices(meta).select(
        "code", "code/n_occurrences", "code/vocab_index"
    )


def q_meds_timeline_deltas(spark, sf_dir):
    from meds_transforms_spark.operators.add_time_derived import timeline_tokens_rows

    return timeline_tokens_rows(_meds(spark, sf_dir), time_unit="d")


def q_meds_time_of_day(spark, sf_dir):
    from meds_transforms_spark.operators.add_time_derived import time_of_day_rows

    rows = time_of_day_rows(_meds(spark, sf_dir), endpoints=[6, 12, 18, 24])
    return rows.groupBy("code").agg(F.count(F.lit(1)).alias("n_events"))


def q_meds_age(spark, sf_dir):
    from meds_transforms_spark.operators.add_time_derived import age_rows

    return age_rows(
        _meds(spark, sf_dir), DOB_code="signup", age_code="AGE", age_unit="years"
    ).withColumn("numeric_value", F.round(F.col("numeric_value"), 6))


def q_meds_bin_numeric(spark, sf_dir):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    meds = _meds(spark, sf_dir)
    meta = aggregate_code_metadata(
        meds, aggregations=[{"name": "values/quantiles", "quantiles": [0.25, 0.5, 0.75]}]
    )
    # Double endpoints here (data is double; the oracle compares in
    # double) — the operator's f32 endpoints are a MEDS-parity detail.
    q = F.col("values/quantiles")
    # NULL-edge parity with the oracle (latent until testdata carries
    # NULL values): a code with NO non-null values has no quantiles —
    # its rows drop (oracle INNER JOINs the quantile CTE); a NULL
    # numeric_value bins to NULL (oracle comparison arithmetic), never
    # to bin 0 (F.filter treats a NULL predicate as false → size 0) or
    # bin -1 (F.size(NULL) under non-ANSI sizeOfNull).
    bins = meta.filter(q["values/quantile/0.25"].isNotNull()).select(
        "code",
        F.array_sort(
            F.array(
                q["values/quantile/0.25"], q["values/quantile/0.5"], q["values/quantile/0.75"]
            )
        ).alias("__endpoints"),
    )
    joined = meds.join(F.broadcast(bins), "code")
    idx = F.when(
        F.col("numeric_value").isNotNull(),
        F.size(F.filter(F.col("__endpoints"), lambda e: e <= F.col("numeric_value"))),
    )
    return (
        joined.withColumn("bin_idx", idx)
        .groupBy("code", "bin_idx")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_meds_match_revise(spark, sf_dir):
    from meds_transforms_spark.operators.match_revise import match_revise
    from meds_transforms_spark.operators.misc import scale_numeric

    out = match_revise(
        _meds(spark, sf_dir),
        scale_numeric,
        [
            {"_matcher": {"code": {"any": ["click", "view"]}}, "factor": 2.0},
            {"_matcher": {"code": {"regex": "^(purchase|signup)$"}}, "factor": 0.5},
        ],
    )
    return out.groupBy("code").agg(
        F.sum(F.col("numeric_value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )


def q_meds_extract_values(spark, sf_dir):
    from meds_transforms_spark.operators.extract_values import extract_values
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    out = extract_values(
        ev,
        numeric_value={"extract": {"from": "props", "regex": "([0-9]+)", "group": 1}},
        text_value={"str": "{event_type}//{user_id}"},
    )
    return out.select("event_id", "text_value", "numeric_value")


def q_meds_code_priority(spark, sf_dir):
    from meds_transforms_spark.operators.reorder_measurements import code_priority

    meds = _meds(spark, sf_dir)
    prio = code_priority(["^error$", "^(purchase|signup)$", ".*"])
    return meds.select("code").distinct().withColumn("priority", prio)


def q_meds_pipeline_e2e(spark, sf_dir):
    """The reference's canonical pipeline shape (tests/test_pipeline.py:
    filter → fit stats → occlude → re-fit → vocab → normalize) composed
    end-to-end from this engine's operators, oracle-verified as one
    query. Data is the interface between stages in the reference; here
    the whole chain stays one lazy Catalyst plan."""
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_transforms_spark.operators.filter_subjects import filter_subjects
    from meds_transforms_spark.operators.fit_vocabulary_indices import (
        fit_vocabulary_indices,
    )
    from meds_transforms_spark.operators.normalization import normalization
    from meds_transforms_spark.operators.occlude_outliers import occlude_outliers

    stats_aggs = ["values/n_occurrences", "values/sum", "values/sum_sqd"]
    # Pin the stage boundaries that feed two consumers (stats fit +
    # downstream transform) — the analog of the reference's per-stage
    # parquet materialization, minus the disk round-trip. GC-released
    # lazy localCheckpoint, NOT .cache() (round-11, guide §5): the
    # narrow meds rows round-trip the block manager cheaper as
    # checkpoint blocks than as columnar cache entries competing with
    # execution memory, and the truncated lineage halves the planning
    # work of every downstream action (measured 2.80 -> 1.93 s median
    # / 16 -> 10 jobs per run at sf0.1 together with the lazy
    # vocab-guard; rows byte-identical across pin variants).
    d1 = filter_subjects(
        _meds(spark, sf_dir), min_events_per_subject=60
    ).localCheckpoint(eager=False)
    meta1 = aggregate_code_metadata(d1, aggregations=stats_aggs, sum_decimal_scale=6)
    d2 = (
        occlude_outliers(d1, meta1, stddev_cutoff=2.0)
        .drop("numeric_value/is_inlier")
        .localCheckpoint(eager=False)
    )
    meta2 = fit_vocabulary_indices(
        aggregate_code_metadata(d2, aggregations=stats_aggs, sum_decimal_scale=6)
    )
    return normalization(d2, meta2).select("subject_id", "time", "code", "numeric_value")


def q_tpch_q1(spark, sf_dir):
    """Q1 with the round-10 exact fixed-point sum formulation
    (functions/money.py): each measure is converted per row to exact
    integer units (the decimal casts are unchanged, so the HALF_UP
    value rounding is identical), summed as primitive long pairs, and
    reassembled exactly in decimal before the final double cast — the
    SAME doubles as the naive SUM(DECIMAL) form (the oracle still runs
    that), without per-row BigDecimal aggregation (measured 1.22 s →
    ~0.75 s at sf0.1)."""
    from meds_transforms_spark.functions.money import decimal_units, exact_sum_double

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    # exact integer units: qty/price/disc in 10⁻² units; the products
    # are formed ON THE UNITS (exact integer identities of the decimal
    # products disc_price = price·(1−disc) [scale 4] and charge =
    # disc_price·(1+tax) [scale 6])
    qty_u = decimal_units(qty, 2)
    price_u = decimal_units(price, 2)
    disc_u = decimal_units(disc, 2)
    tax_u = decimal_units(tax, 2)
    base = (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            qty_u.alias("__qty_u"),
            price_u.alias("__price_u"),
            disc_u.alias("__disc_u"),
            (price_u * (F.lit(100) - disc_u)).alias("__dp_u"),
            (price_u * (F.lit(100) - disc_u) * (F.lit(100) + tax_u)).alias("__ch_u"),
        )
    )
    qty_aggs, qty_f = exact_sum_double("__qty_u", "qty", 2)
    price_aggs, price_f = exact_sum_double("__price_u", "price", 2)
    disc_aggs, disc_f = exact_sum_double("__disc_u", "disc", 2)
    dp_aggs, dp_f = exact_sum_double("__dp_u", "dp", 4)
    ch_aggs, ch_f = exact_sum_double("__ch_u", "ch", 6)
    n = F.count(F.lit(1)).alias("count_order")
    out = base.groupBy("l_returnflag", "l_linestatus").agg(
        *qty_aggs, *price_aggs, *disc_aggs, *dp_aggs, *ch_aggs, n
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        qty_f.alias("sum_qty"),
        price_f.alias("sum_base_price"),
        dp_f.alias("sum_disc_price"),
        ch_f.alias("sum_charge"),
        (qty_f / F.col("count_order")).alias("avg_qty"),
        (price_f / F.col("count_order")).alias("avg_price"),
        (disc_f / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


def q_tpch_q3(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    revenue = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    cutoff = F.lit("1998-01-01").cast("timestamp")
    out = (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
    )
    return out


def q_tpch_q5(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    revenue = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    return out


def q_tpch_q6(spark, sf_dir):
    """Q6 forecasting revenue change — the pushdown showcase: all three
    filters reach the parquet scan (PushedFilters), then a single agg."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col("l_discount").cast(
        "decimal(4,2)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


def q_tpch_exists(spark, sf_dir):
    """Q4-style EXISTS: orders having any high-quantity lineitem —
    left-semi join, grouped by priority."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_tpch_parts_by_brand(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    revenue = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_supplier_balance(spark, sf_dir):
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        sup.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
    )


def q_events_hourly(spark, sf_dir):
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_events_sliding_windows(spark, sf_dir):
    """Overlapping sliding windows (1h span, 30min slide) — each event in
    exactly 2 windows; F.window's slide semantics."""
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def q_events_asof(spark, sf_dir):
    """As-of join: each purchase event picks up the latest prior click's
    value for the same user — single shuffle on user_id, no range join
    (operators/asof.py). Right side pre-agged to unique (user, ts) so
    the tie winner is deterministic in both engines."""
    from meds_transforms_spark.operators.asof import asof_join
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        payload=["click_value"], direction="backward",
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.col("ts_matched").alias("click_ts"), "click_value",
    )


def q_events_interval_join(spark, sf_dir):
    """Range-containment join: every event inside the 30-minute window
    opened by each error event of the same user, summarized per window.
    Bucketized equi-join rewrite (operators/interval.py) — hash join on
    (user, time-bin) + exact containment filter; no nested loop."""
    from meds_transforms_spark.operators.interval import interval_join
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    windows = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    joined = interval_join(
        ev, windows, "ts", "start_ts", "end_ts", on="user_id", bin_width_s=900
    )
    return joined.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
    )


def q_events_grouping_sets(spark, sf_dir):
    """Multi-granularity aggregate in ONE pass: (day×type), (day),
    (type), () via grouping sets — Spark expands to a single Expand +
    hash agg, no self-union of four scans."""
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    day, etype = F.col("day"), F.col("event_type")
    return (
        ev.groupingSets(
            [[day, etype], [day], [etype], []], day, etype
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
    )


def q_events_rows_window(spark, sf_dir):
    """ROWS-frame sliding stats: mean of the previous 3 values per user
    (frame excludes current row) — deterministic tie order via event_id
    in the window sort; exact decimal sum, double division at the edge."""
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, -1)
    )
    return ev.select(
        "event_id", "user_id", "ts", "value",
        F.count(F.lit(1)).over(w).alias("prev_n"),
        (
            F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("prev_mean"),
    )


def q_events_rolling(spark, sf_dir):
    """Trailing 1-hour per-user window on every event — native
    rangeBetween over epoch-µs, one shuffle (operators/rolling.py)."""
    from meds_transforms_spark.operators.rolling import rolling_time_stats
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return rolling_time_stats(
        ev, keys="user_id", time_col="ts", value_col="value",
        window_seconds=3600, prefix="h1",
    )


def q_events_pivot(spark, sf_dir):
    """Long→wide per-user feature matrix over the 5 event types —
    explicit pivot values, one hash aggregation, exact decimal sums."""
    from meds_transforms_spark.operators.rolling import pivot_features
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    return pivot_features(
        ev, entity_col="user_id", category_col="event_type",
        categories=["click", "view", "purchase", "signup", "error"],
        value_col="value",
    )


def q_events_sessions(spark, sf_dir):
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    with_breaks = ev.withColumn(
        "is_break", F.when(gap_us > 1800 * 1_000_000, 1).otherwise(0)
    )
    return with_breaks.groupBy("user_id").agg(
        (F.sum("is_break") + 1).cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_docs_line_dedup(spark, sf_dir):
    """Within-document repeated-line removal (operators/text.
    dedupe_doc_lines). The corpus is single-line, so the query wraps
    each doc in repeated nav/footer lines; the operator must keep only
    each line's first occurrence (blanks preserved) — checked
    line-for-line by the oracle."""
    from meds_transforms_spark.operators.text import dedupe_doc_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("MENU\n"), F.col("text"),
            F.lit("\nMENU\n\ncontact us\n\ncontact us"),
        ).alias("text"),
    )
    return dedupe_doc_lines(wrapped).select("doc_id", "text")


def q_events_retention(spark, sf_dir):
    """Weekly cohort retention (operators/retention.cohort_retention):
    cohort = week of first activity (window-min on user, no self-join),
    offset = whole weeks since, distinct-user cells, rate against the
    offset-0 cell. Integer week arithmetic keeps both engines exact;
    the rate is an exact binary division."""
    from meds_transforms_spark.operators.retention import cohort_retention
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, period="week")


def q_docs_substring_dedup(spark, sf_dir):
    """Duplicated-substring coverage (operators/substring.
    duplicated_span_stats): positional 20-grams sampled at stride 4,
    corpus document frequency per md5-hashed gram, per-doc duplicated
    position fraction. The oracle recomputes the full pipeline — the
    same md5-derived 60-bit hashes, DF counts and rollup — in SQL."""
    from meds_transforms_spark.operators.substring import duplicated_span_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = duplicated_span_stats(docs, k=20, stride=4, min_df=2, hash_fn="md5_60")
    return out.select("doc_id", "n_positions", "n_dup_positions", "dup_fraction")


def q_docs_domain_mix(spark, sf_dir):
    """Training-mix composition (operators/sampling.domain_mix):
    per-source token quotas out of a 2000-token budget, documents taken
    in md5-hash order until the quota is exhausted, via an exact
    distributed prefix sum over monotone hash-range buckets. The oracle
    replays the identical order + running-sum semantics as one SQL
    window (small data needs no bucketing — the prefix sums agree by
    construction)."""
    from meds_transforms_spark.operators.sampling import domain_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = domain_mix(
        docs,
        {"src0": 0.4, "src1": 0.3, "src2": 0.2},
        token_budget=2000,
        default_weight=0.02,
        hash_fn="md5_60",
        num_buckets=8,
    )
    return out.select("doc_id", "source")


def q_docs_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality scoring (operators/text.unigram_logprob):
    fit token frequencies on the corpus itself, score each doc by its
    mean token log-probability. Rounded to 6 so both engines' ln()
    agree (the docs_tfidf convention). The oracle replays the full
    fit + weighted-mean pipeline in SQL."""
    from meds_transforms_spark.operators.text import unigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_logprob(docs, round_to=6).select("doc_id", "avg_logprob")


def q_docs_domain_stats(spark, sf_dir):
    """URL/domain curation (operators/urls.domain_stats): the corpus
    has no URLs, so the query appends deterministic ones (mixed-case
    hosts, a www. + trailing-punctuation spam link every 5th doc) and
    aggregates the per-domain footprint; the oracle replays extraction,
    normalization, and both counts in SQL."""
    from meds_transforms_spark.operators.urls import domain_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" https://Site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.com/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" http://www.spam.net/x.")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return domain_stats(injected)


def q_docs_quality_classifier(spark, sf_dir):
    """fastText-shaped serving path (operators/classifier.
    hashed_linear_score): hashed bag-of-token buckets, broadcast
    (bucket, weight) model join, averaged-bag sigmoid. Weights are the
    deterministic md5-derived demo table so the oracle can rebuild the
    ENTIRE forward pass — bucketing, weight lookup, weighted mean,
    sigmoid — in SQL (a fitted MLlib model serves through the identical
    plan; see tests/test_classifier.py::test_fit_then_score)."""
    from meds_transforms_spark.operators.classifier import (
        demo_weights,
        hashed_linear_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = demo_weights(spark, n_buckets=4096)
    out = hashed_linear_score(
        docs, weights, n_buckets=4096, hash_fn="md5_60", round_to=6
    )
    return out.select("doc_id", "quality_prob")


def q_emb_covariance(spark, sf_dir):
    """Distributed embedding moments (operators/linalg.
    embedding_covariance): per-Arrow-batch BLAS partial Gram matrices
    (one 4 KB row per batch — the corpus is never shuffled), summed and
    assembled into the (i, j, cov) population covariance relationally.
    quantize_scale=1e6 runs the integer-exact mode: coordinates are
    quantized to scaled LONGs so every sum is order-independent and
    the result is bit-identical under any partitioning; the oracle
    recomputes the same quantized covariance from scratch in SQL with
    the identical (s/S)/N op order."""
    from meds_transforms_spark.operators.linalg import embedding_covariance

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_covariance(
        emb, upper_only=True, round_to=6, quantize_scale=10**6
    )


def q_docs_incremental_dedup(spark, sf_dir):
    """Incremental ingest dedup (operators/dedup_index): even-id docs
    play the already-indexed corpus, odd-id docs the incoming batch;
    a batch doc is flagged iff it shares an LSH band bucket with the
    index. md5_60 mode lets the oracle rebuild the identical bucket
    table (shared _minhash_bands_sql CTE) and replay the semi-join."""
    from meds_transforms_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    index = build_minhash_index(corpus, hash_fn="md5_60")
    out = dedup_against_index(batch, index, hash_fn="md5_60")
    return out.select("doc_id", "dup_of_corpus")


def q_events_keep_latest(spark, sf_dir):
    """Version dedup (operators/dedup.keep_latest): freshest event per
    (user, event_type), event_id as the deterministic tiebreak — the
    re-crawl/CDC curation primitive; oracle = the same ROW_NUMBER."""
    from meds_transforms_spark.operators.dedup import keep_latest
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    out = keep_latest(ev, ["user_id", "event_type"], "ts", tiebreak_cols=["event_id"])
    return out.select("event_id", "user_id", "event_type", "ts")


def q_events_transitions(spark, sf_dir):
    """Markov transition matrix (operators/retention.event_transitions):
    consecutive event-type pairs per user (event_id tiebreak), counted
    — one user-partition lag window + one pair count."""
    from meds_transforms_spark.operators.retention import event_transitions
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    return event_transitions(ev, tiebreak_col="event_id")


def q_docs_pmi(spark, sf_dir):
    """Token-pair PMI (operators/text.token_pmi): document-level
    co-occurrence self-join on the doc id (only real pairs
    materialize), DF joins, ln ratio rounded to 6. Oracle replays the
    identical distinct-token, pair-count, and PMI arithmetic."""
    from meds_transforms_spark.operators.text import token_pmi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_pmi(docs, min_pair_docs=50, round_to=6)


def q_emb_quantize(spark, sf_dir):
    """int8 symmetric quantization (operators/linalg.
    quantize_embeddings): per-vector abs-max scale, rounded codes,
    exploded to (vec_id, pos, qval, qscale) rows so the comparator
    sees scalars. Oracle replays scale + round + clamp in SQL."""
    from meds_transforms_spark.operators.linalg import quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id", "qscale", F.posexplode("qvec").alias("pos", "qval")
    )


def q_docs_gopher_filter(spark, sf_dir):
    """Published Gopher quality rules (operators/text.
    gopher_quality_filter; Rae et al. 2021 Appendix A1.1) as one
    shuffle-free codegen projection, rule-per-column + combined flag.
    Thresholds are loosened to the synthetic corpus's register
    (single-line docs, 25–90 words, only 'the' from the required
    stopword list) so both pass and every individual rule have
    variance; the oracle replays tokenization, line splitting, and all
    seven rules with DuckDB list lambdas."""
    from meds_transforms_spark.operators.text import gopher_quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = gopher_quality_filter(docs, min_words=40, min_required_stopwords=1)
    return out.select(
        "doc_id",
        "n_words",
        "rule_word_count",
        "rule_mean_word_len",
        "rule_symbol_ratio",
        "rule_bullet_lines",
        "rule_ellipsis_lines",
        "rule_alpha_words",
        "rule_stopwords",
        "gopher_pass",
    )


def q_docs_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/dsir.dsir_weights; Xie et
    al. NeurIPS 2023): hashed unigram+bigram bag features, two unigram
    models fit in ONE aggregation pass (raw pool vs target = sources
    src0-2), add-1-smoothed log-ratio broadcast back, per-doc summed.
    poly64 feature hashing (the Arrow bucket kernel — per-doc bucket
    counts in one numpy pass per batch) + round-6 let the oracle
    replay the ENTIRE fit + score pipeline — bucketing, both models,
    smoothing, log ratio, per-doc reduction — in SQL."""
    from meds_transforms_spark.operators.dsir import dsir_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dsir_weights(
        docs,
        "source IN ('src0','src1','src2')",
        n_buckets=8192,
        hash_fn="poly64",
        round_to=6,
    )
    return out.select("doc_id", "dsir_logweight")


def q_events_zorder(spark, sf_dir):
    """Z-order layout key (operators/layout.zorder_key): min/max
    normalize each dimension into 8-bit buckets (1-row broadcast
    aggregate, no window), then interleave the bits — the Morton key
    Delta-style OPTIMIZE ZORDER BY sorts on so parquet footer min/max
    prune EVERY participating dimension. The oracle replays the
    normalization (identical IEEE op order) and all 16 shift/mask
    terms in SQL."""
    from meds_transforms_spark.operators.layout import zorder_key

    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    return zorder_key(ev, ["user_id", "value"], bits=8).select("event_id", "zkey")


def q_events_profile(spark, sf_dir):
    """One-pass table profiling (operators/profile.profile_table):
    nulls, exact NDV, numeric min/max/mean for four events columns in
    one aggregation (exact mode documents the Expand cost; HLL approx
    is the default 100 TB path). Timestamp column deliberately
    excluded: its double cast is engine-FP-sensitive. The oracle
    recomputes each profile row and UNION ALLs the long format."""
    from meds_transforms_spark.operators.profile import profile_table

    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    return profile_table(
        ev,
        columns=["event_id", "user_id", "event_type", "value"],
        exact=True,
        round_to=6,
    )


def q_emb_semantic_dedup(spark, sf_dir):
    """SemDeDup (operators/dedup.semantic_dedup; Abbas et al. 2023):
    64 k-means cells (deterministic seed centroids, the oracle-replayable
    iters=0 mode) + within-cell integer-exact cosine collapse to the
    min id. Demonstrated as augmentation dedup like emb_cosine_dedup:
    scaled copies (cosine-preserving) land in the same cell as their
    original and must be dropped. The oracle composes the
    emb_cluster_balance assignment CTE with the emb_cosine_dedup
    integer-threshold pair CTE."""
    from meds_transforms_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb_d")
    )
    aug = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("emb_d"), lambda x: x * F.lit(1.01)).alias("emb_d"),
    )
    both = emb.unionByName(aug)
    out = semantic_dedup(
        both, vec_col="emb_d", id_col="vec_id",
        n_cells=64, iters=0, threshold=0.9, exact=True,
    )
    return out.select("vec_id")


def q_emb_semantic_dedup_arrow(spark, sf_dir):
    """SemDeDup with the Arrow/BLAS cell assignment (operators/ivf.
    assign_cells_arrow) — the scale path for n_cells ∝ N, one matmul
    per Arrow batch instead of an interpreted dot per (vector,
    centroid) pair (measured ~40× on the assignment at 640 cells,
    SCALING.md round-6). The within-cell collapse is the identical
    integer-exact cosine machinery, and on well-separated cosines
    (no last-ulp argmax ties — holds on all driver testdata, verified
    hof==arrow at sf0.001/0.01/0.1) the survivor set is bit-identical
    to the HOF path, so this query shares emb_semantic_dedup's oracle
    verbatim."""
    from meds_transforms_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb_d")
    )
    aug = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("emb_d"), lambda x: x * F.lit(1.01)).alias("emb_d"),
    )
    both = emb.unionByName(aug)
    out = semantic_dedup(
        both, vec_col="emb_d", id_col="vec_id",
        n_cells=64, iters=0, threshold=0.9, exact=True, assign="arrow",
    )
    return out.select("vec_id")


def q_events_anomaly(spark, sf_dir):
    """Trailing-window z-score monitoring (operators/anomaly.
    rolling_anomaly): per event type, each event's value against its
    own trailing 6 h mean/stddev — count, sum, and square-sum all run
    as three frames over ONE exchange+sort (same plan cost as a single
    rolling aggregate). Both moments derive from one LONG quantization
    so the variance identity is exact and the oracle replays the flag
    decision bit-for-bit."""
    from meds_transforms_spark.operators.anomaly import rolling_anomaly

    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    out = rolling_anomaly(
        ev, keys="event_type", time_col="ts", value_col="value",
        window_seconds=21600, z_threshold=2.0, min_events=10,
    )
    return out.select("event_id", "w_n", "w_mean", "z_score", "is_anomaly")


def q_events_anomaly_bucketed(spark, sf_dir):
    """rolling_anomaly with the time-bucket decomposition
    (bucket_seconds=86400): rows hash to (event_type, day) partitions
    with boundary rows duplicated one bucket forward as frame context,
    so parallelism scales with keys × buckets instead of being capped
    at the event-type cardinality (5 window tasks at ANY cluster size
    — measured 52 s → 13 s at 10M rows, SCALING.md round-6). Frame
    content per judged row is identical by construction, so this
    query's results — and its oracle — are bit-for-bit
    events_anomaly's."""
    from meds_transforms_spark.operators.anomaly import rolling_anomaly

    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    out = rolling_anomaly(
        ev, keys="event_type", time_col="ts", value_col="value",
        window_seconds=21600, z_threshold=2.0, min_events=10,
        bucket_seconds=86400,
    )
    return out.select("event_id", "w_n", "w_mean", "z_score", "is_anomaly")


def q_docs_assign_ids(spark, sf_dir):
    """Deterministic dense ID assignment (operators/ids.
    assign_stable_ids): rank in (md5(text), doc_id) order via the
    two-phase distributed prefix machinery — per-partition local ranks
    + broadcast offsets, never a SinglePartition window. The leading
    order key is a uniform md5 hex string, so the partitioning is the
    DETERMINISTIC monotone bucket of its top 60 bits (round-10, guide
    §2.5 — the same no-sampling-job / no-join-back hash-range slice
    shuffle_shards and pack_sequences use: lowercase fixed-width hex
    compares lexicographically exactly as its numeric value, so the
    exact-integer ((conv(prefix) >> 30)·n) >> 30 slice is
    non-decreasing in the full key and equal keys share a bucket;
    NULL md5 → NULL bucket = the operator's first-partition sentinel,
    matching NULLS FIRST range order). The
    result is a pure function of the data (stable under
    repartitioning/retries — tested), so the oracle's global
    row_number reproduces it exactly."""
    from meds_transforms_spark.operators.ids import assign_stable_ids

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "__h", F.md5(F.col("text"))
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # Exact integer bucket (ADVICE r10): ((key >> 30) · n) >> 30 =
    # floor(key·n/2⁶⁰) up to a ≤2⁻³⁰ boundary shift — monotone in the
    # 60-bit md5 prefix, range exactly [0, n_parts), no double
    # rounding (the old /width divided in double, where top-of-range
    # keys rounded into an out-of-range extra bucket).
    key60 = F.conv(F.col("__h").substr(1, 15), 16, 10).cast("long")
    bucket = F.shiftright(F.shiftright(key60, 30) * F.lit(n_parts), 30)
    out = assign_stable_ids(
        docs, ["__h", "doc_id"], id_name="stable_id", bucket=bucket
    )
    return out.select("doc_id", "stable_id")


def q_docs_curation_e2e(spark, sf_dir):
    """The full round-2c curation composition (plans/corpus.
    curate_corpus_dsir): Gopher rules → exact dedup → DSIR weighting
    toward sources src0-2 → top-100 selection → 512-token packing.
    md5_60 + round-6 make every stage engine-identical; the oracle
    replays the entire five-stage chain as one CTE pipeline (gopher
    rules, normalized-text min-id dedup, DSIR fit+score on the deduped
    set, ordered top-k, md5-order prefix-sum packing)."""
    from meds_transforms_spark.plans.corpus import curate_corpus_dsir

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curate_corpus_dsir(
        docs,
        "source IN ('src0','src1','src2')",
        hash_fn="md5_60",
        dsir_hash_fn="poly64",
        round_to=6,
    )
    return out.select("doc_id", "n_tokens", "pack_id", "pack_pos", "pack_offset")


def q_multimodal_frames(spark, sf_dir):
    """Video frame sampling plumbing (operators/multimodal.
    frame_sample): payload-size-derived frame count (stub kernel,
    honestly marked), JVM-side sequence explode — one output row per
    sampled frame, the batch shape a real container probe slots into.
    Fully SQL-expressible, so unlike the decode kernels this query is
    oracle-checked end to end."""
    from meds_transforms_spark.operators.multimodal import frame_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    out = frame_sample(docs, every_n=10, max_frames=4)
    return out.select("doc_id", "frame_index", "source_frame")


def q_docs_validate(spark, sf_dir):
    """Corpus contract gate (operators/validate.validate_corpus): one
    aggregation pass counting null/duplicate ids, null text, oversize
    docs. The clean corpus would report nothing, so the query injects
    deterministic violations (a duplicated id, a null-text row, an
    oversize row) and the oracle recomputes each counter."""
    from meds_transforms_spark.operators.validate import validate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    bad = spark.createDataFrame(
        [(0, "dup of doc zero"), (None, "no id"), (999_999, "x" * 2_001)],
        "doc_id long, text string",
    )
    out = validate_corpus(docs.unionByName(bad), max_chars=2_000)
    return out.orderBy("rule")


def q_docs_winnow_overlap(spark, sf_dir):
    """Winnowing fingerprint overlap (operators/winnow; Schleimer et
    al. 2003 / MOSS): k=10-char gram md5 hashes, per-doc window-of-8
    minima as fingerprints (all inside array HOFs — zero shuffle until
    the winnowed (id, long) rows), boilerplate fingerprints with
    df > 100 (2% of the sf0.1 corpus — the standard winnowing
    stop-fingerprint threshold) dropped, then pairs sharing ≥5
    fingerprints via the packed-pair-key aggregate. Gram hashing is
    the Arrow-batched poly64 rolling hash (operators/grams); the
    oracle replays the identical pipeline — including the exact hash
    fold — with an unnest + window min."""
    from meds_transforms_spark.operators.winnow import winnow_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # packed_ids=True explicitly: doc_id is a dense long < 2^31, so the
    # guarded 64-bit pair key applies (auto would take the two-column
    # aggregate for an arbitrary long id space).
    return winnow_overlap(
        docs, k=10, w=8, min_shared=5, max_df=100, hash_fn="poly64",
        packed_ids=True,
    ).select("id_a", "id_b", "n_shared")


def q_docs_bigram_ppl(spark, sf_dir):
    """Interpolated bigram LM scoring (operators/lm; the CCNet signal
    one model up from docs_unigram_logprob): bigrams form inside a
    per-row HOF (no lag window over exploded tokens), one explode feeds
    the per-doc aggregate, and the model + marginals + totals derive
    from it by re-aggregation — corpus scanned once. Fixed arithmetic
    order λ·(c12/c1)+(1−λ)·((c2+α)/(N+αV)) so the oracle's doubles
    match bit-for-bit; round-6 absorbs the ln() ULP."""
    from meds_transforms_spark.operators.lm import bigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bigram_logprob(docs, lam=0.7, alpha=0.1, round_to=6)
    return out.select("doc_id", "avg_bigram_logprob")


def q_docs_shuffle_shards(spark, sf_dir):
    """Deterministic training shuffle (operators/ids.shuffle_shards):
    rank by md5(seed:doc_id) via the two-phase prefix machinery (range
    exchange + local ranks + broadcast offsets — never a global
    window), then round-robin into 8 exact-size shards. Pure function
    of (data, seed); the oracle's single global row_number reproduces
    it exactly."""
    from meds_transforms_spark.operators.ids import shuffle_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = shuffle_shards(docs, n_shards=8, seed=42, hash_fn="md5_60")
    return out.select("doc_id", "shard_id", "pos_in_shard")


def q_docs_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail selection (operators/lm.ccnet_buckets):
    per-language perplexity terciles of the bigram-LM score. Cut points
    come from distributed exact nearest-rank quantiles (distinct-value
    cumulative ranks — never an ntile window that funnels a whole
    language through one reducer) and broadcast back. Scores pre-round
    to 6 so both engines bucket identical values."""
    from meds_transforms_spark.operators.lm import ccnet_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ccnet_buckets(docs, lam=0.7, alpha=0.1, round_to=6)
    return out.select("doc_id", "avg_bigram_logprob", "ppl_bucket")


def q_docs_winnow_contains(spark, sf_dir):
    """Cross-corpus passage forensics (operators/winnow.
    winnow_contains): even-id docs play the training corpus, ids ≡1
    (mod 10) the eval probes; winnowed-fingerprint containment with the
    probe side broadcast — the corpus fingerprint stream never
    shuffles. Same poly64 gram hashing as docs_winnow_overlap."""
    from meds_transforms_spark.operators.winnow import winnow_contains

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 10 == 1)
    out = winnow_contains(
        corpus, probes, k=10, w=8, min_shared=3, max_df=500, hash_fn="poly64"
    )
    return out.select("doc_id", "probe_id", "n_shared")


def q_docs_ccnet_e2e(spark, sf_dir):
    """The CCNet-shaped curation composition (plans/corpus.
    curate_corpus_ccnet): Gopher rules → per-language bigram-perplexity
    terciles (keep head+middle) → winnow decontamination against docs
    ≡3 (mod 97) as the eval set → deterministic shuffle into 8 shards.
    Every stage is the registered operator; the oracle replays the
    whole chain from the shared gopher/bigram/winnow CTE helpers."""
    from meds_transforms_spark.plans.corpus import curate_corpus_ccnet

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probes = docs.filter(F.col("doc_id") % 97 == 3)
    out = curate_corpus_ccnet(
        docs,
        probes,
        gopher_kwargs={"min_words": 40, "min_required_stopwords": 1},
        winnow_k=12,
        winnow_w=8,
        min_shared=10,
        max_df=500,
        n_shards=8,
        seed=42,
        hash_fn="md5_60",
        winnow_hash_fn="poly64",
        round_to=6,
    )
    return out.select("doc_id", "lang", "ppl_bucket", "shard_id", "pos_in_shard")


def q_docs_corpus_diff(spark, sf_dir):
    """Snapshot diff (operators/diff.corpus_diff): docs with id ∤ 7
    play the old snapshot, id ∤ 5 the new one, and every 11th new doc
    gets ' v2' appended — added/removed/changed/unchanged per source
    plus entering/leaving char mass. One ~40-byte-row full outer join
    on the id (text never shuffles), one small-key agg. The oracle
    compares normalized text directly in place of the xxhash64
    fingerprint (equal text ⇔ equal hash, the corpus_report
    precedent)."""
    from meds_transforms_spark.operators.diff import corpus_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new).select(
        "group", "n_added", "n_removed", "n_changed", "n_unchanged",
        "chars_added", "chars_removed",
    )


def q_docs_bpe_tokens(spark, sf_dir):
    """Real BPE tokenization (operators/tokenizer): fit 60 merges from
    the corpus word-frequency table (distributed count, driver merge
    loop — the standard BPE-trainer shape), then Arrow-batched encode
    with a per-batch word cache. Iterative merge application has no
    relational form, so the oracle reads a GOLDEN table
    (tests/golden/bpe_tokens_golden.parquet, built by
    scripts/build_bpe_golden.py) computed by an independent pure-python
    pipeline: Counter-based word counts + sequential-in-rank-order
    merge application (the classic Sennrich formulation, vs the
    engine's GPT-2 lowest-rank-first loop). The golden keys on total
    corpus chars so the same SQL picks the right slice at any sf THE
    GOLDEN COVERS (all generated testdata sfs: 0.001/0.01/0.1 — re-run
    the build script if new scale factors appear; an uncovered sf
    yields zero oracle rows, a loud mismatch rather than a wrong pass).
    Further covered by tests/test_tokenizer.py (reference-encode
    equality + lossless roundtrip property)."""
    from meds_transforms_spark.operators.tokenizer import bpe_encode, fit_bpe_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = fit_bpe_merges(docs, num_merges=60)
    return bpe_encode(docs, merges).select("doc_id", "n_bpe_tokens")


def q_docs_corpus_report(spark, sf_dir):
    """Per-source curation dashboard (operators/text.corpus_report):
    volume, token/char mass, exact-duplicate rate (normalized
    fingerprint), dominant language — one rollup per source. The
    oracle groups on the normalized text itself in place of the
    xxhash64 fingerprint (equal-normalized-text ⇔ equal fingerprint,
    modulo 64-bit collisions) and replays the docs_lang_id mode
    election with the same tie order."""
    from meds_transforms_spark.operators.text import corpus_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_report(docs)


def q_docs_chunk(spark, sf_dir):
    """Long-document chunking (operators/text.chunk_documents):
    16-token windows, 4-token overlap, rebuilt from the whitespace
    token stream; the oracle replays the chunk-count arithmetic,
    slicing, and re-join in SQL (list_slice is 1-based inclusive on
    both engines' semantics here)."""
    from meds_transforms_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, max_tokens=16, overlap=4)


def q_emb_cluster_balance(spark, sf_dir):
    """Cluster-balanced curation (operators/sampling.
    cluster_balanced_sample): nearest of 16 deterministic seed
    centroids, then ≤10 vectors per cluster in md5-hash order — both
    halves reproduced verbatim by the oracle (the assignment CTE
    matches emb_ivf_topk's; the cap CTE matches docs_group_cap's)."""
    from meds_transforms_spark.operators.sampling import cluster_balanced_sample

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cluster_balanced_sample(
        emb, n_cells=16, cap_per_cluster=10, seed=42, hash_fn="md5_60"
    )
    return out.select("vec_id", "cluster_id")


def q_docs_pack(spark, sf_dir):
    """Sequence packing (operators/packing.py): whitespace token counts
    → deterministic md5-order streaming-fill packs of 512 tokens, via
    the distributed two-phase prefix sum. The oracle recomputes the
    identical cumulative sum with one global window (fine at sf0.01;
    the Spark side never creates a single-partition window)."""
    from meds_transforms_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
        ).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    out = pack_sequences(
        toks, budget=512, order="hash", hash_fn="md5_60", num_partitions=8
    )
    return out.select("doc_id", "n_tokens", "pack_id", "pack_pos", "pack_offset")


def q_events_funnel(spark, sf_dir):
    """view → click → purchase funnel (operators/funnel.py): earliest-
    match step times + furthest stage per user. One exchange on
    user_id; the three dependent step minimums chain as consecutive
    Window operators reusing that partitioning."""
    from meds_transforms_spark.operators.funnel import funnel_steps
    from meds_transforms_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(ev, steps=["view", "click", "purchase"])


def q_docs_token_stats(spark, sf_dir):
    from meds_transforms_spark.operators.text import text_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = text_stats(docs)
    return out.select(
        "doc_id", "n_chars_computed", "n_tokens", "n_bpe_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
    )


def q_docs_quality(spark, sf_dir):
    from meds_transforms_spark.operators.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_score(docs).select("doc_id", F.round("quality", 6).alias("quality"))


def q_docs_stratified_sample(spark, sf_dir):
    """Hash-deterministic language balancing (operators/sampling.py):
    per-stratum keep rates in one codegen filter, no RNG state — the
    md5_60 mode makes the selected set bit-identical in DuckDB."""
    from meds_transforms_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "zh": 1.0, "de": 0.25},
        on="doc_id",
        seed=42,
        default_fraction=0.1,
        hash_fn="md5_60",
    ).select("doc_id", "lang", "source", "n_chars")


def q_docs_repetition(spark, sf_dir):
    """Gopher-style repetition filters (operators/text.repetition_stats):
    array-expression fractions in pure codegen + one explode→count→max
    histogram for the top-word share."""
    from meds_transforms_spark.operators.text import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(docs)


def q_docs_pii_scrub(spark, sf_dir):
    """PII redaction (operators/text.scrub_pii). The corpus is synthetic
    word salad with no PII, so the query plants deterministic
    email/phone/IP spans derived from (doc_id, source) — both engines
    build the identical string, making the redaction counts and the
    scrubbed text itself oracle-checkable rather than trivially zero."""
    from meds_transforms_spark.operators.text import scrub_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    synth = F.concat_ws(
        " ",
        F.lit("contact"),
        F.concat(F.col("source"), F.lit(".user@example.com")),
        F.lit("call"),
        F.concat(
            F.lit("555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
        F.lit("from"),
        F.concat((F.col("doc_id") % 256).cast("string"), F.lit(".0.0.1")),
        F.col("text"),
    )
    out = scrub_pii(
        docs.select("doc_id", synth.alias("text")), out_col="scrubbed"
    )
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.substring("scrubbed", 1, 60).alias("scrub_head"),
    )


def q_docs_boilerplate(spark, sf_dir):
    """Per-source boilerplate-line removal (operators/text.
    remove_boilerplate_lines). The corpus is single-line, so the query
    wraps each document in a deterministic source-derived header and
    footer; the operator must strip exactly those (they repeat across
    every doc of the source) and return the original body intact —
    oracle-checked line-for-line."""
    from meds_transforms_spark.operators.text import remove_boilerplate_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wrapped = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("=== "), F.col("source"), F.lit(" header ===\n"),
            F.col("text"),
            F.lit("\ncopyright "), F.col("source"),
        ).alias("text"),
    )
    out = remove_boilerplate_lines(wrapped, min_docs=50)
    return out.select("doc_id", "text")


def q_docs_group_cap(spark, sf_dir):
    """Exact per-language cap (≤5 docs) in deterministic hash order —
    the source/domain-cap curation primitive; one shuffle on lang."""
    from meds_transforms_spark.operators.sampling import group_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_cap(
        docs, "lang", 5, on="doc_id", seed=42, hash_fn="md5_60"
    ).select("doc_id", "lang", "source")


def q_docs_exact_dedup(spark, sf_dir):
    from meds_transforms_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs).select("doc_id")


def q_docs_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/decontaminate.py): the
    doc_id % 97 == 0 slice plays a benchmark whose text leaked into the
    training corpus (the exact scenario decontamination exists for);
    every training doc sharing a 13-gram with it — the leaked docs
    themselves and their near-duplicates — must flag. Overlap is
    defined on gram STRINGS: Spark joins 64-bit xxhash64 gram keys
    (text never shuffles), the oracle joins the strings themselves;
    results agree modulo 64-bit collisions (~1e-11 at this count)."""
    from meds_transforms_spark.operators.decontaminate import ngram_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    out = ngram_decontaminate(docs, eval_df, n=13, mode="flag")
    return out.select("doc_id", "contaminated")


def q_docs_decontaminate_ids(spark, sf_dir):
    """mode="ids" decontamination (round 8): the contaminated-id SET,
    with no join-back onto the corpus — the output a 100 TB pipeline
    actually persists (anti-join it into later reads instead of
    rewriting every row with a boolean). Same contamination semantics
    and oracle gram logic as docs_decontaminate."""
    from meds_transforms_spark.operators.decontaminate import ngram_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return ngram_decontaminate(docs, eval_df, n=13, mode="ids")


def q_docs_lang_id(spark, sf_dir):
    from meds_transforms_spark.operators.text import language_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return language_id(docs).select("doc_id", "lang_pred")


def q_docs_top_tokens(spark, sf_dir):
    from meds_transforms_spark.operators.text import top_k_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return top_k_tokens(docs, k=50)


def q_docs_jaccard_pairs(spark, sf_dir):
    from meds_transforms_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(
        docs, n=3, threshold=0.3, use_lsh_candidates=False
    )


def q_emb_topk_cosine(spark, sf_dir):
    from meds_transforms_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("embedding")
    )
    out = brute_force_topk(
        emb, queries, k=10, corpus_vec="emb_d", query_vec="embedding"
    )
    return out.select(
        "query_id", "vec_id", (F.round("cos", 4) + F.lit(0.0)).alias("cos_r"), "rank"
    )


def q_emb_label_stats(spark, sf_dir):
    from meds_transforms_spark.operators.similarity import l2_norm

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    norm8 = F.round(l2_norm(F.col("emb_d")), 8).cast("decimal(18,8)")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(norm8).cast("double").alias("sum_norm"),
    )


def q_multimodal_decode(spark, sf_dir):
    from meds_transforms_spark.operators.multimodal import decode_image

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    out = decode_image(docs, binary_col="payload", id_col="doc_id")
    return out.select(
        "doc_id", "media_type", "width", "height",
        F.element_at("features", 1).alias("f0"),
        F.element_at("features", 2).alias("f1"),
    )


# --- later additions (all oracle-backed; the header once said
# --- "no-oracle" but every entry below has since gained an oracle_sql
# --- twin — as of round 7 EVERY registered query is oracle-backed,
# --- including meds_agg_quantiles_approx via its rank certificate) ---

def q_docs_tfidf(spark, sf_dir):
    """Smoothed TF-IDF per (doc, token) — two hash aggs + one join;
    score rounded to 6 so both engines' ln() agree at the boundary."""
    from meds_transforms_spark.operators.text import tf_idf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = tf_idf(docs, min_df=2)
    return out.select(
        "doc_id", "tok", "tf", "df", F.round("tfidf", 6).alias("tfidf_r")
    )


def q_docs_semantic_search(spark, sf_dir):
    """RAG-prep composition: quality-gate the corpus, join each doc's
    embedding (broadcastable dim join), then exact cosine top-5 per
    query vector over the SURVIVING subset — filter-before-score, the
    shape that keeps 100 TB ANN affordable."""
    from meds_transforms_spark.operators.similarity import brute_force_topk
    from meds_transforms_spark.operators.text import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    good = quality_score(docs).filter(F.col("quality") >= 0.5).select("doc_id")
    corpus = good.join(emb, good.doc_id == emb.vec_id).select("vec_id", "emb_d")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("embedding")
    )
    out = brute_force_topk(
        corpus, queries, k=5, corpus_vec="emb_d", query_vec="embedding"
    )
    return out.select(
        "query_id", "vec_id", (F.round("cos", 4) + F.lit(0.0)).alias("cos_r"), "rank"
    )


def q_docs_corpus_prep(spark, sf_dir):
    """Composed LLM-data pipeline (quality/token filter → exact dedup →
    MinHash near-dedup → language id → bucketing), fully oracle-checked:
    md5-derived MinHash buckets make every stage SQL-reproducible."""
    from meds_transforms_spark.plans.corpus import prepare_training_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = prepare_training_corpus(
        docs, min_quality=0.2, min_tokens=5, hash_fn="md5_60"
    )
    return out.select(
        "doc_id", "n_tokens", F.round("quality", 6).alias("quality_r"),
        "lang_pred", "quality_bucket",
    )


def q_docs_minhash_transitive(spark, sf_dir):
    """Transitive-closure MinHash dedup (iterative min-label
    connected components on Spark) with md5-derived buckets, verified
    against a DuckDB RECURSIVE-CTE transitive closure of the same
    co-bucket graph. Stays on the relational md5_60 bucketing (the
    closure is the point here; the per-gram fold replay of poly64
    doubles the oracle's recursive-CTE cost, and the Arrow kernel is
    covered by docs_minhash_dedup) — at scale pass hash_fn="poly64"
    to the operator to get the O(docs x bands) shuffle."""
    from meds_transforms_spark.operators.components import minhash_lsh_dedup_transitive

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_dedup_transitive(docs, hash_fn="md5_60").select("doc_id")


def q_docs_minhash_dedup(spark, sf_dir):
    """MinHash-LSH near-dedup on the Arrow signature kernel
    (hash_fn="poly64" → operators/grams.lsh_band_buckets_poly): the
    whole one-permutation signature is computed per document inside
    each Arrow batch, so the only shuffled rows are (id, band bucket)
    — O(docs × bands), not O(shingles). The DuckDB oracle reproduces
    the ENTIRE pipeline — normalize → byte shingles → poly64 →
    unsigned slot minima → band fold → representative election —
    bitwise (the md5_60 relational path keeps its own oracle via
    docs_incremental_dedup / docs_corpus_prep)."""
    from meds_transforms_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_dedup(
        docs, num_hashes=32, bands=8, hash_fn="poly64"
    ).select("doc_id")


def q_docs_simhash(spark, sf_dir):
    """60-bit SimHash with engine-independent md5-derived token hashes
    so the DuckDB oracle reproduces the whole signature computation."""
    from meds_transforms_spark.operators.dedup import simhash_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_table(docs, hash_fn="md5_60")


def q_emb_topk_vectorized(spark, sf_dir):
    """Arrow/BLAS scoring path of exact top-k (mapInArrow matmul with
    per-batch partial top-k) — same oracle as the expression path; the
    output cosine is rounded to 4 decimals so both engines' float sum
    orders agree."""
    from meds_transforms_spark.operators.similarity import (
        brute_force_topk_vectorized,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("embedding")
    )
    out = brute_force_topk_vectorized(
        emb, queries, k=10, corpus_vec="emb_d", query_vec="embedding"
    )
    return out.select(
        "query_id", "vec_id", (F.round("cos", 4) + F.lit(0.0)).alias("cos_r"), "rank"
    )


def q_emb_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH approximate top-k with bucket_fn="exact":
    sign-random (±1) planes over integer-quantized components make the
    bucket bits order-independent exact integers, so the DuckDB oracle
    recomputes the identical buckets, candidates, and ranks."""
    from meds_transforms_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("emb_d").alias("embedding")
    )
    out = lsh_topk(
        emb, queries, k=10, num_planes=8,
        corpus_vec="emb_d", query_vec="embedding", bucket_fn="exact",
    )
    return out.select(
        "query_id", "vec_id", (F.round("cos", 4) + F.lit(0.0)).alias("cos_r"), "rank"
    )


def q_emb_cosine_dedup(spark, sf_dir):
    """Embedding near-dup removal, demonstrated as augmentation dedup:
    union the corpus with deterministically scaled copies (scaling
    preserves cosine = 1.0), then embedding_cosine_dedup(exact=True)
    must drop the copies. Exact mode (dedup.py): md5-derived ±1-plane
    buckets + the threshold decided in integer/decimal arithmetic, so
    the survivor set is engine-identical."""
    from meds_transforms_spark.operators.dedup import embedding_cosine_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb_d")
    )
    aug = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("emb_d"), lambda x: x * F.lit(1.01)).alias("emb_d"),
    )
    both = emb.unionByName(aug)
    out = embedding_cosine_dedup(
        both, vec_col="emb_d", id_col="vec_id",
        threshold=0.95, num_planes=8, exact=True,
    )
    return out.select("vec_id")


def _bigdocs(spark, sf_dir, rep: int = 20000, min_tokens: int | None = None):
    """Web-scale-document fixture derived DETERMINISTICALLY from the
    driver corpus: ~7 documents of ~5 MB each (≈35-50 MB total text),
    built by repeating each selected document's text ``rep`` times with
    a space separator — in ONE partition, so the whole frame crosses
    into the Arrow kernels as a single >16 MB batch and
    operators/grams._batch_slices MUST split it (2-3 slices at the
    default 16 MB bound, at every driver SF).

    This is the gate for the big-document kernel path: round 8 found a
    7×-redundant-work bug (sliced Arrow buffers keeping whole-batch
    offsets) that ~300 B test docs could never expose. The repetition
    makes each bigdoc's normalized text PERIODIC (period = normalized
    doc + one space), which is what keeps the DuckDB oracle cheap: the
    distinct gram set / winnow fingerprint set of a periodic string
    equals that of one period plus a (k+w−2)-char lookahead, so the
    oracle replays ~2 KB of text per doc while Spark's kernel really
    processes the full ~40 MB.

    Selection is on the NORMALIZED length (≥ 20 chars) so the oracle's
    period-prefix construction (substr of the normalized text) is
    always well-defined on both engines. ``min_tokens`` additionally
    requires that many whitespace tokens in the normalized base doc —
    the word-gram/bigram gates need a full token lookahead from ONE
    extra period copy."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    cond = (
        (F.col("doc_id") % 83 == 0)
        & (F.col("doc_id") < 600)
        & F.col("text").isNotNull()
        & (F.length(norm) >= 20)
    )
    if min_tokens is not None:
        toks = F.filter(F.split(norm, " "), lambda t: t != "")
        cond = cond & (F.size(toks) >= int(min_tokens))
    return docs.filter(cond).select(
        "doc_id", F.expr(f"repeat(concat(text, ' '), {rep})").alias("text")
    ).coalesce(1)


def q_docs_bigdoc_winnow(spark, sf_dir):
    """Winnowed fingerprints of ~5 MB documents through the sliced
    Arrow kernel path (operators/grams.winnow_fingerprints_poly with
    rescue_starved=False so the deliberate single >16 MB batch is not
    scattered by the starvation guard). Output is the per-doc
    fingerprint-set summary (count / min / max / xor) — the distinct
    fp set of each periodic bigdoc collapses to its period's window
    minima, which the oracle computes over one period + (k+w−2)-char
    lookahead instead of the full 40 MB."""
    from meds_transforms_spark.operators.winnow import winnow_fingerprints

    fps = winnow_fingerprints(
        _bigdocs(spark, sf_dir), k=10, w=8, hash_fn="poly64",
        rescue_starved=False,
    )
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fps"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
        F.expr("bit_xor(fp)").alias("xor_fp"),
    )


def q_docs_bigdoc_minhash(spark, sf_dir):
    """MinHash-LSH survivors of ~5 MB documents through the sliced
    Arrow kernel path (operators/grams.lsh_band_buckets_poly via
    minhash_lsh_dedup, rescue_starved=False — see q_docs_bigdoc_winnow).
    The oracle replays the full normalize → shingle → poly64 →
    one-permutation slots → band fold → representative election
    pipeline on each bigdoc's period prefix (the distinct shingle set
    of the periodic text), bitwise."""
    from meds_transforms_spark.operators.dedup import minhash_lsh_dedup

    out = minhash_lsh_dedup(
        _bigdocs(spark, sf_dir), num_hashes=32, bands=8, shingle_k=5,
        hash_fn="poly64", rescue_starved=False,
    )
    return out.select("doc_id")


def q_docs_bigdoc_wordgrams(spark, sf_dir):
    """Distinct word-13-gram hashes of ~5 MB documents through the
    sliced word-gram kernel (operators/grams.word_ngram_hashes_poly,
    rescue_starved=False — the decontaminate/jaccard gram substrate,
    previously the one sliced kernel family with no >16 MB gate). The
    token stream of a periodic doc is periodic with period T = tokens
    per copy, so the distinct gram set is the windows at token
    positions 1..T — the oracle replays them from one period plus a
    12-token lookahead. min_tokens=13 keeps every base doc on the
    full-window branch."""
    from meds_transforms_spark.operators.grams import word_ngram_hashes_poly

    big = _bigdocs(spark, sf_dir, min_tokens=13)
    gh = word_ngram_hashes_poly(big, n=13, rescue_starved=False)
    return gh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.min("__gh").alias("min_gh"),
        F.max("__gh").alias("max_gh"),
        F.expr("bit_xor(__gh)").alias("xor_gh"),
    )


def q_docs_bigdoc_bigrams(spark, sf_dir):
    """Per-doc bigram-hash counts of ~5 MB documents through the
    sliced bigram kernel (operators/grams.bigram_hash_counts_poly,
    rescue_starved=False) — WITH multiplicities, which periodicity
    makes exactly computable: the pair at token position i (of T per
    period, wrap pair included) occurs rep times except the wrap pair
    (rep−1). The oracle folds one period + 1 token and weights each
    position accordingly; total_pairs must equal rep·T − 1."""
    from meds_transforms_spark.operators.grams import bigram_hash_counts_poly

    big = _bigdocs(spark, sf_dir, min_tokens=13)
    bg = bigram_hash_counts_poly(big, rescue_starved=False)
    return bg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("__n_local").alias("total_pairs"),
        F.min("w1").alias("min_w1"),
        F.max("w2").alias("max_w2"),
        F.expr("bit_xor(w1 ^ w2)").alias("xor_pair"),
    )


def q_docs_bigdoc_dsir_buckets(spark, sf_dir):
    """Hashed-feature bucket counts of ~5 MB documents through the
    sliced DSIR feature kernel (the fifth and last sliced kernel
    family: operators/grams.word_feature_bucket_counts_poly,
    rescue_starved=False). Features = unigrams + adjacent bigrams WITH
    multiplicity, bucket = unsigned poly64 mod 8192; periodicity makes
    every count exact (unigram instances rep×, bigram instances rep×
    except the wrap pair rep−1; total = 2·rep·T − 1)."""
    from meds_transforms_spark.operators.grams import (
        word_feature_bucket_counts_poly,
    )

    big = _bigdocs(spark, sf_dir, min_tokens=13)
    fb = word_feature_bucket_counts_poly(
        big, n_buckets=8192, rescue_starved=False
    )
    return fb.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_buckets_hit"),
        F.sum("__n").alias("total_feats"),
        F.min("__b").alias("min_b"),
        F.max("__b").alias("max_b"),
        F.expr("bit_xor(__b ^ __n)").alias("xor_bc"),
    )


# ----------------------------------------------------------------------
# Driver contract
# ----------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-code metadata aggregation on sf0.001."""
    return q_meds_agg_code_metadata(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order matters: the driver's CORRECTNESS gate checks
    # a capped prefix (~50) of this dict, so each round the prefix
    # ROTATES to the queries whose latest driver row is oldest or whose
    # code changed since. Round-11 window (slots 1-50), exactly the
    # rotation the r10 verdict prescribed (item 8):
    #   1-24  the 24 remaining r08-cohort queries (r08-latest — the
    #         r08 freshness debt retires this round); among them the
    #         round-11-touched docs_substring_dedup / docs_dsir_weights;
    #   25-50 the r09 cohort in registration order (first 26 of 47) —
    #         includes the round-11-touched winnow_contains /
    #         winnow_overlap / ccnet / curation / bigdoc kernel paths.
    # The rest of the r09 cohort and the whole r10 window trail (all
    # r10-fresh); every round-11 code change is additionally gated
    # locally by scripts/check_oracles.py over ALL 121 queries.
    # With 121 registered queries and a 50-slot window the steady-state
    # max staleness is ceil(121/50) = 3 rounds; the rotation keeps the
    # debt concentrated in exactly one trailing cohort.
    # Run scripts/window_freshness.py for the staleness table.
    return {
        # --- slots 1-24: remaining r08 cohort (the r10 verdict's ---
        # --- prescribed r11 lead; includes the round-11-touched ---
        # --- substring/dsir kernel consumers) ---
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "meds_occlude_outliers": q_meds_occlude_outliers,
        "meds_timeline_deltas": q_meds_timeline_deltas,
        "meds_time_of_day": q_meds_time_of_day,
        "meds_age": q_meds_age,
        "meds_bin_numeric": q_meds_bin_numeric,
        "meds_match_revise": q_meds_match_revise,
        "meds_extract_values": q_meds_extract_values,
        "meds_code_priority": q_meds_code_priority,
        "meds_quantiles_distributed": q_meds_quantiles_distributed,
        "meds_agg_code_metadata": q_meds_agg_code_metadata,
        "meds_agg_quantiles": q_meds_agg_quantiles,
        "meds_agg_rollup": q_meds_agg_rollup,
        "meds_filter_measurements": q_meds_filter_measurements,
        "emb_quantize": q_emb_quantize,
        "events_rolling": q_events_rolling,
        "events_anomaly_bucketed": q_events_anomaly_bucketed,
        "events_anomaly": q_events_anomaly,
        "docs_substring_dedup": q_docs_substring_dedup,
        "docs_dsir_weights": q_docs_dsir_weights,
        "docs_gopher_filter": q_docs_gopher_filter,
        # --- slots 75-121: r09 cohort (fresh; follows the r08 block in
        # --- slots 25-50 (first 26 below): r09 cohort, registration ---
        # --- order — covers the round-11-touched winnow/ccnet/ ---
        # --- curation/bigdoc kernel paths; the rest trail the window ---
        "docs_pmi": q_docs_pmi,
        "events_hourly": q_events_hourly,
        "events_asof": q_events_asof,
        "events_interval_join": q_events_interval_join,
        "events_pivot": q_events_pivot,
        "events_grouping_sets": q_events_grouping_sets,
        "events_rows_window": q_events_rows_window,
        "events_sliding_windows": q_events_sliding_windows,
        "docs_token_stats": q_docs_token_stats,
        "docs_quality": q_docs_quality,
        "docs_repetition": q_docs_repetition,
        "docs_boilerplate": q_docs_boilerplate,
        "docs_pii_scrub": q_docs_pii_scrub,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_group_cap": q_docs_group_cap,
        "docs_exact_dedup": q_docs_exact_dedup,
        "docs_bigdoc_winnow": q_docs_bigdoc_winnow,
        "docs_bigdoc_wordgrams": q_docs_bigdoc_wordgrams,
        "docs_bigdoc_bigrams": q_docs_bigdoc_bigrams,
        "docs_bigdoc_dsir_buckets": q_docs_bigdoc_dsir_buckets,
        "docs_decontaminate_ids": q_docs_decontaminate_ids,
        "docs_winnow_overlap": q_docs_winnow_overlap,
        "docs_winnow_contains": q_docs_winnow_contains,
        "docs_ccnet_e2e": q_docs_ccnet_e2e,
        "docs_decontaminate": q_docs_decontaminate,
        "docs_curation_e2e": q_docs_curation_e2e,
        "docs_bigram_ppl": q_docs_bigram_ppl,
        "docs_ccnet_buckets": q_docs_ccnet_buckets,
        "docs_lang_id": q_docs_lang_id,
        "docs_top_tokens": q_docs_top_tokens,
        "docs_jaccard_pairs": q_docs_jaccard_pairs,
        "docs_corpus_prep": q_docs_corpus_prep,
        "emb_topk_cosine": q_emb_topk_cosine,
        "emb_topk_vectorized": q_emb_topk_vectorized,
        "emb_ivf_topk": q_emb_ivf_topk,
        "emb_label_stats": q_emb_label_stats,
        "multimodal_decode": q_multimodal_decode,
        "supplier_balance": q_supplier_balance,
        "tpch_exists": q_tpch_exists,
        "tpch_parts_by_brand": q_tpch_parts_by_brand,
        "docs_chunk": q_docs_chunk,
        "docs_corpus_report": q_docs_corpus_report,
        "docs_domain_stats": q_docs_domain_stats,
        "docs_incremental_dedup": q_docs_incremental_dedup,
        "docs_quality_classifier": q_docs_quality_classifier,
        "events_keep_latest": q_events_keep_latest,
        "events_transitions": q_events_transitions,
        # Future-proofing: pick up any suite queries not spelled out
        # --- r10-window queries (r10-fresh; trail the r11 window, ---
        # --- re-enter the rotation next): r07 cohort ---
        "docs_assign_ids": q_docs_assign_ids,
        "docs_bpe_tokens": q_docs_bpe_tokens,
        "docs_corpus_diff": q_docs_corpus_diff,
        "docs_pack": q_docs_pack,
        "docs_shuffle_shards": q_docs_shuffle_shards,
        "docs_validate": q_docs_validate,
        "emb_cluster_balance": q_emb_cluster_balance,
        "emb_covariance": q_emb_covariance,
        "emb_semantic_dedup": q_emb_semantic_dedup,
        "emb_semantic_dedup_arrow": q_emb_semantic_dedup_arrow,
        "events_profile": q_events_profile,
        "events_zorder": q_events_zorder,
        "meds_agg_quantiles_approx": q_meds_agg_quantiles_approx,
        "meds_filter_subjects": q_meds_filter_subjects,
        "meds_fit_vocab": q_meds_fit_vocab,
        "meds_normalization": q_meds_normalization,
        "meds_pipeline_e2e": q_meds_pipeline_e2e,
        "multimodal_frames": q_multimodal_frames,
        "tpch_q2": _tpch_suite.QUERIES["tpch_q2"],
        "tpch_q4": _tpch_suite.QUERIES["tpch_q4"],
        "tpch_q7": _tpch_suite.QUERIES["tpch_q7"],
        "tpch_q8": _tpch_suite.QUERIES["tpch_q8"],
        "tpch_q12": _tpch_suite.QUERIES["tpch_q12"],
        "tpch_q20": _tpch_suite.QUERIES["tpch_q20"],
        # --- slots 25-27: r09-green, minhash kernel code changed this
        # --- r10-window: minhash trio (r10-gated kernel change) ---
        "docs_minhash_dedup": q_docs_minhash_dedup,
        "docs_minhash_transitive": q_docs_minhash_transitive,
        "docs_bigdoc_minhash": q_docs_bigdoc_minhash,
        # --- slots 28-50: r08 cohort, first 23 in registration order ---
        # --- r10-window: r08 cohort first 23 ---
        "tpch_q9": _tpch_suite.QUERIES["tpch_q9"],
        "tpch_q10": _tpch_suite.QUERIES["tpch_q10"],
        "tpch_q11": _tpch_suite.QUERIES["tpch_q11"],
        "tpch_q13": _tpch_suite.QUERIES["tpch_q13"],
        "tpch_q14": _tpch_suite.QUERIES["tpch_q14"],
        "tpch_q15": _tpch_suite.QUERIES["tpch_q15"],
        "tpch_q16": _tpch_suite.QUERIES["tpch_q16"],
        "tpch_q17": _tpch_suite.QUERIES["tpch_q17"],
        "tpch_q18": _tpch_suite.QUERIES["tpch_q18"],
        "tpch_q19": _tpch_suite.QUERIES["tpch_q19"],
        "tpch_q21": _tpch_suite.QUERIES["tpch_q21"],
        "tpch_q22": _tpch_suite.QUERIES["tpch_q22"],
        "docs_tfidf": q_docs_tfidf,
        "docs_semantic_search": q_docs_semantic_search,
        "docs_simhash": q_docs_simhash,
        "emb_lsh_topk": q_emb_lsh_topk,
        "emb_cosine_dedup": q_emb_cosine_dedup,
        "events_sessions": q_events_sessions,
        "events_funnel": q_events_funnel,
        "docs_line_dedup": q_docs_line_dedup,
        "events_retention": q_events_retention,
        "docs_domain_mix": q_docs_domain_mix,
        "docs_unigram_logprob": q_docs_unigram_logprob,
        # --- slots 51-74: remaining r08 cohort (leads the r11 prefix) ---
        # above (currently none — all 18 are listed explicitly).
        **{
            k: v
            for k, v in _tpch_suite.QUERIES.items()
            if k not in ('tpch_q10', 'tpch_q11', 'tpch_q12', 'tpch_q13', 'tpch_q14', 'tpch_q15', 'tpch_q16', 'tpch_q17', 'tpch_q18', 'tpch_q19', 'tpch_q2', 'tpch_q20', 'tpch_q21', 'tpch_q22', 'tpch_q4', 'tpch_q7', 'tpch_q8', 'tpch_q9')
        },
    }


def _minhash_bands_poly_sql(source: str = "documents", k: int = 5,
                            num_hashes: int = 32, bands: int = 8,
                            normalize: bool = True) -> str:
    """Shared poly64 MinHash band-bucket pipeline — the SQL mirror of
    operators/grams.lsh_band_buckets_poly (normalize → k-byte shingles
    → poly64 → one-permutation slots on the UNSIGNED value → per-band
    fold bucket), ending in the signed bucket Spark emits.
    ``normalize=False`` takes ``source``'s text verbatim — for callers
    (the bigdoc oracles) that construct an already-normalized gram
    stream whose re-normalization would be WRONG (a period prefix may
    legitimately end in a space that trim would eat)."""
    b, m, r = 1099511628211, 1 << 64, num_hashes // bands
    norm_expr = (
        r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
        if normalize
        else "text"
    )
    return rf"""norm AS (
              SELECT doc_id, {norm_expr} AS txt
              FROM {source}
            ), mh_pos AS (
              SELECT doc_id, substr(txt, CAST(i AS BIGINT), {k}) AS gg
              FROM (SELECT doc_id, txt,
                           unnest(range(1, greatest(len(txt) - {k - 1}, 1) + 1)) AS i
                    FROM norm)
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(gg) = 0 THEN 0::HUGEINT
                          ELSE list_reduce(
                            list_transform(range(1, len(gg) + 1),
                              j -> CAST(ascii(substr(gg, CAST(j AS BIGINT), 1)) AS HUGEINT)),
                            (a, x) -> (a * {b} + x) % {m}::HUGEINT)
                     END AS u
              FROM mh_pos
            ), slots AS (
              SELECT doc_id, u % {num_hashes} AS slot, min(u) AS mh
              FROM sh GROUP BY doc_id, slot
            ), bands AS (
              SELECT doc_id,
                     CAST(bu - CASE WHEN bu >= {m // 2}::HUGEINT
                              THEN {m}::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS bucket
              FROM (
                SELECT doc_id,
                       list_reduce(
                         list_prepend(CAST(slot // {r} AS HUGEINT),
                           flatten(list([CAST(slot AS HUGEINT), mh] ORDER BY slot))),
                         (a, x) -> (a * {b} + x) % {m}::HUGEINT) AS bu
                FROM slots GROUP BY doc_id, slot // {r}
              )
            )"""


_BIGDOC_PER_SQL = r"""per AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS v
              FROM documents
              WHERE doc_id % 83 = 0 AND doc_id < 600 AND text IS NOT NULL
                AND length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) >= 20
            )"""
# The bigdoc fixture (__spark_entry__._bigdocs) repeats each selected
# document's text R=20000 times with a space separator. Its normalized
# form is PERIODIC with period p = len(v)+1 (v = the normalized source
# doc): s = v (' ' v)×(R−1). Every k-gram hash at position i equals the
# hash at ((i−1) mod p)+1, so the DISTINCT gram set is the grams at
# positions 1..p — i.e. the grams of the (p+k−1)-char prefix — and the
# distinct winnow fingerprint set is the w-window minima at positions
# 1..p, needing hashes up to position p+w−1, i.e. the (p+w+k−2)-char
# prefix. (Both need p ≤ valid-window-count, true for R ≥ 2.) The
# oracles below therefore replay ~300 chars per doc while the Spark
# kernel really ingests the full ~40 MB through _batch_slices.


_BIGDOC_PER13_SQL = r"""per AS (
              SELECT doc_id, v, w, len(w) AS t FROM (
                SELECT doc_id, v,
                       list_filter(string_split(v, ' '), x -> x <> '') AS w
                FROM (
                  SELECT doc_id,
                         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS v
                  FROM documents
                  WHERE doc_id % 83 = 0 AND doc_id < 600 AND text IS NOT NULL
                    AND length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) >= 20
                )
              ) WHERE len(w) >= 13
            )"""
_POLY_B, _POLY_M = 1099511628211, 1 << 64


def _poly_fold_sql(expr: str) -> str:
    """poly64 fold of a (non-empty) string expression, HUGEINT."""
    return (
        f"list_reduce(list_transform(range(1, len({expr}) + 1), "
        f"j -> CAST(ascii(substr({expr}, CAST(j AS BIGINT), 1)) AS HUGEINT)), "
        f"(a, x) -> (a * {_POLY_B} + x) % {_POLY_M}::HUGEINT)"
    )


def _signed_sql(expr: str) -> str:
    return (
        f"CAST({expr} - CASE WHEN {expr} >= {_POLY_M // 2}::HUGEINT "
        f"THEN {_POLY_M}::HUGEINT ELSE 0::HUGEINT END AS BIGINT)"
    )


def _bigdoc_wordgrams_oracle_sql(n: int = 13) -> str:
    """Per-doc distinct word-n-gram-hash summary of the periodic
    bigdocs — token-level period-prefix shortcut (see _BIGDOC_PER_SQL
    note; here the period is T tokens and the lookahead n−1 tokens)."""
    return rf"""
            WITH {_BIGDOC_PER13_SQL}, ext AS (
              SELECT doc_id, t, list_concat(w, w[1:{n - 1}]) AS w2 FROM per
            ), g AS (
              SELECT doc_id,
                     array_to_string(w2[CAST(i AS BIGINT):CAST(i + {n - 1} AS BIGINT)], ' ') AS gg
              FROM ext, unnest(range(1, t + 1)) AS u(i)
            ), fps AS (
              SELECT DISTINCT doc_id, {_signed_sql(_poly_fold_sql('gg'))} AS gh
              FROM g
            )
            SELECT doc_id, count(*) AS n_grams, min(gh) AS min_gh,
                   max(gh) AS max_gh, bit_xor(gh) AS xor_gh
            FROM fps GROUP BY doc_id"""


def _bigdoc_bigrams_oracle_sql(rep: int = 20000) -> str:
    """Per-doc bigram-hash count summary of the periodic bigdocs —
    multiplicities are exact: position i of the period contributes
    ``rep`` occurrences, the wrap pair (i = T) one fewer."""
    return rf"""
            WITH {_BIGDOC_PER13_SQL}, ext AS (
              SELECT doc_id, t, list_concat(w, w[1:1]) AS w2 FROM per
            ), pairs AS (
              SELECT doc_id, t, CAST(i AS BIGINT) AS i,
                     w2[CAST(i AS BIGINT)] AS tok1,
                     w2[CAST(i + 1 AS BIGINT)] AS tok2
              FROM ext, unnest(range(1, t + 1)) AS u(i)
            ), ph AS (
              SELECT doc_id, i, t,
                     {_signed_sql(_poly_fold_sql('tok1'))} AS w1,
                     {_signed_sql(_poly_fold_sql('tok2'))} AS w2h
              FROM pairs
            ), wc AS (
              SELECT doc_id, w1, w2h,
                     CAST(sum(CASE WHEN i = t THEN {rep - 1} ELSE {rep} END) AS BIGINT) AS cnt
              FROM ph GROUP BY doc_id, w1, w2h
            )
            SELECT doc_id, count(*) AS n_pairs,
                   CAST(sum(cnt) AS BIGINT) AS total_pairs,
                   min(w1) AS min_w1, max(w2h) AS max_w2,
                   bit_xor(xor(w1, w2h)) AS xor_pair
            FROM wc GROUP BY doc_id"""


def _bigdoc_dsir_buckets_oracle_sql(rep: int = 20000, n_buckets: int = 8192) -> str:
    """Per-doc hashed-feature bucket-count summary of the periodic
    bigdocs — unigram + bigram features with exact periodic weights
    (unigram instance: rep; bigram instance: rep, wrap pair rep−1)."""
    return rf"""
            WITH {_BIGDOC_PER13_SQL}, ext AS (
              SELECT doc_id, t, list_concat(w, w[1:1]) AS w2 FROM per
            ), feats AS (
              SELECT doc_id, {_poly_fold_sql('tok')} AS u,
                     CAST({rep} AS BIGINT) AS wt
              FROM (SELECT doc_id, unnest(w) AS tok FROM per)
              UNION ALL
              SELECT doc_id, {_poly_fold_sql("(tok1 || ' ' || tok2)")} AS u,
                     CAST(CASE WHEN i = t THEN {rep - 1} ELSE {rep} END AS BIGINT) AS wt
              FROM (
                SELECT doc_id, t, CAST(i AS BIGINT) AS i,
                       w2[CAST(i AS BIGINT)] AS tok1,
                       w2[CAST(i + 1 AS BIGINT)] AS tok2
                FROM ext, unnest(range(1, t + 1)) AS u(i)
              )
            ), bc AS (
              SELECT doc_id, CAST(u % {n_buckets} AS BIGINT) AS b,
                     CAST(sum(wt) AS BIGINT) AS cnt
              FROM feats GROUP BY doc_id, u % {n_buckets}
            )
            SELECT doc_id, count(*) AS n_buckets_hit,
                   CAST(sum(cnt) AS BIGINT) AS total_feats,
                   min(b) AS min_b, max(b) AS max_b,
                   bit_xor(xor(b, cnt)) AS xor_bc
            FROM bc GROUP BY doc_id"""


def _bigdoc_winnow_oracle_sql(k: int, w: int) -> str:
    """Per-doc fingerprint-set summary of the periodic bigdocs — the
    SQL mirror of q_docs_bigdoc_winnow via the period-prefix shortcut.
    All ng−w+1 = p full windows of the prefix are exactly the distinct
    fp set of the 5 MB doc."""
    b, m = 1099511628211, 1 << 64
    return rf"""
            WITH {_BIGDOC_PER_SQL}, ptxt AS (
              SELECT doc_id, len(v) + 1 AS p,
                     v || ' ' || substr(v, 1, {w + k - 2}) AS txt
              FROM per
            ), pos AS (
              SELECT doc_id, p, txt,
                     unnest(range(1, len(txt) - {k - 1} + 1)) AS i
              FROM ptxt
            ), h AS (
              SELECT doc_id, p, CAST(i AS BIGINT) AS i,
                     list_reduce(
                       list_transform(range(1, {k} + 1),
                         j -> CAST(ascii(substr(txt, CAST(i + j - 1 AS BIGINT), 1)) AS HUGEINT)),
                       (a, x) -> (a * {b} + x) % {m}::HUGEINT) AS hv
              FROM pos
            ), wm AS (
              SELECT doc_id, p, i,
                     min(hv) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mh
              FROM h
            ), fps AS (
              SELECT DISTINCT doc_id,
                     CAST(mh - CASE WHEN mh >= {m // 2}::HUGEINT
                              THEN {m}::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS fp
              FROM wm WHERE i <= p
            )
            SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp,
                   max(fp) AS max_fp, bit_xor(fp) AS xor_fp
            FROM fps GROUP BY doc_id"""


def _minhash_bands_sql(source: str = "documents") -> str:
    """Shared md5-based MinHash band-bucket pipeline (normalize →
    5-char shingles → one-permutation 32-slot signature → 8 band
    buckets) — the SQL mirror of
    operators/dedup.lsh_band_buckets(hash_fn="md5_60")."""
    return r"""norm AS (
              SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS txt
              FROM """ + source + r"""
            ), pos AS (
              SELECT doc_id, txt,
                     unnest(range(1, greatest(len(txt) - 4, 1) + 1)) AS i
              FROM norm
            ), sh AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(substr(txt, CAST(i AS BIGINT), 5)), 1, 15) AS BIGINT) AS h
              FROM pos
            ), slots AS (
              SELECT doc_id, h % 32 AS slot, min(h) AS mh
              FROM sh GROUP BY doc_id, slot
            ), bands AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(CAST(slot // 4 AS VARCHAR) || ':' ||
                          string_agg(CAST(mh AS VARCHAR), ',' ORDER BY slot)), 1, 15) AS BIGINT) AS bucket
              FROM slots GROUP BY doc_id, slot // 4
            )"""


def _bigram_scored_ctes(source: str = "documents") -> str:
    """Shared bigram-LM scoring pipeline (tokens → HOF-equivalent
    bigrams → per-doc counts → model + marginals + totals →
    interpolated mean log-prob) — the SQL mirror of
    operators/lm.bigram_logprob with the identical arithmetic order,
    fit on ``source``. Used by docs_bigram_ppl, docs_ccnet_buckets and
    the ccnet e2e composition."""
    return rf"""toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS tk
              FROM {source}
            ), bg AS (
              SELECT doc_id, tk[CAST(i AS BIGINT)] AS w1, tk[CAST(i AS BIGINT) + 1] AS w2
              FROM toks, unnest(range(1, greatest(len(tk), 1))) r(i)
            ), per_doc AS (
              SELECT doc_id, w1, w2, count(*) AS c_local
              FROM bg GROUP BY doc_id, w1, w2
            ), lm AS (
              SELECT w1, w2, sum(c_local) AS n FROM per_doc GROUP BY w1, w2
            ), m1 AS (
              SELECT w1, sum(n) AS c1 FROM lm GROUP BY w1
            ), m2 AS (
              SELECT w2, sum(n) AS c2 FROM lm GROUP BY w2
            ), tot AS (
              SELECT CAST(sum(n) AS DOUBLE) AS nn,
                     CAST(count(DISTINCT w2) AS DOUBLE) AS vv
              FROM lm
            ), scored AS (
              SELECT p.doc_id,
                     sum(p.c_local * ln(0.7 * (CAST(lm.n AS DOUBLE) / CAST(m1.c1 AS DOUBLE))
                         + (1.0 - 0.7) * ((CAST(m2.c2 AS DOUBLE) + 0.1) / (tot.nn + 0.1 * tot.vv))))
                       / sum(p.c_local) AS lp
              FROM per_doc p
              JOIN lm USING (w1, w2) JOIN m1 USING (w1) JOIN m2 USING (w2), tot
              GROUP BY p.doc_id
            )"""


def _gopher_rules_ctes(source: str) -> str:
    """CTE chain ``base, m, r`` computing the Gopher rule booleans per
    doc of ``source`` — the SQL mirror of
    operators/text.gopher_quality_filter. ``r`` carries one boolean per
    rule; ANDing them is ``gopher_pass``. Shared by docs_gopher_filter
    and the ccnet e2e composition."""
    return rf"""base AS (
              SELECT doc_id,
                     text IS NOT NULL AS nn,
                     list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                                 x -> x != '') AS toks,
                     string_split(coalesce(text, ''), chr(10)) AS lines,
                     len(regexp_extract_all(coalesce(text, ''), '#|\.\.\.')) AS n_sym
              FROM {source}
            ), m AS (
              SELECT doc_id, nn, toks, lines, n_sym,
                     len(toks) AS n_words,
                     greatest(len(lines), 1) AS n_lines,
                     CASE WHEN len(toks) > 0
                          THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                               / len(toks)
                          ELSE 0.0 END AS mean_len
              FROM base
            ), r AS (
              SELECT doc_id,
                     CAST(n_words AS BIGINT) AS n_words,
                     nn AND n_words >= 40 AND n_words <= 100000 AS rule_word_count,
                     nn AND mean_len >= 3.0 AND mean_len <= 10.0 AS rule_mean_word_len,
                     nn AND CASE WHEN n_words > 0
                          THEN CAST(n_sym AS DOUBLE) / n_words <= 0.1
                          ELSE FALSE END AS rule_symbol_ratio,
                     nn AND CAST(len(list_filter(lines,
                         l -> regexp_matches(l, '^\s*[•*-]\s'))) AS DOUBLE)
                       / n_lines < 0.9 AS rule_bullet_lines,
                     nn AND CAST(len(list_filter(lines,
                         l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
                       / n_lines <= 0.3 AS rule_ellipsis_lines,
                     nn AND CASE WHEN n_words > 0
                          THEN CAST(len(list_filter(toks,
                                 t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
                                 / n_words >= 0.8
                          ELSE FALSE END AS rule_alpha_words,
                     nn AND len(list_intersect(list_transform(toks, t -> lower(t)),
                         ['the','be','to','of','and','that','have','with']))
                       >= 1 AS rule_stopwords
              FROM m
            )"""


def _dsir_weight_ctes(source: str, n_buckets: int = 8192) -> str:
    """CTE chain ``toks…dsw`` computing per-doc DSIR log-weights over
    ``source`` (a table or CTE name) — the SQL mirror of
    operators/dsir with hash_fn="poly64" (the Arrow bucket kernel:
    bucket = unsigned poly64(feature) mod n_buckets), add-1 smoothed
    log-ratio. Shared by docs_dsir_weights and the curation e2e
    composition so a model tweak cannot silently drift between them.
    ``dsw`` carries (doc_id, wgt)."""
    b, m = 1099511628211, 1 << 64
    return rf"""toks AS (
              SELECT doc_id, source IN ('src0','src1','src2') AS t,
                     list_filter(regexp_split_to_array(lower(text), '\s+'),
                                 x -> x != '') AS l
              FROM {source}
            ), feats AS (
              SELECT doc_id, t,
                     unnest(list_concat(l,
                       list_filter(
                         list_transform(list_zip(l, l[2:]),
                           p -> CASE WHEN p[2] IS NULL THEN NULL
                                     ELSE p[1] || ' ' || p[2] END),
                         g -> g IS NOT NULL))) AS f
              FROM toks
            ), fb AS (
              SELECT doc_id, t,
                     CAST(list_reduce(
                       list_transform(range(1, len(f) + 1),
                         j -> CAST(ascii(substr(f, CAST(j AS BIGINT), 1)) AS HUGEINT)),
                       (a, x) -> (a * {b} + x) % {m}::HUGEINT
                     ) % {n_buckets} AS BIGINT) AS b
              FROM feats
            ), model AS (
              SELECT b, count(*) AS n_raw,
                     sum(CASE WHEN t THEN 1 ELSE 0 END) AS n_tgt
              FROM fb GROUP BY b
            ), tot AS (
              SELECT CAST(sum(n_raw) AS DOUBLE) AS traw,
                     CAST(sum(n_tgt) AS DOUBLE) AS ttgt
              FROM model
            ), lr AS (
              SELECT b, ln((n_tgt + 1) / (ttgt + {n_buckets}))
                        - ln((n_raw + 1) / (traw + {n_buckets})) AS lr
              FROM model, tot
            ), per AS (
              SELECT doc_id, b, count(*) AS n FROM fb GROUP BY doc_id, b
            ), dsw AS (
              SELECT src.doc_id, round(coalesce(agg.w, 0.0), 6) + 0.0 AS wgt
              FROM {source} src LEFT JOIN (
                SELECT per.doc_id, sum(per.n * lr.lr) AS w
                FROM per JOIN lr USING (b) GROUP BY per.doc_id
              ) agg USING (doc_id)
            )"""


def _winnow_fps_sql(source: str, k: int, w: int) -> str:
    """Subquery yielding the winnowed ``(doc_id, fp)`` set of
    ``source`` — the SQL mirror of operators/winnow.
    winnow_fingerprints(hash_fn="poly64") at gram size ``k``, window
    ``w`` (full-window minima for long docs, whole-text minimum for
    docs with fewer than ``w`` grams).

    The per-gram hash replays operators/grams.poly64 exactly:
    ``h = fold(h·B + byte) mod 2^64`` with B = the 64-bit FNV prime,
    in HUGEINT arithmetic. Window minima are taken over the UNSIGNED
    value (the Spark kernel mins uint64), and the final fingerprint is
    converted to the signed two's-complement long Spark emits."""
    b = 1099511628211
    m = 1 << 64
    return rf"""
              WITH norm AS (
                SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS txt
                FROM {source}
              ), g AS (
                SELECT doc_id, txt, greatest(len(txt) - {k - 1}, 1) AS ng FROM norm
              ), pos AS (
                SELECT doc_id, txt, ng, unnest(range(1, ng + 1)) AS i FROM g
              ), grm AS (
                SELECT doc_id, ng, CAST(i AS BIGINT) AS i,
                       substr(txt, CAST(i AS BIGINT), {k}) AS gg
                FROM pos
              ), h AS (
                -- list_reduce THROWS on an empty list (it does not
                -- return NULL), so the empty gram (an empty normalized
                -- doc) needs an explicit 0 branch — poly64('') == 0.
                SELECT doc_id, ng, i,
                       CASE WHEN len(gg) = 0 THEN 0::HUGEINT
                            ELSE list_reduce(
                              list_transform(range(1, len(gg) + 1),
                                j -> CAST(ascii(substr(gg, CAST(j AS BIGINT), 1)) AS HUGEINT)),
                              (a, x) -> (a * {b} + x) % {m}::HUGEINT)
                       END AS hv
                FROM grm
              ), wm AS (
                SELECT doc_id, ng, i,
                       min(hv) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mh
                FROM h
              ), ufp AS (
                SELECT DISTINCT doc_id, mh AS u FROM wm WHERE ng >= {w} AND i <= ng - {w - 1}
                UNION
                SELECT doc_id, min(hv) AS u FROM h WHERE ng < {w} GROUP BY doc_id
              )
              SELECT doc_id,
                     CAST(u - CASE WHEN u >= {m // 2}::HUGEINT
                              THEN {m}::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS fp
              FROM ufp"""


def oracle_sql() -> dict[str, str]:
    meds = f"({MEDS_SQL})"
    stats = f"({STATS_SQL.replace('FROM meds', f'FROM {meds} meds')})"
    hexv = "0123456789abcdef"

    def byte_at(i: int) -> str:
        """SQL: byte i (0-based) of sha256(text) as INT."""
        return (
            f"((strpos('{hexv}', substr(sha256(text), {2*i+1}, 1)) - 1) * 16"
            f" + (strpos('{hexv}', substr(sha256(text), {2*i+2}, 1)) - 1))"
        )

    d = {
        "meds_agg_code_metadata": f"""
            SELECT code,
                   count(DISTINCT subject_id) AS "code/n_subjects",
                   count(*) AS "code/n_occurrences",
                   count(numeric_value) AS "values/n_occurrences",
                   count(*) FILTER (numeric_value = round(numeric_value)) AS "values/n_ints",
                   CAST(sum(CAST(numeric_value AS DECIMAL(30,6))) AS DOUBLE) AS "values/sum",
                   CAST(sum(CAST(numeric_value * numeric_value AS DECIMAL(38,8))) AS DOUBLE) AS "values/sum_sqd",
                   min(numeric_value) AS "values/min",
                   max(numeric_value) AS "values/max"
            FROM {meds} meds GROUP BY code
        """,
        "meds_agg_rollup": f"""
            SELECT code,
                   count(DISTINCT subject_id) AS "code/n_subjects",
                   count(*) AS "code/n_occurrences",
                   CAST(sum(CAST(numeric_value AS DECIMAL(30,6))) AS DOUBLE) AS "values/sum"
            FROM {meds} meds GROUP BY ROLLUP(code)
        """,
        "meds_agg_quantiles_approx": f"""
            -- Exact nearest-rank replay + constant-TRUE certificate:
            -- the Spark side computes within_tol from the live GK
            -- sketch; a rank-error-bound violation hash-mismatches.
            WITH ranked AS (
              SELECT code, numeric_value,
                     row_number() OVER (PARTITION BY code ORDER BY numeric_value) AS rn,
                     count(numeric_value) OVER (PARTITION BY code) AS n
              FROM {meds} meds WHERE numeric_value IS NOT NULL
            ), qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS q)
            SELECT code, q,
                   max(CASE WHEN rn = CAST(round(q * (n-1)) AS BIGINT) + 1
                       THEN numeric_value END) AS exact_value,
                   TRUE AS within_tol
            FROM ranked CROSS JOIN qs
            GROUP BY code, q
        """,
        "meds_agg_quantiles": f"""
            WITH ranked AS (
              SELECT code, numeric_value,
                     row_number() OVER (PARTITION BY code ORDER BY numeric_value) AS rn,
                     count(numeric_value) OVER (PARTITION BY code) AS n
              FROM {meds} meds WHERE numeric_value IS NOT NULL
            )
            SELECT code,
                   max(CASE WHEN rn = CAST(round(0.25 * (n-1)) AS BIGINT) + 1 THEN numeric_value END) AS q25,
                   max(CASE WHEN rn = CAST(round(0.5 * (n-1)) AS BIGINT) + 1 THEN numeric_value END) AS q50,
                   max(CASE WHEN rn = CAST(round(0.75 * (n-1)) AS BIGINT) + 1 THEN numeric_value END) AS q75
            FROM ranked GROUP BY code
        """,
        "emb_ivf_topk": """
            WITH cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cell,
                     CAST(embedding AS DOUBLE[]) AS cvec
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
            ),
            c_assign AS (
              SELECT vec_id, emb, cell FROM (
                SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.cell,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC, c.cell
                       ) AS rn
                FROM embeddings e, cent c
              ) WHERE rn = 1
            ),
            q_probe AS (
              SELECT query_id, qemb, cell FROM (
                SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qemb, c.cell,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC, c.cell
                       ) AS rn
                FROM embeddings e, cent c WHERE e.vec_id < 5
              ) WHERE rn <= 4
            )
            SELECT query_id, vec_id, round(cos, 4) + 0.0 AS cos_r, rank FROM (
              SELECT q.query_id, c.vec_id,
                     list_cosine_similarity(c.emb, q.qemb) AS cos,
                     CAST(row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(c.emb, q.qemb) DESC, c.vec_id
                     ) AS INT) AS rank
              FROM c_assign c JOIN q_probe q USING (cell)
            ) WHERE rank <= 10
        """,
        "meds_filter_subjects": f"""
            -- Polars n_unique counts NULL time as one distinct value;
            -- DuckDB count(DISTINCT) skips NULLs, so add the indicator.
            SELECT subject_id, "time", code, numeric_value FROM (
              SELECT *, count(DISTINCT "time") OVER (PARTITION BY subject_id)
                        + max(CASE WHEN "time" IS NULL THEN 1 ELSE 0 END)
                          OVER (PARTITION BY subject_id) AS n_ev
              FROM {meds} meds
            ) WHERE n_ev >= 67
        """,
        "meds_filter_measurements": f"""
            WITH meds AS ({MEDS_K_SQL}),
                 allowed AS (
                   SELECT code, kk FROM meds GROUP BY code, kk HAVING count(*) >= 200
                 )
            SELECT m.* FROM meds m SEMI JOIN allowed a
              ON m.code = a.code AND m.kk = a.kk
        """,
        "meds_occlude_outliers": f"""
            WITH stats AS (
              SELECT code, "values/sum" / "values/n_occurrences" AS mean,
                     sqrt(greatest("values/sum_sqd" / "values/n_occurrences"
                          - ("values/sum" / "values/n_occurrences") * ("values/sum" / "values/n_occurrences"), 0.0)) AS std
              FROM {stats} s
            )
            SELECT subject_id, "time", m.code,
                   CASE WHEN abs(numeric_value - mean) <= 1.0 * std THEN numeric_value END AS numeric_value,
                   CASE WHEN numeric_value IS NOT NULL AND mean IS NOT NULL
                        THEN abs(numeric_value - mean) <= 1.0 * std END AS is_inlier
            FROM {meds} m LEFT JOIN stats ON m.code = stats.code
        """,
        "meds_normalization": f"""
            WITH stats AS (
              SELECT code,
                     row_number() OVER (ORDER BY code) AS vocab,
                     "values/sum" / "values/n_occurrences" AS mean,
                     sqrt(greatest("values/sum_sqd" / "values/n_occurrences"
                          - ("values/sum" / "values/n_occurrences") * ("values/sum" / "values/n_occurrences"), 0.0)) AS std
              FROM {stats} s
            )
            SELECT subject_id, "time",
                   CAST(vocab AS BIGINT) AS code,
                   CASE WHEN numeric_value IS NOT NULL AND std IS NOT NULL AND std <> 0
                        THEN CAST((numeric_value - mean) / std AS REAL) END AS numeric_value
            FROM {meds} m JOIN stats ON m.code = stats.code
        """,
        "meds_fit_vocab": f"""
            SELECT code, count(*) AS "code/n_occurrences",
                   CAST(row_number() OVER (ORDER BY code) AS INT) AS "code/vocab_index"
            FROM {meds} meds GROUP BY code
        """,
        "meds_timeline_deltas": f"""
            WITH ev AS (SELECT DISTINCT subject_id, "time" FROM {meds} meds WHERE "time" IS NOT NULL),
                 w AS (SELECT subject_id, "time",
                              min("time") OVER (PARTITION BY subject_id) AS mn,
                              max("time") OVER (PARTITION BY subject_id) AS mx,
                              lag("time") OVER (PARTITION BY subject_id ORDER BY "time") AS prev
                       FROM ev)
            SELECT subject_id, "time", 'TIMELINE//START' AS code, CAST(NULL AS REAL) AS numeric_value
              FROM w WHERE "time" = mn
            UNION ALL
            SELECT subject_id, "time", 'TIMELINE//DELTA//days' AS code,
                   CAST((epoch_us("time") - epoch_us(prev)) / 86400000000.0 AS REAL)
              FROM w WHERE prev IS NOT NULL
            UNION ALL
            SELECT subject_id, "time", 'TIMELINE//END' AS code, CAST(NULL AS REAL)
              FROM w WHERE "time" = mx
        """,
        "meds_time_of_day": f"""
            WITH ev AS (SELECT DISTINCT subject_id, "time" FROM {meds} meds WHERE "time" IS NOT NULL)
            SELECT CASE WHEN hour("time") < 6 THEN 'TIME_OF_DAY//[00,06)'
                        WHEN hour("time") < 12 THEN 'TIME_OF_DAY//[06,12)'
                        WHEN hour("time") < 18 THEN 'TIME_OF_DAY//[12,18)'
                        WHEN hour("time") < 24 THEN 'TIME_OF_DAY//[18,24)'
                   END AS code,
                   count(*) AS n_events
            FROM ev GROUP BY 1
        """,
        "meds_age": f"""
            WITH m AS (SELECT *, min(CASE WHEN code = 'signup' THEN "time" END)
                                  OVER (PARTITION BY subject_id) AS dob
                       FROM {meds} meds),
                 ev AS (SELECT DISTINCT subject_id, "time", dob FROM m
                        WHERE "time" IS NOT NULL AND dob IS NOT NULL)
            SELECT subject_id, "time", 'AGE' AS code,
                   round(CAST((epoch_us("time") - epoch_us(dob)) / {AGE_UNIT_US} AS REAL), 6) AS numeric_value
            FROM ev WHERE "time" > dob
        """,
        "meds_bin_numeric": f"""
            WITH ranked AS (
              SELECT code, numeric_value,
                     row_number() OVER (PARTITION BY code ORDER BY numeric_value) AS rn,
                     count(numeric_value) OVER (PARTITION BY code) AS n
              FROM {meds} meds WHERE numeric_value IS NOT NULL
            ),
            qs AS (
              SELECT code,
                     max(CASE WHEN rn = CAST(round(0.25 * (n-1)) AS BIGINT) + 1 THEN numeric_value END) AS q25,
                     max(CASE WHEN rn = CAST(round(0.5 * (n-1)) AS BIGINT) + 1 THEN numeric_value END) AS q50,
                     max(CASE WHEN rn = CAST(round(0.75 * (n-1)) AS BIGINT) + 1 THEN numeric_value END) AS q75
              FROM ranked GROUP BY code
            )
            SELECT m.code,
                   CAST((numeric_value >= q25) AS INT) + CAST((numeric_value >= q50) AS INT)
                     + CAST((numeric_value >= q75) AS INT) AS bin_idx,
                   count(*) AS n
            FROM {meds} m JOIN qs ON m.code = qs.code
            GROUP BY 1, 2
        """,
        "meds_match_revise": f"""
            SELECT code,
                   CAST(sum(CAST(CASE WHEN code IN ('click','view') THEN numeric_value * 2.0
                                      WHEN code IN ('purchase','signup') THEN numeric_value * 0.5
                                      ELSE numeric_value END AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
                   count(*) AS n
            FROM {meds} meds GROUP BY code
        """,
        "meds_extract_values": """
            SELECT event_id,
                   event_type || '//' || CAST(user_id AS VARCHAR) AS text_value,
                   CAST(CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS REAL) AS numeric_value
            FROM events
        """,
        "meds_code_priority": f"""
            SELECT code,
                   CASE WHEN regexp_matches(code, '^error$') THEN 0
                        WHEN regexp_matches(code, '^(purchase|signup)$') THEN 1
                        ELSE 2 END AS priority
            FROM (SELECT DISTINCT code FROM {meds} meds)
        """,
        "meds_pipeline_e2e": f"""
            WITH d1 AS (
              SELECT subject_id, "time", code, numeric_value FROM (
                SELECT *, count(DISTINCT "time") OVER (PARTITION BY subject_id)
                          + max(CASE WHEN "time" IS NULL THEN 1 ELSE 0 END)
                            OVER (PARTITION BY subject_id) AS n_ev
                FROM {meds} meds
              ) WHERE n_ev >= 60
            ),
            s1 AS (
              SELECT code, count(numeric_value) AS n,
                     CAST(sum(CAST(numeric_value AS DECIMAL(30,6))) AS DOUBLE) AS s,
                     CAST(sum(CAST(numeric_value * numeric_value AS DECIMAL(38,8))) AS DOUBLE) AS s2
              FROM d1 GROUP BY code
            ),
            st1 AS (
              SELECT code, s / n AS mean,
                     sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0)) AS std
              FROM s1
            ),
            d2 AS (
              SELECT subject_id, "time", d1.code,
                     CASE WHEN mean IS NULL THEN numeric_value
                          WHEN abs(numeric_value - mean) <= 2.0 * std THEN numeric_value END AS numeric_value
              FROM d1 LEFT JOIN st1 ON d1.code = st1.code
            ),
            s2t AS (
              SELECT code, count(numeric_value) AS n,
                     CAST(sum(CAST(numeric_value AS DECIMAL(30,6))) AS DOUBLE) AS s,
                     CAST(sum(CAST(numeric_value * numeric_value AS DECIMAL(38,8))) AS DOUBLE) AS s2
              FROM d2 GROUP BY code
            ),
            st2 AS (
              SELECT code, row_number() OVER (ORDER BY code) AS vocab,
                     s / n AS mean,
                     sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0)) AS std
              FROM s2t
            )
            SELECT subject_id, "time", CAST(vocab AS BIGINT) AS code,
                   CASE WHEN numeric_value IS NOT NULL AND std IS NOT NULL AND std <> 0
                        THEN CAST((numeric_value - mean) / std AS REAL) END AS numeric_value
            FROM d2 JOIN st2 ON d2.code = st2.code
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                        * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
                   CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-12-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "tpch_q5": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """,
        "tpch_q6": """
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
                   count(*) AS n
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_exists": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45
            )
            GROUP BY o_orderpriority
        """,
        "tpch_parts_by_brand": """
            SELECT p_brand, p_type,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand, p_type
        """,
        "supplier_balance": """
            SELECT n_name, count(*) AS n_suppliers,
                   CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "events_grouping_sets": """
            SELECT date_trunc('day', ts) AS day, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
                   CAST(grouping(date_trunc('day', ts)) * 2
                        + grouping(event_type) AS BIGINT) AS gid
            FROM events
            GROUP BY GROUPING SETS ((day, event_type), (day), (event_type), ())
        """,
        "events_rows_window": """
            SELECT event_id, user_id, ts, value,
                   count(*) OVER w AS prev_n,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
                     / count(*) OVER w AS prev_mean
            FROM events
            WINDOW w AS (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
            )
        """,
        "events_rolling": """
            SELECT event_id, user_id, ts, value,
                   count(*) OVER w AS h1_n,
                   CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) OVER w AS DOUBLE)
                     / 1000000.0 AS h1_sum
            FROM events
            WINDOW w AS (
              PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
            )
        """,
        "events_pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS click_n,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (event_type = 'click') AS DOUBLE) AS click_sum,
                   count(*) FILTER (event_type = 'view') AS view_n,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (event_type = 'view') AS DOUBLE) AS view_sum,
                   count(*) FILTER (event_type = 'purchase') AS purchase_n,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (event_type = 'purchase') AS DOUBLE) AS purchase_sum,
                   count(*) FILTER (event_type = 'signup') AS signup_n,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (event_type = 'signup') AS DOUBLE) AS signup_sum,
                   count(*) FILTER (event_type = 'error') AS error_n,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) FILTER (event_type = 'error') AS DOUBLE) AS error_sum
            FROM events GROUP BY user_id
        """,
        "events_asof": """
            WITH clicks AS (
              SELECT user_id, ts, max(value) AS click_value
              FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            ),
            p AS (
              SELECT event_id, user_id, ts, value
              FROM events WHERE event_type = 'purchase'
            )
            SELECT p.event_id, p.user_id, p.ts, p.value,
                   c.ts AS click_ts, c.click_value
            FROM p ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "events_interval_join": """
            WITH windows AS (
              SELECT event_id AS interval_id, user_id, ts AS start_ts,
                     ts + INTERVAL 30 MINUTE AS end_ts
              FROM events WHERE event_type = 'error'
            )
            SELECT w.interval_id,
                   count(*) AS n_events,
                   count(DISTINCT p.event_type) AS n_types,
                   CAST(sum(CAST(p.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
            FROM windows w JOIN events p
              ON p.user_id = w.user_id
             AND p.ts >= w.start_ts AND p.ts <= w.end_ts
            GROUP BY w.interval_id
        """,
        "events_sliding_windows": """
            WITH starts AS (
              SELECT TIMESTAMP '1970-01-01'
                       + to_microseconds((epoch_us(ts) // 1800000000) * 1800000000) AS window_start,
                     event_type FROM events
              UNION ALL
              SELECT TIMESTAMP '1970-01-01'
                       + to_microseconds((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000) AS window_start,
                     event_type FROM events
            )
            SELECT window_start, event_type, count(*) AS n_events
            FROM starts GROUP BY 1, 2
        """,
        "events_sessions": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                               > 1800000000 THEN 1 ELSE 0 END AS is_break
              FROM events
            )
            SELECT user_id, CAST(sum(is_break) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "docs_token_stats": r"""
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_computed,
                   CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
                   round(len(regexp_extract_all(text, '[^\w\s]')) / greatest(length(text), 1), 6) AS punct_ratio
            FROM documents
        """,
        "docs_boilerplate": r"""
            WITH t AS (
              SELECT doc_id, source,
                     '=== ' || source || ' header ===' || chr(10) || text ||
                     chr(10) || 'copyright ' || source AS text
              FROM documents
            ), ex AS (
              SELECT DISTINCT source, doc_id, line
              FROM (SELECT source, doc_id,
                           unnest(string_split(text, chr(10))) AS line
                    FROM t)
              WHERE trim(line) <> ''
            ), c AS (
              SELECT source, line, count(*) AS n_docs
              FROM ex GROUP BY source, line
            ), bl AS (
              SELECT source, list(line) AS bl
              FROM c WHERE n_docs >= 50 GROUP BY source
            )
            SELECT t.doc_id,
                   CASE WHEN bl.bl IS NULL OR t.text IS NULL THEN t.text
                        ELSE array_to_string(
                               list_filter(string_split(t.text, chr(10)),
                                           x -> trim(x) = '' OR NOT list_contains(bl.bl, x)),
                               chr(10))
                   END AS text
            FROM t LEFT JOIN bl USING (source)
        """,
        "docs_repetition": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
              FROM documents
            ), b AS (
              SELECT doc_id, ws, len(ws) AS n_words,
                     len(list_distinct(ws)) AS n_distinct_words,
                     CASE WHEN len(ws) >= 2
                          THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
                          ELSE CAST([] AS VARCHAR[]) END AS bg
              FROM t
            ), h AS (
              SELECT doc_id, max(c) AS topc FROM (
                SELECT doc_id, w, count(*) AS c
                FROM (SELECT doc_id, unnest(ws) AS w FROM t)
                GROUP BY doc_id, w
              ) GROUP BY doc_id
            )
            SELECT b.doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
                   round((n_words - n_distinct_words) / greatest(n_words, 1), 6) AS dup_word_fraction,
                   round((len(bg) - len(list_distinct(bg))) / greatest(len(bg), 1), 6) AS dup_bigram_fraction,
                   round(coalesce(topc, 0) / greatest(n_words, 1), 6) AS top_word_fraction
            FROM b LEFT JOIN h USING (doc_id)
        """,
        "docs_pii_scrub": r"""
            WITH s AS (
              SELECT doc_id,
                     concat_ws(' ', 'contact', source || '.user@example.com', 'call',
                               '555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                               'from', CAST(doc_id % 256 AS VARCHAR) || '.0.0.1',
                               text) AS t
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(t, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                   substr(regexp_replace(
                            regexp_replace(
                              regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                              '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g'),
                            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                          1, 60) AS scrub_head
            FROM s
        """,
        "docs_quality": r"""
            WITH t AS (
              SELECT doc_id,
                     least(length(text) / 200.0, 1.0) AS length_score,
                     len(regexp_extract_all(text, '[^\w\s]')) / greatest(length(text), 1) AS punct_ratio,
                     len(list_distinct(list_intersect(
                         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
                         ['the','and','of','to','in','is','that','for','with','was']))) AS stop_hits
              FROM documents
            )
            SELECT doc_id,
                   round(length_score * (CASE WHEN punct_ratio > 0.2 THEN 0.5 ELSE 1.0 END)
                         * (0.5 + 0.5 * least(stop_hits / 3.0, 1.0)), 6) AS quality
            FROM t
        """,
        "emb_cosine_dedup": r"""
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings
            ), allv AS (
              SELECT vec_id, emb FROM base
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(emb, x -> x * 1.01) AS emb
              FROM base
            ), proj AS (
              SELECT vec_id, p, sum(w * q) AS psum
              FROM (
                SELECT b.vec_id, pr.range AS p, jr.range AS j,
                       ((CAST('0x' || substr(md5(CAST(pr.range AS VARCHAR) || ':' ||
                          CAST(jr.range AS VARCHAR)), 1, 15) AS BIGINT) & 1) * 2 - 1) AS w,
                       CAST(floor(emb[CAST(jr.range AS INT) + 1] * 1000000.0 + 0.5) AS BIGINT) AS q
                FROM allv b, range(8) pr, range(64) jr
              ) GROUP BY vec_id, p
            ), buck AS (
              SELECT vec_id,
                     string_agg(CASE WHEN psum > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
              FROM proj GROUP BY vec_id
            ), qv AS (
              SELECT b.vec_id, bucket,
                     list_transform(emb, x -> CAST(floor(x * 10000.0 + 0.5) AS BIGINT)) AS q
              FROM allv b JOIN buck USING (vec_id)
            ), qn AS (
              SELECT vec_id, bucket, q,
                     CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS n2
              FROM qv
            ), dropped AS (
              SELECT DISTINCT b.vec_id
              FROM qn a JOIN qn b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              WHERE CAST(list_dot_product(a.q, b.q) AS BIGINT) > 0
                AND CAST(CAST(list_dot_product(a.q, b.q) AS BIGINT) AS HUGEINT)
                    * CAST(list_dot_product(a.q, b.q) AS BIGINT) * 10000
                    >= 9025 * CAST(a.n2 AS HUGEINT) * b.n2
            )
            SELECT vec_id FROM allv
            WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        """,
        "docs_stratified_sample": r"""
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                  % 1000000
                  < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 1000000
                              WHEN 'de' THEN 250000 ELSE 100000 END
        """,
        "docs_group_cap": r"""
            WITH h AS (
              SELECT doc_id, lang, source,
                     CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 1000000 AS b
              FROM documents
            )
            SELECT doc_id, lang, source FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rn
              FROM h
            ) WHERE rn <= 5
        """,
        "docs_exact_dedup": r"""
            SELECT doc_id FROM (
              SELECT doc_id, text,
                     min(doc_id) OVER (PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS keeper
              FROM documents
            ) WHERE text IS NULL OR doc_id = keeper
        """,
        "docs_line_dedup": r"""
            WITH t AS (
              SELECT doc_id,
                     'MENU' || chr(10) || text || chr(10) || 'MENU' || chr(10)
                       || chr(10) || 'contact us' || chr(10) || chr(10) || 'contact us' AS text
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE array_to_string(
                               list_filter(string_split(text, chr(10)),
                                           (x, i) -> trim(x) = ''
                                             OR list_position(string_split(text, chr(10)), x) = i),
                               chr(10))
                   END AS text
            FROM t
        """,
        "events_retention": """
            WITH f AS (
              SELECT user_id, ts,
                     min(ts) OVER (PARTITION BY user_id) AS first_ts
              FROM events
            ), cells AS (
              SELECT DISTINCT
                     CAST(date_trunc('week', first_ts) AS DATE) AS cohort,
                     CAST(date_diff('day', date_trunc('week', first_ts),
                                    date_trunc('week', ts)) / 7 AS BIGINT) AS "offset",
                     user_id
              FROM f
            ), m AS (
              SELECT cohort, "offset", CAST(count(*) AS BIGINT) AS n_users
              FROM cells GROUP BY cohort, "offset"
            )
            SELECT cohort, "offset", n_users,
                   CAST(n_users AS DOUBLE) /
                   first(n_users) OVER (PARTITION BY cohort ORDER BY "offset") AS retention_rate
            FROM m
        """,
        "docs_substring_dedup": r"""
            WITH norm AS (
              SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS txt
              FROM documents
            ), pos AS (
              SELECT doc_id, txt,
                     unnest(range(1, greatest(len(txt) - 19, 0) + 1, 4)) AS i
              FROM norm
            ), g AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(substr(txt, CAST(i AS BIGINT), 20)), 1, 15) AS BIGINT) AS h
              FROM pos
            ), per_doc AS (
              SELECT doc_id, h, count(*) AS n_local FROM g GROUP BY doc_id, h
            ), dup AS (
              SELECT h FROM per_doc GROUP BY h HAVING count(*) >= 2
            ), dup_doc AS (
              SELECT doc_id, sum(n_local) AS n_dup FROM per_doc JOIN dup USING (h) GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, count(*) AS n_positions FROM g GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(t.n_positions, 0) AS BIGINT) AS n_positions,
                   CAST(coalesce(dd.n_dup, 0) AS BIGINT) AS n_dup_positions,
                   CASE WHEN t.n_positions IS NULL THEN NULL
                        ELSE CAST(coalesce(dd.n_dup, 0) AS DOUBLE) / t.n_positions
                   END AS dup_fraction
            FROM documents d
            LEFT JOIN tot t USING (doc_id)
            LEFT JOIN dup_doc dd USING (doc_id)
        """,
        "docs_domain_mix": r"""
            WITH t AS (
              SELECT doc_id, source,
                     coalesce(len(list_filter(regexp_split_to_array(text, '\s+'),
                                              x -> x != '')), 0) AS ntok,
                     CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
                     CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 600
                                 WHEN 'src2' THEN 400 ELSE 40 END AS quota
              FROM documents
            ), c AS (
              SELECT doc_id, source, quota,
                     sum(ntok) OVER (PARTITION BY source ORDER BY h, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
              FROM t
            )
            SELECT doc_id, source FROM c WHERE csum <= quota
        """,
        "docs_unigram_logprob": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                        x -> x != '')) AS tok
              FROM documents
            ), lm AS (
              SELECT tok, count(*) AS n FROM toks GROUP BY tok
            ), tot AS (
              SELECT CAST(sum(n) AS DOUBLE) AS nn FROM lm
            ), per AS (
              SELECT doc_id, tok, count(*) AS nl FROM toks GROUP BY doc_id, tok
            ), sc AS (
              SELECT p.doc_id,
                     sum(p.nl * ln(lm.n / tot.nn)) / sum(p.nl) AS lp
              FROM per p JOIN lm USING (tok), tot
              GROUP BY p.doc_id
            )
            SELECT d.doc_id, round(sc.lp, 6) + 0.0 AS avg_logprob
            FROM documents d LEFT JOIN sc USING (doc_id)
        """,
        "docs_domain_stats": r"""
            WITH t AS (
              SELECT doc_id,
                     text || ' https://Site' || CAST(doc_id % 7 AS VARCHAR)
                          || '.Example.com/p/' || CAST(doc_id AS VARCHAR)
                          || CASE WHEN doc_id % 5 = 0
                                  THEN ' http://www.spam.net/x.' ELSE '' END AS text
              FROM documents
            ), u AS (
              SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
              FROM t
            ), d AS (
              SELECT doc_id,
                     lower(regexp_extract(regexp_replace(url, '[.,;:!?)\]]+$', ''),
                                          'https?://(?:www\.)?([^/:?#\s]+)', 1)) AS domain
              FROM u
            ), per AS (
              SELECT doc_id, domain, count(*) AS n FROM d GROUP BY doc_id, domain
            )
            SELECT domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS n_urls
            FROM per GROUP BY domain
        """,
        "docs_quality_classifier": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                        x -> x != '')) AS tok
              FROM documents
            ), tb AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 4096 AS bucket
              FROM toks
            ), per AS (
              SELECT doc_id, bucket, count(*) AS n FROM tb GROUP BY doc_id, bucket
            ), w AS (
              SELECT doc_id, n,
                     (CAST(CAST('0x' || substr(md5(CAST(bucket AS VARCHAR)), 1, 15) AS BIGINT)
                           AS DOUBLE) / 1152921504606846976.0 - 0.5) * 4.0 AS wt
              FROM per
            ), sc AS (
              SELECT doc_id, sum(n * wt) / sum(n) AS z FROM w GROUP BY doc_id
            )
            SELECT d.doc_id, round(1.0 / (1.0 + exp(-sc.z)), 6) AS quality_prob
            FROM documents d LEFT JOIN sc USING (doc_id)
        """,
        "emb_covariance": """
            WITH e AS (
              SELECT list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS v
              FROM embeddings WHERE embedding IS NOT NULL
            ), n AS (
              SELECT count(*) AS nn FROM e
            ), p AS (
              SELECT CAST(i.range AS INT) - 1 AS i, CAST(j.range AS INT) - 1 AS j,
                     sum(e.v[CAST(i.range AS INT)] * e.v[CAST(j.range AS INT)]) AS sxy
              FROM e, range(1, 65) i, range(1, 65) j
              WHERE i.range <= j.range
              GROUP BY 1, 2
            ), m AS (
              SELECT CAST(i.range AS INT) - 1 AS k, sum(e.v[CAST(i.range AS INT)]) AS sx
              FROM e, range(1, 65) i GROUP BY 1
            )
            SELECT p.i, p.j,
                   round((CAST(p.sxy AS DOUBLE) / 1000000000000.0) / nn
                         - ((CAST(mi.sx AS DOUBLE) / 1000000.0) / nn)
                           * ((CAST(mj.sx AS DOUBLE) / 1000000.0) / nn), 6) + 0.0 AS cov
            FROM p, n
            JOIN m mi ON mi.k = p.i
            JOIN m mj ON mj.k = p.j
        """,
        "emb_cluster_balance": """
            WITH cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cell,
                     CAST(embedding AS DOUBLE[]) AS cvec
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
            ),
            c_assign AS (
              SELECT vec_id, CAST(cell AS INT) AS cluster_id FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC, c.cell
                       ) AS rn
                FROM embeddings e, cent c
              ) WHERE rn = 1
            ),
            h AS (
              SELECT vec_id, cluster_id,
                     CAST('0x' || substr(md5('42:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 1000000 AS b
              FROM c_assign
            )
            SELECT vec_id, cluster_id FROM (
              SELECT vec_id, cluster_id,
                     row_number() OVER (PARTITION BY cluster_id ORDER BY b, vec_id) AS rn
              FROM h
            ) WHERE rn <= 10
        """,
        "docs_pack": r"""
            WITH t AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split_regex(text, '\s+'),
                                          x -> x <> '')) AS BIGINT) AS n_tokens
              FROM documents
            ), o AS (
              SELECT doc_id, n_tokens,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS ordkey
              FROM t WHERE n_tokens > 0
            ), c AS (
              SELECT doc_id, n_tokens, ordkey,
                     sum(n_tokens) OVER (ORDER BY ordkey, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM o
            )
            SELECT doc_id, n_tokens,
                   CAST(floor((cum - 1) / 512) AS BIGINT) AS pack_id,
                   CAST(row_number() OVER (PARTITION BY CAST(floor((cum - 1) / 512) AS BIGINT)
                                           ORDER BY ordkey, doc_id) AS INT) AS pack_pos,
                   CAST((cum - n_tokens)
                     - min(cum - n_tokens) OVER (PARTITION BY CAST(floor((cum - 1) / 512) AS BIGINT))
                     AS BIGINT) AS pack_offset
            FROM c
        """,
        "events_funnel": """
            WITH s1 AS (
              SELECT user_id,
                     min(ts) FILTER (WHERE event_type = 'view') AS step_1
              FROM events GROUP BY user_id
            ), s2 AS (
              SELECT s1.user_id, s1.step_1, min(e.ts) AS step_2
              FROM s1 LEFT JOIN events e
                ON e.user_id = s1.user_id AND e.event_type = 'click'
               AND e.ts > s1.step_1
              GROUP BY s1.user_id, s1.step_1
            ), s3 AS (
              SELECT s2.user_id, s2.step_1, s2.step_2, min(e.ts) AS step_3
              FROM s2 LEFT JOIN events e
                ON e.user_id = s2.user_id AND e.event_type = 'purchase'
               AND e.ts > s2.step_2
              GROUP BY s2.user_id, s2.step_1, s2.step_2
            )
            SELECT user_id, step_1, step_2, step_3,
                   CASE WHEN step_1 IS NULL THEN 0
                        WHEN step_2 IS NULL THEN 1
                        WHEN step_3 IS NULL THEN 2
                        ELSE 3 END AS funnel_stage
            FROM s3
        """,
        "docs_decontaminate_ids": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                       x -> x <> '') AS w
              FROM documents
            ), trg AS (
              SELECT doc_id,
                     array_to_string(w[CAST(i AS BIGINT):CAST(i + 12 AS BIGINT)], ' ') AS g
              FROM toks t,
                   unnest(range(1, greatest(len(w) - 12, 1) + 1)) AS u(i)
            ), evg AS (
              SELECT DISTINCT
                     array_to_string(w[CAST(i AS BIGINT):CAST(i + 12 AS BIGINT)], ' ') AS g
              FROM (SELECT * FROM toks WHERE doc_id % 97 = 0) e,
                   unnest(range(1, greatest(len(w) - 12, 1) + 1)) AS u(i)
            )
            SELECT DISTINCT doc_id FROM trg WHERE g IN (SELECT g FROM evg)
        """,
        "docs_decontaminate": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                       x -> x <> '') AS w
              FROM documents
            ), trg AS (
              SELECT doc_id,
                     array_to_string(w[CAST(i AS BIGINT):CAST(i + 12 AS BIGINT)], ' ') AS g
              FROM toks t,
                   unnest(range(1, greatest(len(w) - 12, 1) + 1)) AS u(i)
            ), evg AS (
              SELECT DISTINCT
                     array_to_string(w[CAST(i AS BIGINT):CAST(i + 12 AS BIGINT)], ' ') AS g
              FROM (SELECT * FROM toks WHERE doc_id % 97 = 0) e,
                   unnest(range(1, greatest(len(w) - 12, 1) + 1)) AS u(i)
            ), contam AS (
              SELECT DISTINCT doc_id FROM trg WHERE g IN (SELECT g FROM evg)
            )
            SELECT t.doc_id, (c.doc_id IS NOT NULL) AS contaminated
            FROM (SELECT doc_id FROM documents) t
            LEFT JOIN contam c USING (doc_id)
        """,
        "emb_lsh_topk": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
            ), proj AS (
              SELECT vec_id, p, sum(w * q) AS psum
              FROM (
                SELECT e.vec_id, pr.range AS p, jr.range AS j,
                       ((CAST('0x' || substr(md5(CAST(pr.range AS VARCHAR) || ':' ||
                          CAST(jr.range AS VARCHAR)), 1, 15) AS BIGINT) & 1) * 2 - 1) AS w,
                       CAST(floor(emb[CAST(jr.range AS INT) + 1] * 1000000.0 + 0.5) AS BIGINT) AS q
                FROM e, range(8) pr, range(64) jr
              ) GROUP BY vec_id, p
            ), buck AS (
              SELECT vec_id,
                     string_agg(CASE WHEN psum > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
              FROM proj GROUP BY vec_id
            ), cand AS (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     list_cosine_similarity(ce.emb, qe.emb) AS cos
              FROM buck c
              JOIN buck q ON c.bucket = q.bucket AND q.vec_id < 5
              JOIN e ce ON ce.vec_id = c.vec_id
              JOIN e qe ON qe.vec_id = q.vec_id
            )
            SELECT query_id, vec_id, round(cos, 4) + 0.0 AS cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
            FROM cand QUALIFY rank <= 10
        """,
        "docs_simhash": r"""
            WITH norm AS (
              SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS txt
              FROM documents
            ), tok AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(txt, '\s+'), x -> x <> '')) AS t
              FROM norm
            ), hs AS (
              SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
            )
            SELECT doc_id, """
        + " + ".join(
            f"(CASE WHEN sum(((h >> {b}) & 1) * 2 - 1) > 0"
            f" THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for b in range(60)
        )
        + r""" AS simhash
            FROM hs GROUP BY doc_id
        """,
        "docs_gopher_filter": f"""
            WITH {_gopher_rules_ctes("documents")}
            SELECT doc_id, n_words, rule_word_count, rule_mean_word_len,
                   rule_symbol_ratio, rule_bullet_lines, rule_ellipsis_lines,
                   rule_alpha_words, rule_stopwords,
                   rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
                     AND rule_bullet_lines AND rule_ellipsis_lines
                     AND rule_alpha_words AND rule_stopwords AS gopher_pass
            FROM r
        """,
        "docs_dsir_weights": f"""
            WITH {_dsir_weight_ctes("documents")}
            SELECT doc_id, wgt AS dsir_logweight FROM dsw
        """,
        "events_zorder": r"""
            WITH r AS (
              SELECT min(CAST(user_id AS DOUBLE)) AS ulo,
                     max(CAST(user_id AS DOUBLE)) AS uhi,
                     min(CAST(value AS DOUBLE)) AS vlo,
                     max(CAST(value AS DOUBLE)) AS vhi
              FROM events
            ), b AS (
              SELECT event_id,
                     CAST(least(greatest(CASE WHEN uhi - ulo > 0
                          THEN floor((CAST(user_id AS DOUBLE) - ulo) / (uhi - ulo) * 255)
                          ELSE 0 END, 0), 255) AS BIGINT) AS bu,
                     CAST(least(greatest(CASE WHEN vhi - vlo > 0
                          THEN floor((CAST(value AS DOUBLE) - vlo) / (vhi - vlo) * 255)
                          ELSE 0 END, 0), 255) AS BIGINT) AS bv
              FROM events, r
            )
            SELECT event_id, CAST((((bu >> 0) & 1) << 1) + (((bv >> 0) & 1) << 0) + (((bu >> 1) & 1) << 3) + (((bv >> 1) & 1) << 2) + (((bu >> 2) & 1) << 5) + (((bv >> 2) & 1) << 4) + (((bu >> 3) & 1) << 7) + (((bv >> 3) & 1) << 6) + (((bu >> 4) & 1) << 9) + (((bv >> 4) & 1) << 8) + (((bu >> 5) & 1) << 11) + (((bv >> 5) & 1) << 10) + (((bu >> 6) & 1) << 13) + (((bv >> 6) & 1) << 12) + (((bu >> 7) & 1) << 15) + (((bv >> 7) & 1) << 14) AS BIGINT) AS zkey FROM b
        """,
        "events_profile": r"""
            SELECT 'event_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
                   round(min(CAST(event_id AS DOUBLE)), 6) + 0.0 AS min_value,
                   round(max(CAST(event_id AS DOUBLE)), 6) + 0.0 AS max_value,
                   round(avg(CAST(event_id AS DOUBLE)), 6) + 0.0 AS mean_value
            FROM events
            UNION ALL
            SELECT 'user_id', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT user_id) AS BIGINT),
                   round(min(CAST(user_id AS DOUBLE)), 6) + 0.0,
                   round(max(CAST(user_id AS DOUBLE)), 6) + 0.0,
                   round(avg(CAST(user_id AS DOUBLE)), 6) + 0.0
            FROM events
            UNION ALL
            SELECT 'event_type', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT event_type) AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM events
            UNION ALL
            SELECT 'value', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT value) AS BIGINT),
                   round(min(CAST(value AS DOUBLE)), 6) + 0.0,
                   round(max(CAST(value AS DOUBLE)), 6) + 0.0,
                   round(avg(CAST(value AS DOUBLE)), 6) + 0.0
            FROM events
        """,
        "emb_semantic_dedup": r"""
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings
            ), allv AS (
              SELECT vec_id, emb FROM base
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(emb, x -> x * 1.01) AS emb
              FROM base
            ), cent AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cell, emb AS cvec
              FROM (SELECT * FROM allv ORDER BY vec_id LIMIT 64)
            ), c_assign AS (
              SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cell,
                       row_number() OVER (
                         PARTITION BY v.vec_id
                         ORDER BY list_cosine_similarity(v.emb, c.cvec) DESC, c.cell
                       ) AS rn
                FROM allv v, cent c
              ) WHERE rn = 1
            ), qn AS (
              SELECT a.vec_id, a.cell,
                     list_transform(v.emb, x -> CAST(floor(x * 10000.0 + 0.5) AS BIGINT)) AS q
              FROM c_assign a JOIN allv v USING (vec_id)
            ), qn2 AS (
              SELECT vec_id, cell, q,
                     CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS n2
              FROM qn
            ), dropped AS (
              SELECT DISTINCT b.vec_id
              FROM qn2 a JOIN qn2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE CAST(list_dot_product(a.q, b.q) AS BIGINT) > 0
                AND CAST(CAST(list_dot_product(a.q, b.q) AS BIGINT) AS HUGEINT)
                    * CAST(list_dot_product(a.q, b.q) AS BIGINT) * 10000
                    >= 8100 * CAST(a.n2 AS HUGEINT) * b.n2
            )
            SELECT vec_id FROM allv
            WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        """,
        "events_anomaly": r"""
            WITH b AS (
              SELECT event_id, event_type, value, epoch_us(ts) AS tus,
                     CAST(floor(value * 1000 + 0.5) AS BIGINT) AS q
              FROM events
            ), wnd AS (
              SELECT event_id, value,
                     count(q) OVER w AS n,
                     sum(q) OVER w AS sq,
                     sum(q * q) OVER w AS sq2
              FROM b
              WINDOW w AS (PARTITION BY event_type ORDER BY tus
                           RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)
            ), m AS (
              SELECT event_id, value, n,
                     (CAST(sq AS DOUBLE) / 1000.0) / n AS mean,
                     (CAST(sq2 AS DOUBLE) / 1000000.0) / n
                       - ((CAST(sq AS DOUBLE) / 1000.0) / n)
                         * ((CAST(sq AS DOUBLE) / 1000.0) / n) AS var
              FROM wnd
            ), z AS (
              SELECT event_id, n, mean,
                     CASE WHEN var > 0
                          THEN round((value - mean) / sqrt(var), 6) + 0.0 END AS z_score
              FROM m
            )
            -- NULL-ts rows pass through unjudged (engine mirror: they
            -- would otherwise share one NULL-tus RANGE peer frame)
            SELECT z.event_id,
                   CASE WHEN e.ts IS NOT NULL THEN CAST(n AS BIGINT) END AS w_n,
                   CASE WHEN e.ts IS NOT NULL THEN round(mean, 6) + 0.0 END AS w_mean,
                   CASE WHEN e.ts IS NOT NULL THEN z_score END AS z_score,
                   coalesce(e.ts IS NOT NULL AND n >= 10
                            AND z_score IS NOT NULL AND z_score > 2.0,
                            FALSE) AS is_anomaly
            FROM z JOIN events e ON z.event_id = e.event_id
        """,
        "docs_assign_ids": r"""
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY md5(text), doc_id) - 1
                        AS BIGINT) AS stable_id
            FROM documents
        """,
        "docs_curation_e2e": f"""
            WITH {_gopher_rules_ctes("documents")}, gp AS (
              SELECT doc_id FROM r
              WHERE rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
                AND rule_bullet_lines AND rule_ellipsis_lines
                AND rule_alpha_words AND rule_stopwords
            ), kept AS (
              SELECT d.* FROM documents d JOIN gp USING (doc_id)
            ), nrm AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
              FROM kept
            ), dd AS (
              SELECT k.* FROM kept k JOIN (
                SELECT doc_id FROM (
                  SELECT doc_id, min(doc_id) OVER (PARTITION BY nt) AS keeper FROM nrm
                ) WHERE doc_id = keeper
              ) s USING (doc_id)
            ), {_dsir_weight_ctes("dd")}, sel AS (
              SELECT doc_id FROM dsw ORDER BY wgt DESC, doc_id LIMIT 100
            ), tok AS (
              SELECT s.doc_id,
                     CAST(len(list_filter(string_split_regex(d.text, '\\s+'),
                                          x -> x <> '')) AS BIGINT) AS n_tokens
              FROM sel s JOIN documents d USING (doc_id)
            ), o AS (
              SELECT doc_id, n_tokens,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS ordkey
              FROM tok WHERE n_tokens > 0
            ), c AS (
              SELECT doc_id, n_tokens, ordkey,
                     sum(n_tokens) OVER (ORDER BY ordkey, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM o
            )
            SELECT doc_id, n_tokens,
                   CAST(floor((cum - 1) / 512) AS BIGINT) AS pack_id,
                   CAST(row_number() OVER (PARTITION BY CAST(floor((cum - 1) / 512) AS BIGINT)
                                           ORDER BY ordkey, doc_id) AS INT) AS pack_pos,
                   CAST((cum - n_tokens)
                     - min(cum - n_tokens) OVER (PARTITION BY CAST(floor((cum - 1) / 512) AS BIGINT))
                     AS BIGINT) AS pack_offset
            FROM c
        """,
        "docs_winnow_overlap": f"""
            WITH fps AS ({_winnow_fps_sql("documents WHERE text IS NOT NULL", 10, 8)}
            ), kept AS (
              SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100
            ), kfps AS (
              SELECT f.doc_id, f.fp FROM fps f JOIN kept USING (fp)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM kfps a JOIN kfps b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 5
        """,
        "docs_bigram_ppl": f"""
            WITH {_bigram_scored_ctes()}
            SELECT d.doc_id, round(s.lp, 6) + 0.0 AS avg_bigram_logprob
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "docs_ccnet_buckets": f"""
            WITH {_bigram_scored_ctes()}, lp AS (
              SELECT d.doc_id, d.lang, round(s.lp, 6) + 0.0 AS avg_bigram_logprob
              FROM documents d LEFT JOIN scored s USING (doc_id)
            ), ranked AS (
              SELECT lang, avg_bigram_logprob AS v,
                     row_number() OVER (PARTITION BY lang ORDER BY avg_bigram_logprob) AS rn,
                     count(avg_bigram_logprob) OVER (PARTITION BY lang) AS n
              FROM lp WHERE avg_bigram_logprob IS NOT NULL
            ), cuts AS (
              SELECT lang,
                     max(CASE WHEN rn = CAST(round((1.0/3.0) * (n-1)) AS BIGINT) + 1 THEN v END) AS cut_lo,
                     max(CASE WHEN rn = CAST(round((2.0/3.0) * (n-1)) AS BIGINT) + 1 THEN v END) AS cut_hi
              FROM ranked GROUP BY lang
            )
            SELECT l.doc_id, l.avg_bigram_logprob,
                   CASE WHEN l.avg_bigram_logprob IS NULL THEN NULL
                        WHEN c.cut_lo IS NULL THEN NULL
                        WHEN l.avg_bigram_logprob >= c.cut_hi THEN 'head'
                        WHEN l.avg_bigram_logprob >= c.cut_lo THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM lp l LEFT JOIN cuts c USING (lang)
        """,
        "docs_winnow_contains": f"""
            WITH cf AS ({_winnow_fps_sql("documents WHERE text IS NOT NULL AND doc_id % 2 = 0", 10, 8)}
            ), kept AS (
              SELECT fp FROM cf GROUP BY fp HAVING count(*) <= 500
            ), cfk AS (
              SELECT c.doc_id, c.fp FROM cf c JOIN kept USING (fp)
            ), pf AS ({_winnow_fps_sql("documents WHERE text IS NOT NULL AND doc_id % 10 = 1", 10, 8)}
            )
            SELECT c.doc_id, p.doc_id AS probe_id,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM cfk c JOIN pf p ON c.fp = p.fp
            GROUP BY c.doc_id, p.doc_id
            HAVING count(*) >= 3
        """,
        "docs_shuffle_shards": """
            WITH o AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
              FROM documents
            ), r AS (
              SELECT doc_id, row_number() OVER (ORDER BY h, doc_id) - 1 AS rnk FROM o
            )
            SELECT doc_id, CAST(rnk % 8 AS INT) AS shard_id,
                   CAST(rnk // 8 AS BIGINT) AS pos_in_shard
            FROM r
        """,
        "docs_ccnet_e2e": f"""
            WITH {_gopher_rules_ctes("documents")}, keep AS (
              SELECT doc_id FROM r
              WHERE rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
                AND rule_bullet_lines AND rule_ellipsis_lines
                AND rule_alpha_words AND rule_stopwords
            ), surv AS (
              SELECT d.* FROM documents d JOIN keep USING (doc_id)
            ), {_bigram_scored_ctes("surv")}, lp AS (
              SELECT s2.doc_id, s2.lang, round(s.lp, 6) + 0.0 AS lpv
              FROM surv s2 LEFT JOIN scored s USING (doc_id)
            ), rankedq AS (
              SELECT lang, lpv,
                     row_number() OVER (PARTITION BY lang ORDER BY lpv) AS rn,
                     count(lpv) OVER (PARTITION BY lang) AS n
              FROM lp WHERE lpv IS NOT NULL
            ), cuts AS (
              SELECT lang,
                     max(CASE WHEN rn = CAST(round((1.0/3.0) * (n-1)) AS BIGINT) + 1 THEN lpv END) AS cut_lo,
                     max(CASE WHEN rn = CAST(round((2.0/3.0) * (n-1)) AS BIGINT) + 1 THEN lpv END) AS cut_hi
              FROM rankedq GROUP BY lang
            ), selk AS (
              SELECT l.doc_id, l.lang,
                     CASE WHEN l.lpv >= c.cut_hi THEN 'head'
                          WHEN l.lpv >= c.cut_lo THEN 'middle'
                          ELSE 'tail' END AS ppl_bucket
              FROM lp l LEFT JOIN cuts c USING (lang)
              WHERE l.lpv IS NOT NULL
                AND (CASE WHEN l.lpv >= c.cut_hi THEN 'head'
                          WHEN l.lpv >= c.cut_lo THEN 'middle'
                          ELSE 'tail' END) IN ('head', 'middle')
            ), cf AS ({_winnow_fps_sql(
                "(SELECT d.doc_id, d.text FROM documents d JOIN selk USING (doc_id)) src WHERE text IS NOT NULL",
                12, 8)}
            ), kept2 AS (
              SELECT fp FROM cf GROUP BY fp HAVING count(*) <= 500
            ), cfk AS (
              SELECT c.doc_id, c.fp FROM cf c JOIN kept2 USING (fp)
            ), pf AS ({_winnow_fps_sql(
                "documents WHERE text IS NOT NULL AND doc_id % 97 = 3", 12, 8)}
            ), cont AS (
              SELECT DISTINCT c.doc_id FROM cfk c JOIN pf p ON c.fp = p.fp
              GROUP BY c.doc_id, p.doc_id HAVING count(*) >= 10
            ), clean AS (
              SELECT * FROM selk
              WHERE doc_id NOT IN (SELECT doc_id FROM cont)
            ), ordr AS (
              SELECT doc_id, lang, ppl_bucket,
                     CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
              FROM clean
            ), rr AS (
              SELECT doc_id, lang, ppl_bucket,
                     row_number() OVER (ORDER BY hk, doc_id) - 1 AS rnk
              FROM ordr
            )
            SELECT doc_id, lang, ppl_bucket,
                   CAST(rnk % 8 AS INT) AS shard_id,
                   CAST(rnk // 8 AS BIGINT) AS pos_in_shard
            FROM rr
        """,
        "docs_corpus_diff": r"""
            WITH o AS (
              SELECT doc_id, source,
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt,
                     coalesce(length(text), 0) AS len
              FROM documents WHERE doc_id % 7 <> 0
            ), n0 AS (
              SELECT doc_id, source,
                     CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
              FROM documents WHERE doc_id % 5 <> 0
            ), n AS (
              SELECT doc_id, source,
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt,
                     coalesce(length(text), 0) AS len
              FROM n0
            ), j AS (
              SELECT coalesce(n.source, o.source) AS grp,
                     CASE WHEN o.doc_id IS NULL THEN 'added'
                          WHEN n.doc_id IS NULL THEN 'removed'
                          WHEN o.nt IS DISTINCT FROM n.nt THEN 'changed'
                          ELSE 'unchanged' END AS st,
                     coalesce(o.len, 0) AS lo, coalesce(n.len, 0) AS ln
              FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
            )
            SELECT grp AS "group",
                   CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                   CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                   CAST(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                   CAST(sum(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
                   CAST(sum(CASE WHEN st IN ('added', 'changed') THEN ln ELSE 0 END) AS BIGINT) AS chars_added,
                   CAST(sum(CASE WHEN st IN ('removed', 'changed') THEN lo ELSE 0 END) AS BIGINT) AS chars_removed
            FROM j GROUP BY grp
        """,
        "docs_bpe_tokens": """
            SELECT g.doc_id, g.n_bpe_tokens
            FROM read_parquet('/root/repo/tests/golden/bpe_tokens_golden.parquet') g
            WHERE g.corpus_chars = (SELECT sum(length(text)) FROM documents)
        """,
        "multimodal_frames": r"""
            WITH p AS (
              SELECT doc_id,
                     least(CAST(floor(octet_length(encode(text)) / 10) AS INT) + 1,
                           4) AS n_frames
              FROM documents
            )
            SELECT doc_id,
                   CAST(u.i AS INT) AS frame_index,
                   CAST(u.i * 10 AS INT) AS source_frame
            FROM p, unnest(generate_series(0, p.n_frames - 1)) AS u(i)
        """,
        "docs_validate": r"""
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT 0, 'dup of doc zero'
              UNION ALL SELECT NULL, 'no id'
              UNION ALL SELECT 999999, repeat('x', 2001)
            ), agg AS (
              SELECT
                CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_id,
                CAST(count(CASE WHEN doc_id IS NOT NULL THEN 1 END)
                     - count(DISTINCT doc_id) AS BIGINT) AS duplicate_id,
                CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
                CAST(sum(CASE WHEN length(text) > 2000 THEN 1 ELSE 0 END) AS BIGINT) AS oversize_text
              FROM all_docs
            ), melted AS (
              SELECT 'null_id' AS rule, null_id AS n_violations FROM agg
              UNION ALL SELECT 'duplicate_id', duplicate_id FROM agg
              UNION ALL SELECT 'null_text', null_text FROM agg
              UNION ALL SELECT 'oversize_text', oversize_text FROM agg
            )
            SELECT rule, n_violations FROM melted WHERE n_violations > 0
            ORDER BY rule
        """,
        "docs_corpus_report": r"""
            WITH t AS (
              SELECT doc_id, source,
                     len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> x != '')) AS ntok,
                     len(text) AS nchar,
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
                     list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                               x -> x <> '')) AS toks
              FROM documents
            ), l AS (
              SELECT source,
                     CASE WHEN fr_h > 0 AND fr_h >= es_h AND fr_h >= en_h AND fr_h >= de_h THEN 'fr'
                          WHEN es_h > 0 AND es_h >= en_h AND es_h >= de_h THEN 'es'
                          WHEN en_h > 0 AND en_h >= de_h THEN 'en'
                          WHEN de_h > 0 THEN 'de'
                          ELSE 'und' END AS lang_pred
              FROM (
                SELECT source,
                       len(list_intersect(toks, ['the','and','of','to','in','is','that','for','with','was'])) AS en_h,
                       len(list_intersect(toks, ['der','die','und','das','ist','nicht','ein','mit','für','von'])) AS de_h,
                       len(list_intersect(toks, ['le','la','et','les','des','est','pas','pour','que','une'])) AS fr_h,
                       len(list_intersect(toks, ['el','la','de','que','los','las','una','por','con','para'])) AS es_h
                FROM t
              )
            ), g AS (
              SELECT source, norm, count(*) AS n, sum(ntok) AS tok, sum(nchar) AS ch
              FROM t GROUP BY source, norm
            ), pg AS (
              SELECT source,
                     CAST(sum(n) AS BIGINT) AS n_docs,
                     CAST(sum(tok) AS BIGINT) AS n_tokens,
                     CAST(sum(ch) AS BIGINT) AS n_chars,
                     CAST(sum(CASE WHEN norm IS NOT NULL THEN n ELSE 0 END)
                          - sum(CASE WHEN norm IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_exact_dups
              FROM g GROUP BY source
            ), lc AS (
              SELECT source, lang_pred, count(*) AS ln FROM l GROUP BY 1, 2
            ), top AS (
              SELECT source, lang_pred AS top_lang FROM (
                SELECT source, lang_pred,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY ln DESC, lang_pred DESC) AS rn
                FROM lc
              ) WHERE rn = 1
            )
            SELECT pg.source, pg.n_docs, pg.n_tokens, pg.n_chars, pg.n_exact_dups,
                   CAST(pg.n_exact_dups AS DOUBLE) / pg.n_docs AS dup_rate,
                   top.top_lang
            FROM pg JOIN top USING (source)
        """,
        "emb_quantize": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), s AS (
              SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
              FROM e
            )
            SELECT vec_id,
                   coalesce(sc, 0.0) AS qscale,
                   CAST(i.range - 1 AS INT) AS pos,
                   CAST(CASE WHEN sc > 0
                             THEN least(greatest(round(v[CAST(i.range AS BIGINT)] / sc),
                                                 -128.0), 127.0)
                             ELSE 0 END AS INT) AS qval
            FROM s, range(1, 65) i
            WHERE v IS NOT NULL
        """,
        "docs_pmi": r"""
            WITH toks AS (
              SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                          x -> x != '')) AS tok
                FROM documents
              )
            ), n AS (
              SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nn FROM toks
            ), d AS (
              SELECT tok, count(*) AS df FROM toks GROUP BY tok
            ), p AS (
              SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
              FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
              GROUP BY 1, 2 HAVING count(*) >= 50
            )
            SELECT p.tok_a, p.tok_b,
                   CAST(p.n_ab AS BIGINT) AS n_ab,
                   CAST(da.df AS BIGINT) AS df_a,
                   CAST(db.df AS BIGINT) AS df_b,
                   round(ln(p.n_ab * n.nn / (da.df * CAST(db.df AS DOUBLE))), 6) + 0.0 AS pmi
            FROM p, n
            JOIN d da ON da.tok = p.tok_a
            JOIN d db ON db.tok = p.tok_b
        """,
        "events_transitions": """
            WITH o AS (
              SELECT user_id, event_type,
                     lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS prev
              FROM events
            )
            SELECT prev AS from_type, event_type AS to_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM o WHERE prev IS NOT NULL
            GROUP BY prev, event_type
        """,
        "events_keep_latest": """
            SELECT event_id, user_id, event_type, ts FROM (
              SELECT event_id, user_id, event_type, ts,
                     row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC NULLS LAST, event_id DESC
                     ) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "docs_chunk": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS toks
              FROM documents
            ), c AS (
              SELECT doc_id, toks,
                     coalesce(CASE WHEN len(toks) <= 16 THEN 1
                                   ELSE CAST(ceil((len(toks) - 16) / 12.0) AS INT) + 1
                              END, 1) AS n_chunks
              FROM t
            ), e AS (
              SELECT doc_id, toks, unnest(range(0, n_chunks)) AS cid FROM c
            ), s AS (
              SELECT doc_id, CAST(cid AS INT) AS chunk_id,
                     list_slice(toks, CAST(cid*12 + 1 AS BIGINT), CAST(cid*12 + 16 AS BIGINT)) AS w
              FROM e
            )
            SELECT doc_id, chunk_id,
                   CASE WHEN len(w) > 0 THEN array_to_string(w, ' ') END AS chunk_text,
                   CAST(coalesce(len(w), 0) AS INT) AS chunk_tokens
            FROM s
        """,
        "docs_incremental_dedup": r"""
            WITH """ + _minhash_bands_sql() + r""", hits AS (
              SELECT DISTINCT nb.doc_id
              FROM bands nb
              JOIN bands cb ON nb.bucket = cb.bucket AND cb.doc_id % 2 = 0
              WHERE nb.doc_id % 2 = 1
            )
            SELECT d.doc_id, (h.doc_id IS NOT NULL) AS dup_of_corpus
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 2 = 1
        """,
        "docs_minhash_dedup": r"""
            WITH """ + _minhash_bands_poly_sql() + r""", reps AS (
              SELECT bucket, min(doc_id) AS rep FROM bands GROUP BY bucket
            ), doc_rep AS (
              SELECT b.doc_id, min(r.rep) AS rep
              FROM bands b JOIN reps r USING (bucket) GROUP BY b.doc_id
            )
            SELECT doc_id FROM doc_rep WHERE doc_id = rep
            UNION ALL SELECT doc_id FROM documents WHERE text IS NULL
        """,
        "docs_bigdoc_winnow": _bigdoc_winnow_oracle_sql(k=10, w=8),
        "docs_bigdoc_wordgrams": _bigdoc_wordgrams_oracle_sql(n=13),
        "docs_bigdoc_bigrams": _bigdoc_bigrams_oracle_sql(rep=20000),
        "docs_bigdoc_dsir_buckets": _bigdoc_dsir_buckets_oracle_sql(
            rep=20000, n_buckets=8192
        ),
        "docs_bigdoc_minhash": r"""
            WITH """ + _BIGDOC_PER_SQL + r""", src AS (
              -- period prefix: the distinct shingle set of the 5 MB
              -- periodic bigdoc (see _BIGDOC_PER_SQL note)
              SELECT doc_id, v || ' ' || substr(v, 1, 4) AS text FROM per
            ), """ + _minhash_bands_poly_sql("src", k=5, normalize=False) + r""", reps AS (
              SELECT bucket, min(doc_id) AS rep FROM bands GROUP BY bucket
            ), doc_rep AS (
              SELECT b.doc_id, min(r.rep) AS rep
              FROM bands b JOIN reps r USING (bucket) GROUP BY b.doc_id
            )
            SELECT doc_id FROM doc_rep WHERE doc_id = rep
        """,
        "docs_semantic_search": r"""
            WITH q AS (
              SELECT doc_id,
                     (least(length(text) / 200.0, 1.0)
                      * (CASE WHEN len(regexp_extract_all(text, '[^\w\s]')) / greatest(length(text), 1) > 0.2
                              THEN 0.5 ELSE 1.0 END)
                      * (0.5 + 0.5 * least(len(list_distinct(list_intersect(
                            list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
                            ['the','and','of','to','in','is','that','for','with','was']))) / 3.0, 1.0))
                     ) AS quality
              FROM documents
            ), corpus AS (
              SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb
              FROM embeddings e JOIN q ON q.doc_id = e.vec_id
              WHERE q.quality >= 0.5
            ), qv AS (
              SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings WHERE vec_id < 3
            )
            SELECT qv.query_id, c.vec_id,
                   round(list_cosine_similarity(c.emb, qv.emb), 4) + 0.0 AS cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY qv.query_id
                     ORDER BY list_cosine_similarity(c.emb, qv.emb) DESC, c.vec_id) AS INT) AS rank
            FROM corpus c, qv
            QUALIFY rank <= 5
        """,
        "docs_tfidf": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
              FROM documents
            ), tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
            ), dfreq AS (
              SELECT tok, count(*) AS df FROM tf GROUP BY tok HAVING count(*) >= 2
            ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
            SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
                   round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf_r
            FROM tf JOIN dfreq USING (tok), n
        """,
        "docs_corpus_prep": r"""
            WITH base AS (
              SELECT doc_id, text,
                     CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
                     (least(length(text) / 200.0, 1.0)
                      * (CASE WHEN len(regexp_extract_all(text, '[^\w\s]')) / greatest(length(text), 1) > 0.2
                              THEN 0.5 ELSE 1.0 END)
                      * (0.5 + 0.5 * least(len(list_distinct(list_intersect(
                            list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
                            ['the','and','of','to','in','is','that','for','with','was']))) / 3.0, 1.0))
                     ) AS quality
              FROM documents
            ), filt AS (
              SELECT * FROM base WHERE quality >= 0.2 AND n_tokens >= 5
            ), ded AS (
              SELECT doc_id, text, n_tokens, quality FROM (
                SELECT *, min(doc_id) OVER (
                  PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS keeper
                FROM filt
              ) WHERE doc_id = keeper
            ), """ + _minhash_bands_sql("ded") + r""", reps AS (
              SELECT bucket, min(doc_id) AS rep FROM bands GROUP BY bucket
            ), doc_rep AS (
              SELECT b.doc_id, min(r.rep) AS rep
              FROM bands b JOIN reps r USING (bucket) GROUP BY b.doc_id
            ), final AS (
              SELECT d.* FROM ded d JOIN (
                SELECT doc_id FROM doc_rep WHERE doc_id = rep) s USING (doc_id)
            ), langtok AS (
              SELECT doc_id,
                     list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS toks
              FROM final
            ), langh AS (
              SELECT doc_id,
                     len(list_intersect(toks, ['the','and','of','to','in','is','that','for','with','was'])) AS en_h,
                     len(list_intersect(toks, ['der','die','und','das','ist','nicht','ein','mit','für','von'])) AS de_h,
                     len(list_intersect(toks, ['le','la','et','les','des','est','pas','pour','que','une'])) AS fr_h,
                     len(list_intersect(toks, ['el','la','de','que','los','las','una','por','con','para'])) AS es_h
              FROM langtok
            ), lang AS (
              SELECT doc_id,
                     CASE WHEN fr_h > 0 AND fr_h >= es_h AND fr_h >= en_h AND fr_h >= de_h THEN 'fr'
                          WHEN es_h > 0 AND es_h >= en_h AND es_h >= de_h THEN 'es'
                          WHEN en_h > 0 AND en_h >= de_h THEN 'en'
                          WHEN de_h > 0 THEN 'de'
                          ELSE 'und' END AS lang_pred
              FROM langh
            )
            SELECT f.doc_id, f.n_tokens, round(f.quality, 6) AS quality_r,
                   l.lang_pred,
                   CAST(least(CAST(floor(f.quality * 10) AS INT), 9) AS INT) AS quality_bucket
            FROM final f JOIN lang l USING (doc_id)
        """,
        "docs_minhash_transitive": r"""
            WITH RECURSIVE """ + _minhash_bands_sql() + r""", edges AS (
              SELECT a.doc_id AS src, b.doc_id AS dst
              FROM bands a JOIN bands b USING (bucket)
              WHERE a.doc_id <> b.doc_id
            ), reach(id, r) AS (
              SELECT DISTINCT doc_id, doc_id FROM bands
              UNION
              SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
            )
            SELECT id AS doc_id FROM reach GROUP BY id HAVING id = min(r)
        """,
        "docs_lang_id": r"""
            WITH t AS (
              SELECT doc_id,
                     list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS toks
              FROM documents
            ), h AS (
              SELECT doc_id,
                     len(list_intersect(toks, ['the','and','of','to','in','is','that','for','with','was'])) AS en_h,
                     len(list_intersect(toks, ['der','die','und','das','ist','nicht','ein','mit','für','von'])) AS de_h,
                     len(list_intersect(toks, ['le','la','et','les','des','est','pas','pour','que','une'])) AS fr_h,
                     len(list_intersect(toks, ['el','la','de','que','los','las','una','por','con','para'])) AS es_h
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN fr_h > 0 AND fr_h >= es_h AND fr_h >= en_h AND fr_h >= de_h THEN 'fr'
                        WHEN es_h > 0 AND es_h >= en_h AND es_h >= de_h THEN 'es'
                        WHEN en_h > 0 AND en_h >= de_h THEN 'en'
                        WHEN de_h > 0 THEN 'de'
                        ELSE 'und' END AS lang_pred
            FROM h
        """,
        "docs_top_tokens": r"""
            SELECT tok, count(*) AS n FROM documents,
                   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS u(tok)
            GROUP BY tok ORDER BY n DESC, tok LIMIT 50
        """,
        "docs_jaccard_pairs": r"""
            WITH t AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(toks) - 2, 1) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')
                     )) AS grams
              FROM (
                SELECT doc_id,
                       list_filter(string_split_regex(
                         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'
                       ), x -> x <> '') AS toks
                FROM documents
              )
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_distinct(list_intersect(a.grams, b.grams)))
                     / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE len(list_distinct(list_intersect(a.grams, b.grams)))
                    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.3
        """,
        "emb_topk_cosine": """
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                     CAST(q.embedding AS DOUBLE[])) DESC,
                              c.vec_id) AS INT) AS rank
            FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
            QUALIFY rank <= 10
        """,
        "emb_label_stats": """
            SELECT label, count(*) AS n_vecs,
                   CAST(sum(CAST(round(sqrt(list_sum(list_transform(
                        CAST(embedding AS DOUBLE[]), x -> x * x))), 8) AS DECIMAL(18,8))) AS DOUBLE) AS sum_norm
            FROM embeddings GROUP BY label
        """,
        "multimodal_decode": f"""
            SELECT doc_id,
                   'application/octet-stream' AS media_type,
                   CAST(NULL AS INT) AS width,
                   CAST(NULL AS INT) AS height,
                   {byte_at(0)} / 255.0 AS f0,
                   {byte_at(1)} / 255.0 AS f1
            FROM documents
        """,
        **_tpch_suite.ORACLES,
    }
    # The Arrow-assignment SemDeDup computes the identical survivor set
    # on data without last-ulp argmax ties (verified hof==arrow at
    # sf0.001/0.01/0.1), so it shares the HOF query's oracle verbatim.
    d["emb_semantic_dedup_arrow"] = d["emb_semantic_dedup"]
    # The bucketed decomposition reproduces the plain window's frames
    # exactly (boundary context rows), so it shares the oracle too.
    d["events_anomaly_bucketed"] = d["events_anomaly"]
    # Same-semantics twins share ONE oracle string (a duplicated copy
    # would silently drift when the original is fixed): the distributed
    # cumulative-window quantiles compute the same nearest-rank values
    # as the sorted-array implementation, and the Arrow/BLAS top-k is
    # the same exact top-k as the expression path.
    d["meds_quantiles_distributed"] = d["meds_agg_quantiles"]
    d["emb_topk_vectorized"] = d["emb_topk_cosine"]
    return d

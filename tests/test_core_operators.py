"""Operator-level semantics tests, modeled on the reference's doctest
layer (SURVEY §5.1): small in-memory frames, exact expected outputs."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from meds_transforms_spark.operators.aggregate_code_metadata import (
    aggregate_code_metadata,
    join_and_replace,
)
from meds_transforms_spark.operators.filter_measurements import filter_measurements
from meds_transforms_spark.operators.filter_subjects import filter_subjects
from meds_transforms_spark.operators.fit_vocabulary_indices import fit_vocabulary_indices
from meds_transforms_spark.operators.normalization import normalization
from meds_transforms_spark.operators.occlude_outliers import occlude_outliers


def test_filter_subjects_min_events(meds_df):
    # Polars n_unique counts NULL time as one distinct value (reference
    # doctest filter_subjects.py:170-180 keeps [None,None,1,2,3] at
    # min=4), so s1=5 events, s2=4, s3=3 (each has static null rows).
    out = filter_subjects(meds_df, min_events_per_subject=5)
    assert set(r.subject_id for r in out.select("subject_id").distinct().collect()) == {1}
    out4 = filter_subjects(meds_df, min_events_per_subject=4)
    assert set(r.subject_id for r in out4.select("subject_id").distinct().collect()) == {1, 2}


def test_filter_subjects_null_time_counts_as_event(spark):
    # Mirror of the reference doctest (filter_subjects.py:104-193):
    # subject 4 = [None, None, 1, 2, 3] survives min=4, dies at min=5.
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA
    from tests.conftest import ts

    rows = [
        (4, None, "C", None, None),
        (4, None, "C", None, None),
        (4, ts("2020-01-01T00:00:00"), "C", None, None),
        (4, ts("2020-01-02T00:00:00"), "C", None, None),
        (4, ts("2020-01-03T00:00:00"), "C", None, None),
    ]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    assert filter_subjects(df, min_events_per_subject=4).count() == 5
    assert filter_subjects(df, min_events_per_subject=5).count() == 0


def test_filter_subjects_min_measurements(meds_df):
    # non-null-time rows: s1=7, s2=4, s3=2
    out = filter_subjects(meds_df, min_measurements_per_subject=4)
    assert set(r.subject_id for r in out.select("subject_id").distinct().collect()) == {1, 2}


def test_aggregate_code_metadata_basic(meds_df):
    out = aggregate_code_metadata(
        meds_df,
        aggregations=[
            "code/n_subjects",
            "code/n_occurrences",
            "values/n_occurrences",
            "values/sum",
            "values/sum_sqd",
            "values/min",
            "values/max",
        ],
    )
    stats = {r["code"]: r.asDict() for r in out.collect()}
    hr = stats["HR"]
    # subject 3's HR is NaN → excluded from values/* but counted in code/*
    assert hr["code/n_subjects"] == 3
    assert hr["code/n_occurrences"] == 4
    assert hr["values/n_occurrences"] == 3
    assert math.isclose(hr["values/sum"], 102.6 + 105.1 + 142.0, rel_tol=1e-5)
    assert math.isclose(hr["values/min"], 102.6, rel_tol=1e-6)
    assert math.isclose(hr["values/max"], 142.0, rel_tol=1e-6)


def test_aggregate_quantiles_nearest(spark):
    rows = [(1, None, "X", float(v), None) for v in [1, 2, 3, 4, 100]]
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    out = aggregate_code_metadata(
        df, aggregations=[{"name": "values/quantiles", "quantiles": [0.5]}]
    ).collect()[0]
    # nearest-rank median of [1,2,3,4,100] = 3
    assert out["values/quantiles"]["values/quantile/0.5"] == 3.0


def test_rollup_grand_total(meds_df):
    out = aggregate_code_metadata(
        meds_df,
        aggregations=["code/n_occurrences"],
        do_summarize_over_all_codes=True,
    )
    rows = {r["code"]: r["code/n_occurrences"] for r in out.collect()}
    assert rows[None] == meds_df.count()


def test_filter_measurements_semi_join(meds_df):
    meta = aggregate_code_metadata(
        meds_df, aggregations=["code/n_subjects", "code/n_occurrences"]
    )
    out = filter_measurements(meds_df, meta, min_subjects_per_code=3)
    # only HR (3 subjects) and MEDS_BIRTH (3) and EYE_COLOR//BROWN (2)...
    kept = set(r.code for r in out.select("code").distinct().collect())
    assert kept == {"HR", "MEDS_BIRTH"}


def test_occlude_outliers(spark):
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    rows = [(1, None, "X", float(v), None) for v in [10.0, 10.0, 10.0, 10.0, 1000.0]]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    meta = aggregate_code_metadata(
        df, aggregations=["values/n_occurrences", "values/sum", "values/sum_sqd"]
    )
    out = occlude_outliers(df, meta, stddev_cutoff=1.0).collect()
    vals = sorted((r.numeric_value is None, r["numeric_value/is_inlier"]) for r in out)
    # the 1000.0 row is occluded
    assert (True, False) in vals
    assert sum(1 for v in vals if v[1] is True) == 4


def test_fit_vocabulary_indices(spark):
    meta = spark.createDataFrame(
        [("TEMP",), ("HR",), ("ADMISSION//CARDIAC",)], "code string"
    )
    out = {r.code: r["code/vocab_index"] for r in fit_vocabulary_indices(meta).collect()}
    assert out == {"ADMISSION//CARDIAC": 1, "HR": 2, "TEMP": 3}


def test_normalization_zscore(spark):
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    rows = [(1, None, "X", 8.0, None), (1, None, "X", 12.0, None), (1, None, "Y", 5.0, None)]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    meta = aggregate_code_metadata(
        df, aggregations=["values/n_occurrences", "values/sum", "values/sum_sqd"]
    )
    meta = fit_vocabulary_indices(meta)
    out = normalization(df, meta)
    got = sorted((r.code, r.numeric_value) for r in out.collect())
    # X: mean 10, std 2 → ±1; Y: std 0 → NaN (the reference's unguarded
    # (v-mean)/std: 0/0 is NaN, not null); vocab: X=1, Y=2
    assert got[0][0] == 1 and math.isclose(abs(got[0][1]), 1.0, rel_tol=1e-6)
    assert got[2][0] == 2 and math.isnan(got[2][1])


def test_join_and_replace(spark):
    new = spark.createDataFrame([("HR", 5)], "code string, `code/n_occurrences` int")
    old = spark.createDataFrame(
        [("HR", 1, "Heart Rate"), ("TEMP", 2, "Temp")],
        "code string, `code/n_occurrences` int, description string",
    )
    out = join_and_replace(new, old, ["code"]).collect()
    assert len(out) == 1
    assert out[0]["code/n_occurrences"] == 5  # new wins
    assert out[0]["description"] == "Heart Rate"  # old back-filled


def test_time_of_day_terminal_bucket(spark):
    """Regression: endpoints not reaching 24 (valid per the reference)
    left late-evening events with a NULL code — the reference adds a
    terminal [last,24) bucket (time_of_day.py:126)."""
    import datetime as dt

    from meds_transforms_spark.operators.add_time_derived import time_of_day_rows
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    rows = [
        (1, dt.datetime(2024, 1, 1, 4, 0), "E", None, None),
        (1, dt.datetime(2024, 1, 1, 20, 0), "E", None, None),
    ]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    got = {r.time.hour: r.code for r in time_of_day_rows(df, endpoints=(6, 12, 18)).collect()}
    assert got == {4: "TIME_OF_DAY//[00,06)", 20: "TIME_OF_DAY//[18,24)"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sorted"):
        time_of_day_rows(df, endpoints=(12, 6))
    with _pytest.raises(ValueError, match="\\[0, 24\\]"):
        time_of_day_rows(df, endpoints=(6, 36))


def test_age_rows_dob_substring_match(spark):
    """Regression: DOB rows matched only by exact code equality; the
    reference matches by substring containment (age.py:149), so
    'SNOMED//MEDS_BIRTH' must anchor ages too."""
    import datetime as dt

    from meds_transforms_spark.operators.add_time_derived import age_rows
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    rows = [
        (1, dt.datetime(1980, 1, 1), "SNOMED//MEDS_BIRTH", None, None),
        (1, dt.datetime(2000, 1, 1), "HR", 80.0, None),
    ]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    out = age_rows(df).collect()
    assert len(out) == 1 and abs(out[0].numeric_value - 20.0) < 0.1
    # regex form too
    out2 = age_rows(df, DOB_regex="MEDS_BIRTH$").collect()
    assert len(out2) == 1


def test_time_derived_on_tz_naive_time_ignores_session_zone(spark):
    """Tz-naive MEDS ``time`` reads as TIMESTAMP_NTZ. Under a non-UTC
    session zone — wall clocks inside its DST gap and overlap included —
    ages and timeline deltas equal those of the same instants given as
    UTC TIMESTAMPs, and the new rows keep the NTZ type."""
    import datetime as dt

    from pyspark.sql import types as T

    from meds_transforms_spark.functions.time_units import normalize_time_unit
    from meds_transforms_spark.operators.add_time_derived import (
        add_time_derived_measurements,
    )
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    wall = [
        (1, dt.datetime(1980, 1, 1), "MEDS_BIRTH"),
        (1, dt.datetime(2021, 3, 14, 2, 30, 0, 500_000), "HR"),  # New York DST gap
        (1, dt.datetime(2021, 11, 7, 1, 30), "HR"),  # New York DST overlap
        (2, dt.datetime(1901, 6, 1, 12), "MEDS_BIRTH"),
        (2, dt.datetime(1950, 1, 1, 0, 0, 0, 1), "TEMP"),
    ]

    def frame(time_type, tz):
        fields = [
            T.StructField(f.name, time_type, True) if f.name == "time" else f
            for f in MEDS_DATA_SCHEMA.fields
        ]
        rows = [(s, t.replace(tzinfo=tz), c, None, None) for s, t, c in wall]
        return spark.createDataFrame(rows, T.StructType(fields))

    def derived(df):
        out = add_time_derived_measurements(
            df, age={"age_unit": "years"}, timeline_tokens={"time_unit": "d"}
        ).filter(F.col("numeric_value").isNotNull())
        return out, sorted((r.code, r.numeric_value) for r in out.collect())

    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        ntz_out, ntz = derived(frame(T.TimestampNTZType(), None))
        _, utc = derived(frame(T.TimestampType(), dt.timezone.utc))
    finally:
        spark.conf.set(key, old)
    assert ntz_out.schema["time"].dataType == T.TimestampNTZType()
    assert len(ntz) == 6 and ntz == utc  # 3 ages, 3 deltas
    year = dt.timedelta(seconds=normalize_time_unit("years"))
    gap_age = (wall[1][1] - wall[0][1]) / year
    assert any(c == "AGE" and math.isclose(v, gap_age, rel_tol=1e-7) for c, v in ntz)


def test_occlude_nulls_value_when_stats_missing(spark):
    """Reference parity: a code absent from the metadata (NULL flag)
    gets its numeric_value NULLED (pl.when().then() takes the null
    branch), not kept."""
    from meds_transforms_spark.operators.occlude_outliers import occlude_outliers
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    df = spark.createDataFrame([(1, None, "NEW_LAB", 7.2, None)], MEDS_DATA_SCHEMA)
    meta = spark.createDataFrame(
        [("OTHER", 10.0, 1.0)], "code string, `values/mean` double, `values/std` double"
    )
    row = occlude_outliers(df, meta).collect()[0]
    assert row["numeric_value/is_inlier"] is None
    assert row["numeric_value"] is None


def test_bin_numeric_all_null_quantiles_left_unbinned(spark):
    """Regression: a code whose quantile struct is all-NULL (no
    observed values) produced [null,null,null] endpoints, and the null
    left/right boundaries null-propagated through the name template,
    rewriting CODE itself to NULL."""
    from meds_transforms_spark.operators.bin_numeric_values import bin_numeric_values
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    rows = [
        (1, None, "X", 5.0, None),
        (1, None, "X", 6.0, None),
        (1, None, "Y", None, None),  # Y has NO observed values
        (1, None, "Y", 7.0, None),   # later snapshot row WITH a value
    ]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    meta = aggregate_code_metadata(
        df.filter("numeric_value is null or code = 'X'"),
        aggregations=[{"name": "values/quantiles", "quantiles": [0.25, 0.5, 0.75]}],
    )
    out = bin_numeric_values(df, code_metadata=meta)
    codes = [r.code for r in out.collect()]
    assert None not in codes
    assert sum(1 for c in codes if c == "Y") == 2  # Y rows untouched


def test_reorder_rewrites_order_key(spark):
    """Regression: reorder_measurements changed only PHYSICAL row order;
    the pipeline's write-time canonical_sort (ties by __order) silently
    reverted the priority ordering. __order must be rewritten."""
    import datetime as dt

    from meds_transforms_spark.operators.reorder_measurements import (
        reorder_measurements,
    )
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA
    from meds_transforms_spark.sources.meds_dataset import attach_order_key

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [(1, t0, "B_LAB", 1.0, None), (1, t0, "A_VITAL", 2.0, None)]
    df = attach_order_key(spark.createDataFrame(rows, MEDS_DATA_SCHEMA))
    out = reorder_measurements(df, ordered_code_patterns=["B_LAB", "A_VITAL"])
    got = {r.code: r["__order"] for r in out.collect()}
    assert got == {"B_LAB": 1, "A_VITAL": 2}  # priority order SURVIVES __order


def test_reorder_metadata_join_missing_codes_first(spark):
    """Reference parity: with a code_metadata table, a data code ABSENT
    from the metadata gets a NULL priority and sorts FIRST (the
    reference's left join + Polars nulls-first sort)."""
    import datetime as dt

    from meds_transforms_spark.operators.reorder_measurements import (
        reorder_measurements,
    )
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA
    from meds_transforms_spark.sources.meds_dataset import attach_order_key

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [(1, t0, "KNOWN", 1.0, None), (1, t0, "AGE", 2.0, None)]
    df = attach_order_key(spark.createDataFrame(rows, MEDS_DATA_SCHEMA))
    meta = spark.createDataFrame([("KNOWN",)], "code string")
    out = reorder_measurements(df, ["KNOWN"], code_metadata=meta)
    got = {r.code: r["__order"] for r in out.collect()}
    assert got == {"AGE": 1, "KNOWN": 2}  # missing-from-metadata code first


def test_dedup_events_keeps_static_block(spark):
    """Regression: dropDuplicates([subject, time]) treats NULLs as
    equal, collapsing a subject's whole static block into one arbitrary
    survivor. Only exact duplicate rows may collapse."""
    from meds_transforms_spark.operators.misc import dedup_events
    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

    rows = [
        (1, None, "GENDER//F", None, None),
        (1, None, "RACE//X", None, None),
        (1, None, "GENDER//F", None, None),  # true duplicate
    ]
    df = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    got = sorted(r.code for r in dedup_events(df).collect())
    assert got == ["GENDER//F", "RACE//X"]


def test_dedup_events_survivor_order_key_deterministic(spark):
    """The survivor of an exact-duplicate group must carry
    min(ORDER_KEY) — not whichever copy's key the shuffle delivered
    first — so downstream (subject, time, __order) sorts are a pure
    function of the data (round-6 advisory)."""
    from meds_transforms_spark.operators.misc import dedup_events
    from meds_transforms_spark.schema import ORDER_KEY

    rows = [(1, "A", 9), (1, "A", 3), (1, "A", 7), (1, "B", 5)]
    df = spark.createDataFrame(
        rows, f"subject_id long, code string, {ORDER_KEY} long"
    ).repartition(8)
    got = {(r.code, r[ORDER_KEY]) for r in dedup_events(df).collect()}
    assert got == {("A", 3), ("B", 5)}


def test_extract_values_simultaneous_assignment(spark):
    """Reference parity: all targets evaluate against the INPUT frame
    (one with_columns) — a later target referencing an earlier target's
    column must copy the ORIGINAL value."""
    from meds_transforms_spark.operators.extract_values import extract_values

    df = spark.createDataFrame([(1, "t42", 7.0)], "event_id long, text_value string, numeric_value double")
    out = extract_values(
        df,
        numeric_value={"extract": {"from": "text_value", "regex": "([0-9]+)"}},
        text_value="numeric_value",
    ).collect()[0]
    assert out.numeric_value == 42.0
    assert out.text_value == "7.0"  # the ORIGINAL numeric_value

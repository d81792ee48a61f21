from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import SparkSession

from meds_transforms_spark.schema import MEDS_DATA_SCHEMA

# pytester: used by test_example_discovery's plugin end-to-end test.
# The golden-example plugin runs the shipped stage_examples/ scenarios
# (configured via meds_spark_stage_examples_dirs in pyproject.toml).
pytest_plugins = ["pytester", "meds_transforms_spark.pytest_plugin"]


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("meds_transforms_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # the Python worker daemon get_spark sets for local masters
        .config("spark.python.daemon.module", "meds_transforms_spark.worker_daemon")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def jobs_started(spark, build):
    """Run ``build()`` under a fresh job group; return its result and the
    ids of the Spark jobs it started."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = build()
        # job-start events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def starts_no_jobs(spark, build):
    """Run ``build()``, assert that it started no Spark job, and return
    its result."""
    out, jobs = jobs_started(spark, build)
    assert jobs == []
    return out


@pytest.fixture(scope="session")
def meds_df(spark):
    """Small MEDS-shaped fixture modeled on the reference's
    simple_static_MEDS (FIXTURES.md §1): static rows (null time),
    MEDS_BIRTH, admissions, HR/TEMP pairs, discharge."""
    rows = [
        # subject 1: 3 events
        (1, None, "EYE_COLOR//BROWN", None, None),
        (1, None, "HEIGHT", 175.3, None),
        (1, ts("1980-12-28T00:00:00"), "MEDS_BIRTH", None, None),
        (1, ts("2010-05-11T17:41:51"), "ADMISSION//CARDIAC", None, None),
        (1, ts("2010-05-11T17:41:51"), "HR", 102.6, None),
        (1, ts("2010-05-11T17:41:51"), "TEMP", 96.0, None),
        (1, ts("2010-05-11T18:57:18"), "HR", 105.1, None),
        (1, ts("2010-05-11T18:57:18"), "TEMP", 96.2, None),
        (1, ts("2010-05-11T19:27:19"), "DISCHARGE", None, None),
        # subject 2: 2 events
        (2, None, "EYE_COLOR//BLUE", None, None),
        (2, None, "HEIGHT", 160.4, None),
        (2, ts("1990-06-03T00:00:00"), "MEDS_BIRTH", None, None),
        (2, ts("2015-03-02T10:00:00"), "ADMISSION//PULMONARY", None, None),
        (2, ts("2015-03-02T10:00:00"), "HR", 142.0, None),
        (2, ts("2015-03-02T11:30:00"), "DISCHARGE", None, None),
        # subject 3: 1 event, NaN value
        (3, None, "EYE_COLOR//BROWN", None, None),
        (3, ts("1975-01-01T00:00:00"), "MEDS_BIRTH", None, None),
        (3, ts("2020-01-01T00:00:00"), "HR", float("nan"), None),
    ]
    return spark.createDataFrame(rows, MEDS_DATA_SCHEMA)

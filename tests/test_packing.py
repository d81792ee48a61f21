"""pack_sequences — streaming-fill token packing via distributed
two-phase prefix sum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def doc_lengths(spark):
    # 200 docs, deterministic pseudo-random lengths 1..400 (some exceed
    # the test budget of 256 on their own).
    rows = [(i, 1 + (i * 7919) % 400) for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, n_tokens long")


@pytest.mark.parametrize("order", ["hash", "id"])
def test_packing_invariants(spark, doc_lengths, order):
    from meds_transforms_spark.operators.packing import pack_sequences

    budget = 256
    out = pack_sequences(
        doc_lengths, budget=budget, order=order, num_partitions=5
    ).collect()
    assert len(out) == 200  # every doc assigned exactly once

    by_pack: dict[int, list] = {}
    for r in out:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pack_id, rows in by_pack.items():
        rows.sort(key=lambda r: r.pack_pos)
        # positions are 1..n dense
        assert [r.pack_pos for r in rows] == list(range(1, len(rows) + 1))
        # offsets are the running sum of earlier docs in the pack
        running = 0
        for r in rows:
            assert r.pack_offset == running
            running += r.n_tokens
        # Window-aligned invariant: a pack overflows budget by strictly
        # less than its FIRST doc (the boundary-crosser); equivalently
        # total minus the first doc always fits.
        total = sum(r.n_tokens for r in rows)
        assert total - rows[0].n_tokens < budget

    # Cross-check pack ids against a pure-python cumsum reference.
    ordered = sorted(out, key=lambda r: (r.pack_id, r.pack_pos))
    cum = 0
    for r in ordered:
        cum += r.n_tokens
        assert r.pack_id == (cum - 1) // budget


def test_packing_deterministic_and_partition_invariant(spark, doc_lengths):
    """The assignment is a pure function of the global order — the
    number of partitions must not change ANY pack id."""
    from meds_transforms_spark.operators.packing import pack_sequences

    a = {
        r.doc_id: (r.pack_id, r.pack_pos)
        for r in pack_sequences(doc_lengths, budget=256, num_partitions=2).collect()
    }
    b = {
        r.doc_id: (r.pack_id, r.pack_pos)
        for r in pack_sequences(doc_lengths, budget=256, num_partitions=13).collect()
    }
    assert a == b


def test_packing_no_global_window(spark, doc_lengths):
    """The cumulative sum must never plan as a single-partition global
    window — that's the scale-killer this operator exists to avoid."""
    from meds_transforms_spark.operators.packing import pack_sequences

    df = pack_sequences(doc_lengths, budget=256, num_partitions=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_packing_rejects_bad_lengths(spark):
    # Round-10: the validation is an in-plan raise_error guard (the old
    # eager count() was a full extra execution of the caller's upstream
    # per call), so the rejection surfaces at ACTION time as Spark's
    # user-raised error, message intact.
    from meds_transforms_spark.operators.packing import pack_sequences

    bad = spark.createDataFrame(
        [(1, 10), (2, 0), (3, None)], "doc_id long, n_tokens long"
    )
    with pytest.raises(Exception, match="non-positive"):
        pack_sequences(bad, budget=64).collect()

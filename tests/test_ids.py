"""Tests for assign_stable_ids (operators/ids)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import starts_no_jobs


def test_dense_and_order_correct(spark):
    from meds_transforms_spark.operators.ids import assign_stable_ids

    df = spark.range(1000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    out = assign_stable_ids(df, ["h", "k"], num_partitions=8)
    rows = sorted((r.stable_id, r.h, r.k) for r in out.collect())
    ids = [r[0] for r in rows]
    assert ids == list(range(1000))                      # dense 0..N-1
    hs = [(r[1], r[2]) for r in rows]
    assert hs == sorted(hs)                              # follows the order


def test_stable_under_repartitioning(spark):
    from meds_transforms_spark.operators.ids import assign_stable_ids

    df = spark.range(500).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    a = {r.k: r.stable_id for r in assign_stable_ids(df.repartition(3), ["h", "k"], num_partitions=4).collect()}
    b = {r.k: r.stable_id for r in assign_stable_ids(df.repartition(11), ["h", "k"], num_partitions=9).collect()}
    assert a == b                                        # pure function of data


def test_rejects_non_total_order(spark):
    # Round-10: the totality check is an IN-PLAN raise_error guard on
    # the rank window (no eager aggregation job), so the duplicate-key
    # rejection surfaces at ACTION time as Spark's user-raised error,
    # same message.
    from meds_transforms_spark.operators.ids import assign_stable_ids

    df = spark.createDataFrame([(1, "x"), (2, "x")], "id long, g string")
    with pytest.raises(Exception, match="total order"):
        assign_stable_ids(df, ["g"]).collect()


def test_rejects_non_total_order_bucketed(spark):
    # Same guard on the deterministic-bucket path (it previously only
    # existed as the shared eager job).
    from meds_transforms_spark.operators.ids import assign_stable_ids

    df = spark.createDataFrame([(1, "x"), (2, "x")], "id long, g string")
    with pytest.raises(Exception, match="total order"):
        assign_stable_ids(df, ["g"], bucket=F.lit(0)).collect()


def test_validate_false_skips_guard(spark):
    # validate=False is the documented KNOWN-unique escape hatch: no
    # guard evaluation, correct ids on a genuinely unique key.
    from meds_transforms_spark.operators.ids import assign_stable_ids

    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, g string")
    out = assign_stable_ids(df, ["g"], validate=False).collect()
    assert {r.g: r.stable_id for r in out} == {"x": 0, "y": 1}


def test_start_offset_and_empty(spark):
    from meds_transforms_spark.operators.ids import assign_stable_ids

    df = spark.createDataFrame([(5,), (3,), (9,)], "v long")
    out = {r.v: r.stable_id for r in assign_stable_ids(df, ["v"], start=100).collect()}
    assert out == {3: 100, 5: 101, 9: 102}
    empty = assign_stable_ids(
        spark.createDataFrame([], "v long"), ["v"]
    )
    assert empty.count() == 0


def test_shuffle_shards_balanced_and_stable(spark):
    from meds_transforms_spark.operators.ids import shuffle_shards

    df = spark.range(1001).select(F.col("id").alias("doc_id"))
    out = shuffle_shards(df, n_shards=8, seed=7, num_partitions=4)
    rows = out.select("doc_id", "shard_id", "pos_in_shard").collect()
    assert len(rows) == 1001
    sizes = {}
    for r in rows:
        sizes[r.shard_id] = sizes.get(r.shard_id, 0) + 1
    # round-robin: exact sizes +/-1 regardless of hash skew
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert set(sizes) == set(range(8))
    # (shard_id, pos_in_shard) is a dense per-shard order
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r.pos_in_shard)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))

    # pure function of (data, seed): stable under repartitioning
    again = {
        r.doc_id: (r.shard_id, r.pos_in_shard)
        for r in shuffle_shards(df.repartition(13), n_shards=8, seed=7, num_partitions=9).collect()
    }
    first = {r.doc_id: (r.shard_id, r.pos_in_shard) for r in rows}
    assert first == again

    # different seed -> different permutation
    other = {
        r.doc_id: (r.shard_id, r.pos_in_shard)
        for r in shuffle_shards(df, n_shards=8, seed=8, num_partitions=4).collect()
    }
    assert other != first


def test_shuffle_shards_rejects_bad_nshards(spark):
    from meds_transforms_spark.operators.ids import shuffle_shards

    df = spark.range(5).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        shuffle_shards(df, n_shards=0)


def test_dense_rank_bounded_max_rows_guard_is_lazy(spark):
    """attach_dense_rank_bounded(max_rows=) enforces the boundedness
    contract IN-PLAN (round-11): building the frame runs no job; the
    raise fires at action time once the running index passes the
    bound. Under the bound the output is untouched."""
    from meds_transforms_spark.operators.ids import attach_dense_rank_bounded

    df = spark.range(50).select(F.col("id").alias("code"))
    ok = attach_dense_rank_bounded(df, ["code"], "idx", max_rows=50)
    assert [r.idx for r in ok.orderBy("code").collect()] == list(range(50))

    bad = attach_dense_rank_bounded(df, ["code"], "idx", max_rows=49)  # no job yet
    with pytest.raises(Exception, match="max_rows=49"):
        bad.write.format("noop").mode("overwrite").save()


def test_fit_vocab_max_rows_guard_is_lazy(spark):
    """fit_vocabulary_indices pays no eager job for its max_rows bound:
    building the frame runs nothing, and the raise fires at action time
    via the in-plan rank guard."""
    from meds_transforms_spark.operators.fit_vocabulary_indices import (
        fit_vocabulary_indices,
    )

    meta = spark.range(10).select(F.col("id").cast("string").alias("code"))
    out = starts_no_jobs(spark, lambda: fit_vocabulary_indices(meta, max_rows=5))
    with pytest.raises(Exception, match="max_rows=5"):
        out.collect()


def test_dense_rank_bounded_rejects_ties(spark):
    """Tied key tuples would get arrival-order ranks, so the rank pass
    rejects them: NULLs compare equal, and a tie split across two Arrow
    batches is still caught."""
    from meds_transforms_spark.operators.ids import attach_dense_rank_bounded

    schema = "a string, b long"
    distinct = [(None, 1), (None, 2), ("x", None), ("x", 1), (None, None)]
    ok = attach_dense_rank_bounded(spark.createDataFrame(distinct, schema), ["a", "b"], "i")
    assert [r.i for r in ok.collect()] == list(range(5))

    for dup in [(None, None), (None, 2), ("x", 1)]:
        bad = attach_dense_rank_bounded(
            spark.createDataFrame(distinct + [dup], schema), ["a", "b"], "i"
        )
        with pytest.raises(Exception, match=r"not unique; duplicate: \(" + repr(dup[0])):
            bad.collect()

    # NaN keys tie as in groupBy; a single NaN is an ordinary key
    nan = float("nan")
    ok = attach_dense_rank_bounded(spark.createDataFrame([(nan,), (1.0,)], "k double"), ["k"], "i")
    assert [r.i for r in ok.collect()] == [0, 1]
    bad = spark.createDataFrame([(nan,), (nan,), (1.0,)], "k double")
    with pytest.raises(Exception, match=r"duplicate: \(nan,\)"):
        attach_dense_rank_bounded(bad, ["k"], "i").collect()

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        # sorted: 0, 1 | 1, 2 — the tie straddles the batch boundary
        df = spark.createDataFrame([(0,), (1,), (1,), (2,)], "k long")
        with pytest.raises(Exception, match=r"duplicate: \(1,\)"):
            attach_dense_rank_bounded(df, ["k"], "i").collect()
    finally:
        spark.conf.set(key, old)


def test_fit_vocab_rejects_duplicate_keys_at_action_time(spark):
    """Duplicate (code, *code_modifiers) keys raise when the vocabulary
    is computed; building it starts no job."""
    from meds_transforms_spark.operators.fit_vocabulary_indices import (
        fit_vocabulary_indices,
    )

    meta = spark.createDataFrame(
        [("HR", "a"), ("HR", "b"), ("TEMP", None), ("TEMP", None)],
        "code string, unit string",
    )
    by_code = starts_no_jobs(spark, lambda: fit_vocabulary_indices(meta))
    with pytest.raises(Exception, match=r"\['code'\] are not unique; duplicate: \('HR',\)"):
        by_code.collect()
    by_pair = fit_vocabulary_indices(meta, code_modifiers=["unit"])
    with pytest.raises(Exception, match=r"duplicate: \('TEMP', None\)"):
        by_pair.collect()
    unique = fit_vocabulary_indices(meta.dropDuplicates(), code_modifiers=["unit"])
    assert sorted(r["code/vocab_index"] for r in unique.collect()) == [1, 2, 3]

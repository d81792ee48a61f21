"""Deterministic dense ID assignment without a global window.

``assign_stable_ids`` gives every row a dense 0..N-1 id following a
caller-supplied total order — the ingestion primitive for corpora that
arrive without keys (crawl dumps, file drops). The naive
``row_number() OVER (ORDER BY ...)`` collapses to a SinglePartition
window (the anti-pattern the packing operator's docstring documents);
this uses the same two-phase distributed prefix machinery instead:
range-partition on the order key, per-partition local ranks, and a
#partitions-row offset table broadcast back. Equally important for a
100 TB ingest: the result is a pure function of the DATA (the order
columns), not of partitioning, task scheduling, or retries —
``monotonically_increasing_id`` / ``zipWithIndex`` are neither dense
nor stable under any of those.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from meds_transforms_spark.operators.base import register_stage


@register_stage("assign_stable_ids")
def assign_stable_ids(
    df: DataFrame,
    order_cols: list[str],
    id_name: str = "stable_id",
    start: int = 0,
    num_partitions: int | None = None,
    validate: bool = True,
    bucket: Column | None = None,
) -> DataFrame:
    """Attach ``id_name`` = ``start`` + dense rank of the row in the
    total order given by ``order_cols``.

    ``order_cols`` must be a total order (no duplicate key tuples) —
    duplicates would make the assignment depend on partition-internal
    order; the operator validates this with an in-plan guard on the
    rank window (round-10 — the old eager aggregate cost a full pass
    over the key stream per call). The guard is BEST-EFFORT by
    construction (ADVICE r10): it lives inside the ``id_name``
    expression, so it fires only when an action actually evaluates
    that column. An action that prunes it (``.count()`` on the result,
    a downstream select that drops the id) skips the check, and in the
    generic path duplicate keys then multiply rows through the
    null-safe join-back instead of raising. Callers that need the hard
    call-time guarantee should assert uniqueness themselves (e.g.
    ``groupBy(*order_cols).count().filter("count > 1").limit(1)``)
    before calling. Typical usage orders by a content hash plus a
    tiebreaker column, where uniqueness holds by construction.

    Plan (round-10 restructure — rank the KEYS, not the rows): the
    slim ``order_cols`` projection is pinned (GC-released lazy
    localCheckpoint) and range-exchanged; per-partition ``row_number``
    + a #partitions-row offsets collect produce the rank; the ranked
    key table then null-safe-joins back onto ``df``. Compared to
    range-exchanging and eagerly checkpointing the FULL rows (the
    pre-round-10 shape), the caller's upstream executes ONCE instead
    of three times (dup-check, range sampling, and checkpoint each
    re-ran it), the exchange and the pinned blocks carry only the
    order key — never document text — and the result attaches through
    one key join Catalyst is free to broadcast. The result is
    unchanged: a pure function of the data (ranks are
    partitioning-invariant because ``order_cols`` is a validated total
    order).
    """
    spark = df.sparkSession
    n_parts = int(
        num_partitions or spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cols = [F.col(c) for c in order_cols]

    # Pin the slim key projection: the range partitioner's sampling
    # pass, the counts job, and the final lineage all read these
    # (order_cols)-only blocks; upstream runs once.
    slim = df.select(*cols).localCheckpoint(eager=False)

    def _dup_flag(lrn: Column, lag_w) -> Column:
        """Totality check as an IN-PLAN flag (round-10, the
        pack_sequences raise_error pattern): duplicate key tuples would
        make ids partition-internal-order-dependent, so by default the
        rank expression raises on the first adjacent duplicate. Equal
        tuples are always adjacent here — the partitioner maps equal
        keys to one partition (range partitioning and any monotone
        ``bucket`` both do) and the window sorts by the full tuple — so
        a ``lag`` comparison computed in the SAME Window operator the
        rank already pays for replaces the old eager
        groupBy-count-limit job: one full aggregation pass over the key
        stream and its distinct-keys exchange GONE per call, two
        comparisons per row in their place. The raise moves from call
        time to action time (same message). ``validate=False`` skips
        the comparisons when the key is known-unique (e.g. it ends in a
        primary key)."""
        prev_eq = None
        for c in cols:
            eq = c.eqNullSafe(F.lag(c).over(lag_w))
            prev_eq = eq if prev_eq is None else prev_eq & eq
        # lrn > 1 fences the first row per partition: lag yields NULL
        # there, which eqNullSafe would match against an all-NULL key.
        return (lrn > 1) & prev_eq

    def _guarded_rank(lrn: Column, off: Column, dup: Column | None) -> Column:
        rank_val = (lrn - 1 + off).cast("long")
        if dup is None:
            return rank_val
        return F.when(
            dup,
            F.raise_error(
                F.lit(
                    f"assign_stable_ids: order_cols {order_cols} do not "
                    "form a total order (duplicate key tuples exist) — "
                    "add a tiebreaker"
                )
            ).cast("long"),
        ).otherwise(rank_val)

    if bucket is not None:
        # Caller-supplied DETERMINISTIC monotone bucket of the leading
        # order column (round-10; contract: non-decreasing in the
        # order tuple, rows with equal keys share a bucket — e.g.
        # sampling._order_bucket of a uniform hash key). Two structural
        # savings over the generic path below: no range-sampling job
        # (one full pass over the pinned keys per call) and NO
        # JOIN-BACK — because the partition assignment is a pure
        # expression, the rank window can run directly over the full
        # rows (the join-back's probe side paid a full-row exchange
        # anyway), and the per-bucket counts come from the pinned slim
        # blocks with no window dependency. Net: two exchanges, three
        # sorts, and a sort-merge join less per call; counts/final
        # consistency needs no persist (nothing sampled to re-draw).
        counts = {
            r["__pid"]: r["__n"]
            for r in slim.withColumn(
                "__pid", F.coalesce(bucket, F.lit(-1)).cast("int")
            )
            .groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        }
        offsets, acc = [], int(start)
        for pid in sorted(counts):
            offsets.append((pid, acc))
            acc += counts[pid]
        off_df = spark.createDataFrame(
            offsets or [(0, int(start))], "__pid int, __off long"
        )
        lag_w = W.partitionBy("__pid").orderBy(*cols)
        local_w = lag_w.rowsBetween(W.unboundedPreceding, W.currentRow)
        work = df.withColumn("__pid", F.coalesce(bucket, F.lit(-1)).cast("int"))
        work = work.withColumn("__lrn", F.count(F.lit(1)).over(local_w))
        if validate:
            # Same (partition, order) spec as the rank count → one
            # Window operator computes both; no extra exchange or sort.
            work = work.withColumn("__dup", _dup_flag(F.col("__lrn"), lag_w))
        return (
            work.join(F.broadcast(off_df), "__pid")
            .withColumn(
                id_name,
                _guarded_rank(
                    F.col("__lrn"),
                    F.col("__off"),
                    F.col("__dup") if validate else None,
                ),
            )
            .drop("__pid", "__lrn", "__off", *(["__dup"] if validate else []))
        )

    parted = slim.repartitionByRange(n_parts, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    lag_w = W.partitionBy("__pid").orderBy(*cols)
    local_w = lag_w.rowsBetween(W.unboundedPreceding, W.currentRow)
    # persist() pins the sampled range boundaries between the counts
    # job and the final action (recomputation must not re-draw them) —
    # key-width rows only, LRU-evictable; the upstream data itself is
    # already safe behind the slim checkpoint.
    local = parted.withColumn("__lrn", F.count(F.lit(1)).over(local_w))
    if validate:
        # Same (partition, order) spec as the rank count → one Window
        # operator computes both; no extra exchange or sort. The raise
        # itself lives in the id expression below, so the counts job
        # (which materializes `local`) never trips it early.
        local = local.withColumn("__dup", _dup_flag(F.col("__lrn"), lag_w))
    local = local.persist()
    counts = {
        r["__pid"]: r["__n"]
        for r in local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")).collect()
    }
    offsets, acc = [], int(start)
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets or [(0, int(start))], "__pid int, __off long")
    ranked_keys = (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(
            id_name,
            _guarded_rank(
                F.col("__lrn"),
                F.col("__off"),
                F.col("__dup") if validate else None,
            ),
        )
        .drop("__pid", "__lrn", "__off", *(["__dup"] if validate else []))
    )
    # Null-safe equi-join: order keys may legitimately be NULL (they
    # sort first in the range order); a plain equi-join would silently
    # drop those rows.
    cond = None
    for c in order_cols:
        clause = df[c].eqNullSafe(ranked_keys[c])
        cond = clause if cond is None else cond & clause
    return df.join(ranked_keys, cond).select(
        *[df[c] for c in df.columns], ranked_keys[id_name]
    )


@register_stage("shuffle_shards")
def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global training shuffle + shard assignment: adds
    ``shard_id`` (0..n_shards-1) and ``pos_in_shard``.

    The last step of a curation pipeline: training wants the corpus in
    a RANDOM but REPRODUCIBLE order, cut into equal shards whose
    within-shard order is part of the contract (data ordering is a
    training hyperparameter). Shuffling 100 TB with ``orderBy(rand())``
    is both non-reproducible under retries and a full sort on a random
    key; this instead ranks rows by a seeded content-keyed hash via the
    two-phase prefix machinery of :func:`assign_stable_ids` (range
    exchange + local ranks + broadcast offsets — no SinglePartition
    window), then deals ranks round-robin:

        shard_id = rank mod n_shards,  pos_in_shard = rank div n_shards

    Round-robin makes shard sizes exact (±1) regardless of hash skew.
    The result is a pure function of (data, seed, n_shards) — stable
    under partitioning, retries, and cluster size. ``hash_fn="md5_60"``
    is the engine-reproducible mode (DuckDB-oracle-checkable);
    ``xxhash64`` is the fast JVM-native default.
    """
    from meds_transforms_spark.operators.dedup import _h64

    if n_shards < 1:
        raise ValueError("shuffle_shards: n_shards must be >= 1")
    keyed = df.withColumn(
        "__shufkey", _h64(hash_fn, F.lit(int(seed)), F.col(id_col))
    )
    # The shuffle key is a uniform hash by construction, so the rank
    # machinery can use deterministic monotone hash-range buckets
    # (round-10) — no range-sampling pass, no persisted boundaries.
    from meds_transforms_spark.operators.sampling import _order_bucket

    spark = df.sparkSession
    n_parts = int(
        num_partitions or spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    ranked = assign_stable_ids(
        keyed,
        ["__shufkey", id_col],
        id_name="__rank",
        num_partitions=num_partitions,
        # (seed, id) is injective in id, so the hash+id tuple is unique
        validate=False,
        bucket=_order_bucket(F.col("__shufkey"), hash_fn, n_parts),
    )
    return (
        ranked.withColumn(
            "shard_id", F.pmod(F.col("__rank"), F.lit(int(n_shards))).cast("int")
        )
        .withColumn(
            "pos_in_shard", F.floor(F.col("__rank") / F.lit(int(n_shards))).cast("long")
        )
        .drop("__shufkey", "__rank")
    )


def attach_dense_rank_bounded(
    df: DataFrame,
    order_cols: list[str],
    id_name: str,
    start: int = 0,
    max_rows: int | None = None,
) -> DataFrame:
    """Dense 0..N-1 index over a BOUNDED dimension table: one exchange
    to a single partition, an in-partition sort, and one Arrow pass
    attaching the running index.

    The cheap sibling of :func:`assign_stable_ids` for tables that are
    small by contract (vocab/code metadata behind max_rows guards, IVF
    seed centroids behind limit(n_cells)): same deterministic result
    (index = dense rank in the total order, nulls first), but ONE job
    and no driver-side counts collect — where assign_stable_ids pays a
    range exchange + eager checkpoint + offsets collect to stay
    distributed, which is the right trade only when the table isn't
    broadcast-sized. Also no WindowExec, so no single-partition window
    warning to squint at.

    ``order_cols`` must be a key: the index is a pure function of the
    data only when no two rows tie. The Arrow pass checks it for free —
    the sort puts equal key tuples next to each other, so each row is
    compared with the previous one (carried across batch boundaries;
    NULLs compare equal, and so do NaNs in float keys, as in groupBy)
    and the first duplicate raises with the column names and the tied
    tuple.

    ``max_rows`` (round-11) enforces the boundedness contract IN-PLAN:
    the Arrow pass raises as soon as the running index passes the
    bound. Both raises fire at ACTION time, with no eager pre-count or
    groupBy job (an eager guard costs one full materialization of the
    input lineage per call). The max_rows raise still fires before any
    unbounded work leaves the operator (the single-partition sort it
    guards spills rather than hangs on the way there).
    """
    from pyspark.sql import types as T

    sorted_df = df.repartition(1).sortWithinPartitions(
        *[F.col(c).asc_nulls_first() for c in order_cols]
    )
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(id_name, T.LongType())]
    )
    base = int(start)
    bound = None if max_rows is None else int(max_rows)

    def attach(batches):
        import pyarrow as pa

        # groupBy treats NaN as one value, so NaN keys must compare equal
        # too; one shared stand-in does it (tuple == checks identity first)
        nan = object()

        def key_values(col):
            vals = col.to_pylist()
            if pa.types.is_floating(col.type):
                return [nan if v != v else v for v in vals]
            return vals

        off = 0
        prev = None
        for rb in batches:
            off += rb.num_rows
            if bound is not None and off > bound:
                raise ValueError(
                    f"attach_dense_rank_bounded({id_name}): input exceeds "
                    f"max_rows={bound}; a single-partition rank over it "
                    "would bottleneck — use a distributed ranking "
                    "(assign_stable_ids) instead."
                )
            for key in zip(*(key_values(rb.column(c)) for c in order_cols)):
                if key == prev:
                    shown = tuple(float("nan") if v is nan else v for v in key)
                    raise ValueError(
                        f"attach_dense_rank_bounded({id_name}): keys "
                        f"{order_cols} are not unique; duplicate: {shown}"
                    )
                prev = key
            idx = pa.array(
                range(base + off - rb.num_rows, base + off), type=pa.int64()
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in range(rb.num_columns)] + [idx],
                names=[f.name for f in schema.fields],
            )

    return sorted_df.mapInArrow(attach, schema=schema)

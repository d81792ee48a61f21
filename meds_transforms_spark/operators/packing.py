"""Sequence packing — fixed token-budget pack assignment for training.

Pretraining dataloaders pack documents into fixed-size token windows
(sample packing); the cluster-side half of that job is assigning every
document to a pack id + position so downstream writers can lay out
shards pack-contiguously. The reference engine has no counterpart;
this extends the training-pipeline layer.

Semantics: documents are laid out in a deterministic order (a
hash-shuffle of ids by default — packs mix sources/lengths — or plain
id order), the running token total is taken over that order, and
``pack_id = floor((cumsum_inclusive - 1) / budget)`` — i.e. a document
belongs to the budget-aligned window of the concatenated token stream
in which it ENDS. Packs are contiguous runs; a document crossing a
window boundary belongs to the later window, so a pack's total can
exceed ``budget`` by strictly less than its first document's length
(``total - first_doc_tokens < budget``, the exact invariant tests
assert). Whether crossing documents are split or the overflow is
accepted is the downstream writer's choice — this operator never
splits. The assignment is a pure function of the global cumulative
sum, which makes it engine-reproducible and partition-invariant.

Plan shape at 100 TB — the global cumulative sum is the interesting
part, because a naive ``Window.orderBy`` is a single-partition global
sort (the exact anti-pattern the unpartitioned-window WARN exists
for). Instead, the classic two-phase distributed prefix sum:

1. range-repartition the (id, tokens, order-key) projection — document
   text never enters the operator — and take per-partition running
   sums with a window PARTITIONED by the physical partition id;
2. collect the per-partition totals (one row per partition — a few
   hundred longs), turn them into exclusive offsets on the driver, and
   broadcast-join the offsets back: global cumsum = local + offset.

Every shuffle carries (id, long, long); the only driver materialization
is #partitions rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from meds_transforms_spark.operators.base import register_stage
from meds_transforms_spark.operators.dedup import _h64


@register_stage("pack_sequences")
def pack_sequences(
    df: DataFrame,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    budget: int = 2048,
    order: str = "hash",
    hash_fn: str = "xxhash64",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign ``(pack_id, pack_pos, pack_offset)`` to every document.

    ``order="hash"`` shuffles deterministically by ``hash_fn(id)``
    (``md5_60`` for engine-reproducible runs); ``order="id"`` packs in
    id order. ``pack_offset`` is the document's starting token offset
    within its pack. Documents with NULL or non-positive token counts
    are rejected — packing needs real lengths.
    """
    if order not in ("hash", "id"):
        raise ValueError(f"order must be 'hash' or 'id', got {order!r}")
    spark = df.sparkSession
    n_parts = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions", "200")
    )

    key = _h64(hash_fn, F.col(id_col)) if order == "hash" else F.col(id_col)
    # Length validation is an IN-PLAN guard, not an eager count()
    # (round-10): the old `slim.filter(bad).count()` was one full
    # execution of the caller's upstream pipeline per call, spent
    # entirely on the happy path — inside curate_corpus_dsir that
    # re-ran the whole gopher→dedup→DSIR→top-k chain just to learn
    # "0 bad rows". The CASE/raise_error guard costs two comparisons
    # per row inside the projection and fails at action time with the
    # same "non-positive" message (per-row, not counted — the count
    # was diagnostic only).
    t64 = F.col(token_col).cast("long")
    checked_t = F.when(
        t64.isNull() | (t64 <= 0),
        F.raise_error(
            F.lit(
                f"pack_sequences: row has NULL or non-positive "
                f"{token_col!r}; packing needs real lengths"
            )
        ).cast("long"),
    ).otherwise(t64)
    # Pin the slim (id, tokens, order-key) projection — NOT the
    # post-exchange frame (round-10 restructure). Three consumers need
    # the same bytes: the range partitioner's SAMPLING pass, the
    # exchange itself, and (via the exchange) the totals job + final
    # lineage. Un-pinned, sampling alone re-executed the caller's
    # upstream end-to-end; pinned, upstream runs ONCE and every later
    # pass reads (id, long, long) blocks. GC-released checkpoint.
    slim = df.select(
        F.col(id_col),
        checked_t.alias("__t"),
        key.alias("__ord"),
    ).localCheckpoint(eager=False)

    if order == "hash":
        # Hash order (round-10): the key is a uniform 64-bit-ish hash,
        # so the partitioning can be a DETERMINISTIC monotone
        # hash-range bucket (the domain_mix prefix machinery) instead
        # of repartitionByRange. That removes the range partitioner's
        # SAMPLING job (one full pass over the pinned keys per call),
        # removes the persist that existed only to pin the sampled
        # boundaries against recomputation (deterministic buckets
        # cannot re-draw), and keeps the exact same global order:
        # bucket is monotone in __ord and rows with equal __ord share
        # a bucket, so (bucket, __ord, id) order == (__ord, id) order.
        from meds_transforms_spark.operators.sampling import _order_bucket

        work = slim.withColumn(
            "__pid",
            F.coalesce(
                _order_bucket(F.col("__ord"), hash_fn, n_parts), F.lit(-1)
            ).cast("int"),
        )
        local_w = (
            W.partitionBy("__pid")
            .orderBy("__ord", id_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        local = work.withColumn("__lsum", F.sum("__t").over(local_w))
        # Per-bucket totals straight off the pinned slim blocks — a
        # map-side-combined aggregate, no window dependency, so the
        # final action is the only consumer of the window pass.
        totals = {
            r["__pid"]: r["__tot"]
            for r in work.groupBy("__pid").agg(F.sum("__t").alias("__tot")).collect()
        }
    else:
        parted = slim.repartitionByRange(n_parts, "__ord", id_col).withColumn(
            "__pid", F.spark_partition_id()
        )
        local_w = (
            W.partitionBy("__pid")
            .orderBy("__ord", id_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        local = parted.withColumn("__lsum", F.sum("__t").over(local_w))

        # Phase 2: per-partition totals -> exclusive offsets
        # (driver-side, one row per partition). `local` is pinned so
        # the totals job and the main lineage see the SAME
        # range-partition boundaries (the range partitioner samples;
        # recomputation must not re-draw them). persist(), MEASURED
        # against localCheckpoint on the curation e2e at sf0.1 (5
        # runs, fresh JVMs): persist 4.6 s median vs lazy checkpoint
        # 6.6 s vs eager 7.5 s — the columnar cache reads back
        # vectorized where checkpoint's row-serialized blocks cost
        # more than they save (the semantic_dedup finding again). The
        # cache entry is LRU-evictable; accepted tradeoff for the hot
        # path. (Only the order="id" path still needs this: hash order
        # uses deterministic buckets above, which have no sampled
        # state to pin.)
        local = local.persist()
        totals = {
            r["__pid"]: r["__tot"]
            for r in local.groupBy("__pid").agg(F.max("__lsum").alias("__tot")).collect()
        }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    off_df = spark.createDataFrame(offsets, "__pid int, __off long")

    cum = F.col("__lsum") + F.col("__off")
    packed = (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn("__cum", cum)
        .withColumn("pack_id", F.floor((F.col("__cum") - 1) / F.lit(int(budget))))
    )
    pack_w = W.partitionBy("pack_id").orderBy("__ord", id_col)
    first_in_pack = F.first(F.col("__cum") - F.col("__t")).over(pack_w)
    return (
        packed.withColumn("pack_pos", F.row_number().over(pack_w))
        .withColumn(
            "pack_offset", (F.col("__cum") - F.col("__t") - first_in_pack)
        )
        .select(id_col, F.col("__t").alias(token_col), "pack_id", "pack_pos", "pack_offset")
    )

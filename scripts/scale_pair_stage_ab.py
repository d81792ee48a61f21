"""A/B of the exact cosine-dedup PAIR stage at scale: the interpreted
per-pair fold, a per-pair Arrow int64-dot kernel, and the per-bucket
Arrow Gram kernel that ``pair_impl="gram"`` ships.

Isolates the pair stage from assignment/bucketing: N synthetic 64-dim
vectors, __bucket = id % B, so candidate pairs ≈ N·(N/B)/2. All arms
decide the identical integers (integer sums are order-independent),
verified by survivor-count equality.

- ``expr``: the bucket self-join + ``aggregate(zip_with(...))`` fold
  over precomputed ``__q``/``__n2`` columns (``pair_impl="expr"``).
- ``kernel``: the same self-join, with the dot in a ``mapInArrow``
  int64 einsum. The pair stream duplicates both q-vectors per pair.
- ``gram``: ``operators.dedup._gram_dropped_exact`` over
  ``(vec_id, __bucket, emb_d)``: one grouped Arrow map per bucket that
  quantizes in the kernel and decides only candidate pairs. Each vector
  crosses the Python boundary once. This is the baseline for skew work
  on the Gram engine (tiling a hot bucket).

MEASURED before the Gram engine existed (local[32], N=100k, B=500 →
~10M pairs, 3 passes): expr min 6.93 s, kernel min 11.30 s (1.6×
worse, boundary-bound: ~10 GB crosses the Python boundary to save 0.64G
integer MACs), same survivors (35 501). The gram arm has not been
measured at this scale yet.

Usage: N=100000 B=500 RUNS=3 python scripts/scale_pair_stage_ab.py
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

N = int(os.environ.get("N", "100000"))
B = int(os.environ.get("B", "500"))
RUNS = int(os.environ.get("RUNS", "3"))
DIM = int(os.environ.get("DIM", "64"))
THRESHOLD = 0.9


def pair_candidates(base):
    a = base.select(
        F.col("vec_id").alias("id_a"), F.col("__q").alias("__qa"),
        F.col("__n2").alias("__na"), "__bucket",
    )
    b = base.select(
        F.col("vec_id").alias("id_b"), F.col("__q").alias("__qb"),
        F.col("__n2").alias("__nb"), "__bucket",
    )
    return a.join(b, "__bucket").filter(F.col("id_a") < F.col("id_b"))


def dot_expr(cand):
    dot = F.aggregate(
        F.zip_with(F.col("__qa"), F.col("__qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return cand.withColumn("__dot", dot).select("id_b", "__na", "__nb", "__dot")


def dot_kernel(cand):
    import pyarrow as pa
    import pyarrow.compute as pc

    src = cand.select("id_b", "__na", "__nb", "__qa", "__qb")

    def fn(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            qa, qb = rb.column(3), rb.column(4)
            dim = int(pc.list_value_length(qa)[0].as_py())
            A = qa.flatten().to_numpy().astype(np.int64, copy=False).reshape(n, dim)
            Bm = qb.flatten().to_numpy().astype(np.int64, copy=False).reshape(n, dim)
            d = np.einsum("ij,ij->i", A, Bm, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1), rb.column(2), pa.array(d)],
                names=["id_b", "__na", "__nb", "__dot"],
            )

    return src.mapInArrow(fn, schema="id_b long, __na long, __nb long, __dot long")


def survivors(df, scored):
    t2 = int(round(THRESHOLD * THRESHOLD * 10_000))
    dec = "decimal(38,0)"
    pairs = scored.filter(
        (F.col("__dot") > 0)
        & (
            F.col("__dot").cast(dec) * F.col("__dot").cast(dec) * F.lit(10_000)
            >= F.lit(t2).cast(dec) * F.col("__na").cast(dec) * F.col("__nb").cast(dec)
        )
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).dropDuplicates()
    return df.join(dropped, "vec_id", "left_anti")


def gram_survivors(df, base):
    from meds_transforms_spark.operators.dedup import _gram_dropped_exact

    t2 = int(round(THRESHOLD * THRESHOLD * 10_000))
    dropped = _gram_dropped_exact(base, "vec_id", "emb_d", t2)
    return df.join(dropped, "vec_id", "left_anti")


def main():
    from meds_transforms_spark import get_spark

    spark = get_spark("ab_pair_stage", master="local[32]", shuffle_partitions=32)
    QUANT = 10_000
    qvec = F.transform(
        F.col("emb_d"),
        lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("long"),
    )
    base = (
        spark.range(N)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(DIM)),
                lambda j: F.sin(F.col("id") * j.cast("double")),
            ).alias("emb_d"),
            F.pmod(F.col("id"), F.lit(B)).alias("__bucket"),
        )
        .withColumn("__q", qvec)
        .withColumn(
            "__n2",
            F.aggregate(F.col("__q"), F.lit(0).cast("long"), lambda a, v: a + v * v),
        )
        .repartition(32)
        .localCheckpoint()
    )
    print("rows:", base.count())
    df = base.select("vec_id", "emb_d")
    arms = {
        "expr": lambda: survivors(df, dot_expr(pair_candidates(base))),
        "kernel": lambda: survivors(df, dot_kernel(pair_candidates(base))),
        "gram": lambda: gram_survivors(df, base),
    }
    res = {a: [] for a in arms}
    for _ in range(RUNS):
        for arm, fn in arms.items():
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            res[arm].append(round(time.time() - t0, 3))
    counts = {a: fn().count() for a, fn in arms.items()}
    for arm, ws in res.items():
        ws2 = sorted(ws)
        print(
            f"{arm:8s} min={ws2[0]:7.3f} med={ws2[len(ws2)//2]:7.3f} "
            f"raw={ws} survivors={counts[arm]}"
        )


if __name__ == "__main__":
    main()
